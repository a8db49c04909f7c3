"""Central registry: query name → (spark, sf_dir) -> DataFrame, plus the
DuckDB oracle SQL for each (the driver's correctness gate, and our own
tests/test_oracle_parity.py).

Conventions:
* every computed column is aliased identically in the Spark expression and
  the oracle SQL (driver compare sorts columns by name before hashing);
* floating aggregates are rounded at 4dp on BOTH sides (the reference's
  visible rounding point, ticks.py:73 / bars.py:141) so cross-engine float
  summation order can't flip the hash;
* "now"-relative predicates (op F9) are parameterized by deriving ``as_of``
  from the data (max event_time) so queries are deterministic at any sf.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from stockpulse_batch_realtime_etl_spark.operators import serving
from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars
from stockpulse_batch_realtime_etl_spark.sources.ticks import (
    TICKS_FROM_EVENTS_SQL,
    ticks_from_events,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: DuckDB CTE prelude giving the oracle the same tick view the Spark side
#: builds in sources/ticks.py (events → stock_ticks model, FIXTURES.md §5).
TICKS_CTE = f"WITH ticks AS ({TICKS_FROM_EVENTS_SQL})"


# --- flagship: A1/A2 OHLCV bars --------------------------------------------

@register(
    "ohlcv_bars",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol,
  date_trunc('minute', event_time) AS bucket_start,
  round(arg_min(price, event_time), 4) AS open,
  round(max(price), 4)  AS high,
  round(min(price), 4)  AS low,
  round(arg_max(price, event_time), 4) AS close,
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM ticks
GROUP BY symbol, date_trunc('minute', event_time)
""",
)
def q_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ohlcv_bars(ticks_from_events(spark, sf_dir))
    return bars.select(
        "symbol",
        "bucket_start",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


#: DuckDB CTE for the derived bars table (matches q_ohlcv_bars without the
#: output rounding — serving queries consume raw bar values, and min/max/
#: arg_min picks are exact input doubles, not accumulations).
BARS_CTE = f"""
{TICKS_CTE},
bars AS (
  SELECT
    symbol,
    date_trunc('minute', event_time) AS bucket_start,
    arg_min(price, event_time) AS open,
    max(price)  AS high,
    min(price)  AS low,
    arg_max(price, event_time) AS close,
    -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
    count(*) AS tick_count
  FROM ticks
  GROUP BY symbol, date_trunc('minute', event_time)
)
"""


# --- serving suite (SURVEY.md §2.10) ---------------------------------------

@register(
    "symbols",
    oracle=f"{TICKS_CTE} SELECT DISTINCT symbol FROM ticks ORDER BY symbol",
)
def q_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.symbols(ticks_from_events(spark, sf_dir))


@register(
    "latest_ticks",
    oracle=f"""
{TICKS_CTE}
SELECT symbol, price, volume, event_time
FROM ticks WHERE symbol = 'PURCHASE'
ORDER BY event_time DESC, price DESC, volume DESC NULLS LAST
LIMIT 100
""",
)
def q_latest_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.latest_ticks(ticks_from_events(spark, sf_dir), "purchase", 100)


@register(
    "tick_summary",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol,
  count(*) AS tick_count,
  round(avg(price), 4) AS avg_price,
  min(price) AS min_price,
  max(price) AS max_price,
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  min(event_time) AS first_tick,
  max(event_time) AS last_tick
FROM ticks
WHERE symbol = 'PURCHASE'
  AND event_time >= (SELECT max(event_time) FROM ticks) - INTERVAL 60 MINUTE
GROUP BY symbol
""",
)
def q_tick_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.tick_summary(ticks_from_events(spark, sf_dir), "purchase", 60)


@register(
    "latest_bars",
    oracle=f"""
{BARS_CTE}
SELECT symbol, bucket_start, open, high, low, close, volume_sum, tick_count
FROM bars WHERE symbol = 'CLICK'
ORDER BY bucket_start DESC
LIMIT 100
""",
)
def q_latest_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ohlcv_bars(ticks_from_events(spark, sf_dir))
    return serving.latest_bars(bars, "click", 100)


@register(
    "bar_summary",
    oracle=f"""
{BARS_CTE}
SELECT *,
  round((close - open) / nullif(open, 0) * 100, 4) AS change_pct
FROM (
  SELECT
    symbol,
    count(*) AS bar_count,
    arg_min(open, bucket_start) AS open,
    max(high) AS high,
    min(low)  AS low,
    arg_max(close, bucket_start) AS close,
    CAST(sum(volume_sum) AS BIGINT) AS volume_sum,
    CAST(sum(tick_count) AS BIGINT) AS tick_count,
    min(bucket_start) AS first_bucket,
    max(bucket_start) AS last_bucket
  FROM bars
  WHERE symbol = 'CLICK'
    AND bucket_start >= (SELECT max(bucket_start) FROM bars) - INTERVAL 180 MINUTE
  GROUP BY symbol
) s
""",
)
def q_bar_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ohlcv_bars(ticks_from_events(spark, sf_dir))
    return serving.bar_summary(bars, "click", 180)


@register(
    "movers",
    oracle=f"""
{BARS_CTE},
windowed AS (
  SELECT * FROM bars
  WHERE bucket_start >= (SELECT max(bucket_start) FROM bars) - INTERVAL 180 MINUTE
),
per_symbol AS (
  SELECT
    symbol,
    arg_min(open, bucket_start) AS open,
    arg_max(close, bucket_start) AS close
  FROM windowed
  GROUP BY symbol
)
SELECT symbol, open, close,
  round((close - open) / nullif(open, 0) * 100, 4) AS change_pct
FROM per_symbol
ORDER BY abs(change_pct) DESC NULLS LAST, symbol ASC
LIMIT 20
""",
)
def q_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = ohlcv_bars(ticks_from_events(spark, sf_dir))
    return serving.movers(bars, 180, 20)


@register(
    "latest_tick_per_symbol",
    oracle=f"""
{TICKS_CTE}
SELECT symbol, price, volume, event_time FROM (
  SELECT *, row_number() OVER (
    PARTITION BY symbol
    ORDER BY event_time DESC, price DESC, volume DESC NULLS LAST
  ) AS rn
  FROM ticks
) t WHERE rn = 1
""",
)
def q_latest_tick_per_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.latest_tick_per_symbol(ticks_from_events(spark, sf_dir)).select(
        "symbol", "price", "volume", "event_time"
    )


@register(
    "sliding_bars",
    oracle=f"""
{TICKS_CTE},
assigned AS (
  SELECT t.*,
         date_trunc('minute', event_time) - k.k * INTERVAL 1 MINUTE
           AS window_start
  FROM ticks t, (SELECT unnest(generate_series(0, 4)) AS k) k
)
SELECT
  symbol,
  window_start,
  window_start + INTERVAL 5 MINUTE AS window_end,
  arg_min(price, event_time) AS open,
  max(price) AS high,
  min(price) AS low,
  arg_max(price, event_time) AS close,
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM assigned
GROUP BY symbol, window_start
""",
)
def q_sliding_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import sliding_bars

    return sliding_bars(ticks_from_events(spark, sf_dir), 5, 1)


@register(
    "session_bars",
    oracle=f"""
{TICKS_CTE},
ordered AS (
  -- Spark session_window merges at EXACTLY the gap (t2 - t1 <= gap stays
  -- one session), so a new session starts only when the silence EXCEEDS it
  SELECT *,
         CASE WHEN lag(event_time) OVER w IS NULL
                OR event_time - lag(event_time) OVER w > INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM ticks
  WINDOW w AS (PARTITION BY symbol ORDER BY event_time)
),
sess AS (
  SELECT *,
         sum(brk) OVER (PARTITION BY symbol ORDER BY event_time
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT
  symbol,
  min(event_time) AS session_start,
  arg_min(price, event_time) AS open,
  max(price) AS high,
  min(price) AS low,
  arg_max(price, event_time) AS close,
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM sess
GROUP BY symbol, sid
""",
)
def q_session_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import session_bars

    return session_bars(ticks_from_events(spark, sf_dir), 5)


@register(
    "price_cardinality",
    oracle=f"""
{TICKS_CTE}
SELECT symbol, count(DISTINCT price) AS distinct_count
FROM ticks GROUP BY symbol ORDER BY symbol
""",
)
def q_price_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.skew import (
        salted_distinct_count,
    )

    return salted_distinct_count(ticks_from_events(spark, sf_dir), "symbol", "price")


@register(
    "rolling_stats",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol, event_time, price, volume,
  round(avg(price) OVER w10, 6) AS sma,
  min(price) OVER w10 AS roll_min,
  max(price) OVER w10 AS roll_max,
  round(CASE WHEN lag(price, 1) OVER w1 != 0
             THEN (price - lag(price, 1) OVER w1) / lag(price, 1) OVER w1
        END, 6) AS ret
FROM ticks
WINDOW
  w1  AS (PARTITION BY symbol ORDER BY event_time, price, volume),
  w10 AS (PARTITION BY symbol ORDER BY event_time, price, volume
          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.rolling import rolling_stats

    return rolling_stats(ticks_from_events(spark, sf_dir), 10)


@register(
    "bollinger_bands",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol, event_time, price,
  round(sx / cnt, 6) AS bb_mid,
  round(sqrt(greatest((sxx - sx * sx / cnt) / cnt, CAST(0 AS DOUBLE))), 6)
    AS bb_sd,
  round(sx / cnt + CAST(2 AS DOUBLE)
        * sqrt(greatest((sxx - sx * sx / cnt) / cnt, CAST(0 AS DOUBLE))), 6)
    AS bb_upper,
  round(sx / cnt - CAST(2 AS DOUBLE)
        * sqrt(greatest((sxx - sx * sx / cnt) / cnt, CAST(0 AS DOUBLE))), 6)
    AS bb_lower
FROM (
  SELECT symbol, event_time, price,
    CAST(sum(CAST(price AS DECIMAL(25,6))) OVER w20 AS DOUBLE) AS sx,
    CAST(sum(CAST(price * price AS DECIMAL(25,6))) OVER w20 AS DOUBLE) AS sxx,
    CAST(count(price) OVER w20 AS DOUBLE) AS cnt
  FROM ticks
  WINDOW w20 AS (PARTITION BY symbol ORDER BY event_time, price, volume
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
""",
)
def q_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling mean ± 2σ envelope (decimal-exact rolling moments)."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import (
        bollinger_bands,
    )

    return bollinger_bands(ticks_from_events(spark, sf_dir), 20, 2.0)


@register(
    "rsi_ticks",
    oracle=f"""
{TICKS_CTE}
, r AS (
  SELECT symbol, event_time, price, volume,
    round(CASE WHEN lag(price, 1) OVER w1 != 0
               THEN (price - lag(price, 1) OVER w1) / lag(price, 1) OVER w1
          END, 6) AS ret
  FROM ticks
  WINDOW w1 AS (PARTITION BY symbol ORDER BY event_time, price, volume)
), s AS (
  SELECT symbol, event_time, price,
    CAST(sum(CAST(greatest(ret, 0) AS DECIMAL(25,6))) OVER w14 AS DOUBLE)
      AS sg,
    CAST(sum(CAST(greatest(-ret, 0) AS DECIMAL(25,6))) OVER w14 AS DOUBLE)
      AS sl,
    count(ret) OVER w14 AS cnt
  FROM r
  WINDOW w14 AS (PARTITION BY symbol ORDER BY event_time, price, volume
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT symbol, event_time, price,
  round(CASE WHEN cnt = 0 THEN NULL
             WHEN sl = 0 THEN CAST(100 AS DOUBLE)
             ELSE 100 - 100 / (1 + sg / sl) END, 4) AS rsi
FROM s
""",
)
def q_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI over the last 14 tick returns."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import rsi

    return rsi(ticks_from_events(spark, sf_dir), 14)


@register(
    "donchian_breakouts",
    oracle=f"""
{TICKS_CTE}
SELECT symbol, event_time, price,
  max(price) OVER ch AS channel_high,
  min(price) OVER ch AS channel_low,
  coalesce(price > max(price) OVER ch, FALSE) AS breakout_up,
  coalesce(price < min(price) OVER ch, FALSE) AS breakout_down
FROM ticks
WINDOW ch AS (PARTITION BY symbol ORDER BY event_time, price, volume
              ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
""",
)
def q_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel breakout flags vs the previous-20-tick envelope."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import (
        donchian_breakouts,
    )

    return donchian_breakouts(ticks_from_events(spark, sf_dir), 20)


@register(
    "obv_ticks",
    oracle=f"""
{TICKS_CTE}
, f AS (
  SELECT symbol, event_time, price, volume,
    CASE WHEN price > lag(price, 1) OVER w1 THEN coalesce(volume, 0)
         WHEN price < lag(price, 1) OVER w1 THEN -coalesce(volume, 0)
         ELSE 0 END AS flow
  FROM ticks
  WINDOW w1 AS (PARTITION BY symbol ORDER BY event_time, price, volume)
)
SELECT symbol, event_time, price, volume,
  CAST(sum(flow) OVER (PARTITION BY symbol
                       ORDER BY event_time, price, volume
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
FROM f
""",
)
def q_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume via the distributed two-pass prefix sum."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import obv

    return obv(ticks_from_events(spark, sf_dir))


@register(
    "max_drawdown",
    oracle=f"""
{TICKS_CTE}
, p AS (
  SELECT symbol, event_time, price,
    max(price) OVER (PARTITION BY symbol
                     ORDER BY event_time, price, volume
                     ROWS UNBOUNDED PRECEDING) AS peak
  FROM ticks
), d AS (
  SELECT symbol, event_time, price, peak,
    round((price - peak) / peak, 6) AS dd
  FROM p
), ranked AS (
  SELECT symbol, event_time, price, peak, dd,
    row_number() OVER (PARTITION BY symbol
                       ORDER BY dd, event_time, price, peak) AS rn
  FROM d
)
SELECT r.symbol,
       r.dd AS max_drawdown,
       r.event_time AS trough_time,
       r.peak AS peak_price,
       r.price AS trough_price,
       h.all_time_high
FROM ranked r
JOIN (SELECT symbol, max(price) AS all_time_high FROM ticks GROUP BY symbol) h
  USING (symbol)
WHERE r.rn = 1
ORDER BY r.symbol
""",
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol maximum peak-to-trough drawdown."""
    from stockpulse_batch_realtime_etl_spark.operators.rolling import (
        max_drawdown,
    )

    return max_drawdown(ticks_from_events(spark, sf_dir))


@register(
    "ticks_asof_bars",
    oracle=f"""
{BARS_CTE}
SELECT t.symbol, t.price, t.volume, t.event_time,
       b.bucket_start, b.close AS bar_close
FROM ticks t
ASOF LEFT JOIN bars b
  ON t.symbol = b.symbol AND t.event_time >= b.bucket_start
""",
)
def q_ticks_asof_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.asof import asof_join

    ticks = ticks_from_events(spark, sf_dir)
    bars = ohlcv_bars(ticks).select("symbol", "bucket_start", "close")
    joined = asof_join(
        ticks, bars, "symbol", "event_time", "bucket_start", ["bucket_start", "close"]
    )
    return joined.select(
        "symbol",
        "price",
        "volume",
        "event_time",
        "bucket_start",
        F.col("close").alias("bar_close"),
    )


@register(
    "ticks_asof_next_bar",
    oracle=f"""
{BARS_CTE}
SELECT t.symbol, t.price, t.volume, t.event_time,
       b.bucket_start AS next_bucket_start, b.close AS next_bar_close
FROM ticks t
ASOF LEFT JOIN bars b
  ON t.symbol = b.symbol AND t.event_time <= b.bucket_start
""",
)
def q_ticks_asof_next_bar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each tick joined to the EARLIEST bar at-or-after it
    (fill simulation / forward-label shape) — the mirror of
    ticks_asof_bars, same single-shuffle union+carry plan run backward."""
    from stockpulse_batch_realtime_etl_spark.operators.asof import asof_join

    ticks = ticks_from_events(spark, sf_dir)
    bars = ohlcv_bars(ticks).select("symbol", "bucket_start", "close")
    joined = asof_join(
        ticks,
        bars,
        "symbol",
        "event_time",
        "bucket_start",
        ["bucket_start", "close"],
        direction="forward",
    )
    return joined.select(
        "symbol",
        "price",
        "volume",
        "event_time",
        F.col("bucket_start").alias("next_bucket_start"),
        F.col("close").alias("next_bar_close"),
    )


# --- TPC-H-ish relational coverage (operators/tpch.py) ----------------------

def _tables(spark: SparkSession, sf_dir: str, *names: str):
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    return [load_table(spark, sf_dir, n) for n in names]


@register(
    "q1_pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  sum(l_quantity) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / count(*), 4) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / count(*), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    (li,) = _tables(spark, sf_dir, "lineitem")
    return tpch.q1_pricing_summary(li)


@register(
    "q3_shipping_priority",
    oracle="""
SELECT
  l_orderkey,
  o_orderdate,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate  > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cust, ords, li = _tables(spark, sf_dir, "customer", "orders", "lineitem")
    return tpch.q3_shipping_priority(cust, ords, li)


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT
  n_name,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
)
def q_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    reg, nat, cust, sup, ords, li = _tables(
        spark, sf_dir, "region", "nation", "customer", "supplier", "orders", "lineitem"
    )
    return tpch.q5_local_supplier_volume(reg, nat, cust, sup, ords, li)


@register(
    "top_customers_by_revenue",
    oracle="""
SELECT c_custkey, c_name,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cust, ords, li = _tables(spark, sf_dir, "customer", "orders", "lineitem")
    return tpch.top_customers_by_revenue(cust, ords, li)


@register(
    "brand_revenue",
    oracle="""
SELECT p_brand,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
  count(*) AS line_count
FROM lineitem
JOIN part ON p_partkey = l_partkey
GROUP BY p_brand
ORDER BY p_brand
""",
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, part = _tables(spark, sf_dir, "lineitem", "part")
    return tpch.brand_revenue(li, part)


@register(
    "order_priority_counts",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    ords, li = _tables(spark, sf_dir, "orders", "lineitem")
    return tpch.order_priority_counts(ords, li)


@register(
    "q6_forecast_revenue",
    oracle="""
SELECT
  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE)
    AS revenue,
  count(*) AS line_count
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    (li,) = _tables(spark, sf_dir, "lineitem")
    return tpch.q6_forecast_revenue(li)


@register(
    "q14_promo_revenue",
    oracle="""
WITH a AS (
  SELECT
    CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount)
                       ELSE 0 END AS DECIMAL(25,6))) AS DOUBLE)
      AS promo_revenue,
    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
         AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
)
SELECT promo_revenue, total_revenue,
       round(CAST(100 AS DOUBLE) * promo_revenue / total_revenue, 4)
         AS promo_pct
FROM a
""",
)
def q_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, pt = _tables(spark, sf_dir, "lineitem", "part")
    return tpch.q14_promo_revenue(li, pt)


@register(
    "q10_returned_items",
    oracle="""
WITH r AS (
  SELECT c_custkey, c_name, n_name, c_mktsegment, c_acctbal,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation   ON n_nationkey = c_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1996-07-01'
  GROUP BY c_custkey, c_name, n_name, c_mktsegment, c_acctbal
)
SELECT c_custkey, c_name, n_name, c_mktsegment, c_acctbal, revenue
FROM r ORDER BY revenue DESC, c_custkey ASC LIMIT 20
""",
)
def q_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cu, od, li, na = _tables(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    return tpch.q10_returned_items(cu, od, li, na)


@register(
    "q13_order_counts",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey,
         count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cu, od = _tables(spark, sf_dir, "customer", "orders")
    return tpch.q13_order_count_distribution(cu, od)


@register(
    "q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_totalprice, total_qty
FROM orders
JOIN big      ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_totalprice DESC, o_orderkey ASC
LIMIT 100
""",
)
def q_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cu, od, li = _tables(spark, sf_dir, "customer", "orders", "lineitem")
    return tpch.q18_large_orders(cu, od, li)


@register(
    "q19_disjunctive_revenue",
    oracle="""
SELECT
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
       AS DOUBLE) AS revenue,
  count(*) AS line_count
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, pt = _tables(spark, sf_dir, "lineitem", "part")
    return tpch.q19_disjunctive_revenue(li, pt)


@register(
    "q7_nation_volume",
    oracle="""
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
            AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, od, cu, su, na = _tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    return tpch.q7_nation_volume(li, od, cu, su, na)


@register(
    "q22_sales_opportunity",
    oracle="""
WITH a AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / count(*)
           AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey AS nationkey,
       count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
FROM customer, a
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY nationkey
""",
)
def q_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cu, od = _tables(spark, sf_dir, "customer", "orders")
    return tpch.q22_global_sales_opportunity(cu, od)


@register(
    "revenue_rollup",
    oracle="""
SELECT
  n_name,
  c_mktsegment,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
    AS revenue,
  count(*) AS line_count,
  grouping(n_name, c_mktsegment) AS grouping_level
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY n_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST
""",
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, ords, cust, nat = _tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    return tpch.revenue_rollup(li, ords, cust, nat)


@register(
    "revenue_cube",
    oracle="""
SELECT
  n_name,
  c_mktsegment,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
    AS revenue,
  count(*) AS line_count,
  grouping(n_name, c_mktsegment) AS grouping_level
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
ORDER BY n_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST
""",
)
def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (nation, segment) — all four grain combinations in one
    Expand→aggregate pass, completing the grouping-sets family."""
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    li, ords, cust, nat = _tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation"
    )
    return tpch.revenue_cube(li, ords, cust, nat)


@register(
    "customers_without_orders",
    oracle="""
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators import tpch

    cust, ords = _tables(spark, sf_dir, "customer", "orders")
    return tpch.customers_without_orders(cust, ords)



# --- materialized-rollup cascade: coarse bars FROM fine bars ----------------

@register(
    "hourly_bars_rollup",
    oracle=f"""
{BARS_CTE}
SELECT
  symbol,
  date_trunc('hour', bucket_start) AS bucket_start,
  round(arg_min(open, bucket_start), 4) AS open,
  round(max(high), 4)  AS high,
  round(min(low), 4)   AS low,
  round(arg_max(close, bucket_start), 4) AS close,
  CAST(sum(volume_sum) AS BIGINT) AS volume_sum,
  CAST(sum(tick_count) AS BIGINT) AS tick_count
FROM bars
GROUP BY symbol, date_trunc('hour', bucket_start)
""",
)
def q_hourly_bars_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import rollup_bars

    hourly = rollup_bars(ohlcv_bars(ticks_from_events(spark, sf_dir)), "hour")
    return hourly.select(
        "symbol",
        "bucket_start",
        F.round("open", 4).alias("open"),
        F.round("high", 4).alias("high"),
        F.round("low", 4).alias("low"),
        F.round("close", 4).alias("close"),
        F.col("volume_sum").cast("long").alias("volume_sum"),
        F.col("tick_count").cast("long").alias("tick_count"),
    )


@register(
    "gapfill_bars",
    oracle=f"""
{BARS_CTE},
span AS (
  SELECT symbol, min(bucket_start) AS mn, max(bucket_start) AS mx
  FROM bars GROUP BY symbol
),
grid AS (
  SELECT symbol,
         unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS bucket_start
  FROM span
),
joined AS (
  SELECT g.symbol, g.bucket_start, b.close, b.volume_sum,
         b.symbol IS NULL AS is_gap
  FROM grid g
  LEFT JOIN bars b
    ON b.symbol = g.symbol AND b.bucket_start = g.bucket_start
)
SELECT
  symbol,
  bucket_start,
  last_value(close IGNORE NULLS)
    OVER (PARTITION BY symbol ORDER BY bucket_start
          ROWS UNBOUNDED PRECEDING) AS close_filled,
  coalesce(volume_sum, 0) AS volume_sum,
  is_gap
FROM joined
""",
)
def q_gapfill_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import gapfill_bars

    return gapfill_bars(ohlcv_bars(ticks_from_events(spark, sf_dir)))


@register(
    "price_histogram",
    oracle=f"""
{TICKS_CTE},
ext AS (
  SELECT symbol, price,
         min(price) OVER (PARTITION BY symbol) AS mn,
         max(price) OVER (PARTITION BY symbol) AS mx
  FROM ticks
),
b AS (
  SELECT symbol, price,
         CASE WHEN mx - mn > 0
              THEN least(CAST(floor((price - mn) * 20 / (mx - mn)) AS BIGINT),
                         19)
              ELSE 0 END AS bucket
  FROM ext
)
SELECT symbol, bucket, count(*) AS n,
       round(min(price), 6) AS bucket_min,
       round(max(price), 6) AS bucket_max
FROM b GROUP BY symbol, bucket
""",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        price_histogram,
    )

    return price_histogram(ticks_from_events(spark, sf_dir), 20)


@register(
    "price_deciles",
    oracle=f"""
{TICKS_CTE},
d AS (
  SELECT symbol, price,
         ntile(10) OVER (PARTITION BY symbol
                         ORDER BY price, event_time, volume NULLS LAST) AS decile
  FROM ticks
)
SELECT symbol, decile, count(*) AS n,
       round(min(price), 6) AS lo,
       round(max(price), 6) AS hi
FROM d GROUP BY symbol, decile
""",
)
def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        price_deciles,
    )

    return price_deciles(ticks_from_events(spark, sf_dir))


@register(
    "symbol_correlations",
    oracle=f"""
{BARS_CTE},
j AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.close AS x, b.close AS y
  FROM bars a
  JOIN bars b ON a.bucket_start = b.bucket_start AND a.symbol < b.symbol
),
m AS (
  SELECT sym_a, sym_b, count(*) AS n,
    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
    CAST(sum(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM j GROUP BY sym_a, sym_b
)
SELECT sym_a, sym_b, n AS aligned_minutes,
  round(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
             THEN (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END,
        6) AS close_corr
FROM m
""",
)
def q_symbol_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        symbol_correlations,
    )

    return symbol_correlations(ohlcv_bars(ticks_from_events(spark, sf_dir)))


@register(
    "symbol_beta",
    oracle=f"""
{BARS_CTE},
rets AS (
  SELECT symbol, bucket_start,
    round((close - lag(close, 1) OVER w) / lag(close, 1) OVER w, 6) AS ret
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY bucket_start)
  QUALIFY lag(close, 1) OVER w IS NOT NULL AND lag(close, 1) OVER w != 0
),
mkt AS (
  SELECT bucket_start,
    round(CAST(sum(CAST(ret AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
      AS mkt_ret
  FROM rets GROUP BY bucket_start
),
m AS (
  SELECT symbol, count(*) AS n_periods,
    CAST(sum(CAST(mkt_ret AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(ret AS DECIMAL(38,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(mkt_ret * mkt_ret AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(ret * ret AS DECIMAL(38,6))) AS DOUBLE) AS syy,
    CAST(sum(CAST(mkt_ret * ret AS DECIMAL(38,6))) AS DOUBLE) AS sxy
  FROM rets JOIN mkt USING (bucket_start)
  GROUP BY symbol
)
SELECT symbol, n_periods,
  round(CASE WHEN n_periods * sxx - sx * sx > 0
             THEN (n_periods * sxy - sx * sy) / (n_periods * sxx - sx * sx)
        END, 6) AS beta,
  round((sy - CASE WHEN n_periods * sxx - sx * sx > 0
                   THEN (n_periods * sxy - sx * sy)
                        / (n_periods * sxx - sx * sx) END * sx)
        / n_periods, 6) AS alpha,
  round(CASE WHEN (n_periods * sxx - sx * sx) * (n_periods * syy - sy * sy) > 0
             THEN (n_periods * sxy - sx * sy)
                  / sqrt((n_periods * sxx - sx * sx)
                         * (n_periods * syy - sy * sy)) END, 6) AS mkt_corr
FROM m
ORDER BY symbol
""",
)
def q_symbol_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS beta/alpha/correlation vs the equal-weight minute index."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        symbol_beta,
    )

    return symbol_beta(ohlcv_bars(ticks_from_events(spark, sf_dir)))


@register(
    "event_transitions",
    oracle="""
WITH p AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS _to
  FROM events
), c AS (
  SELECT event_type AS from_event, _to AS to_event,
         count(*) AS n_transitions
  FROM p WHERE _to IS NOT NULL
  GROUP BY event_type, _to
)
SELECT from_event, to_event, n_transitions,
  round(n_transitions / CAST(sum(n_transitions)
        OVER (PARTITION BY from_event) AS DOUBLE), 6) AS p_transition
FROM c
ORDER BY from_event, to_event
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user actions."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        event_transitions,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    return event_transitions(load_table(spark, sf_dir, "events"))


@register(
    "rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id,
    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
    count(*) AS frequency,
    CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), r AS (
  SELECT user_id,
    (SELECT max(last_us) FROM u) - last_us AS recency_us,
    frequency, monetary
  FROM u
), cuts AS (
  SELECT
    round(quantile_cont(recency_us, 0.25), 6) AS r25,
    round(quantile_cont(recency_us, 0.50), 6) AS r50,
    round(quantile_cont(recency_us, 0.75), 6) AS r75,
    round(quantile_cont(frequency, 0.25), 6) AS f25,
    round(quantile_cont(frequency, 0.50), 6) AS f50,
    round(quantile_cont(frequency, 0.75), 6) AS f75,
    round(quantile_cont(monetary, 0.25), 6) AS m25,
    round(quantile_cont(monetary, 0.50), 6) AS m50,
    round(quantile_cont(monetary, 0.75), 6) AS m75
  FROM r
), s AS (
  SELECT user_id, recency_us, frequency, round(monetary, 6) AS monetary,
    1 + CAST(recency_us < r25 AS INT) + CAST(recency_us < r50 AS INT)
      + CAST(recency_us < r75 AS INT) AS r_score,
    1 + CAST(frequency > f25 AS INT) + CAST(frequency > f50 AS INT)
      + CAST(frequency > f75 AS INT) AS f_score,
    1 + CAST(monetary > m25 AS INT) + CAST(monetary > m50 AS INT)
      + CAST(monetary > m75 AS INT) AS m_score
  FROM r, cuts
)
SELECT user_id, recency_us, frequency, monetary, r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s ORDER BY user_id
""",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation over purchase events."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        rfm_segments,
    )
    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table

    return rfm_segments(load_table(spark, sf_dir, "events"))


@register(
    "weekday_hour_profile",
    oracle=f"""
{TICKS_CTE}
SELECT symbol,
  -- pmod form: DuckDB % takes the dividend's sign, so pre-epoch days
  -- would go negative without the +7 wrap (mirrors Spark's F.pmod)
  CAST((((CAST(floor(epoch_us(CAST(event_time AS TIMESTAMP)) / 86400000000) AS BIGINT) + 4) % 7) + 7) % 7 AS INT) AS weekday,
  CAST(hour(event_time) AS INT) AS hour,
  count(*) AS tick_count,
  CAST(sum(CAST(price AS DECIMAL(25,6))) AS DOUBLE) / count(*)
    AS avg_price,
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum
FROM ticks
GROUP BY 1, 2, 3
ORDER BY symbol, weekday, hour
""",
)
def q_weekday_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (symbol, weekday, hour) activity seasonality rollup."""
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        weekday_hour_profile,
    )

    return weekday_hour_profile(ticks_from_events(spark, sf_dir))


# The EMA recursion has no finite window-frame form, but DuckDB CAN replay
# it at oracle scale via a per-symbol list fold: list_reduce over the
# ordered price prefix re-runs EMA_i = α·p_i + (1−α)·EMA_{i−1} exactly
# (left fold seeds with p_1 — the same pandas adjust=False seed the Spark
# chunked identity uses).  O(n²) per symbol, fine at sf0.01; the Spark side
# is the renormalized-prefix-sum formulation (operators/rolling.ema), so
# this cross-checks the algebraic identity end-to-end, not a re-run of the
# same code.  Literals CAST to DOUBLE (DuckDB types bare 0.2 as DECIMAL).
@register(
    "ema_ticks",
    oracle=f"""
{TICKS_CTE},
ordered AS (
  SELECT symbol, event_time, price,
         row_number() OVER (PARTITION BY symbol ORDER BY event_time, price)
           AS rn
  FROM ticks
),
lists AS (
  SELECT symbol,
         list(event_time ORDER BY rn) AS tss,
         list(price ORDER BY rn) AS ps
  FROM ordered GROUP BY symbol
)
SELECT symbol,
       unnest(tss) AS event_time,
       unnest(ps) AS price,
       unnest(list_transform(range(1, len(ps) + 1),
          i -> round(list_reduce(ps[1:i],
                 (acc, x) -> CAST(0.2 AS DOUBLE) * x
                             + CAST(0.8 AS DOUBLE) * acc), 6))) AS ema
FROM lists
""",
)
def q_ema_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.rolling import ema

    return ema(ticks_from_events(spark, sf_dir), 0.2)


# --- analytics extensions: VWAP, range frames, stats, top-k, pivot, set ops -

@register(
    "vwap_bars",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol,
  date_trunc('minute', event_time) AS bucket_start,
  round(CASE WHEN sum(coalesce(volume, 0)) > 0 THEN
    CAST(sum(CAST(price * coalesce(volume, 0) AS DECIMAL(25,6))) AS DOUBLE)
      / sum(coalesce(volume, 0)) END, 6) AS vwap,
  round(CAST(sum(CAST(price * coalesce(volume, 0) AS DECIMAL(25,6)))
        AS DOUBLE), 4) AS turnover,
  -- CAST: DuckDB sum(BIGINT) returns HUGEINT (float64/decimal in Arrow),
  -- which hash-mismatches Spark's int64 on value-identical results
  CAST(sum(coalesce(volume, 0)) AS BIGINT) AS volume_sum,
  count(*) AS tick_count
FROM ticks
GROUP BY symbol, date_trunc('minute', event_time)
""",
)
def q_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import vwap_bars

    return vwap_bars(ticks_from_events(spark, sf_dir))


@register(
    "time_range_stats",
    oracle=f"""
{TICKS_CTE}
SELECT
  symbol,
  event_time,
  price,
  round(CAST(sum(CAST(price AS DECIMAL(25,6))) OVER w AS DOUBLE)
        / count(price) OVER w, 6) AS range_avg_price,
  count(*) OVER w AS range_tick_count,
  CAST(sum(coalesce(volume, 0)) OVER w AS BIGINT) AS range_volume_sum
FROM ticks
WINDOW w AS (PARTITION BY symbol ORDER BY event_time
             RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
""",
)
def q_time_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        time_range_stats,
    )

    return time_range_stats(ticks_from_events(spark, sf_dir), 10)


@register(
    "stats_summary",
    oracle=f"""
{TICKS_CTE},
m AS (
  SELECT
    symbol,
    count(price) AS n,
    CAST(sum(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(price * price AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
    count(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
          THEN price END) AS np,
    CAST(sum(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
             THEN CAST(price AS DECIMAL(38,6)) END) AS DOUBLE) AS px,
    CAST(sum(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
             THEN CAST(CAST(volume AS DOUBLE) AS DECIMAL(38,6)) END)
         AS DOUBLE) AS py,
    CAST(sum(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
             THEN CAST(price * price AS DECIMAL(38,6)) END) AS DOUBLE) AS pxx,
    CAST(sum(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
             THEN CAST(CAST(volume AS DOUBLE) * CAST(volume AS DOUBLE)
             AS DECIMAL(38,6)) END) AS DOUBLE) AS pyy,
    CAST(sum(CASE WHEN price IS NOT NULL AND volume IS NOT NULL
             THEN CAST(price * CAST(volume AS DOUBLE) AS DECIMAL(38,6)) END)
         AS DOUBLE) AS pxy,
    quantile_cont(price, 0.5) AS q50,
    quantile_cont(price, 0.9) AS q90,
    quantile_cont(price, 0.99) AS q99
  FROM ticks GROUP BY symbol
)
SELECT
  symbol,
  n AS tick_count,
  round(sx / n, 6) AS mean_price,
  round(CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) END, 6)
    AS var_price,
  round(CASE WHEN n > 1
             THEN sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0)) END, 6)
    AS stddev_price,
  round(CASE WHEN np > 1 THEN (pxy - px * py / np) / (np - 1) END, 4)
    AS covar_price_volume,
  round(CASE WHEN (np * pxx - px * px) * (np * pyy - py * py) > 0
             THEN (np * pxy - px * py)
                  / sqrt((np * pxx - px * px) * (np * pyy - py * py)) END, 6)
    AS corr_price_volume,
  round(q50, 6) AS p50_price,
  round(q90, 6) AS p90_price,
  round(q99, 6) AS p99_price
FROM m
ORDER BY symbol
""",
)
def q_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import stats_summary

    return stats_summary(ticks_from_events(spark, sf_dir))


@register(
    "top_bars_per_day",
    oracle=f"""
{BARS_CTE},
ranked AS (
  SELECT
    CAST(bucket_start AS DATE) AS day,
    row_number() OVER (PARTITION BY CAST(bucket_start AS DATE)
                       ORDER BY volume_sum DESC, symbol, bucket_start)
      AS day_rank,
    symbol,
    bucket_start,
    volume_sum
  FROM bars
)
SELECT day, day_rank, symbol, bucket_start, volume_sum
FROM ranked WHERE day_rank <= 3
""",
)
def q_top_bars_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        top_bars_per_day,
    )
    from stockpulse_batch_realtime_etl_spark.operators.ohlcv import ohlcv_bars

    return top_bars_per_day(ohlcv_bars(ticks_from_events(spark, sf_dir)), 3)


@register(
    "hourly_symbol_pivot",
    oracle=f"""
{TICKS_CTE}
SELECT
  hour(event_time) AS hour_of_day,
  count(*) FILTER (symbol = 'CLICK') AS "CLICK",
  count(*) FILTER (symbol = 'ERROR') AS "ERROR",
  count(*) FILTER (symbol = 'PURCHASE') AS "PURCHASE",
  count(*) FILTER (symbol = 'SIGNUP') AS "SIGNUP",
  count(*) FILTER (symbol = 'VIEW') AS "VIEW"
FROM ticks
GROUP BY hour(event_time)
""",
)
def q_hourly_symbol_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import (
        hourly_symbol_pivot,
    )

    return hourly_symbol_pivot(ticks_from_events(spark, sf_dir))


@register(
    "notable_days",
    oracle=f"""
{TICKS_CTE},
daily AS (
  SELECT
    symbol,
    CAST(event_time AS DATE) AS day,
    CASE WHEN min(price) <> 0
         THEN (max(price) - min(price)) / min(price) END AS range_ratio,
    sum(coalesce(volume, 0)) AS volume_sum
  FROM ticks GROUP BY symbol, CAST(event_time AS DATE)
),
means AS (
  SELECT
    CAST(sum(CAST(range_ratio AS DECIMAL(38,12))) AS DOUBLE)
      / count(range_ratio) AS mean_rr,
    avg(volume_sum) AS mean_vol
  FROM daily
),
volatile AS (
  SELECT symbol, day FROM daily, means WHERE range_ratio > mean_rr
),
heavy AS (
  SELECT symbol, day FROM daily, means WHERE volume_sum > mean_vol
)
SELECT 'volatile_only' AS tag, symbol, day
FROM (SELECT symbol, day FROM volatile EXCEPT SELECT symbol, day FROM heavy)
UNION ALL
SELECT 'both' AS tag, symbol, day
FROM (SELECT symbol, day FROM volatile INTERSECT
      SELECT symbol, day FROM heavy)
""",
)
def q_notable_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stockpulse_batch_realtime_etl_spark.operators.analytics import notable_days

    return notable_days(ticks_from_events(spark, sf_dir))


@register(
    "health_counts",
    oracle=f"""
{TICKS_CTE}
SELECT 'db' AS check_name, CAST(1 AS BIGINT) AS n
UNION ALL
SELECT 'stock_ticks' AS check_name, count(*) AS n FROM ticks
UNION ALL
SELECT 'stock_bars_1m' AS check_name, count(*) AS n FROM (
  SELECT symbol, date_trunc('minute', event_time) AS b
  FROM ticks GROUP BY 1, 2
)
""",
)
def q_health_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference /ready probe (health.py:18-29): SELECT 1 + both table
    counts; the bar count is the 1-minute OHLCV cardinality."""
    from stockpulse_batch_realtime_etl_spark.operators.serving import health_counts

    ticks = ticks_from_events(spark, sf_dir)
    return health_counts(ticks, ohlcv_bars(ticks))


# --- source/sink surfaces through the gate (S1, S2+S6, S7) ------------------

def _md5_unit_sql(salt: str) -> str:
    """DuckDB replay of rate._hash_unit: first 8 md5 hex chars → [0,1)."""
    h = f"md5('{salt}' || CAST(i AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {j}, 1)) - 1) * {16 ** (8 - j)}"
        for j in range(1, 9)
    )
    return f"(({terms}) / {float(16 ** 8)})"


_SIM_SYMBOLS = ["AAPL", "MSFT", "GOOG", "AMZN", "TSLA", "NVDA"]
_SIM_BASES = [190.0, 420.0, 175.0, 185.0, 250.0, 1150.0]


@register(
    "simulated_ticks",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series(0, 999)) AS i)
SELECT
  ([{", ".join(repr(s) for s in _SIM_SYMBOLS)}])[(i % {len(_SIM_SYMBOLS)}) + 1]
    AS symbol,
  round(([{", ".join(str(b) for b in _SIM_BASES)}])[(i % {len(_SIM_SYMBOLS)}) + 1]
        + ({_md5_unit_sql("drift")} - 0.5), 2) AS price,
  500 + CAST(floor({_md5_unit_sql("vol")} * 14500) AS BIGINT) AS volume,
  TIMESTAMP '2024-01-15 12:00:00' + i * (INTERVAL 2 SECOND) AS event_time
FROM g
""",
)
def q_simulated_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (producer.py:66-93): the simulated tick source's deterministic
    batch twin — the oracle replays the seeded md5/pmod arithmetic, so the
    generator itself is value-hash-verified, not just schema-checked."""
    from stockpulse_batch_realtime_etl_spark.sources.rate import (
        simulated_tick_batch,
    )

    return simulated_tick_batch(spark, 1000)


@register(
    "kafka_roundtrip_ticks",
    oracle=f"{TICKS_CTE}\nSELECT symbol, price, volume, event_time FROM ticks",
)
def q_kafka_roundtrip_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + S6/F11 (producer.py:84-90 / consumer.py:76-90): ticks → keyed
    Kafka (key, value-JSON) wire pairs → decode back.  The gate proves the
    encode/decode pair is lossless (doubles round-trip shortest-form JSON,
    null volume survives as an absent key)."""
    from stockpulse_batch_realtime_etl_spark.sources.kafka import (
        WIRE_TS_FORMAT,
        encode_ticks_for_kafka,
    )

    ticks = ticks_from_events(spark, sf_dir)
    wire = encode_ticks_for_kafka(ticks)
    schema = "symbol string, price double, volume long, event_time timestamp"
    return wire.select(
        F.from_json(
            F.col("value"), schema, {"timestampFormat": WIRE_TS_FORMAT}
        ).alias("t")
    ).select("t.symbol", "t.price", "t.volume", "t.event_time")


@register(
    "storage_roundtrip",
    oracle=f"""{TICKS_CTE}
SELECT symbol, price, volume, event_time FROM ticks
WHERE event_time < TIMESTAMP '2024-01-08 00:00:00'""",
)
def q_storage_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (consumer.py:111-117 insert path): write the ticks table in its
    production partitioned layout (symbol/event_date, time-sorted row
    groups), read it back, and prove the round trip byte-identical via the
    ticks-identity oracle.  Bounded to one week of ticks: the round-trip
    proof is per-partition-dir, so a deterministic slice exercises the
    same layout at a fraction of the local file-commit cost (the full
    30-day write was ~180 dirs and dominated the query's bench time)."""
    import hashlib
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.storage import (
        read_ticks,
        write_ticks_partitioned,
    )

    # deterministic per-sf path + overwrite mode → bounded disk across runs
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"stockpulse_s7_{tag}")
    week = ticks_from_events(spark, sf_dir).filter(
        F.col("event_time") < "2024-01-08 00:00:00"
    )
    write_ticks_partitioned(week, path)
    return read_ticks(spark, path).select(
        "symbol", "price", "volume", "event_time"
    )


# Extension registrations (dedup / similarity / text) live in queries_ext,
# which calls register() at import time.
from stockpulse_batch_realtime_etl_spark import queries_ext  # noqa: E402,F401
