"""Batch Parquet sources for the driver-provided tables (TESTDATA.md).

Replaces the reference's JDBC/SQLAlchemy read path (services/api/app/db.py:10-19):
tables become columnar Parquet scans with Catalyst predicate pushdown and
column pruning.

Scale notes: ``spark.read.parquet`` on a directory of files is already the
100 TB shape — file listing is distributed, row-group pruning applies, and
nothing here collects to the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make table reads self-sufficient on ANY SparkSession, not just one
    built by :func:`stockpulse_batch_realtime_etl_spark.session.get_spark`.

    Both confs are runtime-settable SQL confs, so ``spark.conf.set`` works on
    a bare ``SparkSession.builder.getOrCreate()`` session (e.g. an external
    harness).  Without them:

    * ``spark.sql.legacy.parquet.nanosAsLong`` — an ``events.parquet`` that
      stores ``ts`` as TIMESTAMP(NANOS) is rejected at the scan with
      PARQUET_TYPE_ILLEGAL unless read as long nanos.
    * ``spark.sql.session.timeZone=UTC`` — date_trunc/to_date/collected
      timestamps must match the UTC-normalized DuckDB oracle regardless of
      host timezone.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover - conf locked down; verified below
        pass
    # UTC is a hard correctness precondition, not a nicety: NTZ→timestamp
    # casts (functions.scalars.ts_micros) and the Kafka wire format's +00:00
    # offset are instant-preserving ONLY under a UTC session.  A locked-down
    # non-UTC session would silently shift every derived instant — fail loudly
    # instead.
    tz = spark.conf.get("spark.sql.session.timeZone")
    # Instant-equivalent spellings of UTC are fine — a locked-down session
    # pinned to 'Etc/UTC' or 'GMT' produces identical NTZ casts.  Only a
    # genuinely offset zone shifts derived instants.
    if tz not in {"UTC", "Etc/UTC", "Etc/GMT", "GMT", "Z", "+00:00", "UT"}:
        raise RuntimeError(
            f"spark.sql.session.timeZone={tz!r} but this library requires UTC "
            "(NTZ casts and the Kafka wire format are timezone-sensitive); "
            "the conf could not be set on this session"
        )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table (``{sf_dir}/{name}.parquet``).

    ``events.ts`` stored as TIMESTAMP(MICROS) without UTC adjustment (the
    sf fixtures) reads as ``timestamp_ntz``, taken as is; consumers that
    need an instant cast it (``functions.scalars.ts_micros``).  Stored as
    TIMESTAMP(NANOS), Spark reads it as long nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``; convert that to a real µs
    timestamp here (integer ``div 1000`` — truncation, matching DuckDB's
    parquet read of the same column).
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW scan up to cluster parallelism before
    a compute-heavy stage (shingle explode, per-token hashing, mapInPandas).

    Why: the driver's single-file, single-row-group parquet gives Spark no
    split points, so the scan — and every pipelined operator above it, i.e.
    ALL the per-row compute — runs in one task while 31 cores idle.  A
    round-robin exchange of the (MB-scale) input buys full parallelism for
    the expensive stage.

    Guarded: when the source already has > half the parallelism in
    partitions (the 100 TB case — real tables have thousands of row
    groups), this is a no-op, so no gratuitous shuffle is ever added at
    scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def literal_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small literal DataFrame WITHOUT the Python-RDD parallelize path.

    ``spark.createDataFrame(list)`` always routes local data through
    ``sc.parallelize`` with defaultParallelism slices, so EVERY downstream
    action evaluates ~core-count pickled Python-worker tasks for a handful
    of rows — measured at 45 executor-seconds (1.4 s/task × 32) for a
    3-row table.  Here the rows travel as ONE JSON string literal, parsed
    by ``from_json`` into an array of structs and inlined over a
    one-partition ``range(1)``: one task, no Python workers, no shuffle,
    and a constant number of py4j round trips (a Column per cell would
    cost ~40 per cell, each Column call recording its call site).
    ``FAILFAST``: a value that does not parse as its field's type raises
    instead of becoming null.  Fields come back nullable.

    For dimension-table-sized literals only (the plan carries the whole
    JSON text); bulk local data should go through Arrow
    ``createDataFrame`` (a pandas payload) instead.
    """
    from pyspark.sql.types import ArrayType, _parse_datatype_string

    struct = _parse_datatype_string(schema)
    payload = json.dumps([dict(zip(struct.names, row)) for row in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(
            F.from_json(F.lit(payload), ArrayType(struct), {"mode": "FAILFAST"})
        )
    )
