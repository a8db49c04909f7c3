"""Streaming ingest + aggregation: the reference's consumer/aggregator loop
as ONE Structured Streaming pipeline.

Reference semantics mapped (SURVEY.md §2.8):

=====  ==================================================================
ST1    hand-rolled etl_runs watermark → ``withWatermark`` + checkpoint
       (Spark persists stream progress + agg state; an etl_runs audit row
       per micro-batch is still written for parity)
ST2    closed-minutes-only emission → watermark-delayed windows; with
       update-mode + upsert the in-progress window refines per batch and
       settles once the watermark passes (strictly better than the
       reference, which silently drops post-watermark late ticks)
ST3    ``INSERT … ON CONFLICT DO UPDATE`` → foreachBatch upsert keyed on
       (symbol, bucket_start) that rewrites only the touched days
       (``sources.storage.upsert_bars``)
ST4    30 s aggregation cadence → ``trigger(processingTime="30 seconds")``
ST5    tumbling 1-minute window → ``window(event_time, "1 minute")``
ST6    late data within watermark → captured by state update + re-upsert
ST7    at-least-once consumer → checkpointed source offsets + idempotent
       (keyed) sink = effectively-once
=====  ==================================================================

Sink design without Delta: the bars table format is ``sources/storage``'s,
shared with the batch build: Parquet partitioned by ``bucket_date``, one
file per day, read back only through ``storage.read_bars`` with its
declared schema, never inferred.  Each micro-batch rewrites ONLY the days
it touches (dynamic partition overwrite), keeping their other keys' rows
via an anti-join.  A day is ~1440 × n_symbols bars, so the rewrite
amplification is bounded.  (With Delta/Iceberg this collapses to
``MERGE INTO``.)

Bounded runs: every ``run_*`` function below is one stream definition
handed to :func:`_run_bounded`, which wipes its directories, builds the one
day-partitioned corpus, runs it once with ``availableNow`` into a
``foreachBatch`` writer and restores the session conf.  All streaming
state — windows, dedup keys, join buffers, the running bar — is watermark-
or corpus-bounded, so it lives in the one state-store provider
``session.default_conf`` sets: the in-memory, checkpointed HDFS-backed
store.

A replay's fixed cost, not its rows, dominates: a bounded bars replay is
one micro-batch of three stages (decode + partial aggregate, stateful
aggregate, day-shuffled write).  Its split, bars query and sink take
250–350 py4j round trips, as SQL text (a classic PySpark Column call adds
~4 to record its call site: ~1,900 as Columns).  Checkpoints fork no
``readlink`` (``session.default_conf``); 86 ``chmod`` forks remain, one per
file or directory created without libhadoop.  Planning takes the rest.

Stopping a query while its ``foreachBatch`` body runs a Spark job can kill
the stream execution thread with a ``StackOverflowError`` and leave
``exception()`` ``None``: Spark 4.1's ``StreamExecution.PROXY_ERROR`` regex,
which tests whether the body's Py4J error came from the stop, recurses once
per character of that error's message.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import (
    BAR_COLUMNS,
    bar_agg_exprs,
    session_bars,
)
from stockpulse_batch_realtime_etl_spark.schemas import ETL_RUNS_SCHEMA, typed_columns
from stockpulse_batch_realtime_etl_spark.sources import storage
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream


def raw_json_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based stand-in for the Kafka source: a directory of JSON-lines
    files with a ``value`` string column (same shape the Kafka source's
    ``selectExpr("CAST(value AS STRING)")`` yields).  Swapping in the real
    Kafka source is a one-liner::

        spark.readStream.format("kafka")
             .option("kafka.bootstrap.servers", …)
             .option("subscribe", "stock.ticks.v1")
             .option("startingOffsets", "earliest")   # consumer.py:113
    """
    reader = spark.readStream.format("text")  # text source → `value` column
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tick_stream_from_raw(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Decode + split a raw value stream → (ticks, failed_events)."""
    split = split_raw_stream(raw)
    return split.ticks, split.failed


def windowed_bars(ticks: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window OHLCV aggregation (streaming flavor of
    operators/ohlcv.ohlcv_bars — same aggregate expression list)."""
    return (
        ticks.withWatermark("event_time", watermark)
        .groupBy("symbol", F.expr("window(event_time, '1 minute') AS w"))
        .agg(*bar_agg_exprs())
        .selectExpr("symbol", "w.start AS bucket_start", *BAR_COLUMNS)
    )


def upsert_bars_batch(
    batch: DataFrame, table_path: str, audit_path: str | None = None
) -> None:
    """foreachBatch body: :func:`storage.upsert_bars`, then the etl_runs
    audit row — also for an empty batch, as a liveness heartbeat (ST1)."""
    started = time.time()
    n = storage.upsert_bars(batch, table_path)
    if audit_path:
        _write_audit(batch.sparkSession, audit_path, n, started)


def _write_audit(
    spark: SparkSession, audit_path: str, n: int, started: float
) -> None:
    """Append one etl_runs audit row (aggregator.py:138-150 parity)."""
    row = {
        "source": "'aggregator'",
        "records_processed": str(n),
        "status": "'complete'",
        "started_at": f"{started!r}D",
        "completed_at": "current_timestamp()",
    }
    # a one-partition range, not createDataFrame: this runs once PER
    # MICRO-BATCH, and the range stays in the JVM in one task (no Python-RDD
    # parallelize tasks); one selectExpr, not a py4j round trip per Column call
    audit = spark.range(1, numPartitions=1).selectExpr(
        *typed_columns(ETL_RUNS_SCHEMA, row)
    )
    audit.write.mode("append").parquet(audit_path)


def start_bar_aggregation(
    ticks: DataFrame,
    table_path: str,
    checkpoint: str,
    audit_path: str | None = None,
    watermark: str = "2 minutes",
    trigger_secs: int = 30,
    available_now: bool = False,
) -> StreamingQuery:
    """The aggregator service (aggregator.py:116-153) as one streaming query.

    Update output mode: every refined window flows to the upsert each
    batch — matching the reference's recompute-and-upsert cycle, with the
    watermark bounding state instead of an etl_runs row.
    """
    bars = windowed_bars(ticks, watermark)
    writer = (
        bars.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(lambda df, _: upsert_bars_batch(df, table_path, audit_path))
    )
    return _start(ticks.sparkSession, writer, available_now, trigger_secs)


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextlib.contextmanager
def _session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then restore them, even
    on error."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _start(
    spark: SparkSession,
    writer: DataStreamWriter,
    available_now: bool,
    trigger_secs: int | None = None,
    flush: bool = False,
) -> StreamingQuery:
    """Start ``writer`` bounded (``availableNow``: every input present at
    start, then stop) or continuous: every ``trigger_secs`` if given, else
    back to back.

    A bounded query skips the trailing no-data batch unless ``flush``.  That
    batch only advances the watermark to flush withheld output (outer-join
    null rows) and GC state; every other query here emits each row in the
    batch that receives it (update-mode upserts, appends, complete-mode
    rewrites), and the extra batch costs a full plan+commit cycle (1.3 s on
    the pair join; 0.6 s of a 3.5 s bars backfill of 120k ticks, 4 cores).
    The query reads the setting when it starts, so the session's own value
    is back once it has.
    """
    if not available_now:
        if trigger_secs:
            writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
        return writer.start()
    with _session_confs(spark, {_NO_DATA_BATCHES: str(flush).lower()}):
        return writer.trigger(availableNow=True).start()


#: Bump when RAW_JSON_SQL / corpus derivation changes — it keys the on-disk
#: corpus cache, so stale corpora from older code can never be reused.
_CORPUS_VERSION = "v3"


def _ensure_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the Kafka-shaped JSON corpus of ``sf_dir`` ONCE, one text
    file per event day, and reuse it across runs and processes.

    The corpus is a pure function of (fixture fingerprint, corpus version):
    :func:`_publish_atomic` publishes it, and reuse is gated on Spark's
    ``_SUCCESS`` marker (a killed run's partial write never has one).
    Strictly increasing per-day mtimes (:func:`_pin_daily_mtimes`, re-applied
    per call) pin the file source's discovery order to event-time order, so
    a run with ``maxFilesPerTrigger=k`` replays history as day-granular
    micro-batches with ADVANCING watermarks, and stateful operators
    garbage-collect mid-run as in production.  One availableNow mega-batch
    never moves the watermark: stream-stream join state then holds BOTH
    ENTIRE SIDES (a probe measured the interval join at 38× wall for 10×
    data that way; day-batched it is linear).
    """
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table
    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus

    dest = os.path.join(
        tempfile.gettempdir(), f"stockpulse_corpus_{_corpus_tag(sf_dir)}"
    )
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        def _write(d: str) -> None:
            ev = load_table(spark, sf_dir, "events").select(
                F.col("event_id").alias("offset"),
                F.to_date("ts").alias("day"),
            )
            (
                raw_json_corpus(spark, sf_dir)
                .join(ev, "offset")
                .repartition("day")
                .select("value", "day")
                .write.partitionBy("day")
                .mode("overwrite")
                .text(d)
            )

        _publish_atomic(dest, _write)
    _pin_daily_mtimes(dest)
    return dest


def _fixture_fingerprint(sf_dir: str) -> str:
    """The repo's ONE fixture-identity fingerprint: canonical path + the
    ``events`` parquet's (mtime_ns, size) — so a REGENERATED fixture at the
    same path invalidates any cache keyed on it instead of silently
    reusing stale files, and path spellings canonicalize.  Deliberately
    WITHOUT _CORPUS_VERSION, which versions the streaming corpus BUILDER,
    not fixture identity."""
    real = os.path.realpath(sf_dir)
    try:
        st = os.stat(os.path.join(real, "events.parquet"))
        return f"{real}:events:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return f"{real}:events:missing"


def _corpus_tag(sf_dir: str) -> str:
    """Cache key of the materialized streaming corpus: builder code version
    + the shared fixture fingerprint."""
    import hashlib

    return hashlib.md5(
        f"{_CORPUS_VERSION}:{_fixture_fingerprint(sf_dir)}".encode()
    ).hexdigest()[:8]


def _publish_atomic(dest: str, write_fn) -> None:
    """Cross-process-safe corpus publish: write to a unique sibling temp
    dir, then atomically rename into place.  Two cold-start processes can
    both build; exactly one rename wins, the loser discards its copy —
    never an interleaved/overwritten shared directory."""
    import shutil

    tmp = f"{dest}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    try:
        os.rename(tmp, dest)
        return
    except OSError:
        pass
    # rename failure means dest already exists — but "another process
    # published an equivalent copy" is only true if dest carries the
    # _SUCCESS marker the callers gate reuse on.  A marker-less dest
    # (partial dir left by a crashed run) would otherwise be read as a
    # corrupt corpus forever: evict it and retry the rename.
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    # Move the stale dest ASIDE to a unique tombstone instead of rmtree:
    # a concurrent publisher may replace it with a GOOD copy between the
    # marker check and the eviction, and a reader that already observed
    # _SUCCESS may be mid-read — the tombstone keeps those files alive
    # until the very end, and a good dest is never deleted in place.
    # Tombstone name must be unique PER INVOCATION, not per process: two
    # publishes of the same dest from one pid (threads, or a retry after
    # a crash left an earlier same-pid tombstone behind) would otherwise
    # collide — os.rename onto an existing non-empty dir raises OSError,
    # which the except below would misread as "another process evicted it".
    import uuid

    tomb = f"{dest}.stale.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        os.rename(dest, tomb)
    except OSError:
        tomb = None  # another process already evicted/replaced it
    try:
        os.rename(tmp, dest)
    except OSError:
        # lost the retry race too — keep the winner only if it is marked
        # complete; a second marker-less loser here means two crashed
        # publishers back-to-back, which no retry count fixes: surface it
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise
    finally:
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)


def _pin_daily_mtimes(dest: str) -> None:
    """Pin strictly increasing per-day mtimes over a published corpus
    (file-stream sources discover by modification time — see
    :func:`_ensure_corpus`).  Idempotent, and safe against a
    CONCURRENT publisher's tombstone swap: _publish_atomic renames a
    stale dest ASIDE for a moment before the fresh copy lands, so
    listdir/utime here can see dest (or a file swept away with the
    tombstone) momentarily absent and raise FileNotFoundError.  The swap
    always converges on a complete (_SUCCESS-marked) dest, so retry the
    whole idempotent walk (soak-tested cross-process in
    tests/test_streaming.py)."""
    import time

    base_ts = 1_000_000_000
    for _attempt in range(50):
        try:
            for i, day in enumerate(
                sorted(x for x in os.listdir(dest) if x.startswith("day="))
            ):
                ddir = os.path.join(dest, day)
                for f in os.listdir(ddir):
                    os.utime(
                        os.path.join(ddir, f), (base_ts + i, base_ts + i)
                    )
            return
        except FileNotFoundError:
            time.sleep(0.1)
    raise RuntimeError(
        f"daily corpus at {dest} never stabilized: a concurrent "
        f"publisher evicted it and no complete copy reappeared"
    )


# State partitions of a bounded run: fixed at its first batch from the
# session's shuffle.partitions, so a bare session would run 200 state-store
# tasks per stateful batch over a corpus that fills a handful.
_STATE_PARTITIONS = "8"


def _run_bounded(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None,
    kind: str,
    query: Callable[[DataFrame], DataFrame],
    mode: str = "append",
    write: Callable[[DataFrame, str], None] | None = None,
    days_per_batch: int | None = None,
    flush: bool = False,
) -> tuple[str, StreamingQuery]:
    """Run ``query`` once, bounded (availableNow), over the Kafka-shaped
    JSON corpus of ``sf_dir``; return ``(out_dir, finished query)``.

    * Directories: ``out`` and ``ckpt`` under ``base_dir`` (default: a temp
      dir keyed on ``kind`` and ``sf_dir``) are wiped first, so every run
      starts from empty state and replays idempotently.
    * Corpus: ``query`` maps the raw ``value`` stream to the output stream.
      The day-partitioned corpus is built once and cached
      (:func:`_ensure_corpus`).  With ``days_per_batch`` it is replayed that
      many days per micro-batch so the watermark advances mid-run; without,
      it is one micro-batch.
    * Trailing no-data batch: off unless ``flush`` (see :func:`_start`).
    * State partitions: 8, whatever the session's shuffle.partitions, so
      bounded state is not spread over a cluster-sized task count.  The
      session's own value is restored afterwards, even on error.
    * Sink: ``foreachBatch`` calling ``write(batch, out_dir)``.  By default
      complete mode overwrites ``out_dir`` with parquet, and append and
      update modes append to it.

    The query is named ``kind``; its state lives in the session's one
    state-store provider (``session.default_conf``).
    """
    import hashlib
    import shutil
    import tempfile

    if base_dir is None:
        tag = hashlib.md5(f"{kind}:{sf_dir}".encode()).hexdigest()[:8]
        base_dir = os.path.join(tempfile.gettempdir(), f"stockpulse_{kind}_{tag}")
    out_dir = os.path.join(base_dir, "out")
    ckpt = os.path.join(base_dir, "ckpt")
    # wipe only out/ckpt: a caller's base_dir may hold unrelated files
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    if write is None:
        save_mode = "overwrite" if mode == "complete" else "append"

        def write(batch: DataFrame, path: str) -> None:
            batch.write.mode(save_mode).parquet(path)

    with _session_confs(spark, {"spark.sql.shuffle.partitions": _STATE_PARTITIONS}):
        corpus = _ensure_corpus(spark, sf_dir)
        raw = raw_json_stream(spark, corpus, days_per_batch).select("value")
        writer = (
            query(raw)
            .writeStream.queryName(kind)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda batch, _epoch: write(batch, out_dir))
        )
        q = _start(spark, writer, available_now=True, flush=flush)
        q.awaitTermination()
    return out_dir, q


def run_pipeline_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Run the COMPLETE streaming pipeline once over a bounded corpus and
    return the resulting bars table — the whole reference system
    (producer wire format → consumer decode/DLQ → aggregator upsert) as one
    deterministic, oracle-checkable invocation.

    The Kafka-shaped JSON corpus (sources/ticks.py RAW_JSON_SQL) streams
    through decode → split → windowed agg → update-mode upsert
    (:func:`upsert_bars_batch`), then the bars table is read back.  Every
    refinement is upserted in the batch that produces it, so the run skips
    the trailing no-data batch.
    """
    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "stream",
        lambda raw: windowed_bars(tick_stream_from_raw(raw)[0]),
        mode="update",
        write=upsert_bars_batch,
    )
    return storage.read_bars(spark, out_dir).drop("bucket_date")


def start_dlq_sink(
    failed: DataFrame, dlq_path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """failed_events append sink (op S8) — plain streaming append, no state."""
    writer = (
        failed.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", dlq_path)
    )
    return _start(failed.sparkSession, writer, available_now)


def run_session_bars_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    gap: str = "5 minutes",
) -> DataFrame:
    """Streaming SESSION-window bars (dynamic-gap flavor of ST5):
    :func:`operators.ohlcv.session_bars` over the watermarked tick stream —
    ticks separated by ≤ ``gap`` (a Spark interval string) merge into one
    session per symbol.

    Session windows forbid update mode, and append mode would withhold
    every session the final watermark hasn't closed (the last session per
    symbol, for a bounded corpus) — so the bounded run uses COMPLETE mode:
    each batch overwrites the sink with the full session table, and the
    final batch's table is exactly the batch ``session_bars`` semantics over
    the whole corpus (state is bounded by the corpus here; a continuous
    production stream would run append mode and accept watermark-delayed
    emission).
    """
    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "sess",
        lambda raw: session_bars(
            tick_stream_from_raw(raw)[0].withWatermark("event_time", "2 minutes"),
            gap,
        ),
        mode="complete",
    )
    return spark.read.parquet(out_dir)


def run_running_bars_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Bounded run of the running bar: stream the wire corpus, carry
    per-symbol running OHLCV state across micro-batches
    (``streaming.stateful.running_bars``, a window-less streaming
    aggregate), and return the FINAL running bar per symbol.

    Update-mode emission yields one row per active symbol per batch; the
    final answer is the row with the highest tick_count per symbol
    (monotone in batch order, so "latest" needs no batch-id bookkeeping).
    Every aggregate is exact under any batch split — min_by/max_by on
    event_time, integer sums, min/max — so the result equals the batch
    GROUP BY over the same ticks, which is what the oracle checks.
    """
    from stockpulse_batch_realtime_etl_spark.streaming.stateful import (
        running_bars,
    )

    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "running_bars",
        lambda raw: running_bars(
            tick_stream_from_raw(raw)[0].select(
                "symbol", "price", "volume", "event_time"
            )
        ),
        mode="update",
    )
    final = spark.read.parquet(out_dir).groupBy("symbol").agg(
        F.max_by(
            F.struct(
                "open", "high", "low", "close", "volume_sum", "tick_count"
            ),
            F.col("tick_count"),
        ).alias("s")
    )
    return final.select("symbol", "s.*")


def redelivered(raw: DataFrame) -> DataFrame:
    """``raw`` with the records whose ``value`` hashes to 0 mod 5 (about a
    fifth, the same ones on every replay) delivered a second time: what an
    at-least-once consumer re-reads after a crash.  The slice is a filter of
    the same source, so a stream reads that source twice."""
    return raw.unionByName(raw.filter("pmod(xxhash64(value), 5) = 0"))


def run_dedup_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Streaming deduplication (the ST7 upgrade): the reference's
    at-least-once consumer can write duplicate ticks after a crash
    (consumer.py:111-117 — auto-commit + non-transactional insert, no dedup
    key); ``dropDuplicates`` over a watermarked stream is the Spark fix.

    Bounded, oracle-checkable form: stream the JSON corpus with a
    deterministic fifth of it delivered twice (:func:`redelivered` —
    simulating redelivery after a crash), decode, and keep first-seen
    (symbol, event_time) keys.  The output must equal plain DISTINCT over
    the clean corpus — if the operator failed to collapse the redelivered
    rows the row count (and hash) would differ, so the gate actually proves
    the dedup.  State is one key per distinct (symbol, event_time) bounded by
    the watermark — at production rates, minutes of keys, not the stream's
    history.
    """
    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "dedup",
        lambda raw: tick_stream_from_raw(redelivered(raw))[0]
        .select("symbol", "event_time")
        .withWatermark("event_time", "2 minutes")
        .dropDuplicates(["symbol", "event_time"]),
    )
    return spark.read.parquet(out_dir)


def run_metrics_probe(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Bounded streaming run with DETERMINISTIC micro-batching, returning
    its per-batch progress table (``metrics.PROGRESS_SCHEMA``, rows>0
    batches only) — the substrate for :func:`metrics.percentile_summary`'s
    oracle-gated summary.

    Determinism: the day-partitioned corpus holds exactly one text file per
    event day and is replayed one file per micro-batch — so micro-batches
    ARE days, and the multiset of per-batch ``num_input_rows`` equals the
    per-day corpus line counts, which DuckDB replays from ``events`` with
    one GROUP BY.  Batch ORDER is not relied on — percentiles are
    order-insensitive.

    The probe pipeline is the raw text stream into a ``noop`` write: batch
    accounting (what the reference's Prometheus counters measure,
    main.py:47-67) does not depend on the transformation, and the cheapest
    pipeline keeps the 30-batch bounded run fast at any sf.  Progress comes
    from the finished query's ``recentProgress``, which is synchronous.
    """
    from stockpulse_batch_realtime_etl_spark.streaming import metrics

    _, q = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "metrics_probe",
        lambda raw: raw,
        write=lambda batch, _out: batch.write.format("noop")
        .mode("append")
        .save(),
        days_per_batch=1,
    )
    progress = q.recentProgress
    if not progress or progress[0]["batchId"] != 0:
        raise RuntimeError(
            f"metrics probe kept only the last {len(progress)} progress "
            "updates (spark.sql.streaming.numRecentProgressUpdates); a "
            "truncated progress table would skew the gated percentile summary"
        )
    return metrics.progress_df(
        spark,
        [metrics.progress_row(p) for p in progress if p["numInputRows"] > 0],
    )


def symbol_sector_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static dimension table for the stream-static join: every decoded
    symbol mapped to a derived sector (``'SEC' || ascii(first char) % 3``
    — pure arithmetic so the DuckDB oracle replays the attribute exactly;
    on a real deployment this is the security-master table loaded from a
    warehouse).  Dimension-sized by construction: one row per symbol."""
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        raw_json_corpus,
    )

    syms = (
        split_raw_stream(raw_json_corpus(spark, sf_dir))
        .ticks.select("symbol")
        .distinct()
    )
    return syms.select(
        "symbol",
        F.concat(
            F.lit("SEC"),
            (F.ascii(F.substring("symbol", 1, 1)) % 3).cast("string"),
        ).alias("sector"),
    )


def run_sector_rollup_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """STREAM-STATIC JOIN end-to-end (the one Structured Streaming join
    class the pipeline hadn't demonstrated): the tick stream probes a
    static symbol→sector dimension per micro-batch — planned as a
    broadcast hash join with the batch side CACHED (an uncached static
    plan re-evaluates per micro-batch), no stream-stream state — then
    rolls up per (sector, 1-minute window).

    At 100 TB this is THE enrichment shape: the dimension is loaded from
    the warehouse and broadcast; the unbounded side never shuffles for the
    join.  (A slowly-changing dimension would swap in a fresh snapshot per
    trigger via a `foreachBatch` re-read — noted, not needed for a bounded
    run.)  Only order-insensitive aggregates (max/min/avg/sum/count) are
    used — a sector-minute can legitimately contain equal timestamps
    across symbols, so ordered open/close would be tie-ambiguous across
    engines.

    Bounded, oracle-checkable: complete mode (the session-bars pattern);
    the final table equals the batch join+GROUP BY the oracle runs.
    """
    dim = symbol_sector_dim(spark, sf_dir)

    def rollup(raw: DataFrame) -> DataFrame:
        return (
            tick_stream_from_raw(raw)[0]
            .withWatermark("event_time", "2 minutes")
            .join(F.broadcast(dim), "symbol")
            .groupBy(
                F.col("sector"),
                F.window("event_time", "1 minute").alias("w"),
            )
            .agg(
                F.max("price").alias("high"),
                F.min("price").alias("low"),
                F.avg("price").alias("avg_price_raw"),
                F.sum(F.coalesce(F.col("volume"), F.lit(0))).alias(
                    "volume_sum"
                ),
                F.count(F.lit(1)).alias("tick_count"),
            )
            .select(
                "sector",
                F.col("w.start").alias("bucket_start"),
                "high",
                "low",
                "avg_price_raw",
                "volume_sum",
                "tick_count",
            )
        )

    # cache: Structured Streaming re-evaluates an uncached static plan
    # (full corpus decode + distinct + broadcast rebuild) EVERY micro-batch.
    # Cached inside the try, so no failure (corpus set-up included) can
    # leave it pinning executor memory for the life of the session.
    try:
        dim.cache()
        out_dir, _ = _run_bounded(
            spark, sf_dir, base_dir, "sector", rollup, mode="complete"
        )
    finally:
        dim.unpersist()
    return spark.read.parquet(out_dir)


def run_stream_stream_join_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    left_symbol: str = "PURCHASE",
    right_symbol: str = "CLICK",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join end-to-end — the last Structured Streaming
    join class (stream-static lives in ``run_sector_rollup_available_now``):
    purchase-side ticks joined to click-side ticks of the SAME minute
    window, both sides watermarked so the join state is garbage-collected.

    The join key is the 1-minute ``window(event_time)`` struct on both
    sides — the supported state-cleanup pattern (equal windows + both-side
    watermarks bound how long an unmatched row waits in the state store).
    Inner stream-stream joins emit matches immediately (the watermark only
    GCs state), so a bounded availableNow run emits the complete pair set;
    each micro-batch appends its matches, and the result is a SET — equal
    to the batch equality-join the oracle runs, independent of batch
    boundaries.

    ``how="left_outer"`` is the semantics users actually struggle with:
    an unmatched purchase row is NOT dropped — it is emitted with null
    click columns once the event-time watermark passes its window's end
    (i.e. once the engine can PROVE no matching click can still arrive).
    In a bounded availableNow run the final no-data batch flushes every
    expirable window; windows newer than (final watermark = min of both
    sides' max event_time − the 2-minute delay) keep their unmatched rows
    withheld — exactly the cutoff the oracle replays.

    ``how="right_outer"`` mirrors that for unmatched clicks (null purchase
    columns on expiry), and ``how="full_outer"`` emits BOTH sides' null-
    padded rows at the same watermark cutoff — completing the stream-stream
    join matrix and exercising the state-store eviction path inner/left
    never touch on the right side.  Outer rows carry their window in the
    surviving side's struct, so ``bucket_start`` coalesces across the two.

    At 100 TB: both sides shuffle on the window struct (uniform in time);
    state per key is the window's rows on each side, bounded by the
    watermark horizon × arrival rate — the knob a capacity plan sizes.
    """
    kinds = {
        "inner": "ssjoin",
        "left_outer": "ssjoin_lo",
        "right_outer": "ssjoin_ro",
        "full_outer": "ssjoin_fo",
    }

    def pairs(raw: DataFrame) -> DataFrame:
        ticks = tick_stream_from_raw(raw)[0]
        # each stream may carry at most ONE event-time column into the
        # join: the window struct inherits the watermark, so the raw
        # timestamps ride along as plain epoch-µs longs and are re-cast
        # after the bounded run completes
        left = (
            ticks.filter(F.col("symbol") == left_symbol)
            .withWatermark("event_time", "2 minutes")
            .select(
                F.window("event_time", "1 minute").alias("w"),
                F.col("price").alias("purchase_price"),
                F.unix_micros("event_time").alias("purchase_us"),
            )
        )
        right = (
            ticks.filter(F.col("symbol") == right_symbol)
            .withWatermark("event_time", "2 minutes")
            .select(
                F.window("event_time", "1 minute").alias("w2"),
                F.col("price").alias("click_price"),
                F.unix_micros("event_time").alias("click_us"),
            )
        )
        # outer variants: an unmatched row's opposite-side window struct is
        # NULL, so bucket_start coalesces across the two (equal when matched)
        return left.join(right, F.col("w") == F.col("w2"), how).select(
            F.coalesce(F.col("w.start"), F.col("w2.start")).alias(
                "bucket_start"
            ),
            "purchase_us",
            "purchase_price",
            "click_us",
            "click_price",
        )

    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        kinds[how],
        pairs,
        # inner joins emit matches in-batch; the OUTER variants need the
        # final no-data batch's watermark advance to flush their
        # null-padded rows
        flush=how != "inner",
    )
    return spark.read.parquet(out_dir).select(
        "bucket_start",
        F.timestamp_micros(F.col("purchase_us")).alias("purchase_time"),
        "purchase_price",
        F.timestamp_micros(F.col("click_us")).alias("click_time"),
        "click_price",
    )


def run_stream_stream_interval_join_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    attribution_minutes: int = 10,
    key_buckets: int = 10,
) -> DataFrame:
    """STREAM-STREAM INTERVAL join end-to-end — the attribution-join class
    (the one shape ``run_stream_stream_join_available_now`` cannot express):
    each purchase (a ``PURCHASE`` tick) joins the clicks (``CLICK`` ticks)
    of the SAME key whose click time falls in
    ``[purchase_time − attribution_minutes, purchase_time]`` — a
    time-RANGE condition on the raw event times, not equal tumbling
    windows.  This is the canonical Structured Streaming ad-attribution
    pattern (equi-key + interval bounds), and it exercises the state-store
    shape window-equality joins never touch: each side's state is evicted
    by a RANGE-derived per-side watermark (click state must outlive its
    click by the full attribution horizon; purchase state only by the
    late-data allowance).

    The join key is a price-derived bucket (``pmod(floor(price), 10)``) —
    the tick model has no user id, and any ``event_id``-derived key is
    structurally useless here because event ids are monotone in event time
    (two ticks inside a 10-minute window always have nearby ids, so any
    modulus either never collides or collides for everything); the price
    bucket is independent of arrival order, deterministic, and replayed
    identically by the oracle from the same JSON-parsed price.

    Inner joins emit matches immediately (watermarks only GC state), so a
    bounded availableNow run appends the complete pair set — equal to the
    batch interval join the oracle runs, independent of batch boundaries.

    Batching: the day-partitioned corpus (``_ensure_corpus``) replays in
    event-time order, 30 day-files per micro-batch, so the watermark
    ADVANCES between batches and join state is garbage-collected mid-run.  A single availableNow mega-batch never
    moves the watermark — both entire sides sit in the state store and
    every probe scans its whole key bucket, which a scaling probe measured
    at 38× wall for 10× data (quadratic per key); chunked replay is linear
    in replayed history, the honest backfill cost.  Late-drop safety:
    batches are whole days in order, so no row can arrive behind a
    watermark derived from a LATER day.

    At 100 TB: both sides shuffle on the equi-key bucket; per-key state is
    bounded by (attribution horizon + watermark delay + replay chunk) ×
    per-key arrival rate — the attribution window is the capacity knob,
    exactly how production click-attribution pipelines are sized.
    """

    def attributed(raw: DataFrame) -> DataFrame:
        ticks = tick_stream_from_raw(raw)[0]
        key = F.pmod(F.floor("price").cast("long"), key_buckets)
        left = (
            ticks.filter(F.col("symbol") == "PURCHASE")
            .withWatermark("event_time", "2 minutes")
            .select(
                key.alias("user_key"),
                F.col("event_time").alias("purchase_time"),
                F.col("price").alias("purchase_price"),
            )
        )
        right = (
            ticks.filter(F.col("symbol") == "CLICK")
            .withWatermark("event_time", "2 minutes")
            .select(
                key.alias("user_key2"),
                F.col("event_time").alias("click_time"),
                F.col("price").alias("click_price"),
            )
        )
        return left.join(
            right,
            (F.col("user_key") == F.col("user_key2"))
            & (F.col("purchase_time") >= F.col("click_time"))
            & (
                F.col("purchase_time")
                <= F.col("click_time")
                + F.expr(f"INTERVAL {attribution_minutes} MINUTES")
            ),
            "inner",
        ).select(
            "user_key",
            F.unix_micros("purchase_time").alias("purchase_us"),
            "purchase_price",
            F.unix_micros("click_time").alias("click_us"),
            "click_price",
        )

    out_dir, _ = _run_bounded(
        spark,
        sf_dir,
        base_dir,
        "ssjoin_iv",
        attributed,
        # The chunk only sizes state (≤ chunk + horizon per key); the rows
        # are identical at any setting.  30 days (a month) amortizes the
        # micro-batch barrier + state-commit overhead that dominates below
        # ~30, while per-key probe cost grows above it: a warm-session
        # sweep gave 10.5 s at 15, 7.1 s at 30, 7.5 s at 45, same 5504 rows.
        days_per_batch=30,
    )
    return spark.read.parquet(out_dir).select(
        "user_key",
        F.timestamp_micros(F.col("purchase_us")).alias("purchase_time"),
        "purchase_price",
        F.timestamp_micros(F.col("click_us")).alias("click_time"),
        "click_price",
    )
