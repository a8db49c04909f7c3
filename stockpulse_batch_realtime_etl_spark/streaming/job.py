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
ST3    ``INSERT … ON CONFLICT DO UPDATE`` → foreachBatch merge keyed on
       (symbol, bucket_start) with date-partition rewrite
ST4    30 s aggregation cadence → ``trigger(processingTime="30 seconds")``
ST5    tumbling 1-minute window → ``window(event_time, "1 minute")``
ST6    late data within watermark → captured by state update + re-upsert
ST7    at-least-once consumer → checkpointed source offsets + idempotent
       (keyed) sink = effectively-once
=====  ==================================================================

Sink design without Delta: the bars table is Parquet partitioned by
``bucket_date``.  Each micro-batch rewrites ONLY the date partitions it
touches (dynamic partition overwrite): existing rows for other keys in the
touched partitions are retained via an anti-join union.  At production
scale a day partition of 1-minute bars is ~1440 × n_symbols rows — small,
so the rewrite amplification is bounded and bulk backfills stay partition-
parallel.  (With Delta/Iceberg available this collapses to ``MERGE INTO``;
the surrounding plumbing is unchanged.)
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stockpulse_batch_realtime_etl_spark.operators.ohlcv import bar_agg_exprs
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream

BARS_KEY = ("symbol", "bucket_start")


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
        .groupBy(
            F.col("symbol"),
            F.window("event_time", "1 minute").alias("w"),
        )
        .agg(*bar_agg_exprs())
        .select(
            "symbol",
            F.col("w.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "volume_sum",
            "tick_count",
        )
    )


def upsert_bars_batch(
    batch: DataFrame, table_path: str, audit_path: str | None = None
) -> None:
    """foreachBatch body: MERGE the micro-batch into the bars table keyed on
    (symbol, bucket_start) — the reference's ON CONFLICT DO UPDATE
    (aggregator.py:41-51) — rewriting only touched date partitions."""
    spark = batch.sparkSession
    started = time.time()
    batch = batch.withColumn("bucket_date", F.to_date("bucket_start"))
    batch.persist()
    try:
        # one job yields both the row count and the touched partition list
        per_date = batch.groupBy("bucket_date").count().collect()
        n = sum(r["count"] for r in per_date)
        if n == 0:
            # no table rewrite, but the etl_runs audit row is still
            # written — an idle trigger is a liveness heartbeat (ST1)
            if audit_path:
                _write_audit(spark, audit_path, n, started)
            return
        dates = [r["bucket_date"] for r in per_date]
        from pyspark.errors import AnalysisException

        # try-scope is EXACTLY the table read: a wider scope would classify
        # any downstream analysis error (e.g. an unresolved column from a
        # stray file in table_path) as "first batch" and dynamic-overwrite
        # would silently delete other symbols' bars in the touched dates
        try:
            existing_tbl = spark.read.parquet(table_path)
        except AnalysisException:  # first batch: table doesn't exist yet
            merged = batch
        else:
            existing = existing_tbl.filter(F.col("bucket_date").isin(dates))
            keep = existing.join(
                batch.select(*BARS_KEY), list(BARS_KEY), "left_anti"
            )
            merged = keep.unionByName(batch)
        (
            merged.repartition("bucket_date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_date")
            .parquet(table_path)
        )
        if audit_path:
            _write_audit(spark, audit_path, n, started)
    finally:
        batch.unpersist()


def _write_audit(
    spark: SparkSession, audit_path: str, n: int, started: float
) -> None:
    """Append one etl_runs audit row (aggregator.py:138-150 parity)."""
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    # literal_df, not createDataFrame: this runs once PER MICRO-BATCH
    audit = literal_df(
        spark,
        [("aggregator", n, "complete")],
        "source string, records_processed long, status string",
    ).select(
        "*",
        F.lit(started).cast("timestamp").alias("started_at"),
        F.current_timestamp().alias("completed_at"),
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
        .foreachBatch(
            lambda df, _epoch: upsert_bars_batch(df, table_path, audit_path)
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_secs} seconds")
    return writer.start()


#: Bump when RAW_JSON_SQL / corpus derivation changes — it keys the on-disk
#: corpus cache, so stale corpora from older code can never be reused.
_CORPUS_VERSION = "v2"


def _ensure_corpus(
    spark: SparkSession, sf_dir: str, with_redelivery: bool
) -> str:
    """Materialize the Kafka-shaped JSON corpus for ``sf_dir`` ONCE and
    reuse it across queries and processes.

    The corpus is a pure function of (sf_dir, corpus version), so both
    bounded streaming queries — and re-runs of either — can share one
    write.  Reuse is gated on Spark's ``_SUCCESS`` marker (a partial write
    from a killed run never has one).  The redelivered 20% slice (op ST7)
    lives in a sibling dir; the dedup run reads ``{base,extra}`` via
    Hadoop glob so no files are ever copied or appended.
    """
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.ticks import raw_json_corpus

    tag = _corpus_tag(sf_dir)
    root = os.path.join(tempfile.gettempdir(), f"stockpulse_corpus_{tag}")
    base = os.path.join(root, "base")
    if not os.path.exists(os.path.join(base, "_SUCCESS")):
        _publish_atomic(
            base, lambda d: raw_json_corpus(spark, sf_dir)
            .select("value")
            .write.mode("overwrite")
            .text(d),
        )
    if not with_redelivery:
        return base
    extra = os.path.join(root, "extra")
    if not os.path.exists(os.path.join(extra, "_SUCCESS")):
        _publish_atomic(
            extra, lambda d: raw_json_corpus(spark, sf_dir)
            .filter(F.col("offset") % 5 == 0)
            .select("value")
            .write.mode("overwrite")
            .text(d),
        )
    return os.path.join(root, "{base,extra}")


def _fixture_fingerprint(
    sf_dir: str, tables: tuple[str, ...] = ("events",)
) -> str:
    """The repo's ONE fixture-identity fingerprint: canonical path + per
    source parquet (mtime_ns, size) — so a REGENERATED fixture at the
    same path invalidates any cache keyed on it instead of silently
    reusing stale files, and path spellings canonicalize.  Deliberately
    WITHOUT _CORPUS_VERSION, which versions the streaming corpus BUILDER,
    not fixture identity."""
    real = os.path.realpath(sf_dir)
    parts = [real]
    for name in tables:
        p = os.path.join(real, f"{name}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{name}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{name}:missing")
    return ":".join(parts)


def _corpus_tag(
    sf_dir: str,
    extra_key: str = "",
    tables: tuple[str, ...] = ("events",),
) -> str:
    """Cache key for materialized streaming corpora: builder code version
    + the shared fixture fingerprint."""
    import hashlib

    return hashlib.md5(
        f"{_CORPUS_VERSION}:{extra_key}:"
        f"{_fixture_fingerprint(sf_dir, tables)}".encode()
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


def _ensure_daily_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the Kafka-shaped JSON corpus ONE TEXT FILE PER EVENT DAY
    (repartition("day") + partitionBy("day")) and pin file-discovery order
    to event-time order with strictly increasing per-day mtimes (the file
    stream source orders by modification time) — so a bounded run reading
    it with ``maxFilesPerTrigger=k`` replays history as day-granular
    micro-batches with ADVANCING watermarks.  That is what lets stateful
    operators garbage-collect mid-run exactly as in production: a single
    availableNow mega-batch never moves the watermark, so stream-stream
    join state holds BOTH ENTIRE SIDES and every probe scans its whole
    key bucket (the round-8 probe measured the interval join at 38× wall
    for 10× data that way; day-batched it is linear).  Shared by the
    metrics probe (which needs batches ≡ days for its oracle) and the
    interval join (which needs the watermark to advance).  Built once per
    (fixture fingerprint) via the same _publish_atomic scheme as
    _ensure_corpus; the mtime pinning is idempotent and re-applied per
    call (rename preserves mtimes, but a publisher race loser's clock
    must not leak in)."""
    import tempfile

    from stockpulse_batch_realtime_etl_spark.sources.tables import load_table
    from stockpulse_batch_realtime_etl_spark.sources.ticks import (
        raw_json_corpus,
    )

    tag = _corpus_tag(sf_dir, extra_key="daily")
    dest = os.path.join(
        tempfile.gettempdir(), f"stockpulse_corpus_daily_{tag}"
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


def _pin_daily_mtimes(dest: str) -> None:
    """Pin strictly increasing per-day mtimes over a published daily
    corpus (file-stream sources discover by modification time — see
    :func:`_ensure_daily_corpus`).  Idempotent, and safe against a
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


@contextlib.contextmanager
def _bounded_run_env(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None,
    kind: str,
    with_redelivery: bool = False,
    keep_rocksdb: bool = False,
    skip_no_data_batch: bool = False,
):
    """Shared setup for a bounded (availableNow) streaming run over the
    JSON corpus: materialize (or reuse) the corpus as text files, size
    streaming state to the bounded corpus, and restore session conf after.

    State sizing: bounded backfill with bounded state → the memory-backed
    store beats RocksDB, whose per-batch per-partition instance open/commit
    overhead only pays off when state outgrows the executor heap; and state
    partition count (fixed at the stream's FIRST batch from
    spark.sql.shuffle.partitions) is sized to the corpus rather than the
    cluster-wide default.  The session defaults (RocksDB, 32 partitions)
    still govern continuous production streams.

    Yields ``(raw_path, out_dir, checkpoint_dir)``; out/checkpoint are
    wiped per run (idempotence), the corpus is cached (_ensure_corpus).
    """
    import hashlib
    import shutil
    import tempfile

    overrides = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
        "spark.sql.shuffle.partitions": "8",
    }
    if skip_no_data_batch:
        # The trailing no-data micro-batch only advances the watermark to
        # flush withheld output (outer-join null rows, append-mode window
        # finals) and GC state.  Runs whose every output row is emitted in
        # the batch that receives it — inner joins, dropDuplicates,
        # update-mode upserts, complete-mode rewrites — produce an
        # identical result without it, and the batch costs a full
        # plan+commit cycle (measured 1.3 s on the pair join).  Callers
        # that DO rely on the final flush (outer pair joins) keep the
        # default.
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if keep_rocksdb:
        # transformWithState is only supported on the RocksDB provider —
        # set it EXPLICITLY (not merely "don't override"): an externally
        # built session (the bare-harness case _ensure_session_confs
        # supports) defaults to the HDFS-backed provider, which would fail
        overrides["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)

    if base_dir is None:
        tag = hashlib.md5(f"{kind}:{sf_dir}".encode()).hexdigest()[:8]
        base_dir = os.path.join(
            tempfile.gettempdir(), f"stockpulse_{kind}_{tag}"
        )
    out_dir = os.path.join(base_dir, "out")
    ckpt = os.path.join(base_dir, "ckpt")
    # wipe exactly what the docstring promises — the out/ckpt subdirs —
    # never the whole base_dir (a caller may hand us a directory that
    # contains unrelated files)
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    try:
        raw_path = _ensure_corpus(spark, sf_dir, with_redelivery)
        yield raw_path, out_dir, ckpt
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_pipeline_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Run the COMPLETE streaming pipeline once over a bounded corpus and
    return the resulting bars table — the whole reference system
    (producer wire format → consumer decode/DLQ → aggregator upsert) as one
    deterministic, oracle-checkable invocation.

    Steps: materialize the Kafka-shaped JSON corpus (sources/ticks.py
    RAW_JSON_SQL) as JSON-lines files, stream them with
    ``trigger(availableNow=True)`` through the decode→split→windowed-agg→
    upsert pipeline, then read the bars table back.  State, checkpoint and
    sink live under ``base_dir`` (a deterministic temp dir, wiped per run
    for idempotence).
    """
    with _bounded_run_env(
        spark, sf_dir, base_dir, "stream", skip_no_data_batch=True
    ) as dirs:  # update-mode upsert: every refinement emits in its batch
        raw_dir, out_dir, ckpt = dirs
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
        q = start_bar_aggregation(ticks, out_dir, ckpt, available_now=True)
        q.awaitTermination()
        bars_dir = out_dir
    return spark.read.parquet(bars_dir).select(
        "symbol",
        "bucket_start",
        "open",
        "high",
        "low",
        "close",
        "volume_sum",
        "tick_count",
    )


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
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_session_bars_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    gap: str = "5 minutes",
) -> DataFrame:
    """Streaming SESSION-window bars (dynamic-gap flavor of ST5): merge
    ticks separated by ≤ ``gap`` into one session per symbol, aggregated
    with the shared OHLCV expression list — the sessionization every
    activity-stream pipeline needs and fixed windows can't express.

    Session windows forbid update mode, and append mode would withhold
    every session the final watermark hasn't closed (the last session per
    symbol, for a bounded corpus) — so the bounded run uses COMPLETE mode
    through ``foreachBatch``: each batch overwrites the sink with the full
    session table, and the final batch's table is exactly the batch
    ``session_bars`` semantics over the whole corpus (state is bounded by
    the corpus here; a continuous production stream would run append mode
    and accept watermark-delayed emission).
    """
    with _bounded_run_env(
        spark, sf_dir, base_dir, "sess", skip_no_data_batch=True
    ) as (  # complete mode: the final data batch already wrote the full table
        raw_dir,
        out_dir,
        ckpt,
    ):
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
        sess = (
            ticks.withWatermark("event_time", "2 minutes")
            .groupBy(
                F.col("symbol"),
                F.session_window("event_time", gap).alias("w"),
            )
            .agg(*bar_agg_exprs())
            .select(
                "symbol",
                F.col("w.start").alias("session_start"),
                "open",
                "high",
                "low",
                "close",
                "volume_sum",
                "tick_count",
            )
        )

        def _write_full(batch_df: DataFrame, _epoch: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        q = (
            sess.writeStream.outputMode("complete")
            .foreachBatch(_write_full)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_running_bars_available_now(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str | None = None,
    api: str = "apply_in_pandas_with_state",
) -> DataFrame:
    """Bounded run of a custom stateful operator: stream the wire corpus,
    fold per-symbol running OHLCV state across micro-batches, and return
    the FINAL running bar per symbol.

    ``api`` selects the exemplar — ``"apply_in_pandas_with_state"``
    (``streaming.stateful.running_bars``, the Spark 3.4+ GroupState form)
    or ``"transform_with_state"`` (``running_bars_tws``, the Spark 4
    StatefulProcessor form).  Both fold identically, so both are gated
    against the SAME batch GROUP BY oracle.

    Update-mode emission yields one row per active symbol per batch; the
    final answer is the row with the highest tick_count per symbol
    (monotone in batch order, so "latest" needs no batch-id bookkeeping).
    Every state field is exact under any batch split — argmin/argmax by
    event_time, integer sums, min/max — so the result provably equals the
    batch GROUP BY over the same ticks, which is what the oracle checks.
    """
    from stockpulse_batch_realtime_etl_spark.streaming import stateful

    operators = {
        "apply_in_pandas_with_state": stateful.running_bars,
        "transform_with_state": stateful.running_bars_tws,
    }
    running_bars = operators[api]

    with _bounded_run_env(
        spark,
        sf_dir,
        base_dir,
        f"stateful_{api}",
        keep_rocksdb=(api == "transform_with_state"),
    ) as (
        raw_dir,
        out_dir,
        ckpt,
    ):
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
        bars = running_bars(
            ticks.select("symbol", "price", "volume", "event_time")
        )
        def _append(batch_df: DataFrame, _epoch: int) -> None:
            # parquet sinks reject update mode; foreachBatch append keeps
            # every batch's emission for the final latest-per-symbol reduce
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            bars.writeStream.outputMode("update")
            .foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    emitted = spark.read.parquet(out_dir)
    final = emitted.groupBy("symbol").agg(
        F.max_by(
            F.struct(
                "open", "high", "low", "close", "volume_sum", "tick_count"
            ),
            F.col("tick_count"),
        ).alias("s")
    )
    return final.select("symbol", "s.*")


def run_dedup_available_now(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Streaming deduplication (the ST7 upgrade): the reference's
    at-least-once consumer can write duplicate ticks after a crash
    (consumer.py:111-117 — auto-commit + non-transactional insert, no dedup
    key); ``dropDuplicates`` over a watermarked stream is the Spark fix.

    Bounded, oracle-checkable form: stream the JSON corpus PLUS a
    deterministically re-delivered 20% slice (every 5th offset — simulating
    redelivery after a crash), decode, and keep first-seen (symbol,
    event_time) keys.  The output must equal plain DISTINCT over the clean
    corpus — if the operator failed to collapse the redelivered rows the
    row count (and hash) would differ, so the gate actually proves the
    dedup.  State is one key per distinct (symbol, event_time) bounded by
    the watermark — at production rates, minutes of keys, not the stream's
    history.
    """
    with _bounded_run_env(
        spark,
        sf_dir,
        base_dir,
        "dedup",
        with_redelivery=True,
        # dropDuplicates emits each first-seen row in its own batch; the
        # trailing no-data batch only GCs state
        skip_no_data_batch=True,
    ) as (raw_dir, out_dir, ckpt):
        # raw_dir is the {base,extra} glob: corpus + the redelivered slice
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
        deduped = (
            ticks.select("symbol", "event_time")
            .withWatermark("event_time", "2 minutes")
            .dropDuplicates(["symbol", "event_time"])
        )
        q = (
            deduped.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet")
            .option("path", out_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_metrics_probe(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> DataFrame:
    """Bounded streaming run with DETERMINISTIC micro-batching, returning
    the listener-captured per-batch progress table — the substrate for
    :func:`metrics.percentile_summary`'s oracle-gated summary.

    Determinism: the corpus is written one text FILE PER EVENT DAY
    (repartition("day") + partitionBy("day") → exactly one file per day),
    and the stream reads it with ``maxFilesPerTrigger=1`` under
    ``availableNow`` — so micro-batches ARE days, and the multiset of
    per-batch ``num_input_rows`` equals the per-day corpus line counts,
    which DuckDB replays from ``events`` with one GROUP BY.  Batch ORDER
    (file discovery order) is not relied on — percentiles are
    order-insensitive.

    The probe pipeline is the raw text stream into a ``noop`` sink: batch
    accounting (what the reference's Prometheus counters measure,
    main.py:47-67) does not depend on the transformation, and the cheapest
    pipeline keeps the 30-batch bounded run fast at any sf.
    """
    import shutil
    import tempfile
    import time as _time

    from stockpulse_batch_realtime_etl_spark.streaming import metrics

    corpus_dir = _ensure_daily_corpus(spark, sf_dir)
    tag = _corpus_tag(sf_dir, extra_key="metrics")
    if base_dir is None:
        base_dir = os.path.join(tempfile.gettempdir(), f"stockpulse_metrics_{tag}")
    shutil.rmtree(base_dir, ignore_errors=True)
    ckpt = os.path.join(base_dir, "ckpt")

    n_days = len(
        [d for d in os.listdir(corpus_dir) if d.startswith("day=")]
    )
    # size the listener ring to the batch count: the default 256 would
    # silently evict the earliest day-batches at larger sf
    listener = metrics.attach(spark, max_batches=max(256, 2 * n_days))
    # the gated summary counts only rows>0 batches (and the oracle counts
    # days), so the trailing zero-row no-data batch is pure overhead here
    _ndb_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    _ndb_prev = spark.conf.get(_ndb_key, None)
    spark.conf.set(_ndb_key, "false")
    try:
        q = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(corpus_dir)
            .select("value")
            .writeStream.queryName("metrics_probe")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered on the async listener bus — wait for
        # all day-batches (bounded), then fall back to the query's own
        # synchronous recentProgress for any stragglers (identical rows,
        # keyed by batch_id)
        deadline = _time.monotonic() + 30
        def _probe_rows():
            return [
                r
                for r in listener.snapshot()
                if r["query_name"] == "metrics_probe"
                and r["num_input_rows"] > 0
            ]
        while len(_probe_rows()) < n_days and _time.monotonic() < deadline:
            _time.sleep(0.2)
        rows = {r["batch_id"]: r for r in _probe_rows()}
        if len(rows) < n_days:  # pragma: no cover - listener-bus straggler
            import json as _json

            for p in q.recentProgress:
                p = _json.loads(p) if isinstance(p, str) else p
                if p.get("numInputRows", 0) > 0:
                    rows.setdefault(
                        p["batchId"],
                        {
                            "query_name": "metrics_probe",
                            "batch_id": p["batchId"],
                            "num_input_rows": p["numInputRows"],
                            "input_rows_per_second": float(
                                p.get("inputRowsPerSecond") or 0.0
                            ),
                            "process_rows_per_second": float(
                                p.get("processedRowsPerSecond") or 0.0
                            ),
                            "batch_duration_ms": p.get("batchDuration", 0),
                            "state_rows": 0,
                        },
                    )
    finally:
        if _ndb_prev is None:
            spark.conf.unset(_ndb_key)
        else:
            spark.conf.set(_ndb_key, _ndb_prev)
        metrics.detach(spark, listener)
    if len(rows) < n_days:
        raise RuntimeError(
            f"metrics probe captured {len(rows)}/{n_days} day-batches — "
            "listener-bus + recentProgress retention both fell short; a "
            "silently truncated progress table would skew the gated "
            "percentile summary with nothing pointing at the cause"
        )
    from stockpulse_batch_realtime_etl_spark.sources.tables import literal_df

    # literal_df, not createDataFrame: the ~30-row progress table would
    # otherwise evaluate as core-count pickled Python-RDD tasks downstream
    return literal_df(
        spark,
        [
            tuple(r[k.split(" ")[0]] for k in metrics.PROGRESS_SCHEMA.split(", "))
            for r in rows.values()
        ],
        metrics.PROGRESS_SCHEMA,
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

    Bounded, oracle-checkable: complete-mode foreachBatch overwrite (the
    session-bars pattern); the final table equals the batch join+GROUP BY
    the oracle runs.
    """
    # cache: Structured Streaming re-evaluates an uncached static plan
    # (full corpus decode + distinct + broadcast rebuild) EVERY micro-batch
    dim = symbol_sector_dim(spark, sf_dir).cache()
    with _bounded_run_env(
        spark, sf_dir, base_dir, "sector", skip_no_data_batch=True
    ) as (  # complete mode: the final data batch already wrote the full table
        raw_dir,
        out_dir,
        ckpt,
    ):
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
        rollup = (
            ticks.withWatermark("event_time", "2 minutes")
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

        def _write_full(batch_df: DataFrame, _epoch: int) -> None:
            batch_df.write.mode("overwrite").parquet(out_dir)

        try:
            q = (
                rollup.writeStream.outputMode("complete")
                .foreachBatch(_write_full)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            # unpersist even when the stream raises — the cached dim would
            # otherwise pin executor memory for the life of the session
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
    with _bounded_run_env(
        spark,
        sf_dir,
        base_dir,
        kinds[how],
        # inner joins emit matches in-batch; the OUTER variants rely on
        # the final no-data batch's watermark advance to flush their
        # null-padded rows and MUST keep it
        skip_no_data_batch=(how == "inner"),
    ) as (
        raw_dir,
        out_dir,
        ckpt,
    ):
        ticks, _failed = tick_stream_from_raw(raw_json_stream(spark, raw_dir))
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
        joined = left.join(right, F.col("w") == F.col("w2"), how).select(
            F.coalesce(F.col("w.start"), F.col("w2.start")).alias(
                "bucket_start"
            ),
            "purchase_us",
            "purchase_price",
            "click_us",
            "click_price",
        )

        def _append(batch_df: DataFrame, _epoch: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
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
    left_symbol: str = "PURCHASE",
    right_symbol: str = "CLICK",
    attribution_minutes: int = 10,
    key_buckets: int = 10,
    files_per_trigger: int = 30,
) -> DataFrame:
    """STREAM-STREAM INTERVAL join end-to-end — the attribution-join class
    (the one shape ``run_stream_stream_join_available_now`` cannot express):
    each purchase joins the clicks of the SAME key whose click time falls
    in ``[purchase_time − attribution_minutes, purchase_time]`` — a
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

    Batching: the corpus replays from the DAY-PARTITIONED corpus
    (``_ensure_daily_corpus``) in event-time order, ``files_per_trigger``
    day-files per micro-batch, so the watermark ADVANCES between batches
    and join state is garbage-collected mid-run.  A single availableNow
    mega-batch never moves the watermark — both entire sides sit in the
    state store and every probe scans its whole key bucket, which the
    round-8 scaling probe measured at 38× wall for 10× data (quadratic
    per key); chunked replay is linear in replayed history, the honest
    backfill cost.  ``files_per_trigger`` only sizes the replay chunk
    (state ≤ chunk + horizon per key) — the emitted rows are identical at
    any setting; 30 (a month per batch) amortizes micro-batch barrier
    overhead at bench sfs (r15 measured 7.0 s at 7 files vs 4.6 s at 15;
    the r16 warm-session sweep: 10.5 s at 15, 7.1 s at 30, 7.5 s at 45,
    identical 5504 rows — batch barrier + state-commit overhead dominates
    below ~30, per-key probe cost grows above it) while keeping per-key
    state bounded at chunk+horizon instead of the whole history.  Late-drop safety: batches are whole days in order,
    so no row can arrive behind a watermark derived from a LATER day.

    At 100 TB: both sides shuffle on the equi-key bucket; per-key state is
    bounded by (attribution horizon + watermark delay + replay chunk) ×
    per-key arrival rate — the attribution window is the capacity knob,
    exactly how production click-attribution pipelines are sized.
    """
    daily_dir = _ensure_daily_corpus(spark, sf_dir)
    with _bounded_run_env(
        spark, sf_dir, base_dir, "ssjoin_iv", skip_no_data_batch=True
    ) as (  # inner interval join: matches emit in-batch
        _raw_dir,
        out_dir,
        ckpt,
    ):
        ticks, _failed = tick_stream_from_raw(
            raw_json_stream(
                spark, daily_dir, max_files_per_trigger=files_per_trigger
            ).select("value")
        )
        key = F.pmod(F.floor("price").cast("long"), key_buckets)
        left = (
            ticks.filter(F.col("symbol") == left_symbol)
            .withWatermark("event_time", "2 minutes")
            .select(
                key.alias("user_key"),
                F.col("event_time").alias("purchase_time"),
                F.col("price").alias("purchase_price"),
            )
        )
        right = (
            ticks.filter(F.col("symbol") == right_symbol)
            .withWatermark("event_time", "2 minutes")
            .select(
                key.alias("user_key2"),
                F.col("event_time").alias("click_time"),
                F.col("price").alias("click_price"),
            )
        )
        joined = left.join(
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

        def _append(batch_df: DataFrame, _epoch: int) -> None:
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            joined.writeStream.outputMode("append")
            .foreachBatch(_append)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "user_key",
        F.timestamp_micros(F.col("purchase_us")).alias("purchase_time"),
        "purchase_price",
        F.timestamp_micros(F.col("click_us")).alias("click_time"),
        "click_price",
    )
