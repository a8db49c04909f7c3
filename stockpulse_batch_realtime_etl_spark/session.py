"""SparkSession factory with host-fitted defaults.

The reference (SURVEY.md §4) delegates all planning to Postgres; here the
equivalent "physical design" is a handful of deliberate Spark confs:

* ``spark.sql.session.timeZone=UTC`` — TIMESTAMPTZ parity with the reference
  (producer.py:73 emits UTC ISO-8601; Postgres stores timestamptz).
* AQE on (+ coalescePartitions + skewJoin) — runtime re-planning replaces any
  hand-tuned DOP; the skew-join split keeps a hot symbol from stalling a
  stage.
* ``local[N]`` and ``spark.sql.shuffle.partitions`` — N is
  ``SPARK_GRAFT_CPUS``, else the CPUs this process may run on.  Every
  operator works per-partition and never assumes a partition count.
* ``spark.driver.memory`` — ``SPARK_GRAFT_DRIVER_MEM``, else half of the
  host's physical RAM (local mode runs every task inside the driver JVM).
* Arrow enabled — pandas interchange is Arrow-batched, never row-at-a-time.
* Checkpoints through ``FileSystemBasedCheckpointFileManager`` — without
  libhadoop (``NativeCodeLoader.isNativeCodeLoaded()`` is false) the default
  FileContext manager forks ``readlink`` twice per renamed path, ~4 ms each.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stockpulse-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with engine defaults."""
    builder = SparkSession.builder.appName(app_name)
    conf = default_conf(shuffle_partitions) | (extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's Spark conf, sized to this host unless env overrides it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20

    return {
        "spark.master": f"local[{cpus}]",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE's coalescing floor is BYTE-based (default 1m), which is
        # miscalibrated for compute-dense, byte-light exchanges: ~1 MB of
        # compressed shuffle columns feeding a per-symbol window or a
        # final aggregate is 1-2 CPU-seconds of codegen work, and the
        # default collapses it to ONE task (r16 profile: symbol_beta ran
        # three sequential single-task window/aggregate stages).  A 64k
        # floor keeps such stages parallel while remaining inert wherever
        # partitions are genuinely data-sized (any production exchange) —
        # measured r16: the rolling/window family −35%, no query slower.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # An events.parquet carrying TIMESTAMP(NANOS) is rejected by default;
        # this reads it as long nanos, which sources/tables.load_table
        # truncates to µs as DuckDB does.  TIMESTAMP(MICROS) files, like the
        # sf fixtures, read as timestamp_ntz whatever this says.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Streaming state: every stateful operator here is bounded by a
        # watermark (or by the bounded corpus), so the in-memory, checkpointed
        # provider holds it; RocksDB only pays off once state outgrows the heap.
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
        # FileSystem.rename: atomic on file: and hdfs:, keeps the .crc files
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        "spark.sql.shuffle.spill.compress": "true",
        "spark.ui.enabled": "false",
        # local[N] runs every "executor" inside the driver JVM, so the one
        # heap serves all N tasks; half the RAM leaves the rest to Python
        # workers and the page cache.
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{ram_mb // 2}m"
        ),
    }
