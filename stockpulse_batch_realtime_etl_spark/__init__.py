"""stockpulse_batch_realtime_etl_spark — a PySpark-native stock-tick pipeline.

Re-expresses the data model, operator semantics, and query surface of the
reference repo ``Mithileshan/stockpulse-batch-realtime-etl`` (a Kafka → Postgres
stock-tick ETL whose queries are SQL strings executed inside Postgres)
idiomatically on Apache Spark:

* batch analytics  — DataFrame / Spark SQL over columnar Parquet tables
* streaming ingest — Structured Streaming (``from_json`` decode, tumbling
  1-minute windows, ``withWatermark``, ``foreachBatch`` idempotent upsert)
* serving          — the read endpoints over the ticks and bars tables
* extensions       — text, dedup, similarity, multimodal, PII and TPC-H
  operator families with their registrations in ``queries_ext``; no tick
  workload, endpoint or streaming job reaches them

Everything is expressed with built-in Catalyst expressions (zero row-at-a-time
Python UDFs in any hot path) so whole-stage codegen and predicate pushdown are
preserved.
"""

from stockpulse_batch_realtime_etl_spark.session import get_spark

__all__ = ["get_spark"]
