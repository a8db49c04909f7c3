from stockpulse_batch_realtime_etl_spark.sources.tables import load_table
from stockpulse_batch_realtime_etl_spark.sources.ticks import ticks_from_events
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream

__all__ = [
    "load_table",
    "ticks_from_events",
    "split_raw_stream",
]
