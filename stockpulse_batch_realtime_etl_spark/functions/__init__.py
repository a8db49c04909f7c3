from stockpulse_batch_realtime_etl_spark.functions.scalars import (  # noqa: F401
    change_pct,
    null_safe_volume,
    pct_change,
    round4,
)
