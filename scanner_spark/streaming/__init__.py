from scanner_spark.streaming.windows import (
    from_stored,
    tumbling,
    session,
    stateful_running_agg,
    to_memory,
    to_parquet,
)

__all__ = [
    "from_stored",
    "tumbling",
    "session",
    "stateful_running_agg",
    "to_memory",
    "to_parquet",
]
