from elastic_freight_spark.streaming.structured import (
    dedup_stream,
    enrich_stream,
    finalize_stream_index,
    read_parquet_stream,
    session_agg,
    stream_index,
    stream_upsert_index,
    tumbling_agg,
    user_running_state,
)

__all__ = [
    "read_parquet_stream",
    "stream_index",
    "stream_upsert_index",
    "finalize_stream_index",
    "tumbling_agg",
    "session_agg",
    "dedup_stream",
    "enrich_stream",
    "user_running_state",
]
