from .events import (
    read_table_stream,
    sessionize,
    sessionize_batch,
    stream_burst_dedup,
    stream_cdc_state,
    stream_dedup,
    stream_interval_union,
    stream_kmv_distinct,
    stream_latest_state,
    stream_logq_buckets,
)

__all__ = [
    "read_table_stream",
    "sessionize",
    "sessionize_batch",
    "stream_burst_dedup",
    "stream_cdc_state",
    "stream_dedup",
    "stream_interval_union",
    "stream_kmv_distinct",
    "stream_latest_state",
    "stream_logq_buckets",
]
