from .reader import (
    enable_nanos_compat,
    normalize_timestamps,
    read_parquet_table,
    EVENTS_NS_COLUMNS,
)
from .text import (
    DOCS_JSONL_SCHEMA,
    ingest_stats,
    read_csv,
    read_jsonl,
    read_fixed_width,
    write_partitioned,
)

__all__ = [
    "enable_nanos_compat",
    "normalize_timestamps",
    "read_parquet_table",
    "EVENTS_NS_COLUMNS",
    "DOCS_JSONL_SCHEMA",
    "ingest_stats",
    "read_csv",
    "read_jsonl",
    "read_fixed_width",
    "write_partitioned",
]
