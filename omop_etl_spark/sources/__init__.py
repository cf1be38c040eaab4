from .reader import (
    enable_nanos_compat,
    normalize_timestamps,
    read_parquet_table,
    EVENTS_NS_COLUMNS,
)

__all__ = [
    "enable_nanos_compat",
    "normalize_timestamps",
    "read_parquet_table",
    "EVENTS_NS_COLUMNS",
]
