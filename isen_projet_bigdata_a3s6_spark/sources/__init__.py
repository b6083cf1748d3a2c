from .readers import TABLES, load_table, read_parquet_ns_safe
from .writers import write_csv

__all__ = [
    "TABLES",
    "load_table",
    "read_parquet_ns_safe",
    "write_csv",
]
