from .readers import TABLES, load_table, load_tables, read_csv, read_parquet_ns_safe
from .writers import write_csv, write_parquet

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "read_csv",
    "read_parquet_ns_safe",
    "write_csv",
    "write_parquet",
]
