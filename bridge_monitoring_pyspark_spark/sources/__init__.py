from .readers import SourceLayoutError, load_table, read_csv_dim, read_parquet_stream

__all__ = [
    "SourceLayoutError",
    "load_table",
    "read_csv_dim",
    "read_parquet_stream",
]
