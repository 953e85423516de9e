from .readers import SourceLayoutError, TableSchemaError, load_table, read_csv_dim, read_parquet_stream

__all__ = [
    "SourceLayoutError",
    "TableSchemaError",
    "load_table",
    "read_csv_dim",
    "read_parquet_stream",
]
