from spotify_podcasts_airflow_batch_spark.sources.readers import (
    TABLES,
    list_data_files,
    parquet_schema,
    read_csv,
    read_json,
    read_parquet,
    table,
)

__all__ = [
    "TABLES",
    "table",
    "read_parquet",
    "parquet_schema",
    "read_csv",
    "read_json",
    "list_data_files",
]
