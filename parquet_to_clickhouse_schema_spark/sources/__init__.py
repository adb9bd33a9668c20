from parquet_to_clickhouse_schema_spark.sources.io import TABLES, load_table

__all__ = ["TABLES", "load_table"]
