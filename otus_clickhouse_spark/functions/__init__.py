from otus_clickhouse_spark.functions.clickhouse import ensure_functions

__all__ = ["ensure_functions"]
