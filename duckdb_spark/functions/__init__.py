from duckdb_spark.functions import aggregates, scalar
from duckdb_spark.functions.registry import FUNCTIONS

__all__ = ["scalar", "aggregates", "FUNCTIONS"]
