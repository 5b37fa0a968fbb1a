"""duckdb_spark — a PySpark-native analytics engine with DuckDB's capabilities.

A from-scratch engine: DuckDB's user-visible surface (relational API, function
library, ASOF joins, dedup/text/similarity pipeline operators, file IO)
re-expressed idiomatically on Apache Spark DataFrames so Catalyst/Tungsten/AQE
supply the optimizer and execution layer.

Blueprint: SURVEY.md (reference structural analysis at /root/reference,
DuckDB snapshot 2026-08-07). This package contains **no ported code** — every
operator is declared through `pyspark.sql` and optimized by Catalyst.

Entry points:
    from duckdb_spark import connect
    con = connect()                      # DuckDB-style connection facade
    con = connect(sf_dir)                # …whose SQL text names sf_dir's
                                         # <table>.parquet files as tables
    rel = con.read_parquet(path)         # Relation (lazy DataFrame wrapper)
    rel.filter("l_quantity < 24").aggregate("sum(l_extendedprice)").df()
"""

import duckdb_spark.types  # noqa: F401 — applies the interval collection patch
from duckdb_spark.session import get_spark, stop_spark
from duckdb_spark.catalog import TPCH_TABLES
from duckdb_spark.relation import Connection, Relation, connect

__all__ = [
    "get_spark",
    "stop_spark",
    "TPCH_TABLES",
    "connect",
    "Connection",
    "Relation",
]

__version__ = "0.1.0"
