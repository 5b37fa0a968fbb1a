"""Table catalog: load the test-data star schema and register SQL views.

DuckDB's catalog is hierarchical (catalog → schema → entries; reference
`src/catalog/`); on Spark we use the session catalog (temp views) plus this
module's loader, which also normalizes physical-encoding differences between
the parquet files and engine types:

- `events.ts` is parquet TIMESTAMP(NANOS); Spark reads it as long-nanos
  (session conf `nanosAsLong`) and we truncate to µs `TimestampType`,
  which is byte-identical to what DuckDB's reader produces (verified).

Scale note: each table is a plain parquet scan — partition pruning, predicate
pushdown and column pruning all happen in Catalyst; nothing here materializes
or collects.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.io.readers import open_parquet

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)

AUX_TABLES = ("events", "documents", "embeddings")

ALL_TABLES = TPCH_TABLES + AUX_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# (SparkSession id, sf_dir, name) → DataFrame. Re-opening the same parquet
# repeats the driver-side file listing and footer read (`open_parquet`,
# 10-20 ms a table, no Spark job); the logical plan is immutable so
# memoizing is safe. Keyed by session id so a restarted session doesn't
# serve stale plans. It stays a module dict rather than session state
# because the benchmark's traced run probes it by this exact key
# (perfbench/layers.py).
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = open_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs truncation (identical to the DuckDB reader's behavior).
        # Integer DIV — float division loses ULPs at 1e18-ns magnitudes.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # µs-precision parquet TIMESTAMP (e.g. the scaled bench data written
        # by DuckDB) reads as NTZ; session timezone is UTC so the cast to
        # TimestampType is value-preserving and unblocks unix_micros().
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_CACHE[key] = df
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned scan to the cluster's parallelism.

    A small-file table (sf1 documents.parquet = 10 files / 5.7 MB) yields
    one scan partition per file, so compute-heavy per-row work (regex token
    passes, md5 shingling) runs on a fraction of the cores — measured
    text_quality 3.1s on 10 tasks vs ~1.1s spread. Gated: a many-file
    corpus at real scale already has >= parallelism/2 partitions and must
    NOT pay a full-text shuffle."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par // 2:
        return df.repartition(par)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so `spark.sql` text can use it."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
