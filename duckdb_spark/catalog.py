"""Table catalog: the test-data star schema, read through the scan cache.

DuckDB's catalog is hierarchical (catalog → schema → entries; reference
`src/catalog/`); on Spark the session catalog (temp views) holds the
entries. The tables of an sf_dir are not entries until a statement names
one: `Connection(spark, sf_dir)` lists the dir (`list_tables`), and a
statement binds each listed name it mentions that the session catalog does
not hold (`bind`), the way DuckDB's binder falls back to a replacement
scan. A replacement scan makes no catalog entry, so a view the engine
bound for another sf_dir does not hide this one's table: the session
records its binds (`SessionState.binds`), and a Connection binds its own
path over a name whose view is still one the engine bound for another.
Every read goes through `readers.read_parquet`, so a table is opened once
per session while its files do not change.

`read_table` and `bind` give `events.ts` the `timestamp` type its bare
table has always had (`normalize_events`). A `read_parquet` of the same
file gives what DuckDB's `read_parquet` gives: `timestamp_ntz` (DuckDB's
TIMESTAMP) for its µs TIMESTAMP, also for a TIMESTAMP(NANOS) file, which
the reader truncates to µs as DuckDB's does.

Scale note: each table is a plain parquet scan — partition pruning, predicate
pushdown and column pruning all happen in Catalyst; nothing here materializes
or collects.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark import state
from duckdb_spark.io.readers import read_parquet

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


def list_tables(sf_dir: str) -> dict[str, str]:
    """Lowercase table name → path, for each `<name>.parquet` file or
    directory in `sf_dir` whose name is an identifier. Reads no file."""
    with os.scandir(sf_dir) as entries:
        return {e.name[:-8].lower(): e.path for e in entries
                if e.name.endswith(".parquet") and e.name[:-8].isidentifier()}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The sf_dir table `name`, read through the session's scan cache."""
    return _normalize(name, read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")))


def bind(spark: SparkSession, name: str, path: str, replace: bool = False) -> None:
    """Register the parquet table at `path` as the temp view `name` and
    record it in the session's `binds`. Unless `replace`, a temp view of
    that name that exists by now wins."""
    df = _normalize(name, read_parquet(spark, path))
    try:
        (df.createOrReplaceTempView if replace else df.createTempView)(name)
    except AnalysisException as e:
        if e.getCondition() != "TEMP_TABLE_OR_VIEW_ALREADY_EXISTS":
            raise
        return
    view = spark._jsparkSession.sessionState().catalog().getRawTempView(name)
    state.of(spark).binds[name] = (path, view)


def _normalize(name: str, df: DataFrame) -> DataFrame:
    return normalize_events(df) if name == "events" else df


def normalize_events(df: DataFrame) -> DataFrame:
    """`df` (the events table, a batch or a stream) with `ts` as
    `timestamp`. A stream of a TIMESTAMP(NANOS) file reads it as
    long-nanos (`nanosAsLong`); a batch read already has it as µs."""
    ts = dict(df.dtypes).get("ts")
    if ts == "bigint":
        # ns → µs truncation (identical to the DuckDB reader's behavior).
        # Integer DIV — float division loses ULPs at 1e18-ns magnitudes.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts == "timestamp_ntz":
        # µs-precision parquet TIMESTAMP reads as NTZ; session timezone is
        # UTC so the cast to TimestampType is value-preserving and unblocks
        # unix_micros() and watermarks.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
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
