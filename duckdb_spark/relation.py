"""DuckDB-style Relation / Connection facade over PySpark DataFrames.

Reference surface: the lazy Relation API in `src/main/relation.cpp`
(Project :32, Filter :79, Limit :104, Order :108, Join :132, Union :166,
Aggregate :186) and the 27 relation classes in `src/main/relation/`.
That API *is* the DataFrame model — each method here composes a lazy
`pyspark.sql.DataFrame`; nothing executes until an action
(`.df()`, `.fetchall()`, `.show()`).

String expressions (`rel.filter("l_quantity < 24")`) are delegated to
Spark SQL's expression parser (`F.expr`) — same contract as DuckDB's
string-expression forms, with Catalyst as the binder.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark import statements
from duckdb_spark.catalog import DEFAULT_SF_DIR, register_views
from duckdb_spark.session import get_spark
from duckdb_spark.sql import dialect
from duckdb_spark.sql.macros import bind_parameters
from duckdb_spark.statements import _split_top_level

_log = logging.getLogger("duckdb_spark")


def _cols(exprs: Iterable[str | Column]) -> list[Column]:
    return [F.expr(e) if isinstance(e, str) else e for e in exprs]


class Relation:
    """Lazy relational node. Wraps a DataFrame; every method returns a new
    Relation (mirrors DuckDB Relation's shared-ptr composition)."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- composition (reference: src/main/relation.cpp) ------------------
    def project(self, *exprs: str | Column) -> "Relation":
        return Relation(self._df.select(*_cols(exprs)))

    select = project

    def filter(self, cond: str | Column) -> "Relation":
        return Relation(self._df.filter(cond if isinstance(cond, Column) else F.expr(cond)))

    where = filter

    def aggregate(self, aggr: str, groups: str = "") -> "Relation":
        """DuckDB-style: rel.aggregate("sum(x) AS s, count(*) AS n", "g1, g2")."""
        agg_cols = _cols(_split_top_level(aggr)) if aggr else []
        if groups.strip():
            group_cols = _cols(_split_top_level(groups))
            return Relation(self._df.groupBy(*group_cols).agg(*agg_cols))
        return Relation(self._df.agg(*agg_cols))

    def order(self, *exprs: str | Column) -> "Relation":
        """ORDER BY with DuckDB string syntax: "col DESC", "expr ASC NULLS
        FIRST". DuckDB's default null order is NULLS LAST for ASC and NULLS
        FIRST for DESC (reference `default_null_order` setting) — applied
        here explicitly since Spark's bare default differs (NULLS FIRST asc).
        """
        cols = []
        for e in exprs:
            if not isinstance(e, str):
                cols.append(e)
                continue
            for part in _split_top_level(e):
                m = re.match(
                    r"(?is)^(.*?)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$", part
                )
                body, direction, nulls = m.group(1), (m.group(2) or "ASC").upper(), m.group(3)
                c = F.expr(body)
                if nulls is None:
                    nulls = "LAST" if direction == "ASC" else "FIRST"
                else:
                    nulls = nulls.upper()
                if direction == "ASC":
                    c = c.asc_nulls_first() if nulls == "FIRST" else c.asc_nulls_last()
                else:
                    c = c.desc_nulls_first() if nulls == "FIRST" else c.desc_nulls_last()
                cols.append(c)
        return Relation(self._df.orderBy(*cols))

    sort = order

    def limit(self, n: int, offset: int = 0) -> "Relation":
        if offset:
            return Relation(self._df.offset(offset).limit(n))
        return Relation(self._df.limit(n))

    def join(self, other: "Relation", condition: str | Column, how: str = "inner") -> "Relation":
        cond = condition if isinstance(condition, Column) else F.expr(condition)
        return Relation(self._df.join(other._df, cond, how))

    def cross(self, other: "Relation") -> "Relation":
        return Relation(self._df.crossJoin(other._df))

    def union(self, other: "Relation") -> "Relation":
        return Relation(self._df.unionAll(other._df))

    def union_by_name(self, other: "Relation") -> "Relation":
        return Relation(self._df.unionByName(other._df, allowMissingColumns=True))

    def intersect(self, other: "Relation") -> "Relation":
        # reference Relation::Intersect uses setop_all=true (INTERSECT ALL),
        # consistent with union/except_ here
        return Relation(self._df.intersectAll(other._df))

    def except_(self, other: "Relation") -> "Relation":
        return Relation(self._df.exceptAll(other._df))

    def distinct(self) -> "Relation":
        return Relation(self._df.distinct())

    def set_alias(self, alias: str) -> "Relation":
        return Relation(self._df.alias(alias))

    # -- execution --------------------------------------------------------
    def df(self) -> DataFrame:
        return self._df

    def fetchall(self):
        return self._df.collect()

    def fetchone(self):
        rows = self._df.take(1)
        return rows[0] if rows else None

    def to_pandas(self):
        return self._df.toPandas()

    def show(self, n: int = 20) -> None:
        self._df.show(n)

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode=mode)

    def count(self) -> int:
        return self._df.count()

    def create_view(self, name: str) -> "Relation":
        self._df.createOrReplaceTempView(name)
        return self

    @property
    def columns(self) -> list[str]:
        return self._df.columns


class Connection:
    """DuckDB-style connection: `con.sql(...)`, `con.read_parquet(...)`."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or get_spark()
        if sf_dir:
            register_views(self.spark, sf_dir)
        from duckdb_spark.sql.macros import MacroRegistry, PreparedStatements

        self.macros = MacroRegistry()
        self.prepared = PreparedStatements()
        from duckdb_spark.managed import ManagedTables

        self.managed = ManagedTables(self.spark)
        from duckdb_spark.operators.udtf import register_builtin_udtfs

        register_builtin_udtfs(self.spark)
        # __dkrender is reachable from the MAIN translate pass (nested →
        # VARCHAR casts render DuckDB-style), so register it eagerly
        from duckdb_spark.sql.textcast import render_duck

        self._rtcast_registered = {"__dkrender"}
        self._decorrelate_depth = 0
        self._sql_depth = 0
        self.last_trace: list[tuple[str, str]] = []
        self.spark.udf.register(
            "__dkrender",
            lambda v: None if v is None else render_duck(v),
            "string")
        # nested-comparison UDFs are reachable from the MAIN translate pass
        # too (rewrite_nested_comparisons); worker threads' active-session
        # lookup can miss, so bind them to THIS session eagerly
        from duckdb_spark.sql.nestcmp import nest_eq, nest_in, nest_key

        self.spark.udf.register("__dknesteq", nest_eq, "boolean")
        self.spark.udf.register("__dknestkey", nest_key, "binary")
        self.spark.udf.register("__dknestin", nest_in, "boolean")
        # C-style %g/%e formatting: java.util.Formatter's %g rounds via a
        # different decimal path than C printf (0.9999999999999999 at %.17g
        # → '...90' vs '...89'); Python's % operator is C-compatible
        # (decimal_float_cast.test:26)
        self.spark.udf.register(
            "__dkfmtg",
            lambda fmt, v: None if fmt is None or v is None else fmt % v,
            "string")

    def sql(self, query: str, params=None) -> "Relation | None":
        """Run DuckDB-dialect SQL: `?`/`$n`/`$name` parameters bound as
        literals (reference client_context.cpp:535-579), then the ordered
        statement steps of `duckdb_spark.statements` (macro/sequence/PREPARE
        DDL, managed tables, COPY, DESCRIBE, LIMIT forms, …), then the
        dialect-translated text (QUALIFY, DISTINCT ON, EXCLUDE, //,
        ::casts) handed to Catalyst. When Catalyst rejects it, the ordered
        fallbacks each get one retry; DuckDB-phrased errors they raise
        propagate, and when none succeeds the original error is raised.

        `last_trace` lists what ran for the statement, nested statements
        included: `(step, "rewrote" | "answered" | "raised")` and
        `(fallback, "ok" | "raised" | "failed: <error type>")`."""
        dialect.set_active_spark(self.spark)
        if self._sql_depth == 0:
            self.last_trace = []
        trace = self.last_trace
        self._sql_depth += 1
        try:
            if params is not None:
                query = bind_parameters(query, params)
            for step in statements.STEPS:
                try:
                    out = step(self, query)
                except Exception:
                    trace.append((step.__name__, "raised"))
                    raise
                if isinstance(out, str):
                    if out != query:
                        trace.append((step.__name__, "rewrote"))
                        query = out
                    continue
                trace.append((step.__name__, "answered"))
                return Relation(out) if isinstance(out, DataFrame) else out
            try:
                tq = dialect.translate(query)
            except Exception as e:  # noqa: BLE001 — fallbacks may apply
                tq, err = "", e
            else:
                try:
                    return Relation(self.spark.sql(tq))
                except Exception as e:  # noqa: BLE001 — fallbacks may apply
                    err = e
            msg = str(err)
            for fallback in statements.FALLBACKS:
                try:
                    out = fallback(self, query, tq, msg)
                    if out is None:
                        continue
                    if isinstance(out, str):
                        out = self.spark.sql(out)
                    if isinstance(out, DataFrame):
                        out = Relation(out)
                except Exception as e:  # noqa: BLE001 — next fallback
                    if statements.is_duckdb_error(e):
                        trace.append((fallback.__name__, "raised"))
                        raise
                    trace.append(
                        (fallback.__name__, f"failed: {type(e).__name__}"))
                    continue
                trace.append((fallback.__name__, "ok"))
                return out
            raise err
        finally:
            self._sql_depth -= 1
            if self._sql_depth == 0 and trace:
                _log.debug("%s", trace)

    query = sql
    execute = sql

    def table(self, name: str) -> Relation:
        return Relation(self.spark.table(name))

    def read_duckdb(self, db_path: str, table: str) -> Relation:
        from duckdb_spark.io.readers import read_duckdb

        return Relation(read_duckdb(self.spark, db_path, table))

    def export_database(self, out_dir: str, tables: list[str] | None = None) -> dict:
        from duckdb_spark.io.writers import export_database

        return export_database(self.spark, out_dir, tables)

    def import_database(self, in_dir: str) -> list[str]:
        from duckdb_spark.io.writers import import_database

        return import_database(self.spark, in_dir)

    def from_df(self, df: DataFrame) -> Relation:
        return Relation(df)

    def read_parquet(self, path: str, **options) -> Relation:
        return Relation(self.spark.read.options(**options).parquet(path))

    def read_csv(self, path: str, **options) -> Relation:
        from duckdb_spark.io.readers import read_csv

        return Relation(read_csv(self.spark, path, **options))

    def read_json(self, path: str, **options) -> Relation:
        from duckdb_spark.io.readers import read_json

        return Relation(read_json(self.spark, path, **options))

    def register(self, name: str, rel: "Relation | DataFrame") -> None:
        df = rel.df() if isinstance(rel, Relation) else rel
        df.createOrReplaceTempView(name)


def connect(sf_dir: str | None = None) -> Connection:
    return Connection(sf_dir=sf_dir)
