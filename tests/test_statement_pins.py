"""Pins for every statement step and error fallback of `Connection.sql`
(duckdb_spark/statements.py).

Each case runs one DuckDB-dialect statement through a Connection, reads
`Connection.last_trace` to check that the named step or fallback fired,
and compares the result with pip duckdb on the same text. An error case
checks that both engines raise with the same phrase. A case with
`expect` pins a behaviour of later DuckDB releases that pip duckdb 1.0.0
does not have (it raises, or concatenates two lists as text): our rows
must equal `expect`.

Placeholders: `{sf}` is the fixture directory, `{data}` a directory both
engines read, `{tmp}` a directory each engine writes on its own.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from datetime import datetime
from decimal import Decimal

import duckdb
import pytest

from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR, assert_matches_oracle, normalize

V = "CREATE OR REPLACE TEMP VIEW "


@dataclass(frozen=True)
class Case:
    fired: str | None  # None: Spark answers the translation, trace is empty
    sql: str
    setup: tuple = ()
    check: str | None = None  # compared instead of the statement's own result
    error: str | None = None  # phrase both engines' errors carry
    expect: list | None = None  # our rows, where pip duckdb 1.0.0 differs
    own_session: bool = False  # runs on a new session: it changes a setting


# a twice-referenced aggregate: marked, it is computed once
MATERIALIZED_AGG = (
    "WITH agg AS {hint} (SELECT n_regionkey, count(*) AS c FROM nation "
    "GROUP BY n_regionkey) SELECT a.n_regionkey, a.c + b.c AS c2 "
    "FROM agg a JOIN agg b ON a.n_regionkey = b.n_regionkey")

STEP_CASES = {
    "prepared_statement": Case(
        "prepared_statement", "EXECUTE pin_p(41)",
        setup=("PREPARE pin_p AS SELECT $1 + 1 AS x",)),
    "macro_ddl": Case(
        "macro_ddl", "CREATE MACRO pin_add(a, b) AS a + b",
        check="SELECT pin_add(1, 2) AS s"),
    "duckdb_setting": Case(
        "duckdb_setting", "SET default_null_order = 'nulls_first'",
        check="SELECT x, row_number() OVER (ORDER BY x) AS r "
              "FROM (VALUES (1), (NULL), (2)) t(x)",
        own_session=True),
    "macro_expand": Case(
        "macro_expand", "SELECT pin_mul(2, 3) AS s",
        setup=("CREATE MACRO pin_mul(a, b) AS a * b",)),
    "managed_table": Case(
        "managed_table", "CREATE TABLE pin_t AS SELECT 1 AS a, 'x' AS b",
        check="SELECT * FROM pin_t"),
    "recursive_view": Case(
        "recursive_view",
        "CREATE RECURSIVE VIEW pin_rv(n) AS SELECT 1 UNION ALL "
        "SELECT n + 1 FROM pin_rv WHERE n < 5",
        check="SELECT * FROM pin_rv"),
    "copy_to": Case(
        "copy_to",
        "COPY (SELECT 1 AS a, 'x' AS b) TO '{tmp}/pin_copy.parquet' "
        "(FORMAT PARQUET)",
        check="SELECT * FROM read_parquet('{tmp}/pin_copy.parquet')"),
    "copy_from": Case(
        "copy_from", "COPY pin_cf FROM '{data}/pin_in.csv' (HEADER)",
        setup=("CREATE TABLE pin_cf (a INTEGER, b VARCHAR)",),
        check="SELECT * FROM pin_cf"),
    "describe_cte": Case(
        "describe_cte",
        "WITH c AS (SELECT * FROM region) FROM (DESCRIBE TABLE c)"),
    "describe_in_from": Case(
        "describe_in_from",
        "SELECT column_name, column_type FROM "
        "(DESCRIBE SELECT 42 AS j, 'x' AS k)"),
    "describe": Case("describe", "DESCRIBE nation"),
    # every column of a described query is nullable, as in DuckDB
    "describe-query": Case("describe", "DESCRIBE SELECT 1 AS a"),
    "describe-query_over_view": Case(
        "describe", "DESCRIBE SELECT * FROM pin_dv",
        setup=(V + "pin_dv AS SELECT 1 AS a, 'x' AS b",)),
    "limit_percent_nested": Case(
        "limit_percent_nested",
        "SELECT count(*) AS n FROM (SELECT * FROM nation LIMIT 20%)"),
    "limit_percent": Case(
        "limit_percent",
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10%"),
    "create_schema": Case(
        "create_schema", "CREATE SCHEMA pin_dup",
        setup=("CREATE SCHEMA pin_dup",), error="already exists"),
    "drop_schema": Case(
        "drop_schema", "DROP SCHEMA pin_ds CASCADE",
        setup=("CREATE SCHEMA pin_ds", "CREATE VIEW pin_ds.v AS SELECT 1 AS a"),
        check="CREATE SCHEMA pin_ds"),
    "strip_unused_ctes": Case(
        "strip_unused_ctes",
        "WITH unused AS (SELECT 1 AS x), used AS (SELECT 2 AS y) "
        "SELECT * FROM used"),
    "materialized_ctes": Case(
        "materialized_ctes", MATERIALIZED_AGG.format(hint="MATERIALIZED")),
    # a marked second entry whose body has its own WITH list
    "materialized_ctes-nested_with": Case(
        "materialized_ctes",
        "WITH a AS (SELECT n_regionkey AS x FROM nation), b AS MATERIALIZED "
        "(WITH c AS (SELECT x FROM a) SELECT x, count(*) AS n FROM c "
        "GROUP BY x) SELECT * FROM b"),
    "no_step-not_materialized": Case(
        None, MATERIALIZED_AGG.format(hint="NOT MATERIALIZED")),
    # an unreferenced MATERIALIZED entry is stripped before it could run
    "strip_unused_ctes-materialized": Case(
        "strip_unused_ctes",
        "WITH unused AS MATERIALIZED (SELECT count(*) AS c FROM nation), "
        "used AS (SELECT 2 AS y) SELECT * FROM used"),
    "string_tables": Case(
        "string_tables", "SELECT count(*) AS n FROM '{sf}/nation.parquet'"),
    "sql_table_functions": Case(
        "sql_table_functions",
        "SELECT count(*) AS n FROM read_parquet('{sf}/nation.parquet')"),
    "columns_star": Case(
        "columns_star", "SELECT COLUMNS('r_.*key') FROM region"),
    "using_star_order": Case(
        "using_star_order",
        "SELECT * FROM (VALUES (1, 'a')) l(x, k) "
        "JOIN (VALUES ('b', 1)) r(y, x) USING (x)"),
    "struct_unnest": Case(
        "struct_unnest",
        "SELECT UNNEST(s) FROM (SELECT struct_pack(a := 1, b := 'x') AS s)"),
    "positional_ref": Case(
        "positional_ref", "SELECT #2 FROM (VALUES (1, 'a')) t(x, y)"),
    "lateral_recursive": Case(
        "lateral_recursive",
        "SELECT i, n FROM (VALUES (2), (3)) t(i), LATERAL (WITH RECURSIVE "
        "r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < i) "
        "SELECT n FROM r)"),
    "recursive_cte": Case(
        "recursive_cte",
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r "
        "WHERE n < 5) SELECT * FROM r"),
    "limit_expr": Case(
        "limit_expr",
        "SELECT n_nationkey FROM nation ORDER BY 1 LIMIT (SELECT 3)"),
    "offset_expr": Case(
        "offset_expr",
        "SELECT n_nationkey FROM nation ORDER BY 1 OFFSET (SELECT 22)"),
    "union_by_name": Case(
        "union_by_name",
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 3 AS b, 4 AS a"),
}

FALLBACK_CASES = {
    "struct_subscript": Case(
        "struct_subscript", "SELECT s['b'] AS v FROM pin_ss",
        setup=(V + "pin_ss AS SELECT struct_pack(a := 1, b := 'x') AS s",)),
    "runtime_text_cast": Case(
        "runtime_text_cast", "SELECT CAST(v AS INTEGER[]) AS l FROM pin_tc",
        setup=(V + "pin_tc AS SELECT * FROM (VALUES ('[1, 2]'), ('[3]')) t(v)",)),
    # Spark's native recursion refuses the recursive reference on the
    # nullable side of an outer join
    "recursive_loop": Case(
        "recursive_loop",
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT r.n + 1 "
        "FROM region LEFT JOIN r ON r_regionkey = r.n WHERE r.n < 5) "
        "SELECT * FROM r"),
    "decorrelate": Case(
        "decorrelate",
        "SELECT n_nationkey FROM nation WHERE n_regionkey = (SELECT "
        "min(r_regionkey) FROM region WHERE r_regionkey >= (SELECT "
        "min(n2.n_regionkey) FROM nation n2 WHERE n2.n_nationkey = "
        "nation.n_nationkey))"),
    "subquery_select_alias": Case(
        "subquery_select_alias",
        "SELECT n_regionkey AS rk, (SELECT r_name FROM region "
        "WHERE r_regionkey = rk) AS rn FROM nation GROUP BY n_regionkey"),
    "setop_order_ordinal": Case(
        "setop_order_ordinal",
        "SELECT n_nationkey AS a FROM nation UNION ALL SELECT r_regionkey "
        "AS b FROM region ORDER BY b LIMIT 3"),
    "string_index": Case(
        "string_index", "SELECT b[1][1] AS c FROM pin_si",
        setup=(V + "pin_si AS SELECT * FROM (VALUES (['hello', 'x'])) t(b)",)),
    "variant_shape": Case(
        "variant_shape", "SELECT 1::VARIANT = 1 AS e", expect=[(True,)]),
    "null_interval_setop": Case(
        "null_interval_setop",
        "SELECT INTERVAL 1 DAY AS i UNION ALL SELECT NULL::INTERVAL"),
    "time_interval_arith": Case(
        "time_interval_arith",
        "SELECT (t + INTERVAL 1 HOUR) = TIME '00:30:00' AS ok FROM pin_ti",
        setup=(V + "pin_ti AS SELECT * FROM (VALUES (TIME '23:30:00')) v(t)",)),
    "join_lateral_keyword": Case(
        "join_lateral_keyword",
        "SELECT * FROM (VALUES (1)) t(a) NATURAL JOIN LATERAL "
        "(SELECT 1 AS a, 2 AS b)"),
    "window_alias": Case(
        "window_alias",
        "SELECT n_regionkey AS rk, row_number() OVER (PARTITION BY rk "
        "ORDER BY n_nationkey) AS rn FROM nation"),
    "boolean_filter": Case(
        "boolean_filter", "SELECT a FROM pin_nf WHERE a",
        setup=(V + "pin_nf AS SELECT * FROM (VALUES (1.5), (0.0), (NULL)) t(a)",)),
    "boolean_filter-join": Case(
        "boolean_filter",
        "SELECT * FROM (VALUES (1)) a(x) JOIN (VALUES (2)) b(y) ON x"),
    "boolean_filter-having": Case(
        "boolean_filter",
        "SELECT k, count(*) AS c FROM pin_nh WHERE k GROUP BY k HAVING count(*) - 1",
        setup=(V + "pin_nh AS SELECT * FROM (VALUES (1, 1.5), (1, 0.0), (2, 0.0), "
               "(3, NULL)) t(k, x)",)),
    # a numeric HAVING alone: Spark coerces it, no fallback runs
    "no_fallback-having": Case(
        None, "SELECT k FROM pin_nh GROUP BY k HAVING sum(x)",
        setup=(V + "pin_nh AS SELECT * FROM (VALUES (1, 1.5), (1, 0.0), (2, 0.0), "
               "(3, NULL)) t(k, x)",)),
    "window_over_rollup": Case(
        "window_over_rollup",
        "SELECT n_regionkey, sum(n_regionkey) OVER () AS w FROM nation "
        "GROUP BY ROLLUP (n_regionkey)"),
    # duckdb 1.0.0 concat() of two lists is string concatenation
    "concat_struct_order": Case(
        "concat_struct_order", "SELECT concat(x, y) AS l FROM pin_cs",
        setup=(V + "pin_cs AS SELECT [struct_pack(a := 1, b := 2)] AS x, "
               "[struct_pack(b := 3, a := 4)] AS y",),
        expect=[([{"a": 1, "b": 2}, {"a": 4, "b": 3}],)]),
    "positional_struct_subscript": Case(
        "positional_struct_subscript", "SELECT s[2] AS v FROM pin_ps",
        setup=(V + "pin_ps AS SELECT row(1, 'a') AS s",)),
    "numeric_if": Case(
        "numeric_if", "SELECT if(a, 'y', 'n') AS r FROM pin_if",
        setup=(V + "pin_if AS SELECT * FROM (VALUES (2), (0)) t(a)",)),
    "alias_in_aggregate": Case(
        "alias_in_aggregate",
        "SELECT n_regionkey % 2 AS k, sum(k) AS s FROM nation GROUP BY k",
        expect=[(0, 0), (1, 10)]),
    "sum_boolean": Case(
        "sum_boolean", "SELECT sum(b) AS s FROM pin_sb",
        setup=(V + "pin_sb AS SELECT * FROM (VALUES (true), (false), (true)) t(b)",),
        expect=[(2,)]),
    "avg_temporal": Case(
        "avg_temporal", "SELECT CAST(avg(d) AS VARCHAR) AS a FROM pin_ad",
        setup=(V + "pin_ad AS SELECT * FROM (VALUES (DATE '2020-01-01'), "
               "(DATE '2020-01-04')) t(d)",),
        expect=[("2020-01-02 12:00:00",)]),
    # the INTERVAL emulation of managed tables: a months/days/micros struct
    "interval_avg_sum": Case(
        "interval_avg_sum", "SELECT avg(i) AS a FROM pin_iv",
        setup=(V + "pin_iv AS SELECT * FROM (VALUES "
               "(struct_pack(months := 0, days := 1, micros := 0::BIGINT)), "
               "(struct_pack(months := 0, days := 30, micros := 0::BIGINT))) t(i)",),
        expect=[({"months": 0, "days": 15, "micros": 43_200_000_000},)]),
    "bit_aggregate": Case(
        "bit_aggregate", "SELECT bit_and(b) AS r FROM pin_ba",
        setup=(V + "pin_ba AS SELECT * FROM (VALUES ('101'::BIT), ('110'::BIT)) t(b)",)),
    "bit_count": Case(
        "bit_count", "SELECT bit_count(b) AS r FROM pin_bc",
        setup=(V + "pin_bc AS SELECT * FROM (VALUES ('1011'::BIT)) t(b)",)),
    # duckdb 1.0.0 has no lttb aggregate
    "lttb_timestamp": Case(
        "lttb_timestamp",
        "SELECT lttb(ts, v, 3 ORDER BY ts) AS l FROM pin_lt",
        setup=(V + "pin_lt AS SELECT * FROM (VALUES "
               "(TIMESTAMP '2020-01-01 00:00:00', 1.0), "
               "(TIMESTAMP '2020-01-01 00:01:00', 5.0), "
               "(TIMESTAMP '2020-01-01 00:02:00', 2.0), "
               "(TIMESTAMP '2020-01-01 00:03:00', 3.0)) t(ts, v)",),
        expect=[([{"x": datetime(2020, 1, 1, 0, m), "y": Decimal(y)}
                  for m, y in ((0, "1.0"), (1, "5.0"), (3, "3.0"))],)]),
    "list_length": Case(
        "list_length", "SELECT len(l) AS n FROM pin_ll",
        setup=(V + "pin_ll AS SELECT * FROM (VALUES ([1, 2, 3])) t(l)",)),
    "median_orderable": Case(
        "median_orderable", "SELECT median(d) AS m FROM pin_md",
        setup=(V + "pin_md AS SELECT * FROM (VALUES (DATE '2020-01-01'), "
               "(DATE '2020-01-05')) t(d)",)),
    "median_orderable-list": Case(
        "median_orderable", "SELECT CAST(median(l) AS VARCHAR) AS m FROM pin_ml",
        setup=(V + "pin_ml AS SELECT * FROM (VALUES ([1, 2]), ([3]), ([0, 9])) t(l)",)),
    # duckdb 1.0.0: range() takes no lateral column parameters
    "range_lateral": Case(
        "range_lateral",
        "SELECT n, r.range FROM (VALUES (2), (3)) t(n) "
        "CROSS JOIN LATERAL range(n) r",
        expect=[(2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]),
    "derived_alias_padding": Case(
        "derived_alias_padding",
        "SELECT * FROM (SELECT * FROM region) t(a) ORDER BY 1 LIMIT 2"),
    "setop_string_literal": Case(
        "setop_string_literal", "SELECT [1, 2] AS l UNION ALL SELECT '[3]'"),
    # two aliases: select_alias_only would inline just the one the error names
    "select_alias": Case(
        "select_alias",
        "SELECT n_nationkey AS k, n_regionkey AS r FROM nation "
        "WHERE k < 8 AND r = 0"),
    "setop_order_refs": Case(
        "setop_order_refs",
        "SELECT n_nationkey * 2 AS d FROM nation UNION ALL SELECT r_regionkey * 2 "
        "FROM region ORDER BY n_nationkey * 2 LIMIT 3"),
    # a comma-joined subquery naming an earlier FROM item: Spark binds it
    # laterally itself, so implicit_lateral is not reached
    "no_fallback-comma_lateral": Case(
        None,
        "SELECT i, j FROM (VALUES (1), (2)) t(i), (SELECT i + 1 AS j) s ORDER BY i"),
    "bare_table_in_order": Case(
        "bare_table_in_order", "SELECT x FROM pin_bt ORDER BY pin_bt",
        setup=(V + "pin_bt AS SELECT * FROM (VALUES (2), (1)) t(x)",)),
    "natural_join_runtime_cast": Case(
        "natural_join_runtime_cast",
        "SELECT count(*) AS n FROM pin_nja NATURAL JOIN pin_njb",
        setup=(V + "pin_nja AS SELECT 1 AS k WHERE false",
               V + "pin_njb AS SELECT DATE '2020-01-01' AS k WHERE false")),
    "incomparable_types": Case(
        "incomparable_types", "SELECT i = DATE '2020-01-01' AS e FROM pin_ic",
        setup=(V + "pin_ic AS SELECT * FROM (VALUES (1)) t(i)",),
        error="Unimplemented type for cast"),
}


@pytest.fixture(scope="module")
def con(spark):
    from duckdb_spark.functions.registry import register_sql_functions

    register_sql_functions(spark)
    return Connection(spark=spark, sf_dir=SF_DIR)


@pytest.fixture(scope="module")
def duck():
    d = duckdb.connect()
    for t in ("nation", "region"):
        d.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield d
    d.close()


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    data = tmp_path_factory.mktemp("pin_data")
    (data / "pin_in.csv").write_text("a,b\n1,x\n2,y\n")
    return {
        "ours": {"sf": SF_DIR, "data": str(data),
                 "tmp": str(tmp_path_factory.mktemp("pin_ours"))},
        "duck": {"sf": SF_DIR, "data": str(data),
                 "tmp": str(tmp_path_factory.mktemp("pin_duck"))},
    }


def _run(con, duck, dirs, case: Case):
    """Run the case on both engines; returns our trace and result."""
    for s in case.setup:
        con.sql(s.format(**dirs["ours"]))
        duck.execute(s.format(**dirs["duck"]))
    if case.error:
        with pytest.raises(Exception) as ours:
            con.sql(case.sql.format(**dirs["ours"]))
        trace = list(con.last_trace)
        with pytest.raises(duckdb.Error) as theirs:
            duck.execute(case.sql.format(**dirs["duck"]))
        assert case.error in str(ours.value), str(ours.value)
        assert case.error in str(theirs.value), str(theirs.value)
        return trace, None
    rel = con.sql(case.sql.format(**dirs["ours"]))
    trace = list(con.last_trace)
    if case.expect is not None:
        df = rel.df()
        assert normalize(df.columns, df.collect())[1] == \
            normalize(df.columns, case.expect)[1]
        return trace, rel
    if case.check:
        duck.execute(case.sql.format(**dirs["duck"]))
        rel = con.sql(case.check.format(**dirs["ours"]))
        sql = case.check.format(**dirs["duck"])
    else:
        sql = case.sql.format(**dirs["duck"])
    if rel is None:
        assert duck.execute(sql).fetchall() == []
    else:
        assert_matches_oracle(rel.df(), duck, sql)
    return trace, rel


@pytest.mark.parametrize("case", [pytest.param(c, id=k) for k, c in
                                  {**STEP_CASES, **FALLBACK_CASES}.items()])
def test_pin(con, duck, dirs, case):
    if case.own_session:
        con, duck = Connection(con.spark.newSession()), duckdb.connect()
    trace, _ = _run(con, duck, dirs, case)
    if case.fired is None:
        assert trace == []
        return
    outcomes = [o for name, o in trace if name == case.fired]
    assert outcomes and not any(o.startswith("failed") for o in outcomes), trace


def test_every_step_and_fallback_is_pinned():
    from duckdb_spark.statements import FALLBACKS, STEPS

    pinned = {c.fired for c in (*STEP_CASES.values(), *FALLBACK_CASES.values())}
    pinned.discard(None)
    # reachable only from execution, after Connection.sql has returned, or
    # never succeeding on this Spark build (see CHANGES.md)
    unpinned = {"sum_overflow", "select_alias_only", "implicit_lateral",
                "variant_equality"}
    assert {f.__name__ for f in (*STEPS, *FALLBACKS)} - unpinned == pinned


def test_unreferenced_materialized_cte_never_runs(con):
    con.sql(STEP_CASES["strip_unused_ctes-materialized"].sql)
    assert con.last_trace == [("strip_unused_ctes", "rewrote")]


def test_materialized_cte_is_scanned_once(con):
    """The marked entry is read back from its materialized view, so the
    main plan scans no parquet; inlined, both references scan nation."""
    for hint, scans in (("MATERIALIZED", 0), ("NOT MATERIALIZED", 2)):
        df = con.sql(MATERIALIZED_AGG.format(hint=hint)).df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == scans, plan


# ------------------------------------------------------------ loop policy

def test_plain_statement_has_empty_trace(con):
    con.sql("SELECT n_name FROM nation WHERE n_nationkey < 3")
    assert con.last_trace == []


def test_failed_fallbacks_raise_the_original_error(con):
    con.sql(V + "pin_ss2 AS SELECT struct_pack(a := 1) AS s")
    with pytest.raises(Exception) as e:
        con.sql("SELECT s['zz'] AS v FROM pin_ss2")
    assert "element_at" in str(e.value)
    assert e.value.getCondition().startswith("DATATYPE_MISMATCH")
    assert ("struct_subscript", "failed: AnalysisException") in con.last_trace


def test_incomparable_types_raise_binder_error(con):
    con.sql(V + "pin_ic2 AS SELECT * FROM (VALUES (1)) t(i)")
    with pytest.raises(ValueError, match=r"^Binder Error: Cannot compare values"):
        con.sql("SELECT i = DATE '2020-01-01' AS e FROM pin_ic2")
    assert con.last_trace[-1] == ("incomparable_types", "raised")


def test_nested_statement_appends_to_outer_trace(con, caplog):
    with caplog.at_level(logging.DEBUG, logger="duckdb_spark"):
        con.sql("SELECT column_name FROM (DESCRIBE SELECT 1 AS a)")
    assert con.last_trace == [("describe", "answered"),
                              ("describe_in_from", "rewrote")]
    assert str(con.last_trace) in caplog.text
