"""Round-10 surfaces: pure-Column nested ORDER BY keys (no
BatchEvalPython in the plan — VERDICT r09 item 7), volatile-aggregate
hoisting, implicit lateral binding, UNION-type casts, TRY division inf,
and the unnamed_subquery per-scope naming. Each mirrors a reference
sqllogictest behavior (file cited per test)."""

from __future__ import annotations

import pytest

from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark, sf_dir=SF_DIR)


def _vals(con, sql):
    return [tuple(r) for r in con.sql(sql).fetchall()]


def test_list_order_by_no_python_udf(con):
    # VERDICT r09 item 7: a LIST-key ORDER BY must sort through a Column
    # expression (token arrays are a real training-data sort key); the
    # __dknestkey Python UDF stays only for MAP/deep nesting.
    con.sql("CREATE OR REPLACE TEMP VIEW __r10_lt AS "
            "SELECT * FROM (VALUES (1, array(3, CAST(NULL AS INT))), "
            "(2, array(3, 1)), (3, CAST(NULL AS ARRAY<INT>)), "
            "(4, array(3)), (5, array(4))) AS t(id, toks)")
    r = con.sql("SELECT id FROM __r10_lt ORDER BY toks NULLS LAST, id")
    plan = r.df()._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # reference DISTINCT ordering: NULL children sort GREATEST
    # (types/list/list_null_members.test ordering matrix)
    assert [row[0] for row in r.fetchall()] == [4, 2, 1, 5, 3]


def test_struct_order_by_no_python_udf(con):
    con.sql("CREATE OR REPLACE TEMP VIEW __r10_st AS "
            "SELECT * FROM (VALUES (1, named_struct('a', 2, 'b', 'x')), "
            "(2, named_struct('a', 1, 'b', CAST(NULL AS STRING))), "
            "(3, named_struct('a', 1, 'b', 'z'))) AS t(id, s)")
    r = con.sql("SELECT id FROM __r10_st ORDER BY s, id")
    plan = r.df()._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # NULL field sorts greatest: (1,'z') < (1,NULL) < (2,'x')
    assert [row[0] for row in r.fetchall()] == [3, 2, 1]


def test_volatile_agg_hoist(con):
    # subquery/scalar/test_correlated_side_effects.test: volatile fns in
    # aggregate args evaluate per input row in the reference; Spark
    # rejects them inside aggregates without the hoist.
    r = _vals(con, "SELECT COUNT(DISTINCT concat(gen_random_uuid()::VARCHAR"
                   ", r::VARCHAR)) AS n FROM generate_series(1, 50) _(r)")
    assert r == [(50,)]


def test_unnamed_subquery_per_scope(con):
    # subquery/table/test_unnamed_subquery.test:33 — each scope's first
    # anonymous derived table is THE unnamed_subquery of that scope
    r = _vals(con, "SELECT * FROM (SELECT unnamed_subquery.a FROM "
                   "(SELECT 42 a)), (SELECT unnamed_subquery.b FROM "
                   "(SELECT 43 b))")
    assert r == [(42, 43)]


def test_union_type_cast(con):
    # cast/union_cast.test — single-member unions collapse to the member;
    # multi-member unions carry the value in the matching member
    r = _vals(con, "SELECT (1::UNION(a INT, b VARCHAR)).a")
    assert r == [(1,)]


def test_try_division_inf(con):
    # filter/test_try_filter_doesnt_mutate_columns.test:127 — TRY keeps
    # the ieee result for division (x/0 is ±inf/nan, NOT NULL)
    r = _vals(con, "SELECT TRY(5.0 / 0.0) IS NULL, TRY(5.0 / NULL) IS NULL")
    assert r == [(False, True)]


def test_implicit_lateral_comma_subquery(con):
    # subquery/lateral/lateral_large_lists.test — comma-joined FROM
    # subqueries bind laterally without the LATERAL keyword
    r = _vals(con, "SELECT total FROM (SELECT 21 AS x) m, "
                   "(SELECT m.x * 2) AS l(total)")
    assert r == [(42,)]
