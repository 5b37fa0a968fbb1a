"""Round-7 second-wave dialect surfaces: Python-style tuple literals /
TUPLE type, 3-valued ordering quantifiers, correlated OFFSET/LIMIT
pushdown, lateral recursive CTEs, interval aggregates, division-by-zero
NULL semantics. Each mirrors a reference sqllogictest behavior (file
cited per test)."""

from __future__ import annotations

import pytest

from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark, sf_dir=SF_DIR)


def _vals(con, sql):
    return [tuple(r) for r in con.sql(sql).fetchall()]


# ------------------------------------------------ tuple literals / TUPLE

def test_tuple_literals_and_typeof(con):
    # reference test/sql/types/struct/test_tuple.test
    r = _vals(con, "SELECT typeof(row(1, 'a')), typeof(()), typeof((42,))")
    assert r == [("TUPLE(INTEGER, VARCHAR)", "TUPLE", "TUPLE(INTEGER)")]


def test_tuple_render_and_cast(con):
    # (42,)::VARCHAR::TUPLE(INTEGER) round-trips through tuple text
    r = _vals(con, "SELECT ((42,)::VARCHAR)::TUPLE(INTEGER)")
    assert r[0][0][0] == 42
    r = _vals(con, "SELECT (1, 'a') = (1, 'a'), (1, 2) < (1, 3)")
    assert r == [(True, True)]


def test_row_in_subquery_arity(con):
    # reference test/sql/subquery/scalar/subquery_row_in_any.test
    r = _vals(con, """
        SELECT ROW(1, 2) IN (SELECT i, i + 1 FROM (VALUES (1),(2)) v(i)),
               row(1) IN (SELECT i FROM (VALUES (1),(2)) v(i))
    """)
    assert r == [(True, True)]
    with pytest.raises(Exception, match="(?i)binder|row"):
        con.sql(
            "SELECT (1, 2) IN (SELECT (i, i+1, i+2) "
            "FROM (VALUES (1)) v(i))"
        )


# ------------------------------------------- 3-valued ordering quantifiers

def test_ordering_quantifier_null_semantics(con):
    # reference test/sql/subquery/any_all/test_uncorrelated_all_subquery:
    # 3 >= ALL {1,2,3,NULL} is NULL, not true
    con.sql("CREATE OR REPLACE TEMP VIEW q7_int AS "
            "SELECT * FROM (VALUES (1),(2),(3),(NULL)) v(i)")
    r = _vals(con, "SELECT i FROM q7_int WHERE i >= ALL(SELECT i FROM q7_int)")
    assert r == []
    r = _vals(con, "SELECT i FROM q7_int "
                   "WHERE i >= ALL(SELECT i FROM q7_int WHERE i IS NOT NULL)")
    assert r == [(3,)]


def test_row_comparison_any(con):
    # reference test/sql/subquery/any_all/test_row_comparison_any_all:
    # lexicographic, not componentwise
    r = _vals(con, "SELECT (0, 0) < ANY(SELECT 1, 0)")
    assert r == [(True,)]


# ------------------------------------- correlated OFFSET/LIMIT pushdown

def test_correlated_offset_subquery(con):
    # reference test/sql/subquery/scalar/test_correlated_subquery.test:
    # Spark evaluates OFFSET per-partition inside correlated subqueries
    con.sql("CREATE OR REPLACE TEMP VIEW q7_i AS "
            "SELECT * FROM (VALUES (1),(2),(3)) v(i)")
    r = _vals(con, """
        SELECT i, (SELECT i1.i + i + i FROM range(1, 100, 1) t(i)
                   ORDER BY i DESC OFFSET 98)
        FROM q7_i i1 ORDER BY i
    """)
    assert r == [(1, 3), (2, 4), (3, 5)]


# ------------------------------------------------ lateral recursive CTE

def test_lateral_recursive_cte(con):
    # reference test/sql/cte/recursive_cte_key_snapshot.test: correlated
    # executions do not cross-link state between outer rows
    r = _vals(con, """
        SELECT i, result_v
        FROM range(1, 4) outer_q(i), LATERAL (
            WITH RECURSIVE t(k, v) USING KEY (k) AS (
                SELECT i, 0
                UNION ALL
                SELECT n.k, r.v + 1
                FROM t n JOIN recurring.t r USING (k)
                WHERE n.v < i
            )
            SELECT v AS result_v FROM t
        ) q ORDER BY i
    """)
    assert r == [(1, 1), (2, 2), (3, 3)]


# ----------------------------------------------------- interval aggregates

def test_interval_avg_render(con, oracle):
    # reference test/sql/aggregate/aggregates/test_avg.test interval block
    from duckdb_spark.sqllogic import SLSession

    sess = SLSession(con.spark)
    sess.execute("CREATE TABLE q7_iv(itvl INTERVAL)")
    sess.execute("INSERT INTO q7_iv VALUES ('1 day'), ('30 days'), "
                 "('30 days'), ('30 days'), ('30 days')")
    from duckdb_spark.sqllogic import format_value

    row = sess.execute("SELECT AVG(itvl), AVG(DISTINCT itvl) FROM q7_iv") \
        .df().collect()[0]
    assert [format_value(v) for v in row] == \
        ["24 days 04:48:00", "15 days 12:00:00"]


# ------------------------------------------------ division-by-zero NULL

def test_division_by_zero_null(con, oracle):
    # shipping-oracle semantics: SELECT 4/0 is NULL (test/sql/types/null)
    r = _vals(con, "SELECT 4 / 0, 4 / 2")
    assert r == [(None, 2.0)]
    assert oracle.execute("SELECT 4/0").fetchone()[0] is None


def test_scalar_unnest_subquery(con):
    # reference test/sql/subquery/scalar/test_unnest_subquery.test
    r = _vals(con, "SELECT (SELECT UNNEST([7])), (SELECT UNNEST([]))")
    assert r == [(7, None)]


def test_boolean_integer_literals(con):
    # reference test/sql/types/null/test_boolean_null.test
    r = _vals(con, "SELECT 0 AND 1, NOT(0), 1 AND NULL")
    assert r == [(False, True, None)]
