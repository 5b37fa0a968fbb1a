"""SQL dialect front-end tests: DuckDB-flavored SQL through Connection.sql,
differentially checked against DuckDB running the ORIGINAL text."""

from __future__ import annotations

import pytest

from duckdb_spark.relation import Connection
from duckdb_spark.sql.dialect import translate
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark, sf_dir=SF_DIR)


# SQL that must run identically on both engines, verbatim.
DIFFERENTIAL_SQL = {
    "qualify": """
        SELECT n_name, s_name, ROUND(s_acctbal, 2) AS bal,
               ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS rn
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        QUALIFY rn <= 2
        ORDER BY n_name, rn
    """,
    "distinct_on": """
        SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_name
        FROM customer
        ORDER BY c_nationkey, c_acctbal DESC, c_custkey
    """,
    "exclude": """
        SELECT * EXCLUDE (r_name) FROM region ORDER BY r_regionkey
    """,
    # NOTE: CAST(double AS BIGINT) diverges by design — DuckDB rounds,
    # Spark truncates (see functions.scalar.float_to_int_cast); floor()
    # aligns the two here so the test pins the // and :: rewrites.
    "floordiv_cast": """
        SELECT o_orderkey, o_orderkey // 100 AS bucket,
               CAST(floor(o_totalprice) AS BIGINT) AS price_int,
               '42'::BIGINT AS lit_cast
        FROM orders WHERE o_orderkey % 101 = 0 ORDER BY o_orderkey
    """,
    "group_by_all": """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY ALL ORDER BY ALL
    """,
    "values_clause": """
        SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, NULL)) t(id, tag) ORDER BY id
    """,
    "in_subquery": """
        SELECT n_name FROM nation
        WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name LIKE 'A%')
        ORDER BY n_name
    """,
    "exists_correlated": """
        SELECT r_name FROM region
        WHERE EXISTS (SELECT 1 FROM nation WHERE n_regionkey = r_regionkey AND n_nationkey > 20)
        ORDER BY r_name
    """,
    "scalar_subquery": """
        SELECT n_name,
               (SELECT COUNT(*) FROM supplier WHERE s_nationkey = n_nationkey) AS n_sup
        FROM nation ORDER BY n_name
    """,
    "cte": """
        WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000),
             cnt AS (SELECT o_custkey, COUNT(*) AS n FROM big GROUP BY o_custkey)
        SELECT n, COUNT(*) AS n_cust FROM cnt GROUP BY n ORDER BY n
    """,
    "case_ilike": """
        SELECT n_name,
               CASE WHEN n_name ILIKE 'nation_1%' THEN 'one' ELSE 'other' END AS tag
        FROM nation ORDER BY n_name
    """,
    "lateral_join": """
        SELECT r_name, top_n
        FROM region, LATERAL (
          SELECT n_name AS top_n FROM nation
          WHERE n_regionkey = r_regionkey ORDER BY n_nationkey LIMIT 1) t
        ORDER BY r_name
    """,
    "window_clause": """
        SELECT s_suppkey,
               RANK() OVER w AS rnk,
               ROUND(SUM(s_acctbal) OVER (w ROWS UNBOUNDED PRECEDING), 2) AS run
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
        ORDER BY s_suppkey
    """,
    "union_by_name": """
        SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 3
        UNION ALL BY NAME
        SELECT r_name AS nm, r_regionkey AS k FROM region WHERE r_regionkey < 2
        ORDER BY k, nm
    """,
}


@pytest.mark.parametrize("name", sorted(DIFFERENTIAL_SQL))
def test_dialect_differential(con, oracle, name):
    sql = DIFFERENTIAL_SQL[name]
    assert_matches_oracle(con.sql(sql).df(), oracle, sql, name=f"sql:{name}")


def test_translate_is_ansi_idempotent():
    # ANSI text passes through except ORDER BY null-order normalization
    # (DuckDB sorts NULLs as largest; Spark's default is the opposite)
    q = "SELECT a, sum(b) FROM t WHERE c = 'x // y' GROUP BY a ORDER BY a LIMIT 5"
    assert translate(q) == q.replace("ORDER BY a ", "ORDER BY a NULLS LAST  ")
    q2 = "SELECT a, sum(b) FROM t WHERE c = 'x // y' GROUP BY a"
    assert translate(q2) == q2


def test_macro_scalar(con, oracle):
    con.sql("CREATE MACRO disc_price(p, d) AS p * (1 - d)")
    rel = con.sql(
        "SELECT l_returnflag, ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2) AS rev "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    oracle.execute("CREATE OR REPLACE MACRO disc_price(p, d) AS p * (1 - d)")
    assert_matches_oracle(
        rel.df(),
        oracle,
        "SELECT l_returnflag, ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2) AS rev "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
        name="macro_scalar",
    )


def test_macro_default_param(con):
    con.sql("CREATE MACRO add_n(x, n := 10) AS x + n")
    rows = con.sql("SELECT add_n(5) AS a, add_n(5, 1) AS b, add_n(5, n := 2) AS c").fetchall()
    assert (rows[0]["a"], rows[0]["b"], rows[0]["c"]) == (15, 6, 7)


def test_table_macro(con):
    con.sql("CREATE MACRO top_nations(k) AS TABLE SELECT n_name FROM nation ORDER BY n_nationkey LIMIT k")
    rows = con.sql("SELECT * FROM top_nations(3) ORDER BY n_name").fetchall()
    assert [r["n_name"] for r in rows] == ["NATION_0", "NATION_1", "NATION_2"]


def test_sequence(con):
    con.sql("CREATE SEQUENCE seq1 START 100")
    r = con.sql("SELECT nextval('seq1') AS a, nextval('seq1') AS b").fetchall()[0]
    assert (r["a"], r["b"]) == (100, 101)
    assert con.sql("SELECT currval('seq1') AS c").fetchall()[0]["c"] == 101


@pytest.mark.parametrize("sql", [
    "SELECT max(COLUMNS('n_.*key')) FROM nation",
    "SELECT COLUMNS('n_.*key') + 1 FROM nation ORDER BY n_nationkey",
    "SELECT min(COLUMNS(*)), max(COLUMNS(*)) FROM region",
    "SELECT max(COLUMNS('n_.*key')) m FROM nation",
    "SELECT max(COLUMNS('n_.*key')) AS m FROM nation",
])
def test_columns_replicas_take_their_column_names(con, oracle, sql):
    """An unaliased select entry over COLUMNS(…) is named after each
    expanded column, as DuckDB names it; an aliased one gives every
    replica the alias."""
    df = con.sql(sql).df()
    res = oracle.execute(sql)
    assert df.columns == [d[0] for d in res.description]
    assert [tuple(r) for r in df.collect()] == res.fetchall()
