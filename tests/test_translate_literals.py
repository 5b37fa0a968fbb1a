"""String literals are opaque to translation.

`dialect.translate` runs its text passes on literal-masked text
(`dialect._mask_literals`), so no keyword, digit or punctuation pattern
rewrites the inside of a literal, and the `positional_ref` statement step
reads `#N` on the same mask. These tests check that with generated and
fixed literal contents, and with the ORACLE texts whose literals hold a
`#N` (`'Brand#NN'`, `'category#N'`).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from duckdb_spark import state
from duckdb_spark.relation import Connection
from duckdb_spark.sql.dialect import translate
from tests.conftest import SF_DIR, assert_matches_oracle

# words and punctuation the passes match on, so generated contents often
# look like statement text
_WORDS = (
    "LIMIT", "OFFSET", "NULL", "FROM", "SELECT", "GROUP BY", "ORDER BY",
    "GROUPING", "TIME", "TIMESTAMP", "DATE", "BIT", "INTERVAL", "lambda",
    "USING SAMPLE", "MATERIALIZED", "WITH TIME ZONE", "TABLE", "IN",
    "ROWS", "UNBOUNDED", "FOLLOWING", "QUALIFY", "EXCLUDE", "struct_pack",
    "row", "__dkenum1", "infinity", "t.c", "#1", "1_000", "1.0/0", "$$",
    "::INT", "//", "'", "(", ")", ",", ":", "%", "*", " ",
)
_CONTENTS = st.lists(
    st.one_of(st.sampled_from(_WORDS), st.text(max_size=3)), max_size=8,
).map("".join)
# DuckDB's parser rejects a NUL character anywhere in a statement. Spark
# reads a backslash in a string literal as an escape where DuckDB reads a
# backslash, a defect outside translation's passes, so these contents
# leave both out.
_RUNNABLE = st.lists(
    st.one_of(st.sampled_from(_WORDS), st.text(
        st.characters(blacklist_characters="\x00\\"), max_size=3)),
    max_size=8,
).map("".join)


def _select(s: str) -> str:
    return "SELECT '" + s.replace("'", "''") + "' AS s"


@settings(max_examples=300, deadline=None)
@given(_CONTENTS)
def test_translate_keeps_literal_contents(s):
    assert translate(_select(s)) == _select(s)


def _fired(sql: str) -> list[str]:
    trace: list = []
    with state.tracing(trace):
        translate(sql)
    return [name for name, _ in trace]


def test_equal_literals_stay_equal():
    # the ORDER BY key is one of the DISTINCT items, so the statement is
    # not rewritten into the DISTINCT ON form
    sql = ("SELECT DISTINCT concat(a, '-') FROM t "
           "ORDER BY concat(a, '-')")
    assert "distinct_order_by" not in _fired(sql)


def test_struct_concat_reads_key_names():
    with pytest.raises(ValueError, match='duplicate STRUCT entry "a"'):
        translate("SELECT struct_concat(struct_pack(a := 1), "
                  "struct_pack(a := 2)) AS s")
    with pytest.raises(ValueError, match="Cannot mix named and unnamed"):
        translate("SELECT struct_concat(struct_pack(a := 1), row(2)) AS s")
    assert "'col3', 3" in translate(
        "SELECT struct_concat(row(1, 2), row(3)) AS s")


def test_code_characters_outside_literals_survive():
    # the private-use characters the mask writes its codes in, found in
    # an identifier and a comment, come back unchanged
    p = chr(0xE000) + chr(0xE001)
    sql = f'SELECT \'a\' AS "x{p}" FROM t -- {p}\n'
    assert translate(sql) == f"SELECT 'a' AS `x{p}` FROM t -- {p}\n"


# contents that match some pass's pattern
SHAPES = (
    "v 1_000", "LIMIT NULL", "GROUPING(t.c)", "BIT '01'", "1.0/0", "$$x$$",
    "lambda x: 1", "TIME WITH TIME ZONE", "a (FROM b", "x USING SAMPLE 5%",
    "ORDER BY *", "GROUP BY ()", "TIMESTAMP '2020-01-01'", "struct_pack()",
    "ROWS UNBOUNDED FOLLOWING", "x IN (SELECT 1)", "__dkenum1",
    "LIMIT 99999999999", "TIME '12:00:00'",
)


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark)


@pytest.fixture(scope="module")
def duck():
    d = duckdb.connect()
    yield d
    d.close()


@pytest.mark.parametrize("s", SHAPES)
def test_literal_shape_matches_duckdb(con, duck, s):
    assert_matches_oracle(con.sql(_select(s)).df(), duck, _select(s))


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(s=_RUNNABLE)
def test_literal_matches_duckdb(con, duck, s):
    assert_matches_oracle(con.sql(_select(s)).df(), duck, _select(s))


# ORACLE texts with `#N` inside literals (perfbench/workloads.py lists
# them in SQL_SMALL_EXCLUDED for the wrong rows that caused)
HASH_LITERAL_TEXTS = ("tpch_q17", "tpch_q19", "tpcds_q10", "tpcds_q12",
                      "tpcds_q20", "tpcds_q41", "tpcds_q98")
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def sf_con(spark):
    from duckdb_spark.queries.tpcds import ensure_fixture

    ensure_fixture()
    return Connection(spark.newSession(), sf_dir=SF)


@pytest.fixture(scope="module")
def sf_duck():
    from scripts.check_contract import TABLES

    d = duckdb.connect()
    for t in TABLES:
        d.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield d
    d.close()


@pytest.mark.parametrize("name", HASH_LITERAL_TEXTS)
def test_hash_literal_oracle_text(sf_con, sf_duck, name):
    from duckdb_spark import queries

    queries.load_all()
    sql = queries.ORACLE[name]
    assert_matches_oracle(sf_con.sql(sql).df(), sf_duck, sql, name)
