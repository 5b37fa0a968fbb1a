"""The registered TPC-H oracle texts, VERBATIM, through Connection.sql.

The DuckDB-dialect SQL that `duckdb_spark.queries.tpch` registers as each
query's ORACLE is fed unmodified through the macro-expansion +
dialect-translation + Catalyst path and compared to pip duckdb executing
the same text: an arbitrary-SQL entry point check over TPC-H shapes
(joins, date ranges, CASE aggregates, IN-subqueries), not over the
DataFrame builders.
"""

from __future__ import annotations

import math

import pytest

from duckdb_spark.queries import ORACLE, load_all
from tests.conftest import SF_DIR

RUNNABLE = ["q01", "q05", "q06", "q07", "q08", "q14", "q18"]


@pytest.fixture(scope="module")
def sql_con(spark):
    from duckdb_spark.catalog import register_views
    from duckdb_spark.relation import Connection

    load_all()
    register_views(spark, SF_DIR)
    return Connection(spark)


@pytest.mark.parametrize("name", RUNNABLE)
def test_oracle_sql_text_verbatim(sql_con, oracle, name):
    sql = ORACLE[f"tpch_{name}"].strip().rstrip(";")
    want = oracle.execute(sql).fetchall()
    got = [tuple(r) for r in sql_con.sql(sql).fetchall()]
    assert len(got) == len(want), (name, len(got), len(want))

    def norm(rows):
        return sorted(
            tuple(round(x, 4) if isinstance(x, float) else x for x in r) for r in rows
        )

    for rg, rw in zip(norm(got), norm(want)):
        for a, b in zip(rg, rw):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)):
                # raw double sums: engines may differ in final ULPs
                assert math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-4), (
                    name, a, b)
            else:
                assert str(a) == str(b), (name, a, b)
