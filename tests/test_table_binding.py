"""Binding an sf_dir's tables on first mention.

`Connection(spark, sf_dir)` lists the dir and touches nothing else. A
statement binds each listed table it names that the session catalog
lacks, as DuckDB's binder falls back to a replacement scan; a user's
table or view of that name wins. Registered query texts read their
tables by path and do not depend on these names at all.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampNTZType, TimestampType

from duckdb_spark import queries, state
from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR, TABLES, assert_matches_oracle, spark_jobs

ORDERS = f"{SF_DIR}/orders.parquet"
SUBSET = "o_orderkey % 7 = 0"
COUNT = "SELECT count(*), round(sum(o_totalprice), 2) FROM orders"


@pytest.fixture
def con(spark):
    return Connection(spark.newSession(), sf_dir=SF_DIR)


def _subset(con):
    return con.read_parquet(ORDERS).filter(SUBSET)


def test_a_view_registered_first_wins(con, oracle):
    con.register("orders", _subset(con))
    want = oracle.execute(f"SELECT count(*), round(sum(o_totalprice), 2) "
                          f"FROM read_parquet('{ORDERS}') WHERE {SUBSET}").fetchall()
    assert [tuple(r) for r in con.sql(COUNT).fetchall()] == want


def test_a_view_registered_after_first_mention_wins(con, oracle):
    assert [tuple(r) for r in con.sql(COUNT).fetchall()] == oracle.execute(COUNT).fetchall()
    con.register("orders", _subset(con))
    want = oracle.execute(f"SELECT count(*), round(sum(o_totalprice), 2) "
                          f"FROM read_parquet('{ORDERS}') WHERE {SUBSET}").fetchall()
    assert [tuple(r) for r in con.sql(COUNT).fetchall()] == want
    queries.load_all()
    assert_matches_oracle(queries.QUERIES["tpch_q03"](con.spark, SF_DIR), oracle,
                          queries.ORACLE["tpch_q03"], name="tpch_q03")


def test_a_dropped_view_binds_again(con, oracle):
    con.register("orders", _subset(con))
    con.spark.catalog.dropTempView("orders")
    assert [tuple(r) for r in con.sql(COUNT).fetchall()] == oracle.execute(COUNT).fetchall()


def test_listing_the_catalog_binds_every_table(con, oracle):
    """(Tables other tests left in the shared warehouse are not temporary.)"""
    got = {r["tableName"] for r in con.sql("SHOW TABLES").fetchall() if r["isTemporary"]}
    assert got == {r[0] for r in oracle.execute("SHOW TABLES").fetchall()} == set(TABLES)
    fresh = Connection(con.spark.newSession(), sf_dir=SF_DIR)
    names = fresh.sql("SELECT table_name FROM duckdb_tables() WHERE temporary").fetchall()
    assert {r[0] for r in names} == set(TABLES)


def test_a_view_bound_for_another_sf_dir_is_bound_again(con, oracle):
    """Another Connection's binding of `orders` on the session does not
    hide this one's; a user's view over either wins for both."""
    other = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    first = con.sql(COUNT).fetchall()
    second = Connection(con.spark, sf_dir=other).sql(COUNT).fetchall()
    assert [tuple(r) for r in first] == oracle.execute(COUNT).fetchall()
    assert [tuple(r) for r in second] == oracle.execute(
        COUNT.replace("orders", f"read_parquet('{other}/orders.parquet')")).fetchall()
    assert con.sql(COUNT).fetchall() == first
    con.register("orders", _subset(con))
    want = oracle.execute(f"SELECT count(*), round(sum(o_totalprice), 2) "
                          f"FROM read_parquet('{ORDERS}') WHERE {SUBSET}").fetchall()
    for d in (other, SF_DIR):
        assert [tuple(r) for r in Connection(con.spark, sf_dir=d).sql(COUNT).fetchall()] == want


def test_table_binds_on_first_use(con, oracle):
    assert con.table("nation").count() == oracle.execute(
        "SELECT count(*) FROM nation").fetchone()[0]


def test_bare_events_reads_timestamps(con, oracle):
    """`events.ts` keeps its `timestamp` type (the file's is NTZ)."""
    df = con.sql("SELECT * FROM events").df()
    assert df.schema["ts"].dataType == TimestampType()
    sql = "SELECT min(ts), max(ts), count(DISTINCT ts) FROM events"
    assert_matches_oracle(con.sql(sql).df(), oracle, sql)


def test_nanosecond_timestamps_read_as_duckdb_reads_them(spark, oracle, tmp_path):
    """A TIMESTAMP(NANOS) column is a µs timestamp by path, truncated as
    DuckDB's reader truncates it, and bare `events` keeps `timestamp`."""
    ns = [1_700_000_000_123_456_789, -5_000, 86_400_999_999_999, None]
    pq.write_table(pa.table({"id": [1, 2, 3, 4], "ts": pa.array(ns, pa.timestamp("ns")),
                             "utc": pa.array(ns, pa.timestamp("ns", tz="UTC"))}),
                   tmp_path / "events.parquet")
    con = Connection(spark.newSession(), sf_dir=str(tmp_path))
    path = f"read_parquet('{tmp_path}/events.parquet')"
    df = con.sql(f"SELECT * FROM {path}").df()
    assert df.schema["ts"].dataType == TimestampNTZType()
    assert df.schema["utc"].dataType == TimestampType()
    sql = f"SELECT id, ts, epoch_us(utc) AS utc FROM {path}"
    assert_matches_oracle(con.sql(sql).df(), oracle, sql)
    bare = con.sql("SELECT id, ts FROM events").df()
    assert bare.schema["ts"].dataType == TimestampType()
    assert_matches_oracle(bare, oracle, f"SELECT id, ts FROM {path}")


@pytest.mark.parametrize("name", [
    "win_lag_gap", "win_lead_ignorenulls", "win_offsets", "agg_entropy"])
def test_events_queries_match_by_path_and_by_name(con, oracle, name):
    queries.load_all()
    assert_matches_oracle(queries.QUERIES[name](con.spark, SF_DIR), oracle,
                          queries.ORACLE[name], name=name)
    # read by path: the bare name is not bound
    assert "events" not in {t.name for t in con.spark.catalog.listTables()}
    assert_matches_oracle(con.sql(queries.ORACLE[name]).df(), oracle,
                          queries.ORACLE[name], name=name)


def test_binding_runs_no_job(con):
    assert spark_jobs(con.spark, lambda: con.sql("SELECT * FROM events, lineitem")) == 0
    assert {t.name for t in con.spark.catalog.listTables() if t.isTemporary} == \
        {"events", "lineitem"}


def test_udfs_register_when_a_text_names_them(con):
    assert state.of(con.spark).udfs == set()
    con.sql("SELECT 1 AS a")
    assert state.of(con.spark).udfs == set()
    assert con.sql("SELECT typeof([1, 2])").fetchone()[0] == "INTEGER[]"
    assert state.of(con.spark).udfs == {"__ducktype"}
    assert con.sql("SELECT token FROM tokenize_rows('a b') ORDER BY pos").fetchall() \
        == [("a",), ("b",)]
    assert state.of(con.spark).udfs == {"__ducktype", "tokenize_rows", "ngram_rows"}
