"""Shared fixtures: one SparkSession per test run + DuckDB-oracle compare.

Mirrors the driver's correctness gate (SURVEY.md §5(c)): run the Spark query
and the oracle SQL on the same parquet, sort columns by name, sort rows,
compare values (floats to 1e-9 relative — the driver hashes exact values, so
queries must emit *rounded* numerics; the tolerance here only absorbs
float-repr noise in the comparison itself).
"""

from __future__ import annotations

import gc
import math
import os
import sys
import threading
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    from duckdb_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = get_spark(app_name="duckdb_spark_tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def spark_jobs(spark, fn) -> int:
    """The number of Spark jobs `fn()` runs, counted in a job group of
    its own."""
    sc = spark.sparkContext
    group = f"spark_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def py4j_calls(spark, fn) -> int:
    """The number of py4j round trips `fn()` makes to the JVM, counted at
    the gateway client's `send_command` on the calling thread. py4j's
    finalizer thread sends the deletes of JVM objects Python dropped
    before, on the same client; they are not `fn`'s, so they are not
    counted."""
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls, caller = 0, threading.get_ident()

    def counted(*args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        del client.send_command
    return calls


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "asDict"):  # Spark Row (struct) ↔ DuckDB struct dict
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.asDict().items()))
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    data = sorted(
        [tuple(_norm_cell(r[i]) for i in order) for r in rows], key=_sort_key
    )
    return cols, data


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(float(a), b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def assert_matches_oracle(spark_df, oracle_con, sql: str, name: str = "") -> None:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    o_res = oracle_con.execute(sql)
    o_cols = [d[0] for d in o_res.description]
    o_rows = o_res.fetchall()

    sc, sd = normalize(s_cols, s_rows)
    oc, od = normalize(o_cols, o_rows)
    assert sc == [c.lower() for c in oc] or sc == oc, f"{name}: columns {sc} != {oc}"
    assert len(sd) == len(od), f"{name}: row count {len(sd)} != {len(od)}"
    for i, (srow, orow) in enumerate(zip(sd, od)):
        for c, (sv, ov) in enumerate(zip(srow, orow)):
            assert _cells_equal(sv, ov), (
                f"{name}: row {i} col {sc[c]}: spark={sv!r} oracle={ov!r}\n"
                f"spark row: {srow}\noracle row: {orow}"
            )
