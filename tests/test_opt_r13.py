"""Focused tests for the round-13 optimization rewrites.

Each test pins a restructured operator/query against its pre-rewrite form
(or a brute-force reference) on fixtures that exercise the edge cases the
rewrite's equivalence argument depends on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _mk_events(spark):
    """Small asof fixture with every edge the union-trick window relies on:
    build/probe ties at equal ts (build must win), unmatched probes,
    multiple builds before one probe, multiple probes after one build."""
    rows = [
        # (event_id, user_id, ts, event_type, value)
        (1, 1, 100, "view", 10.0),
        (2, 1, 200, "view", 20.0),
        (3, 1, 200, "purchase", 99.0),   # tie with view at 200 → matches it
        (4, 1, 300, "purchase", 98.0),
        (5, 2, 50, "purchase", 97.0),    # no prior view → unmatched
        (6, 2, 60, "view", 30.0),
        (7, 2, 70, "purchase", 96.0),
        (8, 2, 80, "purchase", 95.0),    # two probes after one build
        (9, 3, 10, "view", 40.0),        # build with no probe
        (10, 1, 150, "click", 1.0),      # neither side → dropped
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string, value double"
    )


@pytest.mark.parametrize("how", ["left", "inner"])
@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_self_join_matches_asof_join(spark, how, direction):
    from duckdb_spark.operators.asof import asof_join, asof_self_join

    ev = _mk_events(spark)
    probe_pred = F.col("event_type") == "purchase"
    build_pred = F.col("event_type") == "view"
    union_form = asof_join(
        ev.filter(probe_pred),
        ev.filter(build_pred).select("user_id", "ts", "value"),
        on="ts", by="user_id", how=how, direction=direction,
    )
    single_form = asof_self_join(
        ev.filter(F.col("event_type").isin("purchase", "view")),
        on="ts", by="user_id",
        probe_pred=probe_pred, build_pred=build_pred,
        build_payload=["value"], how=how, direction=direction,
    )
    a = sorted(tuple(r) for r in union_form.collect())
    b = sorted(tuple(r) for r in single_form.collect())
    assert union_form.columns == single_form.columns
    assert a == b and len(a) > 0
    # the point of the rewrite: one scan of the source instead of two
    # (AQE's toString repeats the plan under "== Initial Plan ==" — count
    # only the final section)
    plan = single_form._jdf.queryExecution().executedPlan().toString()
    assert plan.split("== Initial Plan ==")[0].count("Scan ExistingRDD") <= 1


def test_asof_self_join_global_no_by(spark):
    from duckdb_spark.operators.asof import asof_join, asof_self_join

    ev = _mk_events(spark)
    probe_pred = F.col("event_type") == "purchase"
    build_pred = F.col("event_type") == "view"
    union_form = asof_join(
        ev.filter(probe_pred),
        ev.filter(build_pred).select("ts", "value"),
        on="ts", by=None, how="left",
    )
    single_form = asof_self_join(
        ev.filter(F.col("event_type").isin("purchase", "view")),
        on="ts", by=None,
        probe_pred=probe_pred, build_pred=build_pred,
        build_payload=["value"], how="left",
    )
    assert sorted(tuple(r) for r in union_form.collect()) == sorted(
        tuple(r) for r in single_form.collect()
    )


def test_cb_q32_packed_key_matches_sql_form(spark):
    """The packed-key plan must reproduce the reference SQL text exactly
    (same rows, same schema) on the base fixture."""
    from duckdb_spark.queries import clickbench as CB
    from duckdb_spark.queries import run_text
    from tests.conftest import SF_DIR

    ref = run_text(spark, SF_DIR, CB.FIXTURE.read(CB._CB_Q32_SQL))
    got = CB.cb_q32(spark, SF_DIR)
    # name+type must match (nullability may differ: COUNT(*) is
    # non-nullable, the packed SUM is nullable — pandas dtypes identical)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in ref.collect()]


def test_fold_guard_refuses_oversized_groups(spark):
    """VERDICT r12 item 6: the reference-exact folds buffer whole groups,
    so the containment guard must REFUSE a group above the limit at
    runtime (and pass values through below it)."""
    import pytest as _pytest

    from duckdb_spark.functions import aggregates as A

    df = spark.range(10).select(
        F.lit(1).alias("g"),
        F.struct(F.col("id").cast("double").alias("v")).alias("e"),
    )
    grouped = df.groupBy("g").agg(F.collect_list("e").alias("vals"))
    old = A._FOLD_GROUP_LIMIT
    try:
        A._FOLD_GROUP_LIMIT = 5
        with _pytest.raises(Exception, match="fold group exceeds"):
            grouped.select(A.product_fold(F.col("vals"), "v")).collect()
        A._FOLD_GROUP_LIMIT = 1_000
        [row] = grouped.select(
            A.product_fold(F.col("vals"), "v").alias("p")
        ).collect()
        assert row["p"] == 0.0  # 0*1*...*9 sequential product
    finally:
        A._FOLD_GROUP_LIMIT = old
