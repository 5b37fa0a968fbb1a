"""Differential test: every registered query vs the DuckDB oracle.

This is the same gate the driver runs (CORRECTNESS_r{N}.json), at sf0.001
for speed. Every registered query has an oracle entry.
"""

from __future__ import annotations

import pytest

from duckdb_spark import queries as q
from tests.conftest import SF_DIR, assert_matches_oracle

q.load_all()

WITH_ORACLE = sorted(n for n in q.QUERIES if n in q.ORACLE)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, oracle, name):
    df = q.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, oracle, q.ORACLE[name], name=name)


def test_every_query_has_an_oracle_text():
    assert sorted(set(q.QUERIES) - set(q.ORACLE)) == []


def test_no_driver_unstable_output_types(spark):
    """Registry-wide gate (VERDICT r07 item 1b): no registered query may
    return a DECIMAL output column. The driver's value-hash renders Spark's
    Decimal('23.70') differently from DuckDB's pandas float 23.7, so raw
    DECIMAL passthrough fails the hash even when every value is numerically
    identical (tpcds_q12/q20/q65/q98, rounds 6-7). Schema inspection is
    analysis-only — no execution."""
    from pyspark.sql.types import DecimalType

    bad = []
    for name, fn in q.QUERIES.items():
        try:
            df = fn(spark, SF_DIR)
        except Exception:  # noqa: BLE001 — runnability is the other tests' job
            continue
        decs = [f.name for f in df.schema.fields
                if isinstance(f.dataType, DecimalType)]
        if decs:
            bad.append(f"{name}: DECIMAL output column(s) {decs} — "
                       "CAST(... AS DOUBLE) in both query and oracle")
    assert not bad, "\n".join(bad)


def test_every_oracle_parses(oracle):
    """Cheap syntactic gate: every registered oracle must at least be
    parseable by DuckDB (EXPLAIN, no execution). Guards against committing
    a query that was never run (tpcds_q02, round 6)."""
    bad = []
    for name, sql in q.ORACLE.items():
        try:
            oracle.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: {type(e).__name__}: {e}")
    assert not bad, "\n".join(bad)


def test_materialized_ctes_run_once_and_leave_no_views(spark, monkeypatch):
    """The TPC-DS queries whose SQL marks CTEs `AS MATERIALIZED` checkpoint
    each marked CTE once per call, under a per-call view name that is
    dropped again."""
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    checkpoints = []
    real = cls.localCheckpoint
    monkeypatch.setattr(cls, "localCheckpoint", lambda df, *a, **k: (
        checkpoints.append(df), real(df, *a, **k))[1])
    names = ("tpcds_q04", "tpcds_q11", "tpcds_q14", "tpcds_q23",
             "tpcds_q31", "tpcds_q47", "tpcds_q57", "tpcds_q74")
    for name in names:  # the first call of each opens its tables' scan views
        q.QUERIES[name](spark, SF_DIR)
    before = {t.name for t in spark.catalog.listTables()}
    for name in names:
        checkpoints.clear()
        q.QUERIES[name](spark, SF_DIR)
        assert len(checkpoints) == q.ORACLE[name].count("AS MATERIALIZED") > 0, name
    assert {t.name for t in spark.catalog.listTables()} == before
