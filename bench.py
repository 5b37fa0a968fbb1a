#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "duckdb": {"value", "queries"}}.

Paired protocol (reference harness, benchmark/README.md: warm-up plus timed
runs): each query runs once on Spark and once on pip DuckDB (its ORACLE
SQL over the same parquet, `SET threads` to the same core count) to warm
up, then ROUNDS alternating rounds Spark, DuckDB, Spark, DuckDB, ...; each
engine keeps its minimum. A host-noise window therefore lands on both
engines within the same minute, and the per-query ratio survives it
with no noise detector at all.

PRIMARY GATE SCALE (BASELINE.md): sf0.1 sits on Spark's ~0.2-1s per-job
floor, so per-query ratios there measure job launch, not operators. When
the primary pass runs at sf0.1, a second pass runs the same queries at sf1
(self-generated via scripts/gen_scaled_sf.py, FK-preserving 10×
replication; TPC-DS/ClickBench fixtures scale via their own mult) and
reports it under the extra "sf1" key, with the total and the per-query
geomean ratio against DuckDB. Same JSON line, same driver contract.

Usage: python bench.py
       SPARK_GRAFT_BENCH_QUERIES=tpcds_q04,tpcds_q14 python bench.py
"""

from __future__ import annotations

import gc
import json
import math
import os
import subprocess
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Must end in "sf1" so queries.bench_scale_mult scales the TPC-DS/CB fixtures.
SF1_DIR = "/tmp/duckdb_spark_bench_sf1"
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
# Timed rounds per engine per query, after one warm-up each.
ROUNDS = 3

# Headline set: the most plan-diverse queries (scan-agg, multi-join,
# semi/anti, window, asof, dedup, similarity, streaming) — extended as
# coverage grows.
HEADLINE = [
    "tpch_q01", "tpch_q03", "tpch_q05", "tpch_q06", "tpch_q08", "tpch_q09",
    "tpch_q13", "tpch_q18", "tpch_q21",
    "win_topk_per_group", "ev_timeseries", "ev_asof_join",
    "dedup_minhash_lsh", "text_quality", "sim_cosine_topk",
    # TPC-DS secondary gate (BASELINE.md): fact tables now scale with sf
    # (queries/tpcds.py ensure_fixture mult), so these measure star-join
    # throughput rather than the engines' per-job floors.
    "tpcds_q07", "tpcds_q25",
    # ClickBench slice: phrase top-k and the wide two-key group-by — the
    # scan-agg shapes of that workload; hits row count scales with sf too.
    "cb_q12", "cb_q32",
]

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def ensure_sf1() -> str | None:
    """Generate the sf1 fixture (10× sf0.1) if missing; None on failure."""
    marker = os.path.join(SF1_DIR, ".complete")
    if os.path.exists(marker):
        return SF1_DIR
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "scripts", "gen_scaled_sf.py")
    try:
        subprocess.run([sys.executable, script, "10", SF1_DIR], check=True,
                       capture_output=True, timeout=1200)
        open(marker, "w").write("ok\n")
        return SF1_DIR
    except Exception as e:  # noqa: BLE001 — sf1 pass is best-effort extra
        print(f"sf1 fixture generation failed: {e}", file=sys.stderr)
        return None


def _timed(run: Callable[[], object]) -> float:
    t0 = time.perf_counter()
    run()
    return time.perf_counter() - t0


def time_pair(spark_run: Callable[[], object],
              duckdb_run: Callable[[], object] | None = None,
              ) -> tuple[float, float | None]:
    """(spark_min, duckdb_min) seconds for one query: one warm-up each,
    then ROUNDS alternating rounds. Without `duckdb_run` the query is
    timed on Spark only and duckdb_min is None."""
    spark_run()
    if duckdb_run is not None:
        duckdb_run()
    # No reclaim between warm-up and the timed rounds: a full System.gc
    # right before measurement left cold CPU caches and slowed every
    # timed run ~20% (three full-harness A/B runs).
    spark_s: list[float] = []
    duckdb_s: list[float] = []
    for _ in range(ROUNDS):
        spark_s.append(_timed(spark_run))
        if duckdb_run is not None:
            duckdb_s.append(_timed(duckdb_run))
    return min(spark_s), (min(duckdb_s) if duckdb_s else None)


def geomean_ratio(spark_q: dict[str, float],
                  duckdb_q: dict[str, float]) -> float | None:
    """exp(mean(log(spark_q / duckdb_q))) over the queries both engines
    timed; Spark-only queries are skipped."""
    logs = [math.log(t / duckdb_q[n]) for n, t in spark_q.items()
            if t > 0 and duckdb_q.get(n, 0) > 0]
    return round(math.exp(sum(logs) / len(logs)), 3) if logs else None


def _reclaim(spark) -> None:
    """Release checkpoint blocks before the next query. Minhash and
    sessionization checkpoint eagerly; the blocks build up across queries
    and later queries degrade under block-manager eviction pressure
    (measured 6 s → 35 s drift; dedup 5.5 s isolated vs 8.6 s mid-bench).
    Python gc alone never triggers the ContextCleaner."""
    spark.catalog.clearCache()
    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001 — GC nudge is best-effort
        pass


def run_pass(spark, q, names: list[str], sf_dir: str,
             ) -> tuple[dict[str, float], dict[str, float]]:
    """Paired Spark/DuckDB times for `names` at one scale: one DuckDB
    connection over `sf_dir`'s parquet, with the TPC-DS/ClickBench oracle
    paths swapped for the scale's own fixtures."""
    import duckdb

    from duckdb_spark.queries import bench_scale_mult, clickbench, tpcds

    con = duckdb.connect()
    con.execute(f"SET threads TO {CPUS}")
    for t in TABLES:
        suffix = "/*.parquet" if os.path.isdir(
            f"{sf_dir}/{t}.parquet") else ""
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet{suffix}')"
        )
    mult = bench_scale_mult(sf_dir)
    subs = {}
    if mult > 1:
        subs[tpcds.fixture_dir(1)] = tpcds.ensure_fixture(mult)
        subs[clickbench.fixture_dir(1)] = clickbench.ensure_fixture(mult)
    spark_t: dict[str, float] = {}
    duckdb_t: dict[str, float] = {}
    try:
        for name in names:
            duckdb_run = None
            sql = q.ORACLE.get(name)
            if sql:
                for base, scaled in subs.items():
                    sql = sql.replace(base + "/", scaled + "/")
                duckdb_run = lambda s=sql: con.execute(s).fetchall()  # noqa: E731
            s, d = time_pair(
                lambda f=q.QUERIES[name]: f(spark, sf_dir).collect(),
                duckdb_run)
            spark_t[name] = round(s, 3)
            if d is not None:
                duckdb_t[name] = round(d, 3)
            _reclaim(spark)
    finally:
        con.close()
    return spark_t, duckdb_t


def _total(times: dict[str, float]) -> float:
    return round(sum(times.values()), 3)


def main() -> None:
    from duckdb_spark import queries as q
    from duckdb_spark.session import get_spark

    q.load_all()
    spark = get_spark(app_name="duckdb_spark_bench")

    # warmup: touch the biggest table so file listing/JIT are out of the way
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    names = [n for n in HEADLINE if n in q.QUERIES]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n.strip() for n in extra.split(",") if n.strip() in q.QUERIES]

    timings, ddb = run_pass(spark, q, names, SF_DIR)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total",
        "value": _total(timings),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "duckdb": {"value": _total(ddb), "queries": ddb},
    }

    # Secondary pass at the primary gate scale (sf1). Best-effort: any
    # failure leaves the primary contract output intact.
    if sf == "0.1" and ensure_sf1():
        try:
            t1, d1 = run_pass(spark, q, names, SF1_DIR)
            total, ddb_total = _total(t1), _total(d1)
            result["sf1"] = {
                "value": total,
                "queries": t1,
                "duckdb": {"value": ddb_total, "queries": d1},
                "ratio_vs_duckdb": (round(total / ddb_total, 3)
                                    if ddb_total > 0 else None),
                "geomean_ratio_vs_duckdb": geomean_ratio(t1, d1),
            }
        except Exception as e:  # noqa: BLE001
            print(f"sf1 pass failed: {e}", file=sys.stderr)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
