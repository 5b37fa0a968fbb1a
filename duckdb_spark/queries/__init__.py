"""Query catalog: every implemented operator exposed as (spark, sf_dir) →
DataFrame, with a DuckDB-oracle SQL string for the driver's correctness gate.

Modules register into QUERIES / ORACLE; __spark_entry__.py re-exports them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from duckdb_spark import state

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def bench_scale_mult(sf_dir: str) -> int:
    """Scale multiplier for the self-generated benchmark fixtures (TPC-DS /
    ClickBench), derived from the driver's sf dir: the base fixture is sized
    ~sf0.01, so sf0.1 → 10×, sf1 → 100× (fact tables scale linearly, dims
    stay fixed — dsdgen semantics). sf ≤ 0.01 (correctness gates) → 1, so
    the registered oracle strings, which bake the base fixture path, stay
    valid for every differential run."""
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(tail)
    except ValueError:
        return 1
    return max(1, int(round(sf / 0.01)))


def bind_views(spark: SparkSession, fixture: str, views: dict[str, str]) -> None:
    """Register each temp view of `views` (view name → parquet file stem in
    the `fixture` dir), unless this session already has this fixture's
    views. Registering costs one parquet schema read per view, which would
    otherwise be charged to every timed query call (VERDICT r06
    wrong-item 4)."""
    bound = state.of(spark).bound
    key = tuple(views)
    if bound.get(key) == fixture:
        return
    for view, stem in views.items():
        spark.read.parquet(f"{fixture}/{stem}.parquet").createOrReplaceTempView(view)
    bound[key] = fixture


def register(name: str, oracle: str | None = None):
    """Decorator: add a query builder (and optionally its oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# The driver's correctness gate hard-checks the FIRST 50 registered queries.
# ROUND-13 ROTATION (VERDICT r10 item 8: rotate EVERY round; any query
# whose implementation changed in-round MUST lead the next window):
# leads are the 7 queries this round restructured (asof single-scan,
# packed-key cb rollups, tpcds CTE materialization / single-scan q09),
# dedup_embedding_cosine (operator gained the auto-LSH fallback), and the
# 3 parity queries r12 rewrote onto reference-exact folds that ADVICE r12
# flagged as never driver-gated post-rewrite. The other 39 slots take the
# OLDEST green driver rows: the full r06 cohort (12) and 27 of the r07
# cohort, computed from CORRECTNESS_r01..r12; pre-verified by the
# driver-faithful scripts/check_contract.py.
PRIORITY: list[str] = [
    # r13-rewritten — post-rewrite driver evidence must lead the window
    "ev_asof_join", "cb_q30", "cb_q31", "cb_q32",
    "tpcds_q09", "tpcds_q14", "tpcds_q31",
    "tpcds_q04", "tpcds_q11", "tpcds_q74", "tpcds_q47", "tpcds_q57",
    "tpcds_q23", "dedup_embedding_cosine",
    # r12 fold rewrites never driver-gated post-rewrite (ADVICE r12 item 2)
    "agg_product", "agg_distributive", "fn_wave2_agg",
    # last green row r06 (oldest remaining evidence)
    "tpch_q02", "win_frames", "win_topk_per_group", "tpcds_q28",
    "tpcds_q36", "tpcds_q41", "tpcds_q43", "tpcds_q50", "tpcds_q52",
    "tpcds_q53", "tpcds_q63", "tpcds_q93",
    # last green row r07
    "tpcds_q02", "tpcds_q16", "tpcds_q21", "tpcds_q30", "tpcds_q32",
    "tpcds_q37", "tpcds_q40", "tpcds_q45", "tpcds_q46",
    "tpcds_q51", "tpcds_q59", "tpcds_q62", "tpcds_q69",
    "tpcds_q75", "tpcds_q76", "tpcds_q05", "tpcds_q66",
    "tpcds_q08", "tpcds_q10", "tpcds_q18", "tpcds_q22",
]


def load_all() -> None:
    """Import every query module (side effect: registration), then reorder
    the registry so PRIORITY queries occupy the driver's check window."""
    from duckdb_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        clickbench,
        dedup,
        dml_queries,
        functions_parity,
        similarity,
        streaming_queries,
        text,
        tpcds,
        tpch,
        tpch2,
        windows,
    )

    # Past the window: the r02-green suites first (regression signal lives
    # in tests/test_queries.py between driver rounds), then the r01-green
    # narrows whose coverage the merged window queries carry.
    secondary = [
        *[f"tpch_q{i:02d}" for i in range(1, 23)],
        "win_ranking", "win_offsets", "win_frames", "win_topk_per_group",
        "win_qualify", "agg_grouping", "agg_distributive", "agg_stats_wide",
        "agg_collect_list", "dedup_exact", "dedup_minhash_sig", "dedup_simhash",
        "dedup_ngram_jaccard", "dedup_embedding_cosine", "sim_lsh_topk",
        "sim_label_centroids", "text_token_stats", "text_profile",
        "stream_windowed_counts", "stream_session_windows", "ev_range_join_all",
        "ev_timeseries", "fn_list_batch", "sample_bernoulli", "dml_batch",
        "agg_grouping_sets", "agg_rollup", "agg_cube", "agg_filter_distinct",
        "agg_stats", "ev_sessionization", "ev_time_bucket", "ev_fill_gaps",
        "ev_range_join", "text_langid",
    ]
    # A PRIORITY typo must never zero out a driver round (VERDICT r04): an
    # unregistered name is dropped with a warning, not raised — the driver
    # still checks every real query in the window.
    missing = [n for n in PRIORITY if n not in QUERIES]
    if missing:
        import warnings

        warnings.warn(
            f"PRIORITY names not registered (dropped from window): {missing}",
            stacklevel=2,
        )
    head = [n for n in PRIORITY if n in QUERIES] + [
        n for n in secondary if n in QUERIES
    ]
    ordered = head + [n for n in QUERIES if n not in head]
    for d in (QUERIES, ORACLE):
        items = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(items)
