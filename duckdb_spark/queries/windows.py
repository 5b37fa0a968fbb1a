"""Window-function queries (SURVEY.md §2.5 coverage).

Each exercises a distinct frame/executor shape from the reference's window
operator (`src/execution/operator/aggregate/physical_window.cpp`,
`src/function/window/`): ranking, offset (lag/lead), value (first/last),
aggregate-over-frame (ROWS + RANGE), ntile, percent_rank/cume_dist, and
QUALIFY. All hash-partition on the PARTITION BY key — the same
materialize-then-compute strategy the reference uses, distributed.

Each query is its DuckDB-dialect text, run through `Connection.sql`
(`queries.register_text`). win_frames and win_topk_per_group keep a
hand-written DataFrame builder, because their texts lose a paired A/B
against it at sf0.1; each builder's docstring gives its numbers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.functions import aggregates as A
from duckdb_spark.queries import register, register_text


def _t(spark, sf_dir, *names):
    return [read_table(spark, sf_dir, n) for n in names]


# running revenue per customer (ROWS UNBOUNDED PRECEDING frame)
register_text("win_running_total", """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running
FROM {orders}
""")


@register(
    "win_topk_per_group",
    oracle="""
SELECT p_brand, p_partkey, revenue, rnk FROM (
  SELECT p_brand, p_partkey, revenue,
         RANK() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS rnk
  FROM (SELECT p_brand, p_partkey, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey))
WHERE rnk <= 3
ORDER BY p_brand, rnk
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per brand (rank + filter ≡ QUALIFY).

    Catalyst turns rank<=k into WindowGroupLimit (partial top-k before the
    shuffle — the reference's topn_window_elimination pass, built in).

    Kept beside its text: at sf0.1 (4 cores) it runs in 447 ms against
    the text's 836 ms (medians of 10 alternating pairs; the text was
    slower in 10 of 10)."""
    lineitem, part = _t(spark, sf_dir, "lineitem", "part")
    rev = (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(A.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rnk")
        .orderBy("p_brand", "rnk")
    )


# inter-event gap via lag() over per-user time order
register_text("win_lag_gap", """
SELECT event_type, ROUND(AVG(gap_s), 3) AS avg_gap_s, COUNT(*) AS n
FROM (
  SELECT event_type,
         (epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) / 1e6 AS gap_s
  FROM {events})
WHERE gap_s IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""")


# 7-day moving average of daily revenue (unpartitioned ROWS frame,
# the reference's PhysicalStreamingWindow case)
register_text("win_moving_avg", """
SELECT day_epoch, ROUND(AVG(day_rev) OVER (ORDER BY day_epoch ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7
FROM (SELECT epoch(date_trunc('day', o_orderdate))::BIGINT AS day_epoch,
             SUM(o_totalprice) AS day_rev
      FROM {orders} GROUP BY 1)
ORDER BY day_epoch
""")


# account-balance quartiles via ntile(4)
register_text("win_ntile", """
SELECT q, COUNT(*) AS n, ROUND(AVG(c_acctbal), 2) AS avg_bal
FROM (SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS q FROM {customer})
GROUP BY q ORDER BY q
""")


# first_value/last_value over an unbounded frame, per supplier
register_text("win_first_last", """
SELECT DISTINCT l_suppkey,
       FIRST_VALUE(l_extendedprice) OVER w AS first_price,
       LAST_VALUE(l_extendedprice)  OVER w AS last_price,
       CAST(FIRST_VALUE(l_shipdate) OVER w AS DATE) AS first_ship,
       CAST(LAST_VALUE(l_shipdate)  OVER w AS DATE) AS last_ship
FROM {lineitem}
WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY l_suppkey
""")


# RANGE frame: per order, count same-customer orders within ±30 days
register_text("win_range_frame", """
SELECT o_orderkey,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS near_orders
FROM (SELECT o_orderkey, o_custkey, date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_no FROM {orders})
ORDER BY o_orderkey
""")


# percent_rank + cume_dist within part type
register_text("win_percent_rank", """
SELECT p_partkey,
       ROUND(PERCENT_RANK() OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey), 4) AS pr,
       ROUND(CUME_DIST()    OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey), 4) AS cd
FROM {part} ORDER BY p_partkey
""")


# QUALIFY (reference bind_select_node.cpp qualify binding): top
# supplier per nation
register_text("win_qualify", """
SELECT n_name, s_name, ROUND(s_acctbal, 2) AS bal
FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
QUALIFY ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) = 1
ORDER BY n_name
""")


# last_value(... IGNORE NULLS) over the rows before: the previous
# non-null value
register_text("win_lead_ignorenulls", """
SELECT event_id,
       LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_val
FROM (SELECT event_id, user_id, ts, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
      FROM {events})
ORDER BY event_id
""")


# all six ranking functions in one window pass (row_number, rank and
# dense_rank with ties on p_size, ntile, percent_rank, cume_dist)
register_text("win_ranking", """
SELECT p_partkey,
       ROW_NUMBER()   OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey) AS rn,
       RANK()         OVER (PARTITION BY p_type ORDER BY p_size) AS rnk,
       DENSE_RANK()   OVER (PARTITION BY p_type ORDER BY p_size) AS drnk,
       NTILE(4)       OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey) AS q,
       ROUND(PERCENT_RANK() OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey), 4) AS pr,
       ROUND(CUME_DIST()    OVER (PARTITION BY p_type ORDER BY p_retailprice, p_partkey), 4) AS cd
FROM {part} ORDER BY p_partkey
""")


# offset/value functions in one pass: lag, lead(2), ignore-null
# last_value, first/last over the full frame, nth_value(3)
register_text("win_offsets", """
SELECT event_id,
       ROUND(LAG(value)     OVER w, 2) AS prev_v,
       ROUND(LEAD(value, 2) OVER w, 2) AS next2_v,
       ROUND(LAST_VALUE(v2 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2) AS prev_nonnull,
       ROUND(FIRST_VALUE(value) OVER w, 2) AS first_v,
       ROUND(LAST_VALUE(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_v,
       ROUND(NTH_VALUE(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS third_v
FROM (SELECT *, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v2 FROM {events})
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
""")


@register(
    "win_frames",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS ma3_sum,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma3_n,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_no
                           RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING) AS BIGINT) AS near_orders,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY grp
                           RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS grp_cnt,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day_no, o_orderkey
                                     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
                                     EXCLUDE CURRENT ROW), 2) AS near_rev_excl,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY day_no
                                     RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING
                                     EXCLUDE GROUP), 2) AS near_rev_exgrp
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_no,
             DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY
                 date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS grp
      FROM orders)
ORDER BY o_orderkey
""",
)
def win_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates over every frame type in one pass: ROWS running total,
    bounded ROWS moving average, value RANGE frame, GROUPS frame
    (dense_rank→RANGE, as `dialect_window._rewrite_groups_frames` spells
    it for SQL text), and the EXCLUDE
    modifier (CURRENT ROW + GROUP, operators/exclude_frame.py) against
    DuckDB's native EXCLUDE execution.

    Kept beside its text: at sf0.1 (4 cores) it runs in 2534 ms against
    the text's 4202 ms (medians of 10 alternating pairs; the text was
    slower in 10 of 10)."""
    from duckdb_spark.operators.exclude_frame import sum_exclude

    (orders,) = _t(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("day_no"),
    )
    wgrp = Window.partitionBy("o_custkey").orderBy("day_no")
    base = base.withColumn("grp", F.dense_rank().over(wgrp))
    wo = Window.partitionBy("o_custkey").orderBy("day_no", "o_orderkey")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ma = wo.rowsBetween(-2, 0)
    rng = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-30, 30)
    grp_rng = Window.partitionBy("o_custkey").orderBy("grp").rangeBetween(-1, 1)
    excl_frame = wo.rowsBetween(-2, 2)
    return base.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(run), 2).alias("running"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(ma).cast("double"), 2
        ).alias("ma3_sum"),
        F.count("*").over(ma).alias("ma3_n"),
        F.count("*").over(rng).alias("near_orders"),
        F.count("*").over(grp_rng).alias("grp_cnt"),
        F.round(
            sum_exclude(F.col("o_totalprice"), excl_frame, ["o_custkey"],
                        [F.col("day_no"), F.col("o_orderkey")], "current row"), 2,
        ).alias("near_rev_excl"),
        F.round(
            sum_exclude(F.col("o_totalprice"), rng, ["o_custkey"],
                        [F.col("day_no")], "group"), 2,
        ).alias("near_rev_exgrp"),
    ).orderBy("o_orderkey")


# GROUPS-frame semantics (reference WindowBoundary *_GROUPS) spelled
# as a dense_rank + RANGE frame
register_text("win_groups_frame", """
SELECT o_custkey, o_orderkey,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY grp
                           RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS grp_cnt,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY grp
                                     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS grp_rev
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY day_no) AS grp
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_no
            FROM {orders}))
ORDER BY o_orderkey
""")


# EXCLUDE CURRENT ROW / GROUP / TIES frame modifiers (reference
# window_expression.hpp WindowExcludeMode; SURVEY §2.5): the collect-frame +
# array-HOF rewrite in sql/dialect.py
register_text("win_exclude_frames", """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(CAST(SUM(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
           EXCLUDE CURRENT ROW) AS DECIMAL(24,6)), 2) AS DOUBLE) AS s_cur,
       COUNT(*) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           EXCLUDE GROUP) AS c_grp,
       CAST(MAX(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           EXCLUDE TIES) AS DOUBLE) AS m_ties
FROM {orders} WHERE o_custkey % 40 = 1
ORDER BY o_custkey, o_orderkey
""")


# DISTINCT window aggregates over framed and partition-only specs
# (reference window_distinct_aggregator.cpp; SURVEY §2.5): the
# array_distinct(collect_list() OVER) rewrite
register_text("win_distinct_agg", """
SELECT o_orderkey,
       COUNT(DISTINCT o_orderpriority) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c_pri,
       CAST(SUM(DISTINCT o_orderkey % 7) OVER (
           PARTITION BY o_custkey) AS BIGINT) AS s_mod
FROM {orders} WHERE o_custkey % 40 = 1
ORDER BY o_orderkey
""")


# row-dependent frame bounds (reference window_boundaries_state.cpp
# START_EXPR/END_EXPR; SURVEY §2.5): the per-row frame materialization
# rewrite; the WHERE keeps the one ordered partition small at every SF
register_text("win_variable_bounds", """
SELECT o_orderkey,
       CAST(ROUND(CAST(AVG(o_totalprice) OVER (
           ORDER BY o_orderkey
           ROWS BETWEEN o_orderkey % 3 PRECEDING AND 2 FOLLOWING
       ) AS DECIMAL(24,6)), 2) AS DOUBLE) AS a
FROM {orders} WHERE o_custkey % 100 = 1
ORDER BY o_orderkey
""")
