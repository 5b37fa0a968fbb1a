"""Second TPC-H wave: q02/q11/q16/q20 shapes adapted to the fixture
(no partsupp table — lineitem's (partkey, suppkey) pairs with unit price
l_extendedprice/l_quantity stand in for the supplier-part catalog). They
are texts run through `Connection.sql`, as in `tpch`; q11 keeps its
builder, whose docstring gives its A/B numbers. The sketch_* queries stay
builders: they exist to run the operators of `operators/sketch.py`, which
their oracle texts do not call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.functions import aggregates as A
from duckdb_spark.queries import register, register_text


def _t(spark, sf_dir, *names):
    return [read_table(spark, sf_dir, n) for n in names]


# q02 — minimum-cost supplier (reference q02.sql shape): correlated-min
# subquery as a grouped min; supplycost is the min unit price per (part, supp)
register_text("tpch_q02", """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         MIN(l_extendedprice / l_quantity) AS supplycost
  FROM {lineitem} WHERE l_quantity > 0 GROUP BY 1, 2
),
best AS (
  SELECT partkey, MIN(supplycost) AS min_cost FROM ps
  JOIN {supplier} ON suppkey = s_suppkey
  JOIN {nation} ON s_nationkey = n_nationkey
  JOIN {region} ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY partkey
)
SELECT s_name, n_name, p_partkey, p_brand, ROUND(ps.supplycost, 4) AS cost
FROM {part}
JOIN ps ON p_partkey = ps.partkey
JOIN best ON best.partkey = ps.partkey AND ps.supplycost = best.min_cost
JOIN {supplier} ON ps.suppkey = s_suppkey
JOIN {nation} ON s_nationkey = n_nationkey
JOIN {region} ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'LARGE'
ORDER BY s_name, p_partkey
LIMIT 100
""")


@register(
    "tpch_q11",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS value
  FROM lineitem GROUP BY 1, 2
),
scoped AS (
  SELECT partkey, value FROM ps
  JOIN supplier ON suppkey = s_suppkey
  WHERE s_nationkey IN (3, 7, 11)
)
SELECT partkey, CAST(ROUND(SUM(value), 2) AS DOUBLE) AS total_value
FROM scoped
GROUP BY partkey
HAVING SUM(value) > (SELECT SUM(value) * 0.001 FROM scoped)
ORDER BY total_value DESC, partkey
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important stock identification (reference q11.sql): grouped value
    with a global-fraction HAVING — scalar subquery computed in the same
    shuffle via an unpartitioned window (no second scan).

    Kept beside its text: at sf0.1 (4 cores) it runs in 729 ms against
    the text's 1513 ms (medians of 10 alternating pairs; the text was
    slower in 10 of 10)."""
    lineitem, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    # value stays in scaled-long "cents" through BOTH aggregation levels —
    # rounding to double between the sums would reintroduce the .xx5
    # boundary divergence money_sum exists to avoid.
    cents = A.money_scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    scoped = (
        lineitem.groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(cents).alias("value_c"))
        .join(
            supplier.filter(F.col("s_nationkey").isin(3, 7, 11)),
            F.col("suppkey") == F.col("s_suppkey"),
        )
    )
    per_part = scoped.groupBy("partkey").agg(F.sum("value_c").alias("part_c"))
    w = Window.partitionBy()
    return (
        per_part.withColumn("grand_c", F.sum("part_c").over(w))
        .filter(F.col("part_c") > F.col("grand_c") * 0.001)
        .select(
            "partkey",
            F.round(F.col("part_c").cast("decimal(28,0)") / 10000, 2)
            .cast("double").alias("total_value"),
        )
        .orderBy(F.desc("total_value"), "partkey")
    )


# q16 — parts/supplier relationship (reference q16.sql): NOT IN over
# negative-balance suppliers
register_text("tpch_q16", """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""")


# q20 — potential part promotion (reference q20.sql shape): suppliers who
# shipped >30% of a part's yearly volume
register_text("tpch_q20", """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
),
part_total AS (
  SELECT l_partkey AS tp_partkey, SUM(l_quantity) AS total_qty
  FROM {lineitem}
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
)
SELECT s_name, s_suppkey
FROM {supplier}
WHERE s_suppkey IN (
  SELECT l_suppkey FROM shipped JOIN part_total ON l_partkey = tp_partkey
  JOIN {part} ON p_partkey = l_partkey
  WHERE p_name LIKE 'p%' AND qty > 0.3 * total_qty)
  AND s_nationkey IN (1, 2, 3, 4, 5)
ORDER BY s_suppkey
""")


@register(
    "sketch_approx_top_k",
    oracle="""
SELECT u AS value, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS BIGINT) AS rank FROM (
  SELECT u, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, u) AS rank FROM (
    SELECT event_type AS u, COUNT(*) AS cnt FROM events GROUP BY 1))
WHERE rank <= 3 ORDER BY rank
""",
)
def sketch_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (reference approx_top_k.cpp) — exact partial top-k
    (see operators/sketch.py scale note)."""
    from duckdb_spark.operators.sketch import approx_top_k

    (events,) = _t(spark, sf_dir, "events")
    return approx_top_k(events, "event_type", k=3).orderBy("rank")


@register(
    "sketch_lttb",
    # Pure-SQL LTTB: the sequential bucket selection is unrolled as a
    # recursive CTE carrying the previously-selected point index. Bucket
    # edges replicate numpy linspace(1, n-1, 19).astype(int): edge(m) =
    # floor(1 + m*w) with w = (v-2)/18.0 double, endpoint pinned to v-1
    # (reference lttb.cpp:276 computes the same floor(m*width)+1).
    oracle="""
WITH RECURSIVE pts AS (
  SELECT user_id, epoch_us(ts) AS x, value AS y,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) - 1 AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS v
  FROM events WHERE user_id < 10
),
small AS (SELECT user_id, x, y FROM pts WHERE v <= 20),
big AS (SELECT * FROM pts WHERE v > 20),
params AS (SELECT user_id, MAX(v) AS v, (MAX(v) - 2) / 18.0 AS w FROM big GROUP BY user_id),
edges AS (
  SELECT p.user_id, r.range AS m,
         CASE WHEN r.range = 18 THEN p.v - 1
              ELSE CAST(FLOOR(1 + r.range * p.w) AS BIGINT) END AS e,
         p.v
  FROM params p, range(0, 19) r
),
bkt AS (
  SELECT e1.user_id, e1.m AS b, e1.e AS lo, GREATEST(e2.e, e1.e + 1) AS hi,
         e2.e AS nlo, COALESCE(e3.e, e1.v) AS nhi, e1.v AS v
  FROM edges e1
  JOIN edges e2 ON e2.user_id = e1.user_id AND e2.m = e1.m + 1
  LEFT JOIN edges e3 ON e3.user_id = e1.user_id AND e3.m = e1.m + 2
  WHERE e1.m < 18
),
navg AS (
  SELECT k.user_id, k.b, AVG(p.x) AS bx, AVG(p.y) AS by
  FROM bkt k JOIN big p ON p.user_id = k.user_id AND p.i >= k.nlo AND p.i < k.nhi
  GROUP BY k.user_id, k.b
),
sel AS (
  SELECT user_id, -1 AS b, CAST(0 AS BIGINT) AS prev_i FROM params
  UNION ALL
  SELECT s.user_id, k.b,
    (SELECT c.i FROM big c
      WHERE c.user_id = s.user_id AND c.i >= k.lo AND c.i < k.hi
      ORDER BY ABS((pr.x - a.bx) * (c.y - pr.y) - (pr.x - c.x) * (a.by - pr.y)) DESC,
               c.i ASC
      LIMIT 1) AS prev_i
  FROM sel s
  JOIN bkt k ON k.user_id = s.user_id AND k.b = s.b + 1
  JOIN navg a ON a.user_id = s.user_id AND a.b = k.b
  JOIN big pr ON pr.user_id = s.user_id AND pr.i = s.prev_i
),
result AS (
  SELECT b.user_id, b.x, b.y FROM big b JOIN sel s ON s.user_id = b.user_id AND b.i = s.prev_i
  UNION ALL
  SELECT user_id, x, y FROM big WHERE i = v - 1
  UNION ALL
  SELECT user_id, x, y FROM small
)
SELECT user_id, x, y FROM result ORDER BY user_id, x
""",
)
def sketch_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling of each user's event-value series to 20 points
    (reference lttb.cpp:276 — same floor-based bucket edges, first-argmax
    tie-break). Full value-hash oracle: the sequential selection is
    reproduced in DuckDB SQL via a recursive CTE over bucket index."""
    from duckdb_spark.operators.sketch import lttb

    (events,) = _t(spark, sf_dir, "events")
    small = events.filter(F.col("user_id") < 10).select(
        "user_id", F.unix_micros("ts").alias("x"), F.col("value").alias("y")
    )
    return lttb(small, "x", "y", n_out=20, by=["user_id"]).orderBy("user_id", "x")


@register(
    "sketch_summarize",
    oracle="""
SELECT column_name, min, max, CAST(count AS BIGINT) AS count,
       ROUND(CAST(null_percentage AS DOUBLE), 2) AS null_percentage
FROM (SUMMARIZE orders) ORDER BY column_name
""",
)
def sketch_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUMMARIZE orders (reference bind_summarize.cpp) — one-pass per-column
    profile, differential on the EXACT output columns (min/max/count/null%)
    vs DuckDB's native SUMMARIZE; the approx_unique / percentile sketch
    columns are engine-specific by definition and stay unit-tested."""
    from duckdb_spark.operators.sketch import summarize

    (orders,) = _t(spark, sf_dir, "orders")
    return summarize(orders).select(
        "column_name", "min", "max", F.col("count").cast("long").alias("count"),
        F.round(F.col("null_percentage").cast("double"), 2).alias("null_percentage"),
    ).orderBy("column_name")


@register(
    "sketch_topk_merge",
    oracle="""
SELECT et, value, cnt_lo, cnt_lo AS cnt_hi, CAST(rank AS BIGINT) AS rank FROM (
  SELECT et, value, cnt_lo,
         ROW_NUMBER() OVER (PARTITION BY et ORDER BY cnt_lo DESC, value) AS rank
  FROM (
    SELECT event_type AS et, user_id % 50 AS value, COUNT(*) AS cnt_lo
    FROM events GROUP BY 1, 2))
WHERE rank <= 5 ORDER BY et, rank
""",
)
def sketch_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE approx_top_k (distributed filtered-space-saving; see
    operators/sketch.py approx_top_k_sketch). Parameters put the sketch in
    its exact regime (per-partition cardinality 50 ≤ buckets 64), so
    cnt_lo == cnt_hi == the exact count and the differential oracle is the
    exact per-group top-5 — this pins the map-side sketch + merge path
    byte-for-byte; the degraded-bound regime is unit-tested."""
    from duckdb_spark.operators.sketch import approx_top_k_sketch

    (events,) = _t(spark, sf_dir, "events")
    d = events.select(
        F.col("event_type").alias("et"), (F.col("user_id") % 50).alias("value")
    )
    return (
        approx_top_k_sketch(d, "value", k=5, by=["et"], buckets=64)
        .orderBy("et", "rank")
    )
