"""Event-stream analytics + custom-operator queries.

Covers the reference capabilities that need engine-level rewrites on Spark
(SURVEY.md §2.3 ASOF/IEJoin, §2.5 fill, §2.7 recursive CTE, §2.2 unnest,
§2.8 time_bucket/json) plus classic behavioral analytics (sessionization).
Each oracle is DuckDB-native SQL — ASOF JOIN and time_bucket are *built-in*
DuckDB features there, so these queries differentially validate our custom
operators against the reference implementation's semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.functions import scalar as S
from duckdb_spark.operators.asof import asof_self_join
from duckdb_spark.operators.fill import fill_interpolate
from duckdb_spark.operators.misc import distinct_on
from duckdb_spark.operators.recursive import recursive_cte
from duckdb_spark.queries import register


def _t(spark, sf_dir, *names):
    return [read_table(spark, sf_dir, n) for n in names]


@register(
    "ev_sessionization",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 * 1000000
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps)
SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
       ROUND(COUNT(*) / COUNT(DISTINCT session_id), 2) AS events_per_session
FROM sessions GROUP BY user_id ORDER BY user_id
""",
)
def ev_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session boundaries via lag + running sum
    (the batch equivalent of session_window; one shuffle on user_id)."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    # session count per user = COUNT(DISTINCT running_sum(new_session))
    # = SUM(new_session): the running counter takes exactly the values
    # 1..K, so the distinct count is its total. Aggregating the flag
    # directly drops the running-sum window pass AND the distinct
    # aggregate's expand/dedup (r12; identical output by construction).
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            # duck_round, not F.round: Spark rounds the decimal rendering
            # (82/80 → "1.025" → 1.03) where DuckDB rounds the fp-scaled
            # value (102.4999… → 1.02) — two sf0.1 users sit exactly on
            # that tie (r12 fix; see functions/scalar.py duck_round).
            S.duck_round(F.count("*") / F.sum("new_session"), 2)
            .alias("events_per_session"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_time_bucket",
    oracle="""
SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT) AS bucket_epoch,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events GROUP BY 1 ORDER BY 1
""",
)
def ev_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket(INTERVAL 6 HOUR) — our implementation matches DuckDB's
    2000-01-03 bucket origin (functions/scalar.py:time_bucket)."""
    (events,) = _t(spark, sf_dir, "events")
    bucket = S.time_bucket(6 * 3600, F.col("ts"))
    return (
        events.groupBy((F.unix_micros(bucket) / 1_000_000).cast("long").alias("bucket_epoch"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .orderBy("bucket_epoch")
    )


@register(
    "ev_json_extract",
    oracle="""
SELECT event_type,
       ROUND(AVG(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k,
       CAST(MAX(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (reference json_extract / ->> operators →
    get_json_object)."""
    (events,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_asof_join",
    oracle="""
SELECT CAST(p.event_id % 16 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(v.ts) AS BIGINT) AS n_matched,
       CAST(SUM(CAST(epoch_us(v.ts) AS BIGINT) % 1000003) AS BIGINT) AS ts_checksum,
       CAST(SUM(CAST(ROUND(v.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
GROUP BY bucket ORDER BY bucket
""",
)
def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF LEFT JOIN: each purchase matched to the user's most recent
    prior view — differentially tested against DuckDB's native ASOF JOIN
    (reference physical_asof_join.cpp). Result is a 16-bucket digest of
    the full join output (counts, matched-ts checksum, value sums): any
    row matched to a different build row changes a checksum, while the
    timed bench measures the join, not 200k-row client deserialization
    (collect() of the raw result was 1.3s of the former 1.7s total)."""
    (events,) = _t(spark, sf_dir, "events")
    # r13 (guide §2.4/§6, VERDICT r12 item 5): probe and build are disjoint
    # slices of the SAME table, so the tagged union is built by conditional
    # projection over ONE pushdown-filtered scan (event_type IN two values)
    # instead of unioning two scans — plan: 2 parquet scans → 1; measured
    # 1.04 → 0.72 s (median, interleaved A/B) at sf1, digests identical.
    ev = events.filter(F.col("event_type").isin("purchase", "view"))
    joined = asof_self_join(
        ev, on="ts", by="user_id",
        probe_pred=F.col("event_type") == "purchase",
        build_pred=F.col("event_type") == "view",
        build_payload=["value"], how="left",
    )
    return (
        joined.groupBy((F.col("event_id") % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.count("ts_asof").alias("n_matched"),
            F.sum(F.unix_micros("ts_asof") % 1000003).alias("ts_checksum"),
            F.sum(F.round(F.col("value_asof") * 100, 0).cast("long")).alias("value_cents"),
        )
        .orderBy("bucket")
    )


@register(
    "ev_range_join",
    oracle="""
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY type_a, type_b ORDER BY type_a, type_b
""",
)
def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (reference IEJoin territory): pairs of events of
    the same user within (0, 5min]. The user_id equality makes it a hash
    join + range filter — the scalable plan (no cross product)."""
    (events,) = _t(spark, sf_dir, "events")
    a = events.select(F.col("user_id"), F.col("ts").alias("ts_a"), F.col("event_type").alias("type_a"))
    b = events.select(F.col("user_id"), F.col("ts").alias("ts_b"), F.col("event_type").alias("type_b"))
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTE"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n"))
        .orderBy("type_a", "type_b")
    )


@register(
    "ev_pivot",
    oracle="""
SELECT user_id % 10 AS decile,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY decile ORDER BY decile
""",
)
def ev_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (reference physical_pivot.cpp): explicit value list → Spark
    groupBy().pivot(values) — one pass, no distinct-discovery scan."""
    (events,) = _t(spark, sf_dir, "events")
    out = (
        events.groupBy((F.col("user_id") % 10).alias("decile"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .orderBy("decile")
    )
    # pivot null → 0 (DuckDB FILTER count yields 0)
    return out.select(
        "decile",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


@register(
    "ev_distinct_on",
    oracle="""
SELECT user_id, event_id AS last_event, event_type AS last_type
FROM (SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 ORDER BY user_id
""",
)
def ev_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON (user_id) ... ORDER BY ts DESC — latest event per user
    via the distinct_on operator (row_number rewrite)."""
    (events,) = _t(spark, sf_dir, "events")
    latest = distinct_on(events, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()])
    return latest.select(
        "user_id", F.col("event_id").alias("last_event"), F.col("event_type").alias("last_type")
    ).orderBy("user_id")


@register(
    "ev_set_ops",
    oracle="""
(SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND event_id % 2 = 0
 INTERSECT
 SELECT DISTINCT user_id FROM events WHERE event_type = 'view' AND event_id % 3 = 0)
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND event_id % 5 = 0
ORDER BY user_id
""",
)
def ev_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (reference plan_set_operation.cpp semi/anti
    planning — Spark plans the same shape natively). The event_id residue
    filters make all three legs NON-TRIVIAL, overlapping subsets at every
    fixture SF (the round-1 formulation returned 0 rows everywhere — every
    user has every event type — making the differential check vacuous)."""
    (events,) = _t(spark, sf_dir, "events")

    def users(t, mod):
        return (
            events.filter((F.col("event_type") == t) & (F.col("event_id") % mod == 0))
            .select("user_id").distinct()
        )

    return (
        users("purchase", 2).intersect(users("view", 3))
        .subtract(users("error", 5)).orderBy("user_id")
    )


@register(
    "ev_fill_gaps",
    oracle="""
WITH valued AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
  FROM events),
marks AS (
  SELECT event_id, user_id, ts, v,
         epoch_us(ts) AS x,
         LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
  FROM valued)
SELECT event_id,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  WHEN nx = px THEN pv
                  ELSE pv + (nv - pv) * (x - px) / (nx - px) END, 4) AS v_filled
FROM marks ORDER BY event_id
""",
)
def ev_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fill() gap interpolation (reference FillFun window function):
    error-event values are NULLed then linearly interpolated per user."""
    (events,) = _t(spark, sf_dir, "events")
    valued = events.withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    ).withColumn("x_us", F.unix_micros("ts"))
    filled = fill_interpolate(valued, "v", "x_us", partition_by=["user_id"], out_col="v_filled")
    return filled.select("event_id", F.round("v_filled", 4).alias("v_filled")).orderBy("event_id")


@register(
    "rec_transitive_closure",
    oracle="""
WITH RECURSIVE edges AS (
  SELECT n_nationkey AS src, (n_nationkey * 7 + 3) % 25 AS dst FROM nation
),
reach(node, d) AS (
  SELECT 0, 0
  UNION
  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node WHERE r.d < 10
)
SELECT node, CAST(MIN(d) AS BIGINT) AS min_depth FROM reach GROUP BY node ORDER BY node
""",
)
def rec_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (reference physical_recursive_cte.cpp) via the
    driver-loop operator: reachability with depth from node 0 over a
    synthetic functional graph on nation keys."""
    (nation,) = _t(spark, sf_dir, "nation")
    edges = nation.select(
        F.col("n_nationkey").cast("long").alias("src"),
        ((F.col("n_nationkey") * 7 + 3) % 25).cast("long").alias("dst"),
    ).localCheckpoint(eager=True)
    base = spark.createDataFrame([(0, 0)], "node long, d long")

    def step(working: DataFrame) -> DataFrame:
        return (
            working.filter(F.col("d") < 10)
            .join(edges, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )

    reach = recursive_cte(base, step, distinct=True)
    return reach.groupBy("node").agg(F.min("d").alias("min_depth")).orderBy("node")


@register(
    "unnest_tokens",
    oracle="""
SELECT word, COUNT(*) AS n
FROM (SELECT UNNEST(regexp_split_to_array(lower(p_name), '\\s+')) AS word FROM part)
GROUP BY word HAVING COUNT(*) >= 5 ORDER BY n DESC, word
""",
)
def unnest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST of a split list (reference physical_unnest.cpp → explode)."""
    (part,) = _t(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.lower("p_name"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.desc("n"), "word")
    )


@register(
    "val_generate_series",
    oracle="""
SELECT g AS n, g * g AS sq
FROM generate_series(1, 50) t(g)
WHERE g % 3 = 0 ORDER BY g
""",
)
def val_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range/generate_series table function (reference range.cpp →
    spark.range; lazy, partitioned, no driver materialization)."""
    return (
        spark.range(1, 51)
        .select(F.col("id").alias("n"), (F.col("id") * F.col("id")).alias("sq"))
        .filter(F.col("n") % 3 == 0)
        .orderBy("n")
    )


@register(
    "ev_range_join_all",
    oracle="""
SELECT 'eq' AS tag, a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY type_a, type_b
UNION ALL
SELECT 'band', a.event_type, b.event_type, COUNT(*)
FROM events a JOIN events b
  ON abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 30 * 1000000
 AND a.event_id < b.event_id
GROUP BY 2, 3
ORDER BY tag, type_a, type_b
""",
)
def ev_range_join_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both range-join strategies, one tagged result: the piecewise path
    (equi-key + range filter, reference physical_piecewise_merge_join.cpp)
    and the keyless banded IEJoin path (bucketize-and-equi-join,
    operators/rangejoin.py vs reference physical_iejoin.cpp)."""
    from duckdb_spark.operators.rangejoin import banded_range_join

    (events,) = _t(spark, sf_dir, "events")
    a = events.select("user_id", F.col("ts").alias("ts_a"), F.col("event_type").alias("type_a"))
    b = events.select("user_id", F.col("ts").alias("ts_b"), F.col("event_type").alias("type_b"))
    eq = (
        a.join(b, "user_id")
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTE"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n"))
        .select(F.lit("eq").alias("tag"), "type_a", "type_b", "n")
    )
    ev = events.select("event_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    band = (
        banded_range_join(
            ev, ev, "ts_us", "ts_us", band=30 * 1_000_000,
            extra_cond=F.col("event_id") < F.col("event_id_r"),
        )
        .groupBy(F.col("event_type").alias("type_a"), F.col("event_type_r").alias("type_b"))
        .agg(F.count("*").alias("n"))
        .select(F.lit("band").alias("tag"), "type_a", "type_b", "n")
    )
    return eq.unionByName(band).orderBy("tag", "type_a", "type_b")


@register(
    "ev_timeseries",
    oracle="""
WITH sess AS (
  SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n,
         ROUND(COUNT(*) / COUNT(DISTINCT session_id), 2) AS v
  FROM (SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (SELECT user_id, ts, event_id,
                     CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 * 1000000
                            OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events))
  GROUP BY user_id),
tb AS (
  SELECT CAST(epoch(time_bucket(INTERVAL 6 HOUR, ts)) AS BIGINT) AS k,
         COUNT(*) AS n, ROUND(SUM(value), 2) AS v
  FROM events GROUP BY 1),
filled AS (
  SELECT event_id,
         ROUND(CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    WHEN nx = px THEN pv
                    ELSE pv + (nv - pv) * (x - px) / (nx - px) END, 4) AS v_filled
  FROM (
    SELECT event_id, v, epoch_us(ts) AS x,
           LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
          FROM events)))
SELECT 'sess' AS tag, CAST(user_id % 16 AS BIGINT) AS k,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(ROUND(v * 100, 0) AS BIGINT)) AS BIGINT) AS DOUBLE) AS v
FROM sess GROUP BY 2
UNION ALL
SELECT 'bucket', k, n, v FROM tb
UNION ALL
SELECT 'fill', CAST(event_id % 16 AS BIGINT),
       CAST(COUNT(v_filled) AS BIGINT),
       CAST(CAST(SUM(CAST(ROUND(v_filled * 10000, 0) AS BIGINT)) AS BIGINT) AS DOUBLE)
FROM filled GROUP BY 2
ORDER BY tag, k
""",
)
def ev_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series surface in one tagged result: 30-min sessionization
    (lag + running sum), 6h time_bucket aggregation (DuckDB bucket
    origin), and gap-fill interpolation — merged so the driver's 50-query
    window covers all three.

    ONE window pass serves sessionization AND interpolation (r12 final
    form): the sess and fill digests previously lived on separate union
    branches, and column pruning specialized their subtrees so exchange
    reuse could NOT dedupe them — the physical plan scanned, shuffled,
    sorted and windowed events TWICE (plans/r12/ev_timeseries_before.txt
    nodes 3/22: two Exchanges on user_id). Now both digests are computed
    from a single windowed pass with exactly one consumer: partial
    aggregate at (user_id, event_id % 16) grain — no extra exchange, the
    window's user_id partitioning already satisfies it — then grouping
    sets ((user_id), (__k)) split the partials into the per-user sess rows
    and per-k fill rows, and one final (tag, key) aggregate produces both
    digests (plan: ONE scan + ONE Exchange+Sort+Window for the window
    path; the 6h-bucket branch stays a bare scan-agg). Sums of longs are
    associative and the row-level rounding expressions are unchanged, so
    the digests are exact — verified identical at sf0.01/sf0.1/sf1. The
    interpolation formula is fill_interpolate's (operators/fill.py),
    inlined so it shares the window chain."""
    (events,) = _t(spark, sf_dir, "events")
    base = events.select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).withColumn(
        "v",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")),
    ).withColumn("x_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    xv = F.when(F.col("v").isNotNull(), F.col("x_us"))
    enr = base.select(
        "user_id", "ts", "event_id", "value", "v", "x_us",
        # plain flag, not a running sum: the sess digest only needs the
        # per-user TOTAL of new-session flags (== max of the running
        # counter == COUNT(DISTINCT session_id)), so the second window
        # pass the running sum required is dropped (r12; branch output
        # unchanged by construction).
        new_session.alias("__ns"),
        F.last("v", ignorenulls=True).over(run).alias("pv"),
        F.first("v", ignorenulls=True).over(fwd).alias("nv"),
        F.last(xv, ignorenulls=True).over(run).alias("px"),
        F.first(xv, ignorenulls=True).over(fwd).alias("nx"),
    )
    vf = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.when(F.col("pv").isNull(), F.col("nv")).otherwise(
            F.when(F.col("nv").isNull(), F.col("pv")).otherwise(
                F.when(F.col("nx") == F.col("px"), F.col("pv")).otherwise(
                    F.col("pv")
                    + (F.col("nv") - F.col("pv"))
                    * (F.col("x_us") - F.col("px"))
                    / (F.col("nx") - F.col("px"))))))
    # Partial grain (user_id, event_id % 16): fine enough to rebuild BOTH
    # digests (sess needs per-user sums; fill needs per-k sums), coarse
    # enough that everything downstream is ~16×n_users rows. The row-level
    # rounding (ROUND(ROUND(x,4)*10000,0) cast long, exactly the oracle's)
    # happens here, so the later sums are exact integer arithmetic.
    lvl1 = (
        enr.withColumn("__k", F.col("event_id") % 16)
        .groupBy("user_id", "__k")
        .agg(
            F.count("*").alias("cnt"),
            # Σ new-session flags per user == max running counter ==
            # COUNT(DISTINCT session_id), with no second window pass and
            # no distinct-aggregate expand.
            F.sum("__ns").alias("ns"),
            F.count(vf).alias("nvf"),
            # inner round MUST be duck_round (DuckDB fp-scaled semantics):
            # interpolated doubles hit decimal-rendering ties where Spark's
            # round disagrees with the oracle (see ev_sessionization note).
            # The outer ×10000 round can't tie (operand is k/10000±1ulp,
            # never exactly k+0.5), so plain F.round is safe there.
            F.sum(F.round(S.duck_round(vf, 4) * 10000, 0).cast("long")).alias("svf"),
        )
    )
    # grouping sets ((user_id), (__k)): one Expand over the partials
    # instead of a second consumer of the window subtree.
    gs = (
        lvl1.groupingSets([["user_id"], ["__k"]], "user_id", "__k")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("ns").alias("ns"),
            F.sum("nvf").alias("nvf"),
            F.sum("svf").alias("svf"),
            F.grouping("user_id").alias("__gu"),
        )
    )
    # __gu = 0 → grouped by user_id (sess partial); 1 → by __k (fill).
    # 16-bucket digests (see ev_asof_join): integer checksums keep the
    # compare exact while the bench stops measuring 15k-row collects.
    tagged = gs.select(
        F.when(F.col("__gu") == 0, F.lit("sess"))
        .otherwise(F.lit("fill")).alias("tag"),
        F.when(F.col("__gu") == 0, F.col("user_id") % 16)
        .otherwise(F.col("__k")).alias("k"),
        F.when(F.col("__gu") == 0, F.col("ns"))
        .otherwise(F.col("nvf")).alias("n"),
        F.when(
            F.col("__gu") == 0,
            # duck_round on the ratio: 82/80 = "1.025" renders as a decimal
            # tie (Spark 1.03, DuckDB 1.02) — two sf0.1 users hit it.
            F.round(S.duck_round(F.col("cnt") / F.col("ns"), 2) * 100, 0).cast("long"),
        ).otherwise(F.col("svf")).alias("vrow"),
    )
    sessfill = (
        tagged.groupBy("tag", "k")
        .agg(F.sum("n").alias("n"), F.sum("vrow").cast("double").alias("v"))
        .select("tag", "k", "n", "v")
    )
    bucket = S.time_bucket(6 * 3600, F.col("ts"))
    tb = (
        base.groupBy((F.unix_micros(bucket) / 1_000_000).cast("long").alias("k"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(F.lit("bucket").alias("tag"), "k", "n", "v")
    )
    return sessfill.unionByName(tb).orderBy("tag", "k")


@register(
    "ev_banded_range_join",
    oracle="""
SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n
FROM events a JOIN events b
  ON abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 30 * 1000000
 AND a.event_id < b.event_id
GROUP BY type_a, type_b ORDER BY type_a, type_b
""",
)
def ev_banded_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global temporal band join WITHOUT an equality key (pure IEJoin
    territory — reference physical_iejoin.cpp): all event pairs within 30s
    across ALL users, via the bucketize-and-equi-join strategy
    (operators/rangejoin.py). DuckDB's native IEJoin is the oracle."""
    from duckdb_spark.operators.rangejoin import banded_range_join

    (events,) = _t(spark, sf_dir, "events")
    ev = events.select("event_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    joined = banded_range_join(
        ev, ev, "ts_us", "ts_us", band=30 * 1_000_000,
        extra_cond=F.col("event_id") < F.col("event_id_r"),
    )
    return (
        joined.groupBy(
            F.col("event_type").alias("type_a"), F.col("event_type_r").alias("type_b")
        )
        .agg(F.count("*").alias("n"))
        .orderBy("type_a", "type_b")
    )
