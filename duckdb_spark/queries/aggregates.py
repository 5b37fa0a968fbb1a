"""Aggregate-surface queries (SURVEY.md §2.4 coverage).

Exercises grouping sets / rollup / cube (reference grouping-sets handling
in physical_hash_aggregate.cpp), FILTER + DISTINCT aggregates, statistical
aggregates (incl. DuckDB-semantics sample skewness/kurtosis from
functions/aggregates.py), ordered string_agg, holistic quantiles,
arg_min/arg_max, product, entropy, bool/bit aggregates.

Each query is its DuckDB-dialect text, run through `Connection.sql`
(`queries.register_text`). Six keep a hand-written DataFrame builder:
agg_entropy and agg_collect_list, whose texts lose a paired A/B against
the builder at sf0.1 (numbers in their docstrings), agg_quantiles and
agg_stats_wide, whose texts do not finish (see ROADMAP Direction 2), and
agg_product and agg_distributive, whose builders multiply in scan order
as the reference does (`product_fold`) where SQL PRODUCT does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.functions import aggregates as A
from duckdb_spark.queries import register, register_text


def _t(spark, sf_dir, *names):
    return [read_table(spark, sf_dir, n) for n in names]


# GROUPING SETS + GROUPING() disambiguation
register_text("agg_grouping_sets", """
SELECT r_name, n_name, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal,
       GROUPING(r_name) AS g_r, GROUPING(n_name) AS g_n
FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
              JOIN {region} ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
ORDER BY g_r, g_n, r_name, n_name
""")


# ROLLUP over an extracted year and the order priority
register_text("agg_rollup", """
SELECT EXTRACT(year FROM o_orderdate) AS yr, o_orderpriority,
       COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
FROM {orders}
GROUP BY ROLLUP (yr, o_orderpriority)
ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST
""")


# CUBE over the two lineitem flags
register_text("agg_cube", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
FROM {lineitem}
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""")


# FILTER (WHERE ...) + a DISTINCT aggregate in one grouping
register_text("agg_filter_distinct", """
SELECT n_name,
       COUNT(*) AS n_cust,
       COUNT(DISTINCT c_mktsegment) AS n_seg,
       COUNT(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""")


# algebraic statistics: stddev_samp, var_pop, corr, covar_samp
register_text("agg_stats", """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
       ROUND(VAR_POP(l_discount), 6) AS var_disc,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qe,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_qe
FROM {lineitem} GROUP BY l_returnflag ORDER BY l_returnflag
""")


# DuckDB-semantics sample skewness/kurtosis/sem (Spark's builtins
# are population variants; see functions/aggregates.py)
register_text("agg_skew_kurtosis", """
SELECT l_returnflag,
       ROUND(SKEWNESS(l_extendedprice), 4) AS skew,
       ROUND(KURTOSIS(l_extendedprice), 4) AS kurt,
       ROUND(SEM(l_extendedprice), 4) AS sem
FROM {lineitem} GROUP BY l_returnflag ORDER BY l_returnflag
""")


# ordered string_agg (reference sorted_aggregate_function.cpp)
register_text("agg_string_agg", """
SELECT r_name, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
FROM {nation} JOIN {region} ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
""")


@register(
    "agg_quantiles",
    oracle="""
SELECT l_returnflag,
       ROUND(MEDIAN(l_quantity), 2) AS med_qty,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 2) AS p25,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 2) AS p75,
       ROUND(MAD(l_quantity), 2) AS mad_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holistic aggregates: interpolated median/quantiles (Spark
    percentile ≡ DuckDB quantile_cont) + MAD via nested percentile.

    Kept beside its text, which does not finish in Spark (ROADMAP
    Direction 2)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    med = (
        lineitem.groupBy("l_returnflag").agg(F.percentile("l_quantity", F.lit(0.5)).alias("__med"))
    )
    return (
        lineitem.join(med, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 2).alias("med_qty"),
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 2).alias("p25"),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 2).alias("p75"),
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("__med")), F.lit(0.5)), 2
            ).alias("mad_qty"),
        )
        .orderBy("l_returnflag")
    )


# arg_min/arg_max (Spark min_by/max_by)
register_text("agg_argminmax", """
SELECT n_name,
       ARG_MAX(s_name, s_acctbal) AS richest,
       ARG_MIN(s_name, s_acctbal) AS poorest,
       ROUND(MAX(s_acctbal), 2) AS max_bal
FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""")


@register(
    "agg_product",
    oracle="""
SELECT l_orderkey, ROUND(PRODUCT(l_quantity), 0) AS qty_product, COUNT(*) AS n_items
FROM lineitem
WHERE l_orderkey % 997 = 0
GROUP BY l_orderkey ORDER BY l_orderkey
""",
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product() aggregate (reference product.cpp) — sequential scan-order
    multiply via product_fold: the products reach ~1e16 where double
    spacing exceeds 1, so ROUND(x, 0) is identity and the former
    exp(Σ ln) formulation's last-ulp drift was visible directly (r12;
    see functions/aggregates.py product_fold).

    Kept beside its text: SQL PRODUCT runs exp(Σ ln|x|)
    (`dialect_macros._macro_product`), which lands on other doubles than
    this fold, so the text does not match the reference here."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    li = lineitem.select(
        "l_orderkey", "l_quantity",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__p"),
    )
    pvals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__f").alias("f"),
                F.col("__p").alias("p"),
                F.col("l_quantity").cast("double").alias("v"),
            )
        )
    )
    return (
        li.filter(F.col("l_orderkey") % 997 == 0)
        .groupBy("l_orderkey")
        .agg(
            F.round(A.product_fold(pvals, "v"), 0).alias("qty_product"),
            F.count("*").alias("n_items"),
        )
        .orderBy("l_orderkey")
    )


@register(
    "agg_entropy",
    oracle="""
SELECT event_type, ROUND(ENTROPY(user_id % 10), 4) AS ent
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (log2) of a discretized value distribution —
    two-level aggregation (counts, then entropy over counts).

    Kept beside its text: at sf0.1 (4 cores) it runs in 166 ms against
    the text's 184 ms (medians of 10 alternating pairs; the text was
    slower in 9 of 10), and the text lost each of three re-runs (slower
    in 8, 9 and 10 of 10). No benchmark workload runs this query."""
    (events,) = _t(spark, sf_dir, "events")
    counts = (
        events.groupBy("event_type", (F.col("user_id") % 10).alias("__bucket"))
        .agg(F.count("*").alias("__c"))
    )
    return (
        counts.groupBy("event_type")
        .agg(F.round(A.entropy_from_counts("__c"), 4).alias("ent"))
        .orderBy("event_type")
    )


# bool_and/bool_or and the bit aggregates
register_text("agg_bool_bit", """
SELECT n_nationkey AS nk,
       BOOL_AND(s_acctbal > 0) AS all_positive,
       BOOL_OR(s_acctbal > 9000) AS any_rich,
       BIT_AND(s_suppkey) AS band,
       BIT_OR(s_suppkey) AS bor,
       BIT_XOR(s_suppkey) AS bxor
FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
GROUP BY n_nationkey ORDER BY nk
""")


# GROUPING SETS + ROLLUP + CUBE + GROUPING() in one tagged union
# (reference grouping-set expansion in physical_hash_aggregate.cpp)
register_text("agg_grouping", """
SELECT 'gs' AS tag, r_name AS k1, n_name AS k2, COUNT(*) AS n,
       ROUND(SUM(c_acctbal), 2) AS val,
       GROUPING(r_name) AS g1, GROUPING(n_name) AS g2
FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
              JOIN {region} ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
UNION ALL
SELECT 'ru', CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), o_orderpriority,
       COUNT(*), ROUND(SUM(o_totalprice), 2),
       GROUPING(EXTRACT(year FROM o_orderdate)), GROUPING(o_orderpriority)
FROM {orders}
GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate), o_orderpriority)
UNION ALL
SELECT 'cu', l_returnflag, l_linestatus, COUNT(*), ROUND(SUM(l_quantity), 2),
       GROUPING(l_returnflag), GROUPING(l_linestatus)
FROM {lineitem}
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY tag, g1, g2, k1 NULLS FIRST, k2 NULLS FIRST
""")


@register(
    "agg_distributive",
    oracle="""
WITH ent AS (
  SELECT n_name, ROUND(ENTROPY(s_suppkey % 10), 4) AS ent
  FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name)
SELECT m.n_name, n_supp, n_pos, n_distinct, names, richest, poorest, prod,
       all_pos, any_rich, band, bor, bxor, ent
FROM (
  SELECT n_name,
         COUNT(*) AS n_supp,
         COUNT(*) FILTER (WHERE s_acctbal > 0) AS n_pos,
         COUNT(DISTINCT s_suppkey % 10) AS n_distinct,
         STRING_AGG(s_name, ',' ORDER BY s_name) AS names,
         ARG_MAX(s_name, s_acctbal) AS richest,
         ARG_MIN(s_name, s_acctbal) AS poorest,
         ROUND(PRODUCT(1 + s_acctbal / 100000), 4) AS prod,
         BOOL_AND(s_acctbal > 0) AS all_pos,
         BOOL_OR(s_acctbal > 9000) AS any_rich,
         BIT_AND(s_suppkey) AS band,
         BIT_OR(s_suppkey) AS bor,
         BIT_XOR(s_suppkey) AS bxor
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name) m JOIN ent ON m.n_name = ent.n_name
ORDER BY m.n_name
""",
)
def agg_distributive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributive/sorted aggregate surface in one grouping: FILTER,
    DISTINCT, ordered string_agg, arg_min/max, product, bool/bit aggs,
    plus two-level Shannon entropy (broadcast-joined back — entropy is the
    only one needing a second aggregation level).

    Kept beside its text for its PRODUCT, which the text runs as
    exp(Σ ln|x|) (see agg_product)."""
    supplier, nation = _t(spark, sf_dir, "supplier", "nation")
    # Scan position (file, row) carried for product_fold: DuckDB's PRODUCT
    # is a sequential multiply in scan order and ROUND(…, 4) exposes the
    # last-ulp difference vs exp(Σ ln) on one sf1 group (r12 fix; see
    # functions/aggregates.py product_fold).
    supplier = supplier.select(
        "*",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__p"),
    )
    sn = supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
    pvals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__f").alias("f"),
                F.col("__p").alias("p"),
                (1 + F.col("s_acctbal") / 100000).cast("double").alias("v"),
            )
        )
    )
    main = sn.groupBy("n_name").agg(
        F.count("*").alias("n_supp"),
        F.count(F.when(F.col("s_acctbal") > 0, 1)).alias("n_pos"),
        F.countDistinct(F.col("s_suppkey") % 10).alias("n_distinct"),
        A.string_agg(F.col("s_name"), ",").alias("names"),
        F.max_by("s_name", "s_acctbal").alias("richest"),
        F.min_by("s_name", "s_acctbal").alias("poorest"),
        F.round(A.product_fold(pvals, "v"), 4).alias("prod"),
        F.bool_and(F.col("s_acctbal") > 0).alias("all_pos"),
        F.bool_or(F.col("s_acctbal") > 9000).alias("any_rich"),
        F.bit_and("s_suppkey").alias("band"),
        F.bit_or("s_suppkey").alias("bor"),
        F.bit_xor("s_suppkey").alias("bxor"),
    )
    counts = sn.groupBy("n_name", (F.col("s_suppkey") % 10).alias("__b")).agg(
        F.count("*").alias("__c")
    )
    ent = counts.groupBy("n_name").agg(
        F.round(A.entropy_from_counts("__c"), 4).alias("ent")
    )
    return main.join(F.broadcast(ent), "n_name").orderBy("n_name")


@register(
    "agg_stats_wide",
    oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
       ROUND(VAR_POP(l_discount), 6) AS var_disc,
       ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qe,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_qe,
       ROUND(SKEWNESS(l_extendedprice), 4) AS skew,
       ROUND(KURTOSIS(l_extendedprice), 4) AS kurt,
       ROUND(SEM(l_extendedprice), 4) AS sem,
       ROUND(MEDIAN(l_quantity), 2) AS med_qty,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 2) AS p25,
       ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 2) AS p75,
       ROUND(MAD(l_quantity), 2) AS mad_qty,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS r_slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS r_icpt,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r_r2,
       CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS r_n,
       ROUND(REGR_AVGX(l_extendedprice, l_quantity), 4) AS r_avgx,
       ROUND(REGR_AVGY(l_extendedprice, l_quantity), 2) AS r_avgy
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def agg_stats_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full statistical-aggregate surface in one grouping: algebraic
    (stddev/var/corr/covar), sample skew/kurtosis/sem (DuckDB semantics,
    functions/aggregates.py), holistic quantiles + 2-pass MAD, and the
    regr_* regression family (Spark natives, reference
    core_functions/aggregate/regression).

    Kept beside its text, which does not finish in Spark (ROADMAP
    Direction 2)."""
    (lineitem,) = _t(spark, sf_dir, "lineitem")
    med = lineitem.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("__med")
    )
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        lineitem.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_pop("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qe"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qe"),
            F.round(A.skewness("l_extendedprice"), 4).alias("skew"),
            F.round(A.kurtosis("l_extendedprice"), 4).alias("kurt"),
            F.round(A.sem("l_extendedprice"), 4).alias("sem"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 2).alias("med_qty"),
            F.round(F.percentile("l_extendedprice", F.lit(0.25)), 2).alias("p25"),
            F.round(F.percentile("l_extendedprice", F.lit(0.75)), 2).alias("p75"),
            F.round(
                F.percentile(F.abs(F.col("l_quantity") - F.col("__med")), F.lit(0.5)), 2
            ).alias("mad_qty"),
            F.round(F.regr_slope(y, x), 4).alias("r_slope"),
            F.round(F.regr_intercept(y, x), 2).alias("r_icpt"),
            F.round(F.regr_r2(y, x), 6).alias("r_r2"),
            F.regr_count(y, x).alias("r_n"),
            F.round(F.regr_avgx(y, x), 4).alias("r_avgx"),
            F.round(F.regr_avgy(y, x), 2).alias("r_avgy"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_collect_list",
    oracle="""
SELECT r_regionkey,
       ARRAY_TO_STRING(LIST(n_name ORDER BY n_name), '|') AS nations,
       CAST(LEN(LIST(n_name)) AS BIGINT) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_regionkey ORDER BY r_regionkey
""",
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list()/array_agg with internal ORDER BY.

    The list column is serialized with array_join so the driver's pandas
    canonicalizer (which can't sort/hash numpy arrays) sees scalar rows;
    ordering inside the list is still what's being verified.

    Kept beside its text: at sf0.1 (4 cores) it runs in 151 ms against
    the text's 247 ms (medians of 10 alternating pairs; the text was
    slower in 10 of 10)."""
    nation, region = _t(spark, sf_dir, "nation", "region")
    return (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_regionkey")
        .agg(
            F.array_join(
                A.list_agg(F.col("n_name"), order_by=F.col("n_name")), "|"
            ).alias("nations"),
            F.count("*").alias("n"),
        )
        .orderBy("r_regionkey")
    )
