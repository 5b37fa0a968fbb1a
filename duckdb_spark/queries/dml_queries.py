"""DML and pivot/unpivot/sampling queries.

MERGE/UPDATE/DELETE are rewrite-pattern operators (operators/dml.py);
their oracles express the identical post-image in plain SQL, so the
differential gate pins merge semantics (matched-update / unmatched-keep /
not-matched-insert) without needing a mutable oracle table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.operators.dml import delete_where, merge_into, update_where
from duckdb_spark.operators.misc import hash_sample, sample_percent
from duckdb_spark.operators.pivot import dynamic_pivot, unpivot
from duckdb_spark.functions import aggregates as A
from duckdb_spark.queries import register


@register(
    "dml_merge_into",
    oracle="""
WITH target AS (SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total, o_orderstatus
                FROM orders WHERE o_orderkey % 3 = 0),
source AS (SELECT l_orderkey AS o_orderkey,
                  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_orderkey),
unmatched AS (SELECT t.* FROM target t WHERE NOT EXISTS
               (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)),
matched AS (SELECT t.o_orderkey, t.o_custkey, s.revenue AS total, 'U' AS o_orderstatus
            FROM target t JOIN source s USING (o_orderkey)),
inserts AS (SELECT s.o_orderkey, CAST(NULL AS BIGINT) AS o_custkey, s.revenue AS total,
                   'I' AS o_orderstatus
            FROM source s WHERE NOT EXISTS
              (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey))
SELECT * FROM unmatched UNION ALL SELECT * FROM matched UNION ALL SELECT * FROM inserts
ORDER BY o_orderkey
""",
)
def dml_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (reference physical_merge_into.cpp): matched rows get
    totals replaced by lineitem revenue + status 'U'; unmatched source
    rows insert with status 'I'. One shuffle on the key."""
    orders, lineitem = (read_table(spark, sf_dir, t) for t in ("orders", "lineitem"))
    target = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"), "o_orderstatus"
    )
    source = (
        lineitem.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(A.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    merged = merge_into(
        target,
        source,
        on=["o_orderkey"],
        when_matched_update={"total": F.col("s.revenue"), "o_orderstatus": F.lit("U")},
        when_not_matched_insert=True,
        insert_values={"total": F.col("revenue"), "o_orderstatus": F.lit("I")},
    )
    return merged.orderBy("o_orderkey")


@register(
    "dml_update_delete",
    oracle="""
WITH updated AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 0.0 ELSE ROUND(c_acctbal, 2) END AS bal,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS was_updated
  FROM customer)
SELECT c_custkey, bal, CAST(was_updated AS INT) AS was_updated
FROM updated WHERE bal >= 1000 ORDER BY c_custkey
""",
)
def dml_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE (clamp negative balances to 0) then DELETE (bal < 1000) —
    chained rewrite plans, single scan, no shuffle."""
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    updated, changed = update_where(
        customer.withColumn("was_updated", F.when(F.col("bal") < 0, 1).otherwise(0)),
        F.col("bal") < 0,
        {"bal": F.lit(0.0)},
    )
    post, _deleted = delete_where(updated, F.col("bal") < 1000)
    return post.orderBy("c_custkey")


@register(
    "dml_batch",
    oracle="""
WITH target AS (SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total, o_orderstatus
                FROM orders WHERE o_orderkey % 3 = 0),
source AS (SELECT l_orderkey AS o_orderkey,
                  CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_orderkey),
merged AS (
  SELECT t.o_orderkey, t.total, t.o_orderstatus FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT t.o_orderkey, s.revenue, 'U' FROM target t JOIN source s USING (o_orderkey)
  UNION ALL
  SELECT s.o_orderkey, s.revenue, 'I' FROM source s
  WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)),
upd AS (
  SELECT c_custkey,
         CASE WHEN c_acctbal < 0 THEN 0.0 ELSE ROUND(c_acctbal, 2) END AS bal,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS was_updated
  FROM customer)
SELECT 'm' AS tag, o_orderkey AS k, total AS v, o_orderstatus AS s FROM merged
UNION ALL
SELECT 'u', c_custkey, bal, CAST(was_updated AS VARCHAR) FROM upd WHERE bal >= 1000
ORDER BY tag, k
""",
)
def dml_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO + UPDATE/DELETE post-images in one tagged result
    (rewrite-pattern operators, operators/dml.py) so the driver window
    covers the whole DML surface."""
    orders, lineitem, customer = (
        read_table(spark, sf_dir, t) for t in ("orders", "lineitem", "customer")
    )
    target = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"), "o_orderstatus"
    )
    source = (
        lineitem.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(A.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    merged = merge_into(
        target,
        source,
        on=["o_orderkey"],
        when_matched_update={"total": F.col("s.revenue"), "o_orderstatus": F.lit("U")},
        when_not_matched_insert=True,
        insert_values={"total": F.col("revenue"), "o_orderstatus": F.lit("I")},
    ).select(
        F.lit("m").alias("tag"), F.col("o_orderkey").alias("k"),
        F.col("total").alias("v"), F.col("o_orderstatus").alias("s"),
    )
    cust = customer.select("c_custkey", F.round("c_acctbal", 2).alias("bal"))
    updated, _changed = update_where(
        cust.withColumn("was_updated", F.when(F.col("bal") < 0, 1).otherwise(0)),
        F.col("bal") < 0,
        {"bal": F.lit(0.0)},
    )
    post, _deleted = delete_where(updated, F.col("bal") < 1000)
    ud = post.select(
        F.lit("u").alias("tag"), F.col("c_custkey").alias("k"),
        F.col("bal").alias("v"), F.col("was_updated").cast("string").alias("s"),
    )
    return merged.unionByName(ud).orderBy("tag", "k")


@register(
    "pivot_dynamic",
    oracle="""
SELECT c_mktsegment,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS F,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS O,
       ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic PIVOT: values discovered by a preliminary distinct pass
    (exactly DuckDB's bind-time discovery, reference bind_pivot.cpp)."""
    orders, customer = (read_table(spark, sf_dir, t) for t in ("orders", "customer"))
    df = orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
    out = dynamic_pivot(df, ["c_mktsegment"], "o_orderstatus", F.sum("o_totalprice"))
    val_cols = [c for c in out.columns if c != "c_mktsegment"]
    return out.select(
        "c_mktsegment",
        *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c) for c in val_cols],
    ).orderBy("c_mktsegment")


@register(
    "unpivot_part",
    oracle="""
SELECT p_partkey, k AS name, v AS value FROM (
  SELECT p_partkey, 'p_retailprice' AS k, p_retailprice AS v FROM part
  UNION ALL
  SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
) WHERE p_partkey % 41 = 0 ORDER BY p_partkey, name
""",
)
def unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt (Spark native unpivot)."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 41 == 0)
    return unpivot(
        part.select("p_partkey", "p_retailprice", F.col("p_size").cast("double").alias("p_size")),
        ["p_partkey"],
        ["p_retailprice", "p_size"],
    ).orderBy("p_partkey", "name")


@register(
    "sample_bernoulli",
    oracle="""
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || chr(1) || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 100
ORDER BY l_orderkey, l_linenumber
""",
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli 10% sample, deterministic hash-based variant (md5 mod
    buckets — identical in both engines, so the sample is exactly
    reproducible and oracle-checkable). Engine-RNG sampling (`USING
    SAMPLE`, reference reservoir_sample.cpp family) stays available as
    sample_percent/reservoir_sample with unit-tested size bounds."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        hash_sample(lineitem, 10.0, ["l_orderkey", "l_linenumber"])
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )
