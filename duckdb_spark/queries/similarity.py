"""Similarity-search queries over the embeddings table.

Brute-force exact top-k (baseline) and LSH-bucketed approximate top-k
(scale path) — operators/similarity.py. The LSH oracle recomputes the
identical md5-derived hyperplanes in DuckDB SQL, so even the approximate
path is differentially validated (deterministic ⇒ exact match).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.operators.similarity import cosine_topk, lsh_topk
from duckdb_spark.queries import register

_COS = (
    "list_inner_product(a.e, q.e) / "
    "(sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(q.e, q.e)))"
)


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e FROM v WHERE vec_id < 5),
a AS (SELECT * FROM v WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, a.vec_id, ROUND({_COS}, 4) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_COS} DESC, a.vec_id) AS rank
  FROM a, q)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= 5 ORDER BY query_id, rank
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5: first 5 vectors as queries against
    the rest of the corpus. Queries broadcast; corpus never shuffles."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return cosine_topk(corpus, queries, k=5).orderBy("query_id", "rank")


@register(
    "sim_lsh_topk",
    oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
planes AS (
  SELECT p, list_transform(generate_series(0, 63),
           d -> CAST(('0x' || substr(md5('plane' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967295.0 * 2.0 - 1.0) AS h
  FROM generate_series(0, 5) t(p)),
bucketed AS (
  SELECT v.vec_id, v.e,
         CAST(SUM(CASE WHEN list_inner_product(v.e, planes.h) >= 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM v, planes GROUP BY v.vec_id, v.e),
q AS (SELECT vec_id AS query_id, e, bucket FROM bucketed WHERE vec_id < 5),
a AS (SELECT * FROM bucketed WHERE vec_id >= 5),
scored AS (
  SELECT q.query_id, a.vec_id, ROUND({_COS}, 4) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_COS} DESC, a.vec_id) AS rank
  FROM a JOIN q ON a.bucket = q.bucket)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= 5 ORDER BY query_id, rank
""",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via 6-plane sign-LSH bucketing (deterministic
    md5-derived hyperplanes — the oracle recomputes them exactly).
    Candidates shrink ~64×; the join is an equi-join on the bucket key."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    corpus = emb.filter(F.col("vec_id") >= 5)
    return lsh_topk(corpus, queries, dim=64, k=5, num_planes=6).orderBy("query_id", "rank")


@register(
    "sim_label_centroids",
    oracle="""
WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
ex AS (SELECT label, unnest(e) AS val, generate_subscripts(e, 1) AS dim FROM v),
m AS (SELECT label, dim, SUM(val) / COUNT(*) AS mean FROM ex GROUP BY label, dim),
norms AS (SELECT label, SUM(mean * mean) AS norm2 FROM m GROUP BY label),
counts AS (SELECT label, COUNT(*) AS n FROM v GROUP BY label)
SELECT label, CAST(n AS BIGINT) AS n, ROUND(norm2, 4) AS centroid_norm2
FROM norms JOIN counts USING (label) ORDER BY label
""",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (the building block of IVF partitioning /
    k-means): element-wise mean over array column via posexplode +
    re-collect — one shuffle on (label, dim)."""
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val")
    )
    norms = (
        exploded.groupBy("label", "dim")
        .agg((F.sum("val") / F.count("*")).alias("mean"))
        .groupBy("label")
        .agg(F.sum(F.col("mean") * F.col("mean")).alias("norm2"))
    )
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    return (
        norms.join(counts, "label")
        .select("label", "n", F.round("norm2", 4).alias("centroid_norm2"))
        .orderBy("label")
    )
