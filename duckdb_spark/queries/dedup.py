"""Deduplication queries over the documents/embeddings tables.

Every operator from operators/dedup.py exposed with a DuckDB oracle that
*recomputes the same algorithm in SQL* (same md5-derived hashes — verified
byte-identical across engines), so the differential gate checks the full
pipeline: shingling → hashing → banding → verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.operators import dedup as D
from duckdb_spark.queries import register

# Shared SQL fragments for the oracle (DuckDB dialect).
_ORACLE_SHINGLES = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
  FROM toks
)
"""


@register(
    "dedup_exact",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique, CAST(SUM(cnt) AS BIGINT) AS n_total
FROM (SELECT text, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM documents GROUP BY text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: unique texts vs total (hash-groupBy keep-min)."""
    (docs,) = [read_table(spark, sf_dir, "documents")]
    uniq = D.exact_dedup(docs)
    total = docs.count()
    return uniq.agg(
        F.count("*").alias("n_unique"), F.lit(total).cast("long").alias("n_total")
    )


@register(
    "dedup_minhash_sig",
    oracle=_ORACLE_SHINGLES
    + """
SELECT doc_id,
       array_to_string(list_transform(
         list_transform(generate_series(0, 15),
           i -> list_min(list_transform(
                  list_transform(s, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)),
                  h -> (h * (2 * i + 1) + i * 12345 + 1) % 4294967311))),
         v -> CAST(v AS VARCHAR)), ',') AS sig
FROM sh WHERE doc_id < 50 ORDER BY doc_id
""",
)
def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 hashes over word 3-shingles) — cross-engine
    deterministic via md5-hex→int; differential on the first 50 docs.
    Signature array serialized to CSV so the driver canon sees scalar rows."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.array_join(
            D.minhash_signature(F.col("text"), 16, 3).cast("array<string>"), ","
        ).alias("sig"),
    ).orderBy("doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=_ORACLE_SHINGLES
    + """
, sig AS (
  SELECT doc_id,
         list_transform(generate_series(0, 15),
           i -> list_min(list_transform(
                  list_transform(s, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)),
                  h -> (h * (2 * i + 1) + i * 12345 + 1) % 4294967311))) AS sig
  FROM sh),
banded AS (
  SELECT doc_id, b,
         array_to_string(list_transform(generate_series(b * 4 + 1, b * 4 + 4),
                                        i -> CAST(sig[i] AS VARCHAR)), ',') AS key
  FROM sig, generate_series(0, 3) t(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM banded a JOIN banded b2 ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.s, sb.s)) * 1.0 /
           (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jac
  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
SELECT CAST((id_a + id_b) % 16 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(id_a % 1000003 + id_b % 1000003) AS BIGINT) AS id_checksum,
       CAST(SUM(CAST(ROUND(jac * 10000, 0) AS BIGINT)) AS BIGINT) AS jac_sum
FROM verified WHERE jac >= 0.7 GROUP BY bucket ORDER BY bucket
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → 16-hash signature →
    4-band bucketing → candidate join → exact-Jaccard verification ≥0.7.
    Oracle recomputes the identical algorithm in DuckDB SQL. Result is a
    16-bucket digest of the verified-pair set (pair counts, id checksums,
    jaccard sums — any added/dropped/changed pair shifts a checksum), so
    the timed bench measures the pipeline rather than 247k-row client
    deserialization (collect() of the raw pair list was ~1.3s at sf1)."""
    docs = read_table(spark, sf_dir, "documents")
    # ONE md5 pass: 60-bit shingle-hash sets feed both the signatures
    # (top-32-bit bases — identical to the oracle's substr(md5,1,8) values)
    # and Jaccard verification (set sizes match the oracle's string sets
    # modulo 2^-60 collisions). Previously two full text scans: 9.5s → 4.2s
    # at sf1.
    sh = D.shingle_hash_sets(docs, "doc_id", "text", 3)
    cands = D.minhash_lsh_candidates(docs, "doc_id", "text", 16, 4, 3, shingle_sets=sh)
    # Re-spread before the array_intersect stage: AQE coalesces the tiny
    # pair shuffle by bytes but per-row cost is set-intersection work
    # (2.1s on 3 tasks → 0.5s on 32 at sf1).
    cands = cands.repartition(spark.sparkContext.defaultParallelism, "id_a")
    # r12 verify micro-opts (A/B-measured ~15% off the verify stage,
    # byte-identical output):
    # - size prefilter: jac >= t implies min(n)/max(n) >= t (|A∩B| <= min,
    #   |A∪B| >= max), so size-incompatible pairs drop before the heavy
    #   intersect; the cheap predicate folds into the join condition.
    # - explode(array(·)) barrier: without it Catalyst folds the jaccard
    #   filter into the join condition and array_intersect evaluates 3×
    #   per pair (2× in the condition + 1× in the digest projection); a
    #   Generate is not collapsed, so the intersect runs ONCE.
    verified = (
        cands.join(
            sh.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a"
        )
        .join(sh.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn("na", F.size("sh_a"))
        .withColumn("nb", F.size("sh_b"))
        .filter(F.least("na", "nb") >= 0.7 * F.greatest("na", "nb"))
        .select(
            "id_a", "id_b", "na", "nb",
            F.explode(F.array(F.size(F.array_intersect("sh_a", "sh_b")))).alias("__inter"),
        )
        .withColumn(
            "jaccard", F.col("__inter") / (F.col("na") + F.col("nb") - F.col("__inter"))
        )
        .filter(F.col("jaccard") >= 0.7)
    )
    return (
        verified.groupBy(((F.col("id_a") + F.col("id_b")) % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("id_a") % 1000003 + F.col("id_b") % 1000003).alias("id_checksum"),
            F.sum(F.round(F.col("jaccard") * 10000, 0).cast("long")).alias("jac_sum"),
        )
        .orderBy("bucket")
    )


@register(
    "dedup_simhash",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents WHERE doc_id < 100),
hashes AS (
  SELECT doc_id,
         list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)) AS h
  FROM toks)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(0, 31),
         j -> CASE WHEN list_sum(list_transform(h,
                     v -> CASE WHEN (v >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sig
FROM hashes ORDER BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures — byte-identical across engines
    (md5-derived token hashes); differential on the first 100 docs.

    The oracle CASTs list_sum (DuckDB HUGEINT) to BIGINT: pandas renders
    HUGEINT as float64, which breaks the driver's value-hash against our
    int64 column even when every value is numerically identical."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", D.simhash(F.col("text")).alias("sig")).orderBy("doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=_ORACLE_SHINGLES
    + """
, sizes AS (SELECT doc_id, len(s) AS n FROM sh),
inv AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
pairs AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
FROM pairs JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard ≥ 0.5 via inverted shingle index."""
    docs = read_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).orderBy("id_a", "id_b")


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_inner_product(a.e, b.e) /
             (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))), 4) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.e, b.e) /
      (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) >= 0.6
ORDER BY id_a, id_b
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.6, first 200 vectors) — exact
    baseline; the LSH-blocked variant is sim_lsh_topk."""
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return D.embedding_neardup_pairs(emb, "vec_id", "embedding", 0.6).orderBy("id_a", "id_b")
