"""Text-analysis queries over documents (corpus-curation surface).

Language-ID, quality scoring, token stats, fingerprinting — all
scan-local Column expressions (operators/text.py); the oracles recompute
the identical closed-form definitions in DuckDB SQL, so the differential
gate validates semantics, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table, spread
from duckdb_spark.operators import text as T
from duckdb_spark.queries import register

_SW = {k: ", ".join(f"'{w}'" for w in v) for k, v in T.STOPWORDS.items()}


def _with_hits(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Mirror of the oracle's `hits` CTE: tokenize ONCE into __toks, then
    per-language stopword hit counts h_<lang> in a second projection.

    Two stacked Projects instead of one composed expression: Catalyst
    leaves non-cheap multi-referenced aliases un-collapsed, so the regex
    split and each hit count are evaluated once per row — the composed
    operator form re-split the text 5× (per language) and re-filtered per
    reference (text_quality plan: 8 split() calls in the aggregate; now 1).
    """
    base = docs.select(*extra_cols, "text", T.tokens(F.col("text")).alias("__toks"))
    return base.select(
        *extra_cols,
        "text",
        "__toks",
        *[
            T.stopword_hits_from_tokens(F.col("__toks"), lg).alias(f"h_{lg}")
            for lg in T.STOPWORDS
        ],
    )


def _hit_cols() -> dict[str, F.Column]:
    return {lg: F.col(f"h_{lg}") for lg in T.STOPWORDS}


def _score_cols() -> list[F.Column]:
    """Scored projection over the _with_hits frame: token count (over the
    shared __toks — lower() never changes token count), punct ratio (ONE
    regexp_replace pass; the composed form inlined it 2-3×), and the
    max stopword-hit count."""
    stripped = F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9 ]", "")
    p = (F.length("text") - F.length(stripped)) / F.greatest(F.length("text"), F.lit(1))
    n_tok = F.when(F.trim(F.col("text")) == "", 0).otherwise(F.size(F.col("__toks")))
    return [
        n_tok.alias("__n_tok"),
        p.alias("__p"),
        F.greatest(*_hit_cols().values()).alias("__sw"),
    ]


def _quality_expr() -> F.Column:
    """Composite quality score over the scored projection (__n_tok, __p,
    __sw) — the formula of operators/text.quality_score, every input a
    plain column reference so multi-reference costs nothing."""
    n_tok, p, sw = F.col("__n_tok"), F.col("__p"), F.col("__sw")
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.3)
    punct_ok = F.when(p <= 0.2, 1.0).otherwise(F.greatest(F.lit(0.0), 1.0 - (p - 0.2) * 4))
    sw_ok = F.least(sw / F.greatest(n_tok, F.lit(1)) * 5, F.lit(1.0))
    return F.round((len_ok + punct_ok + sw_ok) / 3.0, 4)

_ORACLE_HITS = """
WITH toks AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
hits AS (
  SELECT *,
         len(list_filter(t, x -> list_contains([{en}], x))) AS h_en,
         len(list_filter(t, x -> list_contains([{es}], x))) AS h_es,
         len(list_filter(t, x -> list_contains([{fr}], x))) AS h_fr,
         len(list_filter(t, x -> list_contains([{de}], x))) AS h_de,
         len(list_filter(t, x -> list_contains([{zh}], x))) AS h_zh
  FROM toks
)
""".format(en=_SW["en"], es=_SW["es"], fr=_SW["fr"], de=_SW["de"], zh=_SW["zh"])


@register(
    "text_token_stats",
    oracle="""
SELECT source,
       CAST(SUM(len(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(regexp_split_to_array(lower(trim(text)), '\\s+'))), 2) AS avg_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS total_word_tokens
FROM documents GROUP BY source ORDER BY source
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per source."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    wt = F.size(F.expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"))
    # Project both token counts once per row: the agg referenced
    # token_count twice (sum + avg), re-running the regex split per
    # reference.
    counted = docs.select(
        "source", T.token_count(F.col("text")).alias("__n"), wt.alias("__wt")
    )
    return (
        counted.groupBy("source")
        .agg(
            F.sum("__n").alias("total_tokens"),
            F.round(F.avg("__n"), 2).alias("avg_tokens"),
            F.sum("__wt").alias("total_word_tokens"),
        )
        .orderBy("source")
    )


@register(
    "text_langid",
    oracle=_ORACLE_HITS
    + """
SELECT lang AS labeled,
       CASE WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'und'
            WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
            WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
            WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
            ELSE 'zh' END AS predicted,
       COUNT(*) AS n
FROM hits GROUP BY labeled, predicted ORDER BY labeled, predicted
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit argmax, lexicographic ties)
    cross-tabulated against the labeled lang column."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        _with_hits(docs, "lang")
        .select(
            F.col("lang").alias("labeled"),
            T.argmax_lang(_hit_cols()).alias("predicted"),
        )
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("labeled", "predicted")
    )


@register(
    "text_quality",
    oracle="""
WITH scored AS (
  SELECT source, text,
         len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok,
         (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
            / greatest(length(text), 1) AS p,
         greatest(
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([{en}], x))),
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([{es}], x))),
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([{fr}], x))),
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([{de}], x))),
           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([{zh}], x)))
         ) AS sw
  FROM documents)
SELECT source,
       ROUND(AVG(ROUND((
         (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.3 END)
         + (CASE WHEN p <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (p - 0.2) * 4) END)
         + least(sw * 1.0 / greatest(n_tok, 1) * 5, 1.0)) / 3.0, 4)), 4) AS avg_quality
FROM scored GROUP BY source ORDER BY source
""".format(en=_SW["en"], es=_SW["es"], fr=_SW["fr"], de=_SW["de"], zh=_SW["zh"]),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band + punct ratio + stopword
    presence), averaged per source. Oracle recomputes the formula.

    NOTE: punct definition uses the ASCII class [^a-zA-Z0-9 ] so the Java
    and RE2 regex dialects agree. r12: staged projections (_with_hits +
    _score_cols) tokenize and regex-strip ONCE per row — the composed form
    inlined 8 split() and 2 regexp_replace() calls into the aggregate
    (plans/r12/text_quality_before.txt)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    scored = _with_hits(docs, "source").select("source", *_score_cols())
    return (
        scored.groupBy("source")
        .agg(F.round(F.avg(_quality_expr()), 4).alias("avg_quality"))
        .orderBy("source")
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))), ' ')) AS fp
FROM documents WHERE doc_id < 100 ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant content fingerprint: md5 of sorted distinct tokens."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@register(
    "text_profile",
    oracle=_ORACLE_HITS
    + """
SELECT doc_id, lang AS labeled,
       CASE WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'und'
            WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
            WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
            WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
            ELSE 'zh' END AS predicted,
       CAST(len(t) AS BIGINT) AS n_tok,
       ROUND((
         (CASE WHEN len(t) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.3 END)
         + (CASE WHEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) <= 0.2 THEN 1.0
                 ELSE greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) * 1.0
                      / greatest(length(text), 1) - 0.2) * 4) END)
         + least(greatest(h_en, h_es, h_fr, h_de, h_zh) * 1.0 / greatest(len(t), 1) * 5, 1.0)) / 3.0, 4) AS quality,
       md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
FROM hits WHERE doc_id < 200 ORDER BY doc_id
""",
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis profile in one scan-local pass:
    language-ID (stopword-hit argmax), composite quality score
    (length band + punct ratio + stopword density), and the
    order-invariant content fingerprint — the full curation surface
    of operators/text.py differentially pinned per doc."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    scored = _with_hits(docs, "doc_id", "lang").select(
        "doc_id",
        "lang",
        "__toks",
        T.argmax_lang(_hit_cols()).alias("predicted"),
        *_score_cols(),
    )
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled"),
        "predicted",
        F.col("__n_tok").cast("long").alias("n_tok"),
        _quality_expr().alias("quality"),
        # fingerprint over the shared token array (same split as the
        # operator's — md5 of sorted distinct tokens)
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("__toks"))), " ")).alias("fp"),
    ).orderBy("doc_id")


@register(
    "text_length_histogram",
    oracle="""
SELECT (n_chars // 100) * 100 AS bucket, COUNT(*) AS n,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars, CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY bucket ORDER BY bucket
""",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length histogram on the n_chars metadata column (equi-width bins)."""
    docs = spread(read_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy((F.floor(F.col("n_chars") / 100) * 100).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


@register(
    "tf_read_text",
    oracle="""
SELECT doc_id, CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes, md5(text) AS h
FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id
""",
)
def tf_read_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_text table function (reference src/function/table/read_file.cpp)
    driven end-to-end: materialize a deterministic on-disk text corpus from
    the documents table (fixture step, driver-side by design), then read it
    back DISTRIBUTED via the binaryFile-backed read_text — filename glob
    fan-out, UTF-8 decode, size column — and check byte counts + content
    hashes against the documents view itself. The oracle states the same
    expectations straight from the table, so any loss/corruption in the
    write→glob→decode path diverges."""
    import hashlib
    import os

    from duckdb_spark.io.readers import read_text

    docs = spread(read_table(spark, sf_dir, "documents"))
    subset = docs.where(F.col("doc_id") % 7 == 0).select("doc_id", "text")
    corpus = os.path.join(
        "/tmp", "ddbspark_corpus_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    marker = os.path.join(corpus, "_complete")
    if not os.path.exists(marker):
        os.makedirs(corpus, exist_ok=True)
        for row in subset.collect():  # fixture materialization, not the operator
            with open(os.path.join(corpus, f"{row['doc_id']}.txt"), "w") as f:
                f.write(row["text"])
        with open(marker, "w") as f:
            f.write("ok")
    files = read_text(spark, corpus + "/*.txt")
    return (
        files.select(
            F.regexp_extract(F.col("filename"), r"(\d+)\.txt$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("size").alias("n_bytes"),
            F.md5(F.encode(F.col("content"), "UTF-8")).alias("h"),
        )
        .orderBy("doc_id")
    )
