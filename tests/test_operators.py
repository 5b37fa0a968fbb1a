"""Unit tests for custom operators: edge cases the differential queries
don't reach (empty inputs, no-match ASOF, ties, multimodal plumbing, io).

ASOF fixtures mirror the reference's test/sql/join/asof/test_asof_join.test
shape (FIXTURES.md §2): events0(begin, value) probed at exact / between /
before-first / after-last keys.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_spark.operators.asof import asof_join
from duckdb_spark.operators.fill import fill_interpolate
from duckdb_spark.operators.misc import distinct_on, reservoir_sample
from duckdb_spark.operators.multimodal import attach_media, extract_features, frame_sample
from duckdb_spark.operators.recursive import recursive_cte


@pytest.fixture(scope="module")
def asof_tables(spark):
    build = spark.createDataFrame(
        [(1.0, 0), (3.0, 1), (6.0, 2), (8.0, 3)], "begin double, value int"
    )
    probe = spark.createDataFrame(
        [(0.5,), (1.0,), (2.9,), (3.0,), (7.9,), (8.0,), (100.0,)], "begin double"
    )
    return probe, build


def test_asof_backward_inner(spark, asof_tables):
    probe, build = asof_tables
    out = asof_join(probe, build, on="begin", how="inner")
    got = {r["begin"]: r["value"] for r in out.collect()}
    # 0.5 has no match (dropped); exact keys match themselves (>=)
    assert got == {1.0: 0, 2.9: 0, 3.0: 1, 7.9: 2, 8.0: 3, 100.0: 3}


def test_asof_backward_left(spark, asof_tables):
    probe, build = asof_tables
    out = asof_join(probe, build, on="begin", how="left")
    got = {r["begin"]: r["value"] for r in out.collect()}
    assert got[0.5] is None and len(got) == 7


def test_asof_forward(spark, asof_tables):
    probe, build = asof_tables
    out = asof_join(probe, build, on="begin", direction="forward", how="left")
    got = {r["begin"]: r["value"] for r in out.collect()}
    assert got == {0.5: 0, 1.0: 0, 2.9: 1, 3.0: 1, 7.9: 3, 8.0: 3, 100.0: None}


def test_asof_by_partition(spark):
    build = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 5.0, 11), ("b", 2.0, 20)], "sym string, t double, px int"
    )
    probe = spark.createDataFrame(
        [("a", 4.9,), ("b", 1.0,), ("c", 9.0,)], "sym string, t double"
    )
    out = asof_join(probe, build, on="t", by="sym", how="left")
    got = {r["sym"]: r["px"] for r in out.collect()}
    assert got == {"a": 10, "b": None, "c": None}


def test_asof_empty_build(spark, asof_tables):
    probe, build = asof_tables
    out = asof_join(probe, build.filter(F.lit(False)), on="begin", how="left")
    assert out.count() == 7
    assert all(r["value"] is None for r in out.collect())


def test_fill_interpolation(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, None), (4, 40.0), (5, None)],
        "x int, v double",
    )
    out = {r["x"]: r["v_filled"] for r in fill_interpolate(df, "v", "x").collect()}
    assert out == {1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0, 5: 40.0}


def test_fill_all_null_partition(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "x int, v double")
    out = fill_interpolate(df, "v", "x").collect()
    assert all(r["v_filled"] is None for r in out)


def test_recursive_cte_union_all(spark):
    base = spark.createDataFrame([(1,)], "n long")
    # n -> n*2 up to 16, UNION ALL semantics
    out = recursive_cte(
        base,
        lambda w: w.filter(F.col("n") < 16).select((F.col("n") * 2).alias("n")),
        distinct=False,
    )
    assert sorted(r["n"] for r in out.collect()) == [1, 2, 4, 8, 16]


def test_recursive_cte_cycle_terminates(spark):
    # cycle 0 -> 1 -> 0: UNION (distinct) must terminate
    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    base = spark.createDataFrame([(0,)], "node long")
    out = recursive_cte(
        base,
        lambda w: w.join(edges, w["node"] == edges["src"]).select(F.col("dst").alias("node")),
        distinct=True,
    )
    assert sorted(r["node"] for r in out.collect()) == [0, 1]


def test_recursive_cte_union_dedupes_base(spark):
    # UNION: duplicate base rows collapse (pip duckdb WITH RECURSIVE … UNION)
    base = spark.createDataFrame([(1,), (1,)], "x long")
    out = recursive_cte(
        base,
        lambda w: w.filter(F.col("x") < 3).select((F.col("x") + 1).alias("x")),
        distinct=True,
    )
    assert sorted(r["x"] for r in out.collect()) == [1, 2, 3]


def test_recursive_cte_union_dedupes_step(spark):
    # UNION: a step emitting each row twice, or a row already held, adds it once
    base = spark.createDataFrame([(1,), (2,)], "x long")

    def step(w):
        nxt = w.filter(F.col("x") < 3).select((F.col("x") + 1).alias("x"))
        return nxt.unionByName(nxt)

    out = recursive_cte(base, step, distinct=True)
    assert sorted(r["x"] for r in out.collect()) == [1, 2, 3]


def test_distinct_on_keep_last(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 5, "z")], "k string, o int, p string"
    )
    out = {r["k"]: r["p"] for r in distinct_on(df, ["k"], ["o"], keep="last").collect()}
    assert out == {"a": "y", "b": "z"}


def test_reservoir_sample_size_and_determinism(spark):
    df = spark.range(1000)
    s1 = sorted(r["id"] for r in reservoir_sample(df, 10, seed=7).collect())
    s2 = sorted(r["id"] for r in reservoir_sample(df, 10, seed=7).collect())
    assert len(s1) == 10 and s1 == s2


def test_multimodal_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, b"imagebytes-1"), (2, b"imagebytes-22")], "doc_id long, payload binary"
    )
    media = attach_media(docs, "doc_id", "payload")
    assert set(media.columns) == {"doc_id", "media_type", "width", "height", "n_bytes", "payload"}
    feats = extract_features(media, dim=8, fake=True)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows[1]["feat"]) == 8
    # deterministic fake decode: same payload → same features
    feats2 = {r["doc_id"]: r["feat"] for r in extract_features(media, dim=8, fake=True).collect()}
    assert feats2[1] == list(rows[1]["feat"]) and feats2[2] == list(rows[2]["feat"])
    # real decoder rejects unrecognized containers with a named error
    from duckdb_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError, match="unrecognized image container"):
        decode_image(b"x")
    frames = frame_sample(media, every_n=5)
    assert frames.count() > 0


def test_io_roundtrip_and_sniffer(spark):
    from duckdb_spark.io import copy_to, read_csv, sniff_csv

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        copy_to(df, f"{d}/out_csv", format="csv", header=True)
        back = read_csv(spark, f"{d}/out_csv", header=True)
        assert sorted((r["id"], r["s"]) for r in back.collect()) == [(1, "a"), (2, "b")]
        copy_to(df, f"{d}/out_parquet", format="parquet", partition_by=["s"])
        assert os.path.isdir(f"{d}/out_parquet/s=a")
        # sniffer on a ;-delimited file
        path = f"{d}/semi.csv"
        with open(path, "w") as fh:
            fh.write("x;y\n1;2\n3;4\n")
        sniffed = sniff_csv(path)
        assert sniffed["Delimiter"] == ";"
        assert [c["name"] for c in sniffed["Columns"]] == ["x", "y"]


def test_copy_to_csv_nested_renders_jvm_side(spark):
    """COPY TO csv of nested columns renders DuckDB text JVM-side: no
    BatchEvalPython in the plan (VERDICT r10 item 9), and the rendered
    text matches the Python twin renderer (render_duck, which encodes
    the reference's Value::ToString quoting rules)."""
    from duckdb_spark.io import copy_to, read_csv
    from duckdb_spark.sql.textcast import render_duck, render_duck_sql
    from pyspark.sql import functions as F

    df = spark.sql(
        "SELECT 1 AS id, array(1, 2, 3) AS l, "
        "named_struct('a', 7, 'b', 'x y') AS st, "
        "map('k', 42) AS mp, array('a', 'has,comma', '') AS ls")
    rendered = df.select(
        "id",
        *[F.expr(render_duck_sql(f"`{c}`",
                                 df.schema[c].dataType)).alias(c)
          for c in ("l", "st", "mp", "ls")])
    plan = rendered._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    row = rendered.collect()[0]
    raw = df.collect()[0]
    exp = tuple(render_duck(raw[c]) for c in ("l", "st", "mp", "ls"))
    assert (row["l"], row["st"], row["mp"], row["ls"]) == exp
    # end-to-end through the writer: plan free of Python eval
    with tempfile.TemporaryDirectory() as d:
        copy_to(df, f"{d}/n_csv", format="csv", header=True)
        back = read_csv(spark, f"{d}/n_csv", header=True,
                        all_varchar=True)
        got = back.collect()[0]
        assert got["l"] == exp[0] and got["st"] == exp[1]


def test_relation_string_api(spark):
    from duckdb_spark.relation import Connection

    con = Connection(spark=spark, sf_dir="/root/testdata/sf0.001")
    rel = (
        con.table("lineitem")
        .filter("l_quantity < 24")
        .aggregate("round(sum(l_extendedprice * l_discount), 2) AS rev, count(*) AS n", "l_returnflag")
        .order("l_returnflag")
    )
    rows = rel.fetchall()
    assert len(rows) == 3 and rows[0]["rev"] > 0


def test_global_asof_bucketed_matches_naive(spark):
    """Global (no-by) ASOF now runs range-bucketed: same answer as the
    single-window formulation, but no single-partition window over the
    whole union (round-1 scale-killer)."""
    import random

    from duckdb_spark.operators.asof import asof_join

    rnd = random.Random(7)
    # unique build keys: the matched row at a duplicate order key is
    # engine-unspecified (same as DuckDB), so don't test that
    build_ts = rnd.sample(range(0, 10_000), 400)
    build = spark.createDataFrame(
        [(float(t), i) for i, t in enumerate(build_ts)], "t double, bval int"
    )
    probe = spark.createDataFrame(
        [(float(rnd.randrange(0, 10_000)), i) for i in range(300)], "t double, pid int"
    )
    got = asof_join(probe, build, on="t", how="left")
    rows = {r.pid: (r.t_asof, r.bval) for r in got.collect()}
    # naive reference computed driver-side
    bs = sorted((r.t, r.bval) for r in build.collect())
    for r in probe.collect():
        best = None
        for t, v in bs:
            if t <= r.t:
                best = (t, v)
            else:
                break
        assert rows[r.pid] == (best if best else (None, None)), r.pid
    # forward direction spot check
    fwd = asof_join(probe, build, on="t", direction="forward", how="left")
    frows = {r.pid: (r.t_asof, r.bval) for r in fwd.collect()}
    for r in probe.collect():
        cands = [(t, v) for t, v in bs if t >= r.t]
        best = min(cands) if cands else (None, None)
        assert frows[r.pid] == best, r.pid


def test_ngram_prefix_filter_prunes_hot_shingles(spark):
    from duckdb_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high today"),
            (2, "the quick brown fox jumps high tonight"),
            (3, "a completely different sentence appears right here"),
        ],
        "doc_id long, text string",
    )
    exact = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    pruned = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=1).collect()
    # every shared shingle of (1,2) has df=2 > 1 → pruned drops the pair;
    # exact keeps it
    assert {(r.id_a, r.id_b) for r in exact} == {(1, 2)}
    assert pruned == []


def test_embedding_neardup_blockless_large_falls_back_to_lsh(spark):
    """Above the crossjoin limit, blockless input auto-routes through
    sign-LSH blocking (VERDICT r10/r12: fallback instead of refusal): the
    plan must carry NO CartesianProduct and the result must equal the
    explicit lsh_buckets block path."""
    from duckdb_spark.operators import dedup as D
    from duckdb_spark.operators import similarity as S

    old = D._NEARDUP_CROSSJOIN_LIMIT
    D._NEARDUP_CROSSJOIN_LIMIT = 5
    try:
        emb = spark.range(10).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.cos(F.col("id").cast("double") / 3.0),
                F.sin(F.col("id").cast("double") / 3.0),
            ).alias("embedding"),
        )
        auto = D.embedding_neardup_pairs(emb, threshold=0.5)
        plan = auto._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        explicit = D.embedding_neardup_pairs(
            S.lsh_buckets(emb, "embedding", 2, num_planes=8),
            threshold=0.5,
            block_col="bucket",
        )
        got = sorted(tuple(r) for r in auto.collect())
        want = sorted(tuple(r) for r in explicit.collect())
        assert got == want and len(got) > 0
        # explicit opt-in still gives the exact quadratic plan
        n = D.embedding_neardup_pairs(
            emb.select("vec_id", F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")),
            threshold=0.5,
            allow_crossjoin=True,
        ).count()
        assert n == 45  # all pairs, identical vectors
    finally:
        D._NEARDUP_CROSSJOIN_LIMIT = old


def test_recursive_cte_using_key_shortest_path(spark):
    """USING KEY recursion: Bellman-Ford-style relaxation where each round
    REPLACES the per-key row instead of accumulating (reference
    physical_recursive_cte_key_join.cpp). Plain UNION recursion on this
    graph would keep every intermediate distance."""
    edges = spark.createDataFrame(
        [(0, 1, 4.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 1.0), (2, 3, 5.0)],
        "src int, dst int, w double",
    ).localCheckpoint(eager=True)
    dist = spark.createDataFrame([(0, 0.0)], "node int, d double")

    def relax(cur):
        cand = (
            cur.join(edges, cur.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d"))
            .unionByName(cur)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        # only emit rows that improve on the current table
        improved = cand.join(
            cur.withColumnRenamed("d", "d_old"), "node", "left"
        ).filter(F.col("d_old").isNull() | (F.col("d") < F.col("d_old"))).select("node", "d")
        return improved

    out = recursive_cte(dist, relax, key=["node"])
    got = {r.node: r.d for r in out.collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 1.0, 3: 4.0}


def test_recursive_cte_aggregates_need_a_key(spark):
    base = spark.createDataFrame([(1, 5)], "a int, b int")
    with pytest.raises(ValueError, match="aggregates need a key"):
        recursive_cte(base, lambda w: w, aggregates=lambda h: h)


def test_shingle_hashes60_top_bits_equal_md5_prefix_base(spark):
    """The single-pass pipeline derives the 32-bit signature base as
    h60 >> 28; it must equal conv(substr(md5,1,8),16,10) — the value the
    DuckDB oracle computes — for every shingle, or signatures (and thus
    the candidate set) silently diverge from the oracle."""
    from duckdb_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    row = docs.select(
        F.transform(
            D.shingle_hashes60(F.col("text"), 3), lambda h: F.shiftrightunsigned(h, 28)
        ).alias("from60"),
        D.minhash_base_hashes(F.col("text"), 3).alias("direct"),
    ).collect()[0]
    assert sorted(row.from60) == sorted(row.direct) and len(row.from60) == 8


def test_hashed_shingles_jaccard_matches_string_formulation(spark):
    """The verify stages shuffle xxhash64'd shingles instead of raw shingle
    strings; set sizes, intersections, and every verified Jaccard value must
    be identical to the string formulation (collisions ~2^-64)."""
    from duckdb_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again tonight"),
            (3, "an entirely different document with other words inside it"),
            (4, "the quick brown fox jumps over the lazy dog again today"),
        ],
        "doc_id long, text string",
    )
    hashed = docs.select(
        "doc_id", D.hashed_shingles(F.col("text"), 3).alias("h"),
        D.shingles(F.col("text"), 3).alias("s"),
    ).collect()
    for r in hashed:
        assert len(r.h) == len(r.s)  # distinct cardinality preserved

    # minhash_dedup end-to-end equals the string-shingle verify it replaced
    kept = {r.doc_id for r in D.minhash_dedup(docs, jaccard_threshold=0.7).collect()}
    sh = docs.select(F.col("doc_id").alias("__sid"), D.shingles(F.col("text"), 3).alias("__sh"))
    cands = D.minhash_lsh_candidates(docs, "doc_id", "text", 16, 4, 3)
    verified = (
        cands.join(sh.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn("__inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("j", F.col("__inter") / (F.size("sh_a") + F.size("sh_b") - F.col("__inter")))
        .filter(F.col("j") >= 0.7)
    )
    dup = {r.id_b for r in verified.collect()}
    assert kept == {1, 2, 3, 4} - dup and 4 in dup
