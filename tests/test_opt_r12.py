"""Focused tests for the r12 optimization rewrites.

Each pins an equivalence that the optimization relied on by argument:
- tpch_q21's collect_set-free window reduction (the multi-at-max tie case
  is the subtle one) against a brute-force EXISTS/NOT-EXISTS reference.
- the minhash verify size-prefilter boundary (jac == threshold exactly,
  where min(|A|,|B|) == t·max(|A|,|B|) — the prefilter must keep it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def q21_fixture_dir(spark, tmp_path_factory):
    """Tiny lineitem/orders/supplier parquet triple engineered around the
    tie cases of the q21 window reduction:
    - order 1: two suppliers, BOTH achieve the max shipdate (multi-at-max)
      → every row of the order qualifies.
    - order 2: argmax supplier unique; its row qualifies, the earlier
      other-supplier row does not.
    - order 3: single supplier (EXISTS fails) → no rows qualify.
    - order 4: three suppliers, argmax unique, another supplier ties the
      SECOND date → only the argmax row qualifies.
    """
    d = str(tmp_path_factory.mktemp("q21"))
    rows = [
        # (l_orderkey, l_suppkey, l_shipdate)
        (1, 10, "1995-01-05"), (1, 20, "1995-01-05"), (1, 10, "1995-01-01"),
        (2, 10, "1995-02-05"), (2, 20, "1995-02-01"),
        (3, 30, "1995-03-05"), (3, 30, "1995-03-09"),
        (4, 10, "1995-04-09"), (4, 20, "1995-04-05"), (4, 30, "1995-04-05"),
    ]
    li = spark.createDataFrame(
        [(o, s, d_) for o, s, d_ in rows],
        "l_orderkey long, l_suppkey long, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    orders = spark.createDataFrame(
        [(k, "F") for k in (1, 2, 3, 4)], "o_orderkey long, o_orderstatus string"
    )
    supplier = spark.createDataFrame(
        [(s, f"supp#{s}") for s in (10, 20, 30)], "s_suppkey long, s_name string"
    )
    li.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    orders.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    supplier.write.mode("overwrite").parquet(os.path.join(d, "supplier.parquet"))
    return d


def test_q21_window_reduction_matches_bruteforce(spark, q21_fixture_dir):
    from duckdb_spark.queries.tpch import tpch_q21

    got = {(r.s_name, r.numwait) for r in tpch_q21(spark, q21_fixture_dir).collect()}

    # Brute-force reference: literal EXISTS / NOT EXISTS semi/anti joins.
    li = spark.read.parquet(os.path.join(q21_fixture_dir, "lineitem.parquet"))
    l1, l2, l3 = li.alias("l1"), li.alias("l2"), li.alias("l3")
    exists = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    not_exists = exists.alias("l1").join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
        "left_anti",
    )
    supplier = spark.read.parquet(os.path.join(q21_fixture_dir, "supplier.parquet"))
    expected = {
        (r.s_name, r.numwait)
        for r in not_exists.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name").agg(F.count("*").alias("numwait")).collect()
    }
    assert got == expected
    # the tie case must actually be exercised: order 1's BOTH tied-at-max
    # suppliers qualify (supp#20's single win comes from there); supp#10
    # adds the argmax rows of orders 2 and 4; supp#30 never qualifies
    # (single-supplier order 3, dominated in order 4)
    assert expected == {("supp#10", 3), ("supp#20", 1)}


def test_minhash_verify_prefilter_keeps_boundary_pair(spark):
    """jac == 0.7 exactly with |A| = 7, |B| = 10 (A's shingles ⊂ B's):
    the size prefilter min/max >= t holds with equality and the pair must
    survive to the verified set (doc with larger id dropped)."""
    from duckdb_spark.operators.dedup import minhash_dedup

    words = [f"w{i}" for i in range(12)]  # 10 3-shingles
    b_text = " ".join(words)
    a_text = " ".join(words[:9])  # 7 3-shingles, strict subset
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, "completely different tokens here okay")],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in minhash_dedup(docs, jaccard_threshold=0.7).collect()}
    # jaccard(A,B) = 7 / 10 = 0.7 >= 0.7 → doc 2 is a near-dup of doc 1
    assert kept == {1, 3}


def test_duck_round_matches_duckdb_on_rendering_ties(spark):
    """duck_round must reproduce DuckDB's ROUND(DOUBLE, s) = std::round
    (x*10^s)/10^s exactly — including the decimal-rendering ties where
    Spark's round() disagrees (82/80 renders "1.025" → Spark 1.03, DuckDB
    1.02). Differential against duckdb itself, plus plain values, negatives
    and the scale-4 path used by ev_timeseries' fill digest."""
    import duckdb

    from duckdb_spark.functions.scalar import duck_round

    vals = [
        82 / 80,          # the sf0.1 sessionization tie (1.025 rendering)
        -82 / 80,
        2.675,            # classic fp tie: 2.675*100 = 267.49999…
        1.005, -1.005, 0.125, 2.5, -2.5, 0.0, 1.0 / 3.0,
        12345.6789, -0.00005, 7.0,
    ]
    for scale in (0, 2, 4):
        exp = [
            duckdb.execute(
                "SELECT ROUND(CAST(? AS DOUBLE), ?)", [v, scale]
            ).fetchone()[0]
            for v in vals
        ]
        got = [
            r.r
            for r in spark.createDataFrame([(v,) for v in vals], "x double")
            .select(duck_round(F.col("x"), scale).alias("r"))
            .collect()
        ]
        assert got == exp, f"scale={scale}: {list(zip(vals, got, exp))}"


def test_regr_folds_bit_identical_to_duckdb(spark):
    """welford_sq_fold / covar_sxy_fold must reproduce DuckDB's
    regr_sxx/sxy/syy UNROUNDED doubles bit-for-bit (they replay the
    reference's per-row updates in scan order). Differential on the
    sf0.01 supplier/nation fixture — the exact-tie amplification this
    guards (ROUND on a .975 decimal tie) is fn_wave2_agg's sxx."""
    import duckdb

    from pyspark.sql import functions as F

    from duckdb_spark.catalog import read_table
    from duckdb_spark.functions.aggregates import covar_sxy_fold, welford_sq_fold

    sf_dir = "/root/testdata/sf0.01"
    sup = read_table(spark, sf_dir, "supplier").select(
        "*", F.col("_metadata.row_index").alias("__pos")
    )
    nat = read_table(spark, sf_dir, "nation")
    sk, bal = F.col("s_suppkey"), F.col("s_acctbal")
    vals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__pos").alias("pos"),
                (sk % 100).cast("double").alias("x"),
                bal.cast("double").alias("y"),
            )
        )
    )
    got = {
        r.n_name: (r.sxx, r.sxy, r.syy)
        for r in sup.join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(vals.alias("v"))
        .select(
            "n_name",
            welford_sq_fold(F.col("v"), "x").alias("sxx"),
            covar_sxy_fold(F.col("v")).alias("sxy"),
            welford_sq_fold(F.col("v"), "y").alias("syy"),
        )
        .collect()
    }
    con = duckdb.connect()
    for t in ("supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    exp = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """SELECT n_name, regr_sxx(s_acctbal, s_suppkey % 100),
                      regr_sxy(s_acctbal, s_suppkey % 100),
                      regr_syy(s_acctbal, s_suppkey % 100)
               FROM supplier JOIN nation ON s_nationkey = n_nationkey
               GROUP BY n_name"""
        ).fetchall()
    }
    assert got == exp  # exact float equality — bit-identity is the contract
    # a row whose x OR y is NULL is skipped by all three
    pairs = [(1.0, 2.0), (2.0, None), (4.0, 5.0), (None, 7.0)]
    small = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pairs)], "pos long, x double, y double"
    ).agg(F.array_sort(F.collect_list(F.struct("pos", "x", "y"))).alias("v"))
    got = small.select(
        welford_sq_fold(F.col("v"), "x"),
        covar_sxy_fold(F.col("v")),
        welford_sq_fold(F.col("v"), "y"),
    ).first()
    exp = con.execute(
        "SELECT regr_sxx(y, x), regr_sxy(y, x), regr_syy(y, x) FROM (VALUES "
        "(1.0::DOUBLE, 2.0::DOUBLE), (2.0, NULL), (4.0, 5.0), (NULL, 7.0)) t(x, y)"
    ).fetchone()
    assert tuple(got) == exp
    assert (exp[0], exp[2]) == (4.5, 4.5)


def test_arg_max_fold_first_scan_order_max_wins(spark):
    """DuckDB's arg_max updates only on STRICTLY greater, so on tied
    by-values the first row in scan order wins — pin the fold to that
    (and to null by-values being skipped)."""
    from pyspark.sql import functions as F

    from duckdb_spark.functions.aggregates import arg_max_fold

    rows = [
        # (pos, arg, by): max by=9.0 is tied at pos 1 and 3 → arg 20 wins
        (0, 10, 1.0), (1, 20, 9.0), (2, 30, 5.0), (3, 40, 9.0), (4, 50, None),
    ]
    df = spark.createDataFrame(rows, "pos int, a long, y double")
    vals = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("a"), F.col("y")))
    )
    got = df.agg(arg_max_fold(vals, "a", "y").alias("m")).collect()[0].m
    assert got == 20
    # all-null by-values → NULL result, like the reference's ReturnNull
    df2 = spark.createDataFrame([(0, 1, None)], "pos int, a long, y double")
    got2 = df2.agg(arg_max_fold(vals, "a", "y").alias("m")).collect()[0].m
    assert got2 is None


def test_product_fold_bit_identical_to_duckdb(spark):
    """product_fold must reproduce DuckDB's sequential scan-order PRODUCT
    bit-for-bit on single-row-group inputs (the driver's scales). On
    multi-file fixtures DuckDB's own multi-threaded product is
    nondeterministic in the last ulps (combine order) — threads=1 is the
    canonical sequential semantics the fold replays."""
    import duckdb

    from pyspark.sql import functions as F

    from duckdb_spark.catalog import read_table
    from duckdb_spark.functions.aggregates import product_fold

    sf_dir = "/root/testdata/sf0.01"
    sup = read_table(spark, sf_dir, "supplier").select(
        "*",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__p"),
    )
    nat = read_table(spark, sf_dir, "nation")
    vals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__f").alias("f"),
                F.col("__p").alias("p"),
                (1 + F.col("s_acctbal") / 100000).cast("double").alias("v"),
            )
        )
    )
    got = {
        r.n_name: r.prod
        for r in sup.join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(product_fold(vals, "v").alias("prod"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    exp = dict(
        con.execute(
            """SELECT n_name, PRODUCT(1 + s_acctbal / 100000)
               FROM supplier JOIN nation ON s_nationkey = n_nationkey
               GROUP BY n_name"""
        ).fetchall()
    )
    assert got == exp  # exact float equality — bit-identity is the contract
