"""Property/differential tests for the function library vs the DuckDB
oracle — randomized inputs via hypothesis, evaluated in both engines.

Strategy (SURVEY.md §5(d)): generate literal rows, run the same expression
through our Column builders and DuckDB SQL, compare exactly.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from duckdb_spark.functions import aggregates as A
from duckdb_spark.functions import scalar as S

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=0,
    max_size=20,
)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _spark_eval(spark, col, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(col.alias("out")).collect()]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(TEXT, TEXT), min_size=1, max_size=8))
def test_levenshtein_parity(spark, duck, pairs):
    got = _spark_eval(spark, F.levenshtein("a", "b"), pairs, "a string, b string")
    want = [duck.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0] for a, b in pairs]
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
# epochs capped at 2^33 s (~year 2242): DuckDB's to_timestamp converts via
# DOUBLE seconds, which loses µs precision past 2^53 µs — beyond that the
# oracle itself is off by 64 µs steps, not our arithmetic (verified:
# epoch_us(to_timestamp(642590350781)) = …780999936 in DuckDB)
@given(st.lists(st.integers(min_value=0, max_value=2**33), min_size=1, max_size=8),
       st.integers(min_value=1, max_value=365 * 24 * 3600))
def test_time_bucket_parity(spark, duck, epochs, width_s):
    rows = [(e,) for e in epochs]
    col = S.time_bucket(width_s, F.timestamp_seconds(F.col("e")))
    got = _spark_eval(spark, F.unix_micros(col.cast("timestamp")), rows, "e long")
    want = [
        duck.execute(
            f"SELECT epoch_us(time_bucket(INTERVAL {width_s} SECOND, to_timestamp(?)))", [e]
        ).fetchone()[0]
        for e in epochs
    ]
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=6))
def test_date_part_dow_parity(spark, duck, epochs):
    rows = [(e,) for e in epochs]
    for part in ("dow", "isodow", "doy", "quarter", "decade"):
        col = S.date_part(part, F.timestamp_seconds(F.col("e")))
        got = _spark_eval(spark, col.cast("long"), rows, "e long")
        want = [
            duck.execute(f"SELECT date_part('{part}', to_timestamp(?))", [e]).fetchone()[0]
            for e in epochs
        ]
        assert got == want, part


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=6),
       st.lists(st.integers(min_value=1, max_value=10**6), min_size=1, max_size=6))
def test_gcd_lcm_parity(spark, duck, xs, ys):
    n = min(len(xs), len(ys))
    rows = list(zip(xs[:n], ys[:n]))
    got_gcd = _spark_eval(spark, S.gcd("a", "b").cast("long"), rows, "a long, b long")
    want_gcd = [duck.execute("SELECT gcd(?, ?)", [a, b]).fetchone()[0] for a, b in rows]
    assert got_gcd == want_gcd
    got_lcm = _spark_eval(spark, S.lcm("a", "b").cast("long"), rows, "a long, b long")
    want_lcm = [duck.execute("SELECT lcm(?, ?)", [a, b]).fetchone()[0] for a, b in rows]
    assert got_lcm == want_lcm


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=4, max_size=30))
# the second moment is positive but its square underflows to 0
@example([0.0, 0.0, 0.0, 4.28e-107])
def test_skewness_kurtosis_parity(spark, duck, values):
    """Value parity AND error parity: DuckDB throws OutOfRangeException when
    the statistic overflows to non-finite (reference kurtosis.cpp:91,
    skew.cpp:78) — our aggregates raise the same message."""
    rows = [(float(v),) for v in values]
    df = spark.createDataFrame(rows, "x double")
    duck.execute("CREATE OR REPLACE TABLE tt AS SELECT * FROM (VALUES "
                 + ",".join(f"({v!r})" for v, in rows) + ") t(x)")
    for fn, duck_fn in ((A.skewness, "skewness"), (A.kurtosis, "kurtosis")):
        try:
            want = duck.execute(f"SELECT ROUND({duck_fn}(x), 6) FROM tt").fetchone()[0]
            want_err = None
        except Exception as e:  # noqa: BLE001 — DuckDB OutOfRangeException
            want, want_err = None, str(e)
        try:
            got = df.agg(F.round(fn("x"), 6).alias("v")).collect()[0]["v"]
            got_err = None
        except Exception as e:  # noqa: BLE001 — Spark raise_error
            got, got_err = None, str(e)
        if want_err is not None:
            assert got_err is not None and "out of range" in got_err.lower(), (
                values, want_err, got_err)
        elif got is None or want is None:
            assert got == want and got_err is None, (values, got, want, got_err)
        else:
            assert abs(got - want) < 1e-4, (got, want, values)


def test_even_signbit_formatbytes(spark, duck):
    vals = [-3.5, -2.0, -0.5, 0.0, 0.5, 2.0, 2.5, 3.1]
    rows = [(v,) for v in vals]
    got = _spark_eval(spark, S.even("x"), rows, "x double")
    want = [duck.execute("SELECT even(?)", [v]).fetchone()[0] for v in vals]
    assert got == want
    sizes = [0, 999, 1024, 1536, 10**6, 10**9]
    got_fb = _spark_eval(spark, S.format_bytes(F.col("n")), [(s,) for s in sizes], "n long")
    assert got_fb[2] == "1.0 KiB" and got_fb[0] == "0 bytes"


def test_hamming_jaccard(spark, duck):
    pairs = [("abcd", "abcf"), ("hello", "hallo"), ("aa", "aa")]
    got_h = _spark_eval(spark, S.hamming("a", "b"), pairs, "a string, b string")
    want_h = [duck.execute("SELECT hamming(?, ?)", [a, b]).fetchone()[0] for a, b in pairs]
    assert got_h == want_h
    got_j = _spark_eval(spark, F.round(S.jaccard("a", "b"), 6), pairs, "a string, b string")
    want_j = [
        round(duck.execute("SELECT jaccard(?, ?)", [a, b]).fetchone()[0], 6) for a, b in pairs
    ]
    assert got_j == want_j


def test_strftime_roundtrip(spark):
    rows = [(1700000000,)]
    col = S.strftime(F.timestamp_seconds(F.col("e")), "%Y-%m-%d %H:%M:%S")
    out = _spark_eval(spark, col, rows, "e long")[0]
    back = _spark_eval(
        spark,
        F.unix_micros(S.strptime(F.lit(out), "%Y-%m-%d %H:%M:%S").cast("timestamp")),
        rows,
        "e long",
    )[0]
    assert back == 1700000000 * 1_000_000


def test_wave2_collation_and_misc(spark, duck):
    """ICU collation via Spark 4 native collate: German sorts 'ö' with 'o',
    matching DuckDB's icu_collate_de-keyed ordering; plus bitstring and
    enum emulation helpers."""
    from duckdb_spark.functions import scalar2 as S2

    df = spark.createDataFrame([("zebra",), ("öl",), ("ocean",)], "s string")
    got = [r.s for r in df.orderBy(S2.COLLATION_FUNCTIONS["icu_collate_de"]("s")).collect()]
    want = [r[0] for r in duck.execute(
        "SELECT s FROM (VALUES ('zebra'),('öl'),('ocean')) t(s) ORDER BY icu_collate_de(s)"
    ).fetchall()]
    assert got == want == ["ocean", "öl", "zebra"]

    row = spark.range(1).select(
        S2.get_bit(F.lit("0110"), F.lit(1)).alias("gb"),
        S2.set_bit(F.lit("0110"), F.lit(0), F.lit(1)).alias("sb"),
        S2.bitstring(F.lit("101"), 8).alias("bs"),
        S2.enum_code(["a", "b", "c"], F.lit("b")).alias("ec"),
        S2.enum_first(["a", "b", "c"]).alias("ef"),
        F.array_join(S2.enum_range(["a", "b", "c"]), ",").alias("er"),
        S2.like_escape(F.lit("10%"), "10!%", "!").alias("le"),
        S2.regexp_escape(F.lit("a.b*c")).alias("re"),
    ).collect()[0]
    assert row.gb == 1 and row.sb == "1110" and row.bs == "00000101"
    assert row.ec == 1 and row.ef == "a" and row.er == "a,b,c"
    assert row.le is True
    assert row.re == duck.execute("SELECT regexp_escape('a.b*c')").fetchone()[0]


def test_map_extract_hit_and_miss(spark, duck):
    """map_extract returns a LIST of 0 or 1 matches (reference map_extract);
    both the hit and the miss (typed empty list) paths vs DuckDB."""
    from duckdb_spark.functions import scalar2 as S2

    df = spark.range(1).select(
        F.create_map(F.lit("a"), F.lit(10), F.lit("b"), F.lit(20)).alias("m")
    )
    got = df.select(
        S2.map_extract("m", "a").alias("hit"),
        S2.map_extract("m", "zz").alias("miss"),
    ).collect()[0]
    want = duck.execute(
        "SELECT map_extract(map(['a','b'], [10, 20]), 'a'), "
        "map_extract(map(['a','b'], [10, 20]), 'zz')"
    ).fetchone()
    assert list(got.hit) == want[0] == [10]
    assert list(got.miss) == want[1] == []


def test_yearweek_iso_boundaries(spark, duck):
    """yearweek uses the ISO year (reference ExtractISOYearWeek): dates near
    year boundaries belong to the adjacent ISO year."""
    from duckdb_spark.functions import scalar2 as S2

    dates = ["2021-01-01", "2019-12-30", "1995-03-15", "2016-01-03"]
    got = spark.createDataFrame([(d,) for d in dates], "d string").select(
        S2.yearweek(F.col("d").cast("date")).cast("long").alias("yw")
    ).collect()
    for (g,), d in zip(got, dates):
        want = duck.execute(f"SELECT yearweek(DATE '{d}')").fetchone()[0]
        assert g == want, (d, g, want)
