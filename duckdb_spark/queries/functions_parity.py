"""Scalar-function parity queries (SURVEY.md §2.8 breadth).

Each query evaluates a batch of DuckDB-surface functions over real table
data and is differentially checked against DuckDB computing the *same
functions natively* — i.e. these validate our Column builders' semantics
(NULLs, edge values, dialect differences), not just that something runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.catalog import read_table
from duckdb_spark.functions import scalar as S
from duckdb_spark.queries import register


@register(
    "fn_string_batch",
    oracle="""
SELECT n_name,
       upper(n_name) AS up, lower(n_name) AS lo,
       substr(n_name, 2, 3) AS sub,
       replace(n_name, '_', '-') AS rep,
       lpad(n_name, 12, '*') AS lp, rpad(n_name, 12, '*') AS rp,
       reverse(n_name) AS rev,
       CAST(length(n_name) AS INT) AS len,
       CAST(strpos(n_name, '_') AS INT) AS pos,
       left(n_name, 6) AS l6, right(n_name, 2) AS r2,
       repeat('ab', 3) AS rep3,
       concat_ws('/', n_name, 'x') AS cw,
       CAST(levenshtein(n_name, 'NATION_1') AS INT) AS lev,
       md5(n_name) AS m5,
       sha256(n_name) AS sh,
       CAST(ascii(n_name) AS INT) AS asc_,
       translate(n_name, 'NAT', 'nat') AS tr,
       CAST(starts_with(n_name, 'NATION') AS BOOLEAN) AS sw,
       contains(n_name, '_1') AS ct,
       CAST(instr(n_name, 'ION') AS INT) AS ins,
       trim('  ' || n_name || ' ') AS tr2,
       split_part(n_name, '_', 2) AS sp2,
       to_base64(CAST(n_name AS BLOB)) AS b64,
       CAST(regexp_matches(n_name, '_[0-9]+$') AS BOOLEAN) AS rx,
       regexp_extract(n_name, '([0-9]+)', 1) AS rxe,
       regexp_replace(n_name, '[0-9]', '#', 'g') AS rxr
FROM nation ORDER BY n_name
""",
)
def fn_string_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function batch: 27 functions vs DuckDB natives.

    Dialect shims validated here: strpos≡instr, sha256≡sha2(·,256),
    DuckDB regexp_replace needs the 'g' flag for global (Spark is always
    global), left/right, split_part 1-based."""
    (nation,) = [read_table(spark, sf_dir, "nation")]
    n = F.col("n_name")
    return nation.select(
        "n_name",
        F.upper(n).alias("up"), F.lower(n).alias("lo"),
        F.substring(n, 2, 3).alias("sub"),
        F.replace(n, F.lit("_"), F.lit("-")).alias("rep"),
        F.lpad(n, 12, "*").alias("lp"), F.rpad(n, 12, "*").alias("rp"),
        F.reverse(n).alias("rev"),
        F.length(n).alias("len"),
        S.strpos(n, "_").alias("pos"),
        F.expr("left(n_name, 6)").alias("l6"), F.expr("right(n_name, 2)").alias("r2"),
        F.repeat(F.lit("ab"), 3).alias("rep3"),
        F.concat_ws("/", n, F.lit("x")).alias("cw"),
        F.levenshtein(n, F.lit("NATION_1")).alias("lev"),
        F.md5(n).alias("m5"),
        S.sha256(n).alias("sh"),
        F.ascii(n).alias("asc_"),
        F.translate(n, "NAT", "nat").alias("tr"),
        F.startswith(n, F.lit("NATION")).alias("sw"),
        F.contains(n, F.lit("_1")).alias("ct"),
        F.instr(n, "ION").alias("ins"),
        F.trim(F.concat(F.lit("  "), n, F.lit(" "))).alias("tr2"),
        F.split_part(n, F.lit("_"), F.lit(2)).alias("sp2"),
        F.base64(n.cast("binary")).alias("b64"),
        F.regexp_like(n, F.lit("_[0-9]+$")).alias("rx"),
        F.regexp_extract(n, "([0-9]+)", 1).alias("rxe"),
        F.regexp_replace(n, "[0-9]", "#").alias("rxr"),
    ).orderBy("n_name")


@register(
    "fn_date_batch",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
       CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
       CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS doy,
       CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
       CAST(EXTRACT(isodow FROM o_orderdate) AS INT) AS isodow,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qstart,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS eom,
       dayname(o_orderdate) AS dname,
       monthname(o_orderdate) AS mname,
       CAST(epoch(o_orderdate) AS BIGINT) AS ep,
       CAST(epoch_ms(o_orderdate) AS BIGINT) AS epms,
       strftime(o_orderdate, '%Y-%m-%d %H:%M') AS fmt,
       CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS dd,
       CAST(date_diff('month', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS md,
       CAST(time_bucket(INTERVAL 7 DAY, o_orderdate) AS DATE) AS wk
FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey
""",
)
def fn_date_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time-function batch incl. DuckDB-semantics dow (Sunday=0),
    isodow (Monday=1), epoch, strftime %-codes, boundary-crossing
    date_diff, and Monday-origin time_bucket weeks."""
    (orders,) = [read_table(spark, sf_dir, "orders")]
    d = F.col("o_orderdate")
    return (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.year(d).alias("y"), F.month(d).alias("mo"), F.dayofmonth(d).alias("d"),
            F.quarter(d).alias("q"), F.dayofyear(d).alias("doy"),
            S.date_part("dow", d).alias("dow"),
            S.date_part("isodow", d).alias("isodow"),
            F.date_trunc("month", d).cast("date").alias("mstart"),
            F.date_trunc("quarter", d).cast("date").alias("qstart"),
            F.last_day(d.cast("date")).alias("eom"),
            S.dayname(d).alias("dname"),
            S.monthname(d).alias("mname"),
            S.epoch(d).cast("long").alias("ep"),
            S.epoch_ms(d).alias("epms"),
            S.strftime(d, "%Y-%m-%d %H:%M").alias("fmt"),
            (d + F.expr("INTERVAL 45 DAY")).cast("date").alias("plus45"),
            S.date_diff("day", F.lit("1995-01-01").cast("timestamp"), d).alias("dd"),
            S.date_diff("month", F.lit("1995-01-01").cast("timestamp"), d).alias("md"),
            S.time_bucket(7 * 86400, d).cast("date").alias("wk"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_math_batch",
    oracle="""
SELECT p_partkey,
       ROUND(abs(p_retailprice - 1000), 4) AS a,
       CAST(ceil(p_retailprice) AS BIGINT) AS c,
       CAST(floor(p_retailprice) AS BIGINT) AS f,
       ROUND(sqrt(p_retailprice), 6) AS sq,
       ROUND(cbrt(p_retailprice), 6) AS cb,
       ROUND(ln(p_retailprice), 6) AS l,
       ROUND(log2(p_retailprice), 6) AS l2,
       ROUND(log10(p_retailprice), 6) AS l10,
       ROUND(exp(p_retailprice / 1000), 6) AS e,
       ROUND(pow(p_size, 2), 2) AS pw,
       CAST(sign(p_retailprice - 1000) AS INT) AS sg,
       p_size // 3 AS idiv,
       p_size % 3 AS imod,
       ROUND(sin(p_size), 6) AS sn, ROUND(cos(p_size), 6) AS cs,
       ROUND(atan2(p_size, 7), 6) AS at2,
       ROUND(degrees(p_size / 10.0), 4) AS dg,
       ROUND(radians(p_size), 6) AS rd,
       CAST(gcd(p_size, 24) AS BIGINT) AS g,
       CAST(lcm(p_size, 6) AS BIGINT) AS lc,
       CAST(factorial(CAST(least(p_size % 10, 9) AS INT)) AS BIGINT) AS fact,
       even(p_retailprice / 100) AS ev,
       isfinite(p_retailprice) AS fin,
       CAST(bit_count(CAST(p_partkey AS BIGINT)) AS INT) AS bc,
       ROUND(greatest(p_retailprice, 1000.0), 2) AS gr,
       ROUND(least(p_retailprice, 1000.0), 2) AS ls
FROM part WHERE p_partkey % 53 = 0 ORDER BY p_partkey
""",
)
def fn_math_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function batch incl. DuckDB // floor-div, gcd/lcm (expression-
    composed — no UDF), even(), factorial, bit_count."""
    (part,) = [read_table(spark, sf_dir, "part")]
    pr, ps = F.col("p_retailprice"), F.col("p_size")
    return (
        part.filter(F.col("p_partkey") % 53 == 0)
        .select(
            "p_partkey",
            F.round(F.abs(pr - 1000), 4).alias("a"),
            F.ceil(pr).alias("c"), F.floor(pr).alias("f"),
            F.round(F.sqrt(pr), 6).alias("sq"),
            F.round(F.cbrt(pr), 6).alias("cb"),
            F.round(F.log(pr), 6).alias("l"),
            F.round(F.log2(pr), 6).alias("l2"),
            F.round(F.log10(pr), 6).alias("l10"),
            F.round(F.exp(pr / 1000), 6).alias("e"),
            F.round(F.pow(ps, 2), 2).alias("pw"),
            F.signum(pr - 1000).cast("int").alias("sg"),
            S.fdiv(ps, 3).cast("int").alias("idiv"),
            (ps % 3).alias("imod"),
            F.round(F.sin(ps), 6).alias("sn"), F.round(F.cos(ps), 6).alias("cs"),
            F.round(F.atan2(ps.cast("double"), F.lit(7.0)), 6).alias("at2"),
            F.round(F.degrees(ps / 10.0), 4).alias("dg"),
            F.round(F.radians(ps.cast("double")), 6).alias("rd"),
            S.gcd(ps, F.lit(24)).cast("long").alias("g"),
            S.lcm(ps, F.lit(6)).alias("lc"),
            F.factorial(F.least(ps % 10, F.lit(9))).alias("fact"),
            S.even(pr / 100).alias("ev"),
            S.isfinite(pr).alias("fin"),
            F.bit_count(F.col("p_partkey")).alias("bc"),
            F.round(F.greatest(pr, F.lit(1000.0)), 2).alias("gr"),
            F.round(F.least(pr, F.lit(1000.0)), 2).alias("ls"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_list_batch",
    oracle="""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE doc_id < 40)
SELECT doc_id,
       CAST(len(t) AS INT) AS n,
       COALESCE(array_to_string(list_sort(list_distinct(t))[1:5], '|'), '') AS first5,
       CAST(len(list_distinct(t)) AS INT) AS uniq,
       list_contains(t, 'data') AS has_data,
       CAST(list_position(t, 'data') AS INT) AS pos_data,
       COALESCE(array_to_string(list_slice(t, 1, 3), '-'), '') AS head3,
       COALESCE(array_to_string(list_transform(list_slice(list_sort(t), 1, 3), x -> upper(x)), '|'), '') AS up3,
       COALESCE(array_to_string(list_filter(list_slice(list_sort(t), 1, 8), x -> length(x) > 4), '|'), '') AS long8,
       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_chars,
       COALESCE(array_to_string(list_reverse(list_slice(list_sort(t), 1, 3)), '|'), '') AS rev3,
       list_min(t) AS mn, list_max(t) AS mx,
       COALESCE(array_to_string(flatten([list_slice(list_sort(t), 1, 2), ['zz']]), '|'), '') AS flat
FROM base ORDER BY doc_id
""",
)
def fn_list_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """List/lambda-function batch: HOFs transform/filter/aggregate, slice
    (DuckDB 1-based inclusive), sort/distinct/contains/position/flatten.

    Array-valued outputs are array_join'd so the driver's pandas canon sees
    scalar rows (it can't sort/hash numpy arrays); element order inside each
    serialized list is still exact."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    t = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    sorted_t = F.array_sort(t)
    return docs.select(
        "doc_id",
        F.size(t).alias("n"),
        F.array_join(S.list_slice(F.array_sort(F.array_distinct(t)), 1, 5), "|").alias("first5"),
        F.size(F.array_distinct(t)).alias("uniq"),
        F.array_contains(t, "data").alias("has_data"),
        F.array_position(t, "data").cast("int").alias("pos_data"),
        F.array_join(S.list_slice(t, 1, 3), "-").alias("head3"),
        F.array_join(
            F.transform(S.list_slice(sorted_t, 1, 3), lambda x: F.upper(x)), "|"
        ).alias("up3"),
        F.array_join(
            F.filter(S.list_slice(sorted_t, 1, 8), lambda x: F.length(x) > 4), "|"
        ).alias("long8"),
        F.aggregate(t, F.lit(0).cast("long"), lambda a, x: a + F.length(x)).alias("total_chars"),
        F.array_join(F.reverse(S.list_slice(sorted_t, 1, 3)), "|").alias("rev3"),
        F.array_min(t).alias("mn"), F.array_max(t).alias("mx"),
        F.array_join(
            F.flatten(F.array(S.list_slice(sorted_t, 1, 2), F.array(F.lit("zz")))), "|"
        ).alias("flat"),
    ).orderBy("doc_id")


@register(
    "fn_struct_map_batch",
    oracle="""
SELECT n_nationkey AS nk,
       struct_extract({'name': n_name, 'region': n_regionkey}, 'name') AS sname,
       CAST(struct_extract({'name': n_name, 'region': n_regionkey}, 'region') AS INT) AS sregion,
       map_extract(map(['a', 'b'], [n_nationkey, n_regionkey]), 'a')[1] AS ma,
       CAST(cardinality(map(['a', 'b'], [n_nationkey, n_regionkey])) AS INT) AS mlen,
       array_to_string(map_keys(map(['a', 'b'], [n_nationkey, n_regionkey])), '|') AS mkeys,
       array_to_string(map_values(map(['a', 'b'], [n_nationkey, n_regionkey])), '|') AS mvals,
       to_json({'k': n_nationkey}) AS js,
       CAST(json_extract_string(to_json({'k': n_nationkey}), '$.k') AS INT) AS jk
FROM nation ORDER BY nk
""",
)
def fn_struct_map_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct/map/json constructors and extractors. Outputs are scalars and
    arrays — raw MAP columns serialize differently across the two Python
    clients (DuckDB returns dict-of-lists), so maps are exercised via
    keys/values/extract instead."""
    (nation,) = [read_table(spark, sf_dir, "nation")]
    st = F.struct(F.col("n_name").alias("name"), F.col("n_regionkey").alias("region"))
    mp = F.create_map(F.lit("a"), F.col("n_nationkey"), F.lit("b"), F.col("n_regionkey"))
    return nation.select(
        F.col("n_nationkey").alias("nk"),
        st.getField("name").alias("sname"),
        st.getField("region").alias("sregion"),
        F.element_at(mp, "a").alias("ma"),
        F.size(mp).alias("mlen"),
        F.array_join(F.map_keys(mp), "|").alias("mkeys"),
        F.array_join(F.map_values(mp).cast("array<string>"), "|").alias("mvals"),
        F.to_json(F.struct(F.col("n_nationkey").alias("k"))).alias("js"),
        F.get_json_object(
            F.to_json(F.struct(F.col("n_nationkey").alias("k"))), "$.k"
        ).cast("int").alias("jk"),
    ).orderBy("nk")


@register(
    "fn_conditional_batch",
    oracle="""
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
       CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band,
       if(c_acctbal > 0, 'pos', 'nonpos') AS posneg,
       ifnull(NULL, c_custkey) AS nn,
       CAST(try_cast(c_name AS DOUBLE) IS NULL AS BOOLEAN) AS bad_cast,
       CAST(try_cast(CAST(c_custkey AS VARCHAR) AS BIGINT) AS BIGINT) AS good_cast,
       least(c_acctbal, 0.0) AS lo, greatest(c_acctbal, 0.0) AS hi
FROM customer WHERE c_custkey % 71 = 0 ORDER BY c_custkey
""",
)
def fn_conditional_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce/nullif/case/if/ifnull/try_cast (TRY_CAST semantics:
    NULL on failure, reference cast_expression.hpp:54)."""
    (customer,) = [read_table(spark, sf_dir, "customer")]
    bal = F.col("c_acctbal")
    return (
        customer.filter(F.col("c_custkey") % 71 == 0)
        .select(
            "c_custkey",
            F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias("seg"),
            F.when(bal < 0, "neg").when(bal < 5000, "mid").otherwise("high").alias("band"),
            F.when(bal > 0, "pos").otherwise("nonpos").alias("posneg"),
            F.nvl(F.lit(None).cast("long"), F.col("c_custkey")).alias("nn"),
            S.try_cast(F.col("c_name"), "double").isNull().alias("bad_cast"),
            S.try_cast(F.col("c_custkey").cast("string"), "bigint").alias("good_cast"),
            F.least(bal, F.lit(0.0)).alias("lo"),
            F.greatest(bal, F.lit(0.0)).alias("hi"),
        )
        .orderBy("c_custkey")
    )


@register(
    "fn_wave2_scalar",
    oracle="""
SELECT n_nationkey AS nk,
       ROUND(jaro_similarity(n_name, 'NATION_12'), 6) AS js,
       ROUND(jaro_winkler_similarity(n_name, 'NATION_12'), 6) AS jws,
       CAST(damerau_levenshtein(n_name, 'NOTAIN_12') AS BIGINT) AS dl,
       strip_accents(n_name || 'é') AS sa,
       nfc_normalize(n_name) AS nfc,
       CAST(length_grapheme(n_name) AS BIGINT) AS lg,
       left_grapheme(n_name, 3) AS lg3,
       right_grapheme(n_name, 2) AS rg2,
       parse_filename('/data/' || n_name || '/doc.csv') AS pf,
       parse_dirname('/data/' || n_name || '/doc.csv') AS pd,
       parse_dirpath('/data/' || n_name || '/doc.csv') AS pdp,
       array_to_string(parse_path('/data/' || n_name || '/doc.csv'), '|') AS pp,
       regexp_full_match(n_name, 'NATION_[0-9]+') AS rfm,
       CAST(mismatches(n_name || 'X', n_name || 'Y') AS BIGINT) AS mm,
       lower(to_hex(n_nationkey + 255)) AS hx,
       bin(n_nationkey + 5) AS bn,
       CAST(md5_number(n_name) AS VARCHAR) AS mn,
       ROUND(gamma(1.0 + n_nationkey % 5), 4) AS gm,
       ROUND(lgamma(2.0 + n_nationkey % 7), 6) AS lgm,
       ROUND(cot(1.0 + n_nationkey), 6) AS ct,
       CAST(century(DATE '1995-03-15') AS BIGINT) AS cen,
       CAST(decade(DATE '1995-03-15') AS BIGINT) AS dec,
       CAST(isoyear(DATE '2021-01-01') AS BIGINT) AS iy,
       CAST(week(DATE '1995-03-15') AS BIGINT) AS wk,
       CAST(yearweek(DATE '1995-03-15') AS BIGINT) AS yw,
       CAST(yearweek(DATE '2021-01-01') AS BIGINT) AS yw_b1,
       CAST(yearweek(DATE '2019-12-30') AS BIGINT) AS yw_b2,
       CAST(epoch_ns(TIMESTAMP '1995-03-15 12:00:00') AS BIGINT) AS ens,
       array_to_string(list_grade_up([n_nationkey % 3, 5, 1]), ',') AS gu,
       array_to_string(list_reverse_sort([n_nationkey % 3, 5, 1]), ',') AS lrs,
       CAST(list_aggr([1.0, 2.0, CAST(n_nationkey AS DOUBLE)], 'sum') AS DOUBLE) AS la,
       json_extract_string(json_object('k', n_nationkey), '$.k') AS jo,
       json_valid('{"a": 1}') AS jv,
       json_type('[1,2]') AS jt
FROM nation ORDER BY nk
""",
)
def fn_wave2_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-2 scalar surface: pandas-UDF string metrics (jaro/damerau/
    unicode normalization — the documented Arrow slow path), grapheme
    functions (Java \\X), path parsing, hex/binary, 128-bit md5_number,
    gamma/lgamma, extended date parts, grade_up, list_aggr, JSON builders
    — each against the DuckDB native."""
    from duckdb_spark.functions import scalar2 as S2

    (nation,) = [read_table(spark, sf_dir, "nation")]
    n, nk = F.col("n_name"), F.col("n_nationkey")
    path = F.concat(F.lit("/data/"), n, F.lit("/doc.csv"))
    arr = F.array((nk % 3).cast("long"), F.lit(5).cast("long"), F.lit(1).cast("long"))
    return nation.select(
        nk.alias("nk"),
        F.round(S2.jaro_similarity(n, F.lit("NATION_12")), 6).alias("js"),
        F.round(S2.jaro_winkler_similarity(n, F.lit("NATION_12")), 6).alias("jws"),
        S2.damerau_levenshtein(n, F.lit("NOTAIN_12")).alias("dl"),
        S2.strip_accents(F.concat(n, F.lit("é"))).alias("sa"),
        S2.nfc_normalize(n).alias("nfc"),
        S2.length_grapheme(n).cast("long").alias("lg"),
        S2.left_grapheme(n, 3).alias("lg3"),
        S2.right_grapheme(n, 2).alias("rg2"),
        S2.parse_filename(path).alias("pf"),
        S2.parse_dirname(path).alias("pd"),
        S2.parse_dirpath(path).alias("pdp"),
        F.array_join(S2.parse_path(path), "|").alias("pp"),
        S2.regexp_full_match(n, F.lit("NATION_[0-9]+")).alias("rfm"),
        S2.mismatches(F.concat(n, F.lit("X")), F.concat(n, F.lit("Y"))).cast("long").alias("mm"),
        S2.to_hex(nk + 255).alias("hx"),
        S2.to_binary(nk + 5).alias("bn"),
        S2.md5_number(n).cast("string").alias("mn"),
        F.round(S2.gamma(1.0 + nk % 5), 4).alias("gm"),
        F.round(S2.lgamma(2.0 + nk % 7), 6).alias("lgm"),
        F.round(S2.cot(1.0 + nk), 6).alias("ct"),
        S2.century(F.lit("1995-03-15").cast("date")).cast("long").alias("cen"),
        S2.decade(F.lit("1995-03-15").cast("date")).cast("long").alias("dec"),
        S2.isoyear(F.lit("2021-01-01").cast("date")).cast("long").alias("iy"),
        S2.week(F.lit("1995-03-15").cast("date")).cast("long").alias("wk"),
        S2.yearweek(F.lit("1995-03-15").cast("date")).cast("long").alias("yw"),
        # ISO-year boundaries: 2021-01-01 is ISO week 2020-53, 2019-12-30 is 2020-01
        S2.yearweek(F.lit("2021-01-01").cast("date")).cast("long").alias("yw_b1"),
        S2.yearweek(F.lit("2019-12-30").cast("date")).cast("long").alias("yw_b2"),
        S2.epoch_ns(F.lit("1995-03-15 12:00:00").cast("timestamp")).alias("ens"),
        F.array_join(S2.list_grade_up(arr).cast("array<string>"), ",").alias("gu"),
        F.array_join(S2.list_reverse_sort(arr).cast("array<string>"), ",").alias("lrs"),
        S2.list_aggregate(F.array(F.lit(1.0), F.lit(2.0), nk.cast("double")), "sum").alias("la"),
        F.get_json_object(S2.json_object(F.lit("k"), nk), "$.k").alias("jo"),
        S2.json_valid(F.lit('{"a": 1}')).alias("jv"),
        S2.json_type(F.lit("[1,2]")).alias("jt"),
    ).orderBy("nk")


@register(
    "fn_wave2_agg",
    oracle="""
WITH det_mode AS (
  -- deterministic mode: greatest frequency, lowest value on ties. DuckDB's
  -- native mode() resolves ties by internal scan order (verified: differs
  -- between sf fixtures), so the oracle states the tie-break explicitly;
  -- the Spark side uses mode(col, deterministic=true) with the same rule.
  SELECT n_name, v AS md FROM (
    SELECT n_name, s_suppkey % 7 AS v, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c DESC, v) AS rn
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2) WHERE rn = 1
), grouped AS (
  SELECT n_name,
         array_to_string(list_transform(map_entries(histogram(s_suppkey % 5)),
                                        e -> CAST(e.key AS VARCHAR) || ':' || CAST(e.value AS VARCHAR)), '|') AS hist,
         ROUND(entropy(s_suppkey % 5), 4) AS ent,
         bitstring_agg(s_suppkey % 8, 0, 7)::VARCHAR AS bits,
         ROUND(regr_sxx(s_acctbal, s_suppkey % 100), 2) AS sxx,
         ROUND(regr_sxy(s_acctbal, s_suppkey % 100), 2) AS sxy,
         ROUND(regr_syy(s_acctbal, s_suppkey % 100), 2) AS syy,
         CAST(arg_max(s_suppkey, s_acctbal) AS BIGINT) AS amax
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT g.n_name, CAST(d.md AS BIGINT) AS md, g.hist, g.ent, g.bits,
       g.sxx, g.sxy, g.syy, g.amax
FROM grouped g JOIN det_mode d USING (n_name) ORDER BY g.n_name
""",
)
def fn_wave2_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wave-2 aggregates: mode, histogram (serialized entries), single-
    column entropy, bitstring_agg (BIT emulation), regr_sxx/sxy/syy.

    The regr_s** trio uses the reference-exact folds (aggregates.py
    welford_sq_fold/covar_sxy_fold) over scan-position-sorted per-group
    arrays instead of F.regr_*: the engines' native accumulations differ
    in the last ulps, and ROUND(x, 2) amplifies that to a wrong digit
    whenever the exact value is a decimal tie (sf0.1 NATION_9: exact sxx
    = 31743.975 — DuckDB 31743.97, Spark's native regr_sxx 31743.98)."""
    from duckdb_spark.functions import aggregates as A

    supplier, nation = (read_table(spark, sf_dir, t) for t in ("supplier", "nation"))
    # Scan-position sort key: (file_path, row_index) — row_index alone
    # restarts per file, so on multi-file tables the folds would replay a
    # non-scan order (ADVICE r12); agg_product/agg_distributive already
    # carry the file path as the leading struct field.
    supplier = supplier.select(
        "*",
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    sk, bal = F.col("s_suppkey"), F.col("s_acctbal")
    hist = A.histogram(sk % 5)
    vals = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__fp").alias("f"),
                F.col("__pos").alias("pos"),
                (sk % 100).cast("double").alias("x"),
                bal.cast("double").alias("y"),
                sk.alias("a"),
            )
        )
    )
    return (
        supplier.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            A.mode(sk % 7, deterministic=True).cast("long").alias("md"),
            F.array_join(
                F.transform(
                    F.map_entries(hist),
                    lambda e: F.concat(
                        e["key"].cast("string"), F.lit(":"), e["value"].cast("string")
                    ),
                ),
                "|",
            ).alias("hist"),
            F.round(A.entropy(sk % 5), 4).alias("ent"),
            A.bitstring_agg(sk % 8, 0, 7).alias("bits"),
            vals.alias("__vals"),
        )
        .select(
            "n_name", "md", "hist", "ent", "bits",
            F.round(A.welford_sq_fold(F.col("__vals"), "x"), 2).alias("sxx"),
            F.round(A.covar_sxy_fold(F.col("__vals")), 2).alias("sxy"),
            F.round(A.welford_sq_fold(F.col("__vals"), "y"), 2).alias("syy"),
            # arg_max via the fold too: max_by ties are arbitrary in Spark,
            # DuckDB keeps the first scan-order max (strict-greater update)
            A.arg_max_fold(F.col("__vals"), "a", "y").alias("amax"),
        )
        .select("n_name", "md", "hist", "ent", "bits", "sxx", "sxy", "syy", "amax")
        .orderBy("n_name")
    )


@register(
    "fn_variant_batch",
    oracle="""
WITH src AS (
  SELECT event_id, user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_id % 97 = 0
), built AS (
  SELECT event_id, user_id, k,
         '{"id": ' || event_id
           || ', "payload": {"k": ' || k
           || CASE WHEN event_id % 2 = 0 THEN ', "maybe": null' ELSE '' END
           || '}, "tag": '
           || CASE event_id % 4
                WHEN 0 THEN '"t' || user_id || '"'
                WHEN 1 THEN CAST(user_id AS VARCHAR)
                WHEN 2 THEN 'true'
                ELSE 'null' END
           || ', "vals": [' || k || ', ' || (k + 7) || ']}' AS j
  FROM src
)
SELECT event_id,
       json_extract_string(j, '$.payload.k') AS x_k,
       json_extract_string(j, '$.vals[0]') AS v1,
       CAST(json_array_length(j, '$.vals') AS INT) AS alen,
       CASE event_id % 4
         WHEN 0 THEN 'VARCHAR' WHEN 1 THEN 'INT64'
         WHEN 2 THEN 'BOOL_TRUE' ELSE 'VARIANT_NULL' END AS t_tag,
       'OBJECT(id, payload, tag, vals)' AS t_root,
       'ARRAY(2)' AS t_vals,
       array_to_string(json_keys(j), ',') AS keys_root,
       (event_id % 2 = 0) AS has_maybe,
       FALSE AS has_other,
       json(j)::VARCHAR AS norm,
       (event_id % 150 = k OR event_id % 150 = k + 7 OR event_id % 150 = event_id
        OR (event_id % 4 = 1 AND event_id % 150 = user_id)) AS has_needle
FROM built ORDER BY event_id
""",
)
def fn_variant_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT function surface (reference function_list.cpp:269-277) over
    JSON built from events: variant_extract (key/index/compound paths),
    variant_typeof detail names, variant_keys, variant_array_length,
    variant_exists (null-valued key exists, absent key doesn't),
    variant_normalize canonical text, variant_contains recursive search.

    Both engines build byte-identical JSON text (keys pre-sorted so
    DuckDB's order-preserving json_keys matches Spark's key-sorted variant
    binary); the oracle states expected typeof/exists/contains values from
    the construction logic — same differential style as ev_json_extract."""
    from duckdb_spark.functions import variant as V

    events = read_table(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    src = (
        events.where(eid % 97 == 0)
        .select(
            "event_id", "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    k = F.col("k")
    j = F.concat(
        F.lit('{"id": '), eid.cast("string"),
        F.lit(', "payload": {"k": '), k.cast("string"),
        F.when(eid % 2 == 0, F.lit(', "maybe": null')).otherwise(F.lit("")),
        F.lit('}, "tag": '),
        F.when(eid % 4 == 0, F.concat(F.lit('"t'), uid.cast("string"), F.lit('"')))
        .when(eid % 4 == 1, uid.cast("string"))
        .when(eid % 4 == 2, F.lit("true"))
        .otherwise(F.lit("null")),
        F.lit(', "vals": ['), k.cast("string"), F.lit(", "),
        (k + 7).cast("string"), F.lit("]}"),
    )
    built = src.withColumn("v", V.to_variant(j))
    v = F.col("v")
    needle = V.to_variant((eid % 150).cast("string"))
    return built.select(
        "event_id",
        V.variant_extract(v, "payload.k").cast("string").alias("x_k"),
        V.variant_extract(v, "vals", 1).cast("string").alias("v1"),
        V.variant_array_length(v, "vals").alias("alen"),
        V.variant_typeof(v, "tag").alias("t_tag"),
        V.variant_typeof(v).alias("t_root"),
        V.variant_typeof(v, "vals").alias("t_vals"),
        F.array_join(V.variant_keys(v), ",").alias("keys_root"),
        V.variant_exists(v, "payload.maybe").alias("has_maybe"),
        V.variant_exists(v, "payload.other").alias("has_other"),
        V.variant_normalized_json(v).alias("norm"),
        V.variant_contains(v, needle).alias("has_needle"),
    ).orderBy("event_id")
