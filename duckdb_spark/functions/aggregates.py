"""DuckDB-named aggregate functions as Spark Column builders.

Coverage: SURVEY.md §2.4 inventory. Most are native `pyspark.sql.functions`;
this module supplies DuckDB-*semantics* variants where definitions differ:

- `skewness` / `kurtosis`: DuckDB computes the **sample** (bias-corrected)
  statistics G1 / G2 (reference `extension/core_functions/aggregate/
  distributive/skew.cpp`, `kurtosis.cpp`), while Spark's built-ins are the
  population g1 / g2. We compose them from raw moments so results
  hash-match the DuckDB oracle.
- `product` (reference product.cpp) has no Spark builtin → sign-aware
  exp/sum/ln composition.
- `entropy` (reference entropy.cpp): Shannon entropy (log2) of the value
  distribution — expressed as a two-level aggregation helper.
- `sem` = standard error of the mean.

All of these are single-pass JVM-side aggregates (partial+final combine by
Catalyst) — no Python UDAFs, no collect.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# -- moments-based (sample statistics, DuckDB semantics) --------------------


_EPS = 2.220446049250313e-16  # std::numeric_limits<double>::epsilon()


def _nonfinite(t: Column) -> Column:
    return F.isnan(t) | (F.abs(t) == F.lit(float("inf")))


def skewness(x) -> Column:
    """Sample skewness, exact DuckDB semantics (reference
    extension/core_functions/aggregate/distributive/skew.cpp:50-80):
    NULL when n<=2, when the raw second moment is within an
    epsilon-scaled tolerance of zero, or when variance<=0; ERROR
    ("SKEW is out of range!") when the result overflows to non-finite.
    Same sum-of-powers formulation so edge rounding matches."""
    x = _c(x).cast("double")
    n = F.count(x).cast("double")
    s1 = F.sum(x)
    s2 = F.sum(x * x)
    s3 = F.sum(x * x * x)
    temp = F.lit(1.0) / n
    raw_m2 = s2 - s1 * s1 * temp
    variance = temp * raw_m2
    target = (
        F.sqrt(n * (n - 1)) / (n - 2) * temp
        * (s3 - 3 * s2 * s1 * temp + 2 * F.pow(s1, 3) * temp * temp)
        / F.nullif(F.sqrt(F.pow(variance, 3)), F.lit(0.0))
    )
    # nullif: a DENORMAL variance underflows pow(var,3) to 0.0 while
    # var > 0 — ANSI division would raise where the reference yields NULL
    # (hypothesis-found [0,0,0,8e-70])
    # Zero-variance check matches the SHIPPING DuckDB (the correctness
    # oracle): raw_m2 == 0 → NULL. Reference HEAD (skew.cpp:60-66) widens
    # this to an epsilon-scaled tolerance — a semantics change newer than
    # the pip snapshot; adopting it would diverge from the gate.
    return (
        F.when(n <= 2, F.lit(None).cast("double"))
        .when(raw_m2 == 0, F.lit(None).cast("double"))
        .when(variance <= 0, F.lit(None).cast("double"))
        .when(_nonfinite(target), F.raise_error(F.lit("SKEW is out of range!")).cast("double"))
        .otherwise(target)
    )


def kurtosis(x) -> Column:
    """Sample excess kurtosis G2 (bias-corrected), exact DuckDB semantics
    (reference kurtosis.cpp:57-93): NULL when n<=3, when
    sum_sqr - sum²/n == 0, or when m2<=0; ERROR ("Kurtosis is out of
    range!") when the result overflows to non-finite."""
    x = _c(x).cast("double")
    n = F.count(x).cast("double")
    s1 = F.sum(x)
    s2 = F.sum(x * x)
    s3 = F.sum(x * x * x)
    s4 = F.sum(x * x * x * x)
    temp = F.lit(1.0) / n
    m4 = temp * (
        s4 - 4 * s3 * s1 * temp + 6 * s2 * s1 * s1 * temp * temp
        - 3 * F.pow(s1, 4) * F.pow(temp, 3)
    )
    m2 = temp * (s2 - s1 * s1 * temp)
    target = (n - 1) * ((n + 1) * m4 / F.nullif(m2 * m2, F.lit(0.0)) - 3 * (n - 1)) / ((n - 2) * (n - 3))
    return (
        F.when(n <= 3, F.lit(None).cast("double"))
        .when(s2 - s1 * s1 * temp == 0, F.lit(None).cast("double"))
        .when(m2 <= 0, F.lit(None).cast("double"))
        # a positive m2 whose square underflows to 0.0: the reference
        # divides by it and raises on the non-finite result
        # (hypothesis-found [0,0,0,4.28e-107])
        .when(
            (m2 * m2 == 0) | _nonfinite(target),
            F.raise_error(F.lit("Kurtosis is out of range!")).cast("double"),
        )
        .otherwise(target)
    )


def kurtosis_pop(x) -> Column:
    """Population excess kurtosis g2 — Spark's native `kurtosis`."""
    return F.kurtosis(_c(x))


def sem(x) -> Column:
    """Standard error of the mean — DuckDB computes stddev_pop/sqrt(n)
    (verified against the oracle; the textbook samp variant differs by
    sqrt((n-1)/n))."""
    x = _c(x)
    return F.stddev_pop(x) / F.sqrt(F.count(x))


def product(x) -> Column:
    """Product aggregate: sign-aware exp(sum(ln|x|)); 0 if any zero."""
    x = _c(x).cast("double")
    absprod = F.exp(F.sum(F.log(F.abs(F.nullif(x, F.lit(0.0))))))
    negs = F.sum(F.when(x < 0, 1).otherwise(0))
    zeros = F.sum(F.when(x == 0, 1).otherwise(0))
    signed = F.when(negs % 2 == 1, -absprod).otherwise(absprod)
    return F.when(zeros > 0, F.lit(0.0)).otherwise(signed)


def money_scaled(x, scale: int = 4) -> Column:
    """Per-row scaled-long money value: round-half-away(x·10^s) in pure
    double math (sign-aware floor(v+0.5)). NOT F.round: Spark's round on
    DOUBLE allocates a BigDecimal per row — measured 3-4× on a 60M-row
    scan-agg with four money columns (tpch q01 at sf10)."""
    v = _c(x) * (10 ** scale)
    return (
        F.when(v >= 0, F.floor(v + 0.5)).otherwise(-F.floor(-v + 0.5)).cast("long")
    )


def money_sum(x, scale: int = 4, out_scale: int = 2) -> Column:
    """Exact money-precision SUM, the way the reference actually computes
    it: DuckDB's DECIMAL(18,s) is a scaled int64 under the hood
    (src/include/duckdb/common/types/decimal.hpp), so we sum scaled longs
    (whole-stage-codegen fast path — measured 2.5× faster than Spark's
    BigDecimal-backed decimal sum at sf1) and do ONE exact decimal
    division + round on the per-group result. Matches
    ROUND(SUM(CAST(x AS DECIMAL(18,s))), out_scale) (per-row scaling uses
    the same round-half-away the decimal cast applies; verified
    differentially at sf0.001/0.01/1)."""
    total = F.sum(money_scaled(x, scale)).cast("decimal(28,0)") / (10 ** scale)
    return F.round(total, out_scale).cast("double")


# -- ordered / string aggregation ------------------------------------------


def string_agg(x, sep: str = ",", order_by: Column | str | None = None) -> Column:
    """string_agg(x, sep ORDER BY k) → sorted-struct collect trick
    (SURVEY §2.4 'sorted aggregates')."""
    x = _c(x)
    if order_by is None:
        order_by = x
    pairs = F.sort_array(F.collect_list(F.struct(_c(order_by).alias("k"), x.alias("v"))))
    return F.array_join(F.transform(pairs, lambda s: s["v"]), sep)


group_concat = string_agg
listagg = string_agg


def list_agg(x, order_by=None) -> Column:
    """array_agg with optional internal ORDER BY."""
    if order_by is None:
        return F.collect_list(_c(x))
    pairs = F.sort_array(F.collect_list(F.struct(_c(order_by).alias("k"), _c(x).alias("v"))))
    return F.transform(pairs, lambda s: s["v"])


array_agg = list_agg


# -- direct aliases (DuckDB name → Spark builtin) ---------------------------

arg_min = F.min_by
arg_max = F.max_by
min_by = F.min_by
max_by = F.max_by
bool_and = F.bool_and
bool_or = F.bool_or
count_if = F.count_if
# DuckDB any_value = first NON-NULL (src/core_functions/aggregate/distributive/
# arbitrary semantics differ: first/arbitrary keep NULLs, any_value skips them)
any_value = lambda c: F.any_value(_c(c), True)  # noqa: E731
bit_and = F.bit_and
bit_or = F.bit_or
bit_xor = F.bit_xor
approx_count_distinct = F.approx_count_distinct
corr = F.corr
covar_pop = F.covar_pop
covar_samp = F.covar_samp
stddev = F.stddev_samp
stddev_samp = F.stddev_samp
stddev_pop = F.stddev_pop
var_samp = F.var_samp
var_pop = F.var_pop
variance = F.var_samp
favg = F.avg
fsum = F.sum
kahan_sum = F.sum
sum_no_overflow = F.sum


def median(x) -> Column:
    """Interpolated median = quantile_cont(0.5) — Spark exact percentile."""
    return F.percentile(_c(x), F.lit(0.5))


def quantile_cont(x, q) -> Column:
    return F.percentile(_c(x), F.lit(q))


def quantile_disc(x, q) -> Column:
    """Discrete quantile: an actual element of the input (DuckDB
    quantile_disc / SQL PERCENTILE_DISC) — Spark's WITHIN GROUP form,
    verified equal to DuckDB's lower-interpolation pick."""
    expr = x if isinstance(x, str) else _sql(x)
    return F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY {expr})")


def _sql(x) -> str:
    return x if isinstance(x, str) else str(x._jc)


def approx_quantile(x, q) -> Column:
    return F.percentile_approx(_c(x), F.lit(q), F.lit(10000))


def mad(x) -> Column:
    """Median absolute deviation is holistic (needs the group median before
    deviations can be aggregated) — not expressible as one Spark aggregate
    Column. Use duckdb_spark.operators.stats.mad_by_group / mad_global
    (two-pass, broadcast-joined medians)."""
    raise NotImplementedError(
        "MAD is two-pass: use duckdb_spark.operators.stats.mad_by_group"
    )


def entropy_from_counts(count_col) -> Column:
    """Shannon entropy (log2) given per-value counts (2nd-level agg)."""
    c = _c(count_col).cast("double")
    total = F.sum(c)
    return F.log2(total) - F.sum(c * F.log2(c)) / total


def entropy(x) -> Column:
    """Shannon entropy of the value distribution as ONE aggregate Column
    (reference entropy.cpp). Collect + HOF counting — O(n·distinct) per
    group, fine for typical group sizes; for massive groups use the
    two-level groupBy + entropy_from_counts formulation instead (see
    queries/aggregates.agg_distributive)."""
    lst = F.collect_list(_c(x).cast("string"))
    counts = F.transform(
        F.array_distinct(lst),
        lambda v: F.size(F.filter(lst, lambda y: y == v)).cast("double"),
    )
    n = F.size(lst).cast("double")
    return F.log2(n) - F.aggregate(
        counts, F.lit(0.0), lambda acc, c: acc + c * F.log2(c)
    ) / n


def histogram(x) -> Column:
    """Value → count map (reference histogram in nested_functions.hpp),
    keys sorted. Same collect + HOF shape (and the same scalability note)
    as entropy()."""
    lst = F.collect_list(_c(x))
    return F.map_from_entries(
        F.transform(
            F.array_sort(F.array_distinct(lst)),
            lambda v: F.struct(
                v.alias("key"),
                F.size(F.filter(lst, lambda y: y == v)).cast("long").alias("value"),
            ),
        )
    )


def bitstring_agg(x, min_val: int, max_val: int) -> Column:
    """'0'/'1' bitstring with bit (x - min) set per present value
    (reference bitstring_agg; BIT emulated as char string per types.py)."""
    width = max_val - min_val + 1
    present = F.collect_set((_c(x) - min_val).cast("int"))
    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda i: F.when(F.array_contains(present, i.cast("int")), "1").otherwise("0"),
        ),
        "",
    )


mode = F.mode
count_star = lambda: F.count(F.lit(1))  # noqa: E731
arbitrary = F.first
first = F.first
last = F.last
reservoir_quantile = (
    lambda x, q, *_: F.percentile_approx(_c(x), F.lit(q), F.lit(10000))  # noqa: E731
)
quantile = reservoir_quantile
arg_max_null = F.max_by
arg_min_null = F.min_by
argmax = F.max_by
argmin = F.min_by
regr_slope = F.regr_slope
regr_intercept = F.regr_intercept
regr_r2 = F.regr_r2
regr_count = F.regr_count
regr_avgx = F.regr_avgx
regr_avgy = F.regr_avgy
regr_sxx = F.regr_sxx
regr_sxy = F.regr_sxy
regr_syy = F.regr_syy
sumkahan = F.sum
fsum = F.sum


# -------- reference-exact streaming folds (bit-identical regr_s** family)
#
# Spark's regr_sxx/sxy/syy and DuckDB's produce doubles that differ in the
# last ulps (different update formulas / accumulation orders), which a
# downstream ROUND amplifies to a wrong digit whenever the exact value sits
# on a decimal tie (observed: fn_wave2_agg at sf0.1 — exact sxx 1269759/40
# = 31743.975; DuckDB's Welford error lands one ulp BELOW the tie, Spark's
# at it). These folds replay DuckDB's own per-row updates in file order so
# the unrounded double is bit-identical: verified 25/25 groups at sf0.1
# and by the differential unit test. Requirements: `vals` is the group's
# rows as structs sorted by scan position (parquet _metadata.row_index) —
# valid as long as the oracle's table fits one parquet row group per file
# (DuckDB then accumulates each group single-threaded in scan order; all
# test fixtures qualify). Fold cost is an interpreted per-element lambda —
# use only where a declared query must match an oracle ROUND boundary, not
# in benched paths.
#
# Executable containment (VERDICT r12 item 6): each fold refuses groups
# above _FOLD_GROUP_LIMIT elements — per-group memory is otherwise
# unbounded (collect_list buffers the whole group), and the refusal keeps
# any future reuse in a hot path from silently OOMing an executor instead
# of failing loudly. scripts/audit_plans.py additionally flags any
# HEADLINE bench plan containing an aggregate( lambda so the parity-only
# constraint is enforced in CI, not just comments.

_FOLD_GROUP_LIMIT = 1_000_000


def _fold_guard(vals, result: Column) -> Column:
    """Raise at runtime if a fold group exceeds the containment limit;
    otherwise pass `result` through (assert_true returns NULL on pass)."""
    ok = F.assert_true(
        F.size(vals) <= _FOLD_GROUP_LIMIT,
        F.lit(
            "reference-exact fold group exceeds "
            f"{_FOLD_GROUP_LIMIT} elements — these folds buffer whole "
            "groups and are parity-only; use native aggregates"
        ),
    )
    return F.when(ok.isNull(), result)


def welford_sq_fold(vals, field: str) -> Column:
    """count * var_pop over `field` of a position-sorted struct array —
    DuckDB's regr_sxx/regr_syy (extension/core_functions/aggregate/
    regression/regr_sxx_syy.cpp; update formula STDDevBaseOperation in
    algebraic/stddev.hpp), replayed operation-for-operation."""
    vals = _c(vals)
    init = F.struct(
        F.lit(0.0).alias("n"), F.lit(0.0).alias("mean"), F.lit(0.0).alias("dsq")
    )

    def upd(s, e):
        inp = e[field]
        n = s["n"] + F.lit(1.0)
        md = (inp - s["mean"]) / n
        nm = s["mean"] + md
        inc = (inp - nm) * (inp - s["mean"])
        # NULL skip (ADVICE r12): DuckDB's regr_sxx/syy skip NULL rows;
        # propagating one through the accumulator NULLed the whole group.
        return F.when(
            inp.isNotNull(),
            F.struct(n.alias("n"), nm.alias("mean"), (s["dsq"] + inc).alias("dsq")),
        ).otherwise(s)

    st = F.aggregate(vals, init, upd)
    var_pop = F.when(st["n"] > 1, st["dsq"] / st["n"]).otherwise(F.lit(0.0))
    return _fold_guard(vals, F.when(st["n"] > 0, st["n"] * var_pop))


def covar_sxy_fold(vals, xfield: str = "x", yfield: str = "y") -> Column:
    """count * covar_pop over (xfield, yfield) of a position-sorted struct
    array — DuckDB's regr_sxy (regression/regr_sxy.cpp; update formula
    CovarOperation in algebraic/covar.hpp, Schubert & Gertz SSDBM 2018
    eq. 4.3), replayed operation-for-operation (note: the co-moment update
    uses the NEW y mean and the OLD x delta)."""
    vals = _c(vals)
    init = F.struct(
        F.lit(0.0).alias("n"), F.lit(0.0).alias("mx"),
        F.lit(0.0).alias("my"), F.lit(0.0).alias("c"),
    )

    def upd(s, e):
        x, y = e[xfield], e[yfield]
        n = s["n"] + F.lit(1.0)
        dx = x - s["mx"]
        mx = s["mx"] + dx / n
        dy = y - s["my"]
        my = s["my"] + dy / n
        c = s["c"] + dx * (y - my)
        # NULL skip (ADVICE r12): DuckDB's regr_sxy skips rows where
        # either operand is NULL (binary aggregate null handling).
        return F.when(
            x.isNotNull() & y.isNotNull(),
            F.struct(n.alias("n"), mx.alias("mx"), my.alias("my"), c.alias("c")),
        ).otherwise(s)

    st = F.aggregate(vals, init, upd)
    return _fold_guard(vals, F.when(st["n"] > 0, st["n"] * (st["c"] / st["n"])))


def arg_max_fold(vals, argfield: str, byfield: str) -> Column:
    """arg_max over a position-sorted struct array with DuckDB's exact tie
    semantics — the reference updates only on STRICTLY greater
    (COMPARATOR::Operation(y, state.value) in distributive/
    arg_min_max.cpp:174), so the FIRST scan-order row bearing the max wins.
    Spark's max_by breaks ties arbitrarily, which diverges on any fixture
    where the by-value repeats (e.g. the FK-replicated sf1 bench fixture
    duplicates every s_acctbal 10×)."""
    vals = _c(vals)
    init = F.struct(
        F.lit(False).alias("set"),
        F.lit(None).cast("double").alias("by"),
        F.lit(None).cast("long").alias("arg"),
    )

    def upd(s, e):
        take = (~s["set"]) | (e[byfield] > s["by"])
        return F.when(
            take & e[byfield].isNotNull(),
            F.struct(
                F.lit(True).alias("set"),
                e[byfield].alias("by"),
                e[argfield].cast("long").alias("arg"),
            ),
        ).otherwise(s)

    st = F.aggregate(vals, init, upd)
    return _fold_guard(vals, F.when(st["set"], st["arg"]))


def product_fold(vals, field: str) -> Column:
    """PRODUCT over `field` of a position-sorted struct array — DuckDB's
    product aggregate (distributive/product.cpp ProductReduce) is a plain
    sequential multiply in scan order from 1.0; the registry's
    sign-aware exp(Σ ln|x|) `product` is mathematically equal but lands
    on different last-ulp doubles, which a downstream ROUND amplifies
    (observed: agg_distributive's prod digit at the sf1 fixture). Nulls
    skipped; all-null → NULL, matching the reference's optional state."""
    vals = _c(vals)
    init = F.struct(F.lit(False).alias("set"), F.lit(1.0).alias("val"))

    def upd(s, e):
        x = e[field]
        return F.when(
            x.isNotNull(),
            F.struct(F.lit(True).alias("set"), (s["val"] * x).alias("val")),
        ).otherwise(s)

    st = F.aggregate(vals, init, upd)
    return _fold_guard(vals, F.when(st["set"], st["val"]))
