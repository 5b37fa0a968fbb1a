"""DuckDB-named scalar functions as Spark Column builders.

Coverage model: SURVEY.md §2.8. The reference registries are
`src/function/function_list.cpp:85-285` (built-ins) and
`extension/core_functions/function_list.cpp` (core extension). Most names
map 1:1 onto `pyspark.sql.functions`; this module provides the remainder as
Column expression builders (JVM-side, codegen'd — no Python UDFs in any of
these hot paths).

Semantics notes (DuckDB behavior we deliberately match):
- `time_bucket(width, ts)` aligns buckets to origin 2000-01-03 00:00:00
  (a Monday) for day/week/sub-day widths, and to 2000-01-01 for month
  widths — reference `extension/core_functions/scalar/date/time_bucket.cpp`.
- `hamming`/`jaccard` operate on strings (reference
  `extension/core_functions/scalar/string/hamming.cpp`, `jaccard.cpp`).
- division `//` is integer floor-div like DuckDB's `//` operator.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# strings


def strpos(s, sub) -> Column:
    """1-based position, 0 if absent (src/function/scalar/string/instr)."""
    return F.instr(_c(s), sub)


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _us(ts) -> Column:
    """µs since epoch; casts TIMESTAMP_NTZ → TIMESTAMP (identity under the
    pinned UTC session timezone) because unix_micros rejects NTZ inputs."""
    return F.unix_micros(_c(ts).cast("timestamp"))


def prefix(s, pre) -> Column:
    return F.startswith(_c(s), F.lit(pre) if isinstance(pre, str) else pre)


def suffix(s, suf) -> Column:
    return F.endswith(_c(s), F.lit(suf) if isinstance(suf, str) else suf)


def hamming(a, b) -> Column:
    """Character-level hamming distance over equal-length strings."""
    pairs = F.arrays_zip(F.split(_c(a), ""), F.split(_c(b), ""))
    return F.aggregate(
        pairs,
        F.lit(0),
        lambda acc, x: acc + F.when(x["0"] != x["1"], 1).otherwise(0),
    )


def jaccard(a, b) -> Column:
    """Character-set jaccard similarity (reference jaccard.cpp)."""
    sa = F.array_distinct(F.split(F.lower(_c(a)), ""))
    sb = F.array_distinct(F.split(F.lower(_c(b)), ""))
    inter = F.size(F.array_intersect(sa, sb))
    return inter / (F.size(sa) + F.size(sb) - inter)


def levenshtein(a, b) -> Column:
    return F.levenshtein(_c(a), _c(b))


editdist3 = levenshtein


def format_bytes(n) -> Column:
    """Human-readable byte count (reference format_bytes.cpp semantics)."""
    n = _c(n)
    units = ["bytes", "KiB", "MiB", "GiB", "TiB", "PiB"]
    expr = F.concat(n.cast("string"), F.lit(" bytes"))
    for i in range(len(units) - 1, 0, -1):
        bound = float(1024**i)
        expr = F.when(
            F.abs(n) >= bound,
            F.concat(F.format_number(n / bound, 1), F.lit(" " + units[i])),
        ).otherwise(expr)
    return expr


def str_split(s, sep) -> Column:
    """DuckDB string_split: literal separator (not regex)."""
    sep_lit = sep if isinstance(sep, str) else None
    if sep_lit is None:
        raise ValueError("string_split separator must be a literal string")
    import re

    return F.split(_c(s), re.escape(sep_lit))


string_split = str_split
string_to_array = str_split


def left(s, n) -> Column:
    return F.expr(f"left({_sql(s)}, {n})") if isinstance(s, str) else F.substring(s, 1, n)


def right(s, n) -> Column:
    return F.expr(f"right({_sql(s)}, {n})")


def _sql(x) -> str:
    return x if isinstance(x, str) else str(x._jc)


def md5_number_lower(s) -> Column:
    """Low 64 bits of md5 as bigint (reference md5_number_lower)."""
    return F.conv(F.substring(F.md5(_c(s)), 17, 15), 16, 10).cast("long")


def md5_number_upper(s) -> Column:
    return F.conv(F.substring(F.md5(_c(s)), 1, 15), 16, 10).cast("long")


def sha256(s) -> Column:
    return F.sha2(_c(s), 256)


def to_base(n, radix) -> Column:
    return F.conv(_c(n).cast("string"), 10, radix)


def url_encode(s) -> Column:
    return F.url_encode(_c(s))


def url_decode(s) -> Column:
    return F.url_decode(_c(s))


def bar(x, minv, maxv, width=80) -> Column:
    """ASCII bar chart cell (reference bar.cpp) — █ repeated."""
    frac = (F.least(F.greatest(_c(x), F.lit(minv)), F.lit(maxv)) - minv) / (maxv - minv)
    return F.repeat(F.lit("█"), F.round(frac * width).cast("int"))


_FMT_HOLES = {"{{": "{", "}}": "}", "{}": "%s", "%": "%%"}


def fmt_to_printf(fmt: str) -> str | None:
    """DuckDB format()'s fmt-style string → printf style, when its only
    holes are bare `{}`; None for any other format spec."""
    if re.search(r"[{}]", re.sub(r"\{\{|\}\}|\{\}", "", fmt)):
        return None
    return re.sub(r"\{\{|\}\}|\{\}|%", lambda m: _FMT_HOLES[m.group()], fmt)


def format_(fmt: str, *args) -> Column:
    printf = fmt_to_printf(fmt)
    if printf is None:
        raise NotImplementedError(f"format spec in {fmt!r}: only bare {{}} holes")
    return F.format_string(printf, *[_c(a) for a in args])


def regexp_extract(s, pattern: str, group: int = 0) -> Column:
    """DuckDB extracts group 0 by default; Spark needs the group."""
    return F.regexp_extract(_c(s), pattern, group)


def regexp_extract_all(s, pattern: str, group: int = 0) -> Column:
    """DuckDB extracts group 0 by default, Spark group 1."""
    return F.regexp_extract_all(_c(s), F.lit(pattern), F.lit(group))


def regexp_replace_args(pattern: str, replacement: str, options: str = "") -> tuple[str, str]:
    r"""DuckDB's `regexp_replace(s, pattern, replacement, options)` as
    the pattern and replacement Spark's `regexp_replace` (Java's
    `replaceAll`) takes. DuckDB replaces the first match unless the
    options hold 'g'; 'i' matches case-insensitively and 'c' (the default)
    case-sensitively, whichever comes last; 's' lets `.` match a newline;
    'l' matches the pattern literally. A first-match replace anchors a
    lazy prefix group to the start and puts it back. In the replacement,
    DuckDB's (RE2's) `\0`-`\9` name groups and `$` is literal; Java names
    groups `$N` and escapes with `\`."""
    if set(options) - set("gicsl"):
        raise ValueError(f"Invalid Input Error: Unrecognized Regex option {options}")
    if "l" in options:
        pattern = re.sub(r"([\\^$.|?*+()\[\]{}])", r"\\\1", pattern)
    flags = ("s" if "s" in options else "") + \
        ("i" if options.rfind("i") > options.rfind("c") else "")
    body = f"(?{flags}:{pattern})"
    shift = 0 if "g" in options else 2
    if shift:
        body = f"^((?s:.*?))({body})"
    out = "$1" if shift else ""
    i = 0
    while i < len(replacement):
        ch, nxt = replacement[i], replacement[i + 1:i + 2]
        if ch == "\\" and nxt.isdigit():
            out += f"${int(nxt) + shift}"
            i += 2
            continue
        if ch == "\\" and nxt:
            ch, i = nxt, i + 1
        # escaped, so a digit never extends the group number before it
        out += "\\" + ch if ch in "\\$" or ch.isdigit() else ch
        i += 1
    return body, out


def regexp_replace(s, pattern: str, replacement: str, options: str = "") -> Column:
    """DuckDB regexp_replace: the first match only unless `options` holds
    'g' (`regexp_replace_args`)."""
    pat, rep = regexp_replace_args(pattern, replacement, options)
    return F.regexp_replace(_c(s), pat, rep)


def encode(s) -> Column:
    return F.encode(_c(s), "utf-8")


def decode(b) -> Column:
    return F.decode(_c(b), "utf-8")


# ---------------------------------------------------------------------------
# date / time

_EPOCH_2000_01_03_US = 946857600 * 1_000_000  # Monday 2000-01-03 00:00:00 UTC
_EPOCH_2000_01_01 = "2000-01-01"


def time_bucket(width_seconds, ts, origin_us: int = _EPOCH_2000_01_03_US) -> Column:
    """DuckDB time_bucket for fixed-width (sub-month) intervals.

    bucket = origin + floor((ts - origin) / width) * width, with the
    reference's 2000-01-03 origin so week buckets start on Monday
    (extension/core_functions/scalar/date/time_bucket.cpp).
    """
    us = _us(ts) - origin_us
    width_us = F.lit(int(width_seconds) * 1_000_000).cast("long")
    # stay in LONG arithmetic: floor(us/width) via pmod (a double division
    # loses µs precision past 2^53 ≈ year 2255)
    bucket = us - F.pmod(us, width_us) + origin_us
    return F.timestamp_micros(bucket)


def time_bucket_months(width_months, ts) -> Column:
    """Month-width buckets, origin 2000-01-01 (reference semantics)."""
    months = (F.year(_c(ts)) - 2000) * 12 + F.month(_c(ts)) - 1
    start = F.floor(months / int(width_months)).cast("int") * int(width_months)
    return F.add_months(F.lit(_EPOCH_2000_01_01).cast("date"), start)


def date_part(part: str, ts) -> Column:
    """DuckDB date_part; notable: dow is Sunday=0 (Spark dayofweek is
    Sunday=1), isodow Monday=1, epoch returns seconds."""
    p = part.lower()
    ts = _c(ts)
    mapping = {
        "year": lambda: F.year(ts),
        "month": lambda: F.month(ts),
        "day": lambda: F.dayofmonth(ts),
        "hour": lambda: F.hour(ts),
        "minute": lambda: F.minute(ts),
        "second": lambda: F.second(ts),
        "millisecond": lambda: (F.second(ts) * 1000 + (_us(ts) % 1_000_000) / 1000).cast("int"),
        "microsecond": lambda: (F.second(ts) * 1_000_000 + _us(ts) % 1_000_000).cast("long"),
        "dow": lambda: F.dayofweek(ts) - 1,
        "isodow": lambda: F.expr(f"weekday({_sql_ts(ts)}) + 1"),
        "doy": lambda: F.dayofyear(ts),
        "week": lambda: F.weekofyear(ts),
        "quarter": lambda: F.quarter(ts),
        "epoch": lambda: _us(ts) / 1_000_000,
        "decade": lambda: F.floor(F.year(ts) / 10).cast("int"),
        "century": lambda: F.ceil(F.year(ts) / 100).cast("int"),
        "millennium": lambda: F.ceil(F.year(ts) / 1000).cast("int"),
        "isoyear": lambda: F.expr(f"extract(YEAROFWEEK FROM {_sql_ts(ts)})"),
    }
    if p not in mapping:
        raise ValueError(f"unsupported date_part: {part}")
    return mapping[p]()


def _sql_ts(ts) -> str:
    return str(ts._jc)


datepart = date_part


def epoch_ms(ts) -> Column:
    return F.unix_millis(_c(ts).cast("timestamp"))


def dayofweek(d) -> Column:
    """DuckDB counts from Sunday = 0, Spark's dayofweek from Sunday = 1."""
    return (F.weekday(_c(d)) + 1) % 7


def epoch_us(ts) -> Column:
    return _us(ts)


def epoch(ts) -> Column:
    return _us(ts) / 1_000_000


def date_diff(part: str, a, b) -> Column:
    """DuckDB date_diff counts *boundaries crossed* between a and b."""
    p = part.lower()
    a, b = _c(a), _c(b)
    if p == "day":
        return F.datediff(F.to_date(b), F.to_date(a)).cast("long")
    if p == "year":
        return (F.year(b) - F.year(a)).cast("long")
    if p == "month":
        return ((F.year(b) - F.year(a)) * 12 + F.month(b) - F.month(a)).cast("long")
    if p in ("hour", "minute", "second"):
        div = {"hour": 3_600_000_000, "minute": 60_000_000, "second": 1_000_000}[p]
        return F.floor(_us(b) / div) - F.floor(_us(a) / div)
    raise ValueError(f"unsupported date_diff part: {part}")


def last_day(ts) -> Column:
    return F.last_day(_c(ts))


def dayname(ts) -> Column:
    return F.date_format(_c(ts), "EEEE")


def monthname(ts) -> Column:
    return F.date_format(_c(ts), "MMMM")


def make_date(y, m, d) -> Column:
    return F.make_date(_c(y), _c(m), _c(d))


def age(a, b=None) -> Column:
    """interval between timestamps as struct(months, days, micros)."""
    upper = _c(a)
    lower = _c(b) if b is not None else F.current_timestamp()
    months = (F.year(upper) - F.year(lower)) * 12 + F.month(upper) - F.month(lower)
    return F.struct(months.alias("months"))


# strftime %-code → Spark datetime pattern (subset; reference
# src/function/scalar/strftime_format.cpp)
_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"),
    ("%I", "hh"), ("%M", "mm"), ("%S", "ss"), ("%f", "SSSSSS"), ("%g", "SSS"),
    ("%p", "a"), ("%j", "DDD"), ("%a", "EEE"), ("%A", "EEEE"), ("%b", "MMM"),
    ("%B", "MMMM"), ("%Z", "zzz"), ("%z", "xxxx"), ("%%", "'%'"),
]


def _strftime_to_java(fmt: str) -> str:
    for k, v in _STRFTIME_MAP:
        fmt = fmt.replace(k, v)
    return fmt


def strftime(ts, fmt: str) -> Column:
    return F.date_format(_c(ts), _strftime_to_java(fmt))


def strptime(s, fmt: str) -> Column:
    return F.to_timestamp(_c(s), _strftime_to_java(fmt))


# ---------------------------------------------------------------------------
# math


def sign(x) -> Column:
    """-1, 0 or 1 as TINYINT; Spark's sign answers DOUBLE."""
    return F.signum(_c(x)).cast("tinyint")


def even(x) -> Column:
    """Round to next even integer away from zero (reference even.cpp)."""
    x = _c(x)
    c = F.ceil(x / 2) * 2
    fl = F.floor(x / 2) * 2
    return F.when(x >= 0, c).otherwise(fl).cast("double")


def gcd(a, b) -> Column:
    # Euclid via pmod-free expression; bounded iterations (64 for bigint).
    expr = "aggregate(sequence(1, 64), struct(abs({a}) AS x, abs({b}) AS y), " \
           "(acc, i) -> IF(acc.y = 0, acc, struct(acc.y AS x, acc.x % acc.y AS y)), " \
           "acc -> acc.x)"
    return F.expr(expr.format(a=_sql(a), b=_sql(b)))


def lcm(a, b) -> Column:
    g = gcd(a, b)
    return F.when(g == 0, F.lit(0)).otherwise(F.abs(_c(a) * _c(b)) / g).cast("long")


def fdiv(a, b) -> Column:
    """DuckDB // floor division."""
    return F.floor(_c(a) / _c(b))


def fmod(a, b) -> Column:
    return _c(a) % _c(b)


def signbit(x) -> Column:
    return _c(x) < 0


def isfinite(x) -> Column:
    return ~(F.isnan(_c(x)) | (F.abs(_c(x)) == float("inf")))


def isinf(x) -> Column:
    return F.abs(_c(x)) == float("inf")


# ---------------------------------------------------------------------------
# list / vector


def list_cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array<numeric> columns — JVM-side via
    higher-order functions (reference list_cosine_similarity,
    extension/core_functions/scalar/list/list_distance.cpp)."""
    a, b = _c(a), _c(b)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def list_cosine_distance(a, b) -> Column:
    return 1 - list_cosine_similarity(a, b)


def list_inner_product(a, b) -> Column:
    return F.aggregate(F.zip_with(_c(a), _c(b), lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


list_dot_product = list_inner_product


def list_distance(a, b) -> Column:
    """Euclidean distance (reference list_distance)."""
    d2 = F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.sqrt(d2)


def list_transform(arr, fn) -> Column:
    return F.transform(_c(arr), fn)


def list_filter(arr, fn) -> Column:
    return F.filter(_c(arr), fn)


def list_reduce(arr, fn, init=None) -> Column:
    arr = _c(arr)
    if init is None:
        # DuckDB list_reduce seeds with the first element.
        return F.aggregate(F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
                           F.element_at(arr, 1), fn)
    return F.aggregate(arr, init, fn)


def list_sort(arr, asc: bool = True) -> Column:
    return F.array_sort(_c(arr)) if asc else F.reverse(F.array_sort(_c(arr)))


def list_distinct(arr) -> Column:
    """Distinct non-NULL elements."""
    return F.array_distinct(F.filter(_c(arr), lambda e: e.isNotNull()))


def list_prepend(v, arr) -> Column:
    """DuckDB takes the element first; Spark's array_prepend takes it last."""
    return F.array_prepend(_c(arr), v)


def list_unique(arr) -> Column:
    """The number of distinct non-NULL elements."""
    return F.array_size(F.array_distinct(F.filter(_c(arr), lambda e: e.isNotNull())))


def list_slice(arr, begin, end) -> Column:
    """DuckDB 1-based inclusive slice."""
    return F.slice(_c(arr), begin, end - begin + 1)


def list_contains(arr, v) -> Column:
    return F.array_contains(_c(arr), v)


def list_position(arr, v) -> Column:
    return F.array_position(_c(arr), v)


def list_has_any(a, b) -> Column:
    return F.arrays_overlap(_c(a), _c(b))


def list_has_all(a, b) -> Column:
    return F.size(F.array_except(_c(b), _c(a))) == 0


def list_zip(*arrs) -> Column:
    return F.arrays_zip(*[_c(a) for a in arrs])


def flatten(arr) -> Column:
    return F.flatten(_c(arr))


def list_value(*xs) -> Column:
    return F.array(*[_c(x) if isinstance(x, Column) else F.lit(x) for x in xs])


list_pack = list_value


def list_resize(arr, n, fill=None) -> Column:
    arr = _c(arr)
    pad = F.array_repeat(F.lit(fill), F.greatest(F.lit(n) - F.size(arr), F.lit(0)))
    return F.slice(F.concat(arr, pad), 1, n)


def list_select(arr, idxs) -> Column:
    return F.transform(_c(idxs), lambda i: F.element_at(_c(arr), i.cast("int")))


def list_where(arr, mask) -> Column:
    z = F.zip_with(_c(arr), _c(mask), lambda v, m: F.struct(v.alias("v"), m.alias("m")))
    return F.transform(F.filter(z, lambda s: s["m"]), lambda s: s["v"])


def generate_series_list(start, stop, step=1) -> Column:
    return F.sequence(F.lit(start), F.lit(stop), F.lit(step))


# ---------------------------------------------------------------------------
# struct / map / union emulation


def struct_pack(**kwargs) -> Column:
    return F.struct(*[_c(v).alias(k) for k, v in kwargs.items()])


def struct_extract(s, key) -> Column:
    return _c(s).getField(key)


def struct_insert(s, **kwargs) -> Column:
    col = _c(s)
    for k, v in kwargs.items():
        col = col.withField(k, _c(v))
    return col


def map_entries(m) -> Column:
    return F.map_entries(_c(m))


def union_value(tag: str, value, member_names: list[str]) -> Column:
    """UNION type emulation: struct<tag: string, <member>: T …> (SURVEY §1.2)."""
    fields = [F.lit(tag).alias("tag")]
    for name in member_names:
        fields.append((_c(value) if name == tag else F.lit(None)).alias(name))
    return F.struct(*fields)


def union_tag(u) -> Column:
    return _c(u).getField("tag")


def union_extract(u, member: str) -> Column:
    return _c(u).getField(member)


# ---------------------------------------------------------------------------
# generic


def coalesce(*xs) -> Column:
    return F.coalesce(*[_c(x) for x in xs])


def nullif(a, b) -> Column:
    return F.nullif(_c(a), _c(b))


def try_cast(x, dtype: str) -> Column:
    return _c(x).try_cast(dtype)


def float_to_int_cast(x, dtype: str = "bigint") -> Column:
    """DuckDB CAST(DOUBLE AS integer-type) *rounds to nearest* (reference
    cast behavior, verified: 77610.6::BIGINT = 77611); Spark's CAST
    truncates toward zero. Use this for DuckDB-parity casts of floats."""
    return F.round(_c(x)).cast(dtype)


def _std_round(y) -> Column:
    """C++ std::round(double): round half AWAY FROM ZERO on the actual
    binary64 value. floor(y + 0.5) is NOT equivalent at the boundary (for
    y one ulp below k+0.5 the fp sum can land exactly on k+1 and round up);
    floor(y) + (y - floor(y) >= 0.5) is exact because y - floor(y) is an
    exact fp subtraction (Sterbenz) and the comparison is exact."""
    y = _c(y)
    pos = F.floor(y) + F.when(y - F.floor(y) >= 0.5, 1).otherwise(0)
    neg = F.ceil(y) - F.when(F.ceil(y) - y >= 0.5, 1).otherwise(0)
    return F.when(y >= 0, pos).otherwise(neg).cast("double")


def duck_round(x, scale: int = 0) -> Column:
    """DuckDB ROUND(DOUBLE, s) — the reference RoundOperatorPrecision
    (extension/core_functions/scalar/math/numeric.cpp:902) computes
    std::round(input * 10^s) / 10^s IN DOUBLE ARITHMETIC. Spark's round()
    instead rounds the shortest DECIMAL rendering of the double half-up
    (BigDecimal.valueOf), so the engines disagree whenever the decimal
    rendering is a tie but the fp-scaled value sits below it: 82/80 renders
    "1.025" → Spark 1.03, while DuckDB scales first (1.025*100 =
    102.49999999999999) → 1.02. Use this wherever a declared query's value
    must match an oracle ROUND on doubles with tie-prone inputs."""
    if scale == 0:
        return _std_round(_c(x))
    p = float(10 ** scale)
    return _std_round(_c(x) * p) / p


def typeof(x) -> Column:
    return F.typeof(_c(x))


def error(msg) -> Column:
    return F.raise_error(msg)


def constant_or_null(value, *conds) -> Column:
    out = F.lit(value)
    for c in conds:
        out = F.when(_c(c).isNull(), F.lit(None)).otherwise(out)
    return out


def equi_width_bins(minv, maxv, n) -> Column:
    width = (F.lit(maxv) - F.lit(minv)) / n
    return F.transform(F.sequence(F.lit(1), F.lit(n)), lambda i: F.lit(minv) + i * width)
