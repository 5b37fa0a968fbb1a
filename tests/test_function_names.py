"""One function-name table, two surfaces, one oracle.

Every entry of `functions.names.NAMES` has a sample call in `SAMPLES`.
Each sample runs through `Connection.sql` and, with its arguments selected
as columns, through `FUNCTIONS[name]`; both answers are compared with pip
duckdb's. An answer that differs sits in `KNOWN_GAPS` with DuckDB's answer,
and a known gap that starts to match fails too, so the list only shrinks.
"""

from __future__ import annotations

import datetime
import decimal
import inspect
import math
import os
import re
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_spark.functions.names import NAMES
from duckdb_spark.functions.registry import FUNCTIONS
from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR, assert_matches_oracle

_NUMS = "FROM (VALUES (1), (2), (4), (NULL)) t(x)"
_PAIRS = "FROM (VALUES (1, 10), (2, 30), (4, 20)) t(x, y)"

# One sample call per table entry: `name(args)`, optionally followed by
# the FROM clause the arguments read.
SAMPLES = {
    # string
    "concat": "concat('a', NULL, 'b')",
    "concat_ws": "concat_ws('-', 'a', NULL, 'b')",
    "lower": "lower('AbC')",
    "upper": "upper('AbC')",
    "ucase": "ucase('AbC')",
    "lcase": "lcase('AbC')",
    "trim": "trim('  ab  ')",
    "ltrim": "ltrim('  ab  ')",
    "rtrim": "rtrim('  ab  ')",
    "reverse": "reverse('abc')",
    "replace": "replace('abcabc', 'b', 'X')",
    "repeat": "repeat('ab', 3)",
    "lpad": "lpad('ab', 5, '*')",
    "rpad": "rpad('ab', 5, '*')",
    "length": "length('héllo')",
    "len": "len('héllo')",
    "strlen": "strlen('héllo')",
    "octet_length": "octet_length('abc'::BLOB)",
    "bit_length": "bit_length('abc')",
    "substring": "substring('hello', 2, 3)",
    "substr": "substr('hello', 2, 3)",
    "contains": "contains('hello', 'ell')",
    "starts_with": "starts_with('hello', 'he')",
    "prefix": "prefix('hello', 'he')",
    "ends_with": "ends_with('hello', 'lo')",
    "suffix": "suffix('hello', 'lo')",
    "regexp_matches": "regexp_matches('abc123', '[0-9]+')",
    "regexp_split_to_array": "regexp_split_to_array('a1b22c', '[0-9]+')",
    "str_split_regex": "str_split_regex('a1b22c', '[0-9]+')",
    "string_split_regex": "string_split_regex('a1b22c', '[0-9]+')",
    "split_part": "split_part('a-b-c', '-', 2)",
    "translate": "translate('hello', 'el', 'ip')",
    "ascii": "ascii('A')",
    "unicode": "unicode('é')",
    "ord": "ord('é')",
    "chr": "chr(65)",
    "instr": "instr('hello', 'l')",
    "strpos": "strpos('hello', 'l')",
    "md5": "md5('abc')",
    "sha1": "sha1('abc')",
    "overlay": "overlay('hello', 'XY', 2, 3)",
    "hex": "hex(255)",
    "unhex": "unhex('414243')",
    "to_base64": "to_base64('abc'::BLOB)",
    "base64": "base64('abc'::BLOB)",
    "from_base64": "from_base64('YWJj')",
    "initcap": "initcap('hello world')",
    "printf": "printf('%d-%s', 7, 'x')",
    "array_to_string": "array_to_string(['a', 'b', 'c'], '/')",
    # math
    "abs": "abs(-2.5)",
    "ceil": "ceil(2.1)",
    "ceiling": "ceiling(2.1)",
    "floor": "floor(-2.1)",
    "round": "round(2.567, 2)",
    "sqrt": "sqrt(16.0)",
    "cbrt": "cbrt(27.0)",
    "exp": "exp(1.0)",
    "ln": "ln(10.0)",
    "log2": "log2(8.0)",
    "log10": "log10(1000.0)",
    "pow": "pow(2.0, 10.0)",
    "power": "power(2.0, 10.0)",
    "pi": "pi()",
    "sin": "sin(1.0)",
    "cos": "cos(1.0)",
    "tan": "tan(1.0)",
    "asin": "asin(0.5)",
    "acos": "acos(0.5)",
    "atan": "atan(0.5)",
    "atan2": "atan2(1.0, 2.0)",
    "sinh": "sinh(1.0)",
    "cosh": "cosh(1.0)",
    "tanh": "tanh(1.0)",
    "asinh": "asinh(1.0)",
    "acosh": "acosh(2.0)",
    "atanh": "atanh(0.5)",
    "degrees": "degrees(pi())",
    "radians": "radians(180.0)",
    "factorial": "factorial(5)",
    "isnan": "isnan('NaN'::DOUBLE)",
    "random": "random()",
    "greatest": "greatest(3, 7, 5)",
    "least": "least(3, 7, 5)",
    "bit_count": "bit_count(7)",
    # date/time
    "date_trunc": "date_trunc('month', TIMESTAMP '2024-03-17 10:20:30')",
    "datetrunc": "datetrunc('month', TIMESTAMP '2024-03-17 10:20:30')",
    "year": "year(DATE '2024-03-17')",
    "month": "month(DATE '2024-03-17')",
    "day": "day(DATE '2024-03-17')",
    "dayofmonth": "dayofmonth(DATE '2024-03-17')",
    "dayofyear": "dayofyear(DATE '2024-03-17')",
    "hour": "hour(TIMESTAMP '2024-03-17 10:20:30')",
    "minute": "minute(TIMESTAMP '2024-03-17 10:20:30')",
    "second": "second(TIMESTAMP '2024-03-17 10:20:30')",
    "quarter": "quarter(DATE '2024-03-17')",
    "weekofyear": "weekofyear(DATE '2024-03-17')",
    "add_months": "add_months(DATE '2024-01-31', 1)",
    "to_timestamp": "to_timestamp(1700000000)",
    "make_timestamp": "make_timestamp(2024, 3, 17, 10, 20, 30.5)",
    "to_date": "to_date('2024-03-17')",
    "current_date": "current_date()",
    "now": "now()",
    "get_current_timestamp": "get_current_timestamp()",
    "current_localtime": "current_localtime()",
    "get_current_time": "get_current_time()",
    # list
    "array_length": "array_length([1, 2, 3])",
    "cardinality": "cardinality(MAP {'a': 1, 'b': 2})",
    "list_append": "list_append([1, 2], 3)",
    "array_append": "array_append([1, 2], 3)",
    "list_concat": "list_concat([1, 2], [3])",
    "array_concat": "array_concat([1, 2], [3])",
    "array_cat": "array_cat([1, 2], [3])",
    "list_extract": "list_extract([10, 20, 30], 2)",
    "list_element": "list_element([10, 20, 30], 2)",
    "array_extract": "array_extract([10, 20, 30], 2)",
    "element_at": "element_at(MAP {'a': 1, 'b': 2}, 'b')",
    "list_contains": "list_contains([1, 2, 3], 2)",
    "array_contains": "array_contains([1, 2, 3], 2)",
    "array_has": "array_has([1, 2, 3], 2)",
    "list_position": "list_position([1, 2, 3], 3)",
    "list_indexof": "list_indexof([1, 2, 3], 3)",
    "array_indexof": "array_indexof([1, 2, 3], 3)",
    "array_position": "array_position([1, 2, 3], 3)",
    "list_reverse": "list_reverse([1, 2, 3])",
    "list_intersect": "list_intersect([1, 2, 3], [2, 3, 4])",
    "list_max": "list_max([3, 7, 5])",
    "list_min": "list_min([3, 7, 5])",
    "list_sort": "list_sort([3, NULL, 1, 2])",
    "array_sort": "array_sort([3, NULL, 1, 2])",
    "list_value": "list_value(1, 2, 3)",
    "list_pack": "list_pack(1, 2, 3)",
    "array_value": "array_value(1, 2, 3)",
    "list_transform": "list_transform([1, 2, 3], x -> x + 1)",
    "array_transform": "array_transform([1, 2, 3], x -> x + 1)",
    "array_apply": "array_apply([1, 2, 3], x -> x + 1)",
    "apply": "apply([1, 2, 3], x -> x + 1)",
    "list_filter": "list_filter([1, 2, 3, 4], x -> x % 2 = 0)",
    "array_filter": "array_filter([1, 2, 3, 4], x -> x % 2 = 0)",
    "filter": "filter([1, 2, 3, 4], x -> x % 2 = 0)",
    "list_zip": "list_zip([1, 2], ['a', 'b'])",
    "array_zip": "array_zip([1, 2], ['a', 'b'])",
    "unnest": "unnest([1, 2, 3])",
    # map / struct
    "map_keys": "map_keys(MAP {'a': 1, 'b': 2})",
    "map_values": "map_values(MAP {'a': 1, 'b': 2})",
    "map_concat": "map_concat(MAP {'a': 1}, MAP {'b': 2})",
    "map_from_entries": "map_from_entries([{'k': 'a', 'v': 1}, {'k': 'b', 'v': 2}])",
    "map_contains": "map_contains(MAP {'a': 1, 'b': 2}, 'b')",
    "struct_pack": "struct_pack(a := 1, b := 'x')",
    "row": "row(1, 'x')",
    # json
    "json_extract": "json_extract('{\"a\": {\"b\": 7}}', '$.a.b')",
    "json_extract_path": "json_extract_path('{\"a\": {\"b\": 7}}', '$.a.b')",
    "json_extract_string": "json_extract_string('{\"a\": \"x\"}', '$.a')",
    "to_json": "to_json({'a': 1, 'b': 'x'})",
    "json_array_length": "json_array_length('[1, 2, 3]')",
    "json_keys": "json_keys('{\"a\": 1, \"b\": 2}')",
    # generic
    "uuid": "uuid()",
    "gen_random_uuid": "gen_random_uuid()",
    "isnull": "isnull(NULL)",
    "isnotnull": "isnotnull(1)",
    "if": "if(1 < 2, 'yes', 'no')",
    "iif": "iif(1 > 2, 'yes', 'no')",
    "ifnull": "ifnull(NULL, 5)",
    "nvl": "nvl(NULL, 5)",
    "nvl2": "nvl2(NULL, 'a', 'b')",
    "raise_error": "raise_error('boom')",
    "error": "error('boom')",
    # aggregates
    "avg": f"avg(x) {_NUMS}",
    "mean": f"mean(x) {_NUMS}",
    "count": f"count(x) {_NUMS}",
    "min": f"min(x) {_NUMS}",
    "max": f"max(x) {_NUMS}",
    "sum": f"sum(x) {_NUMS}",
    "arg_min": f"arg_min(x, y) {_PAIRS}",
    "arg_max": f"arg_max(x, y) {_PAIRS}",
    "approx_quantile": f"approx_quantile(x, 0.5) {_NUMS}",
    "quantile_cont": f"quantile_cont(x, 0.5) {_NUMS}",
    "every": "every(x) FROM (VALUES (true), (false)) t(x)",
    "kurtosis_pop": f"kurtosis_pop(x) {_PAIRS}",
    "skewness_pop": f"skewness_pop(x) {_PAIRS}",
}

# Names outside the table: SQL text reaches them through a call handler or
# a `dialect_macros._agg_macro` template, Python through a builder in
# `functions/` where there is one. Pinned the same way.
TEMPLATES = {
    "epoch_ms": "epoch_ms(TIMESTAMP '2024-03-17 10:20:30.5')",
    "epoch_us": "epoch_us(TIMESTAMP '2024-03-17 10:20:30.5')",
    "list_inner_product": "list_inner_product([1.0, 2.0, 3.0], [2.0, 4.0, 7.0])",
    "list_cosine_similarity":
        "list_cosine_similarity([1.0, 2.0, 3.0], [2.0, 4.0, 7.0])",
    "list_distance": "list_distance([1.0, 2.0, 3.0], [2.0, 4.0, 7.0])",
    "list_slice": "list_slice([1, 2, 3, 4, 5], 2, 4)",
    "array_slice": "array_slice([1, 2, 3, 4, 5], 2, 4)",
    "list_prepend": "list_prepend(0, [1, 2])",
    "regexp_full_match": "regexp_full_match('abc123', '[a-z]+')",
    "regexp_replace": "regexp_replace('a1b22', '[0-9]+', '#')",
    "dayofweek": "dayofweek(DATE '2024-03-17')",
    "encode": "encode('abc')",
    "decode": "decode('abc'::BLOB)",
    "format": "format('{} x {}', 1, 'y')",
    "array_unique": "array_unique([1, 1, NULL, 2])",
    "array_reduce": "array_reduce([1, 2, 3], (a, b) -> a + b)",
    "reduce": "reduce([1, 2, 3], (a, b) -> a + b)",
    "aggregate": "aggregate([1, 2, 3], 'sum')",
    "list": f"list(x) {_NUMS}",
    "array_agg": f"array_agg(x) {_NUMS}",
    "list_reduce": "list_reduce([1, 2, 3], (a, b) -> a + b)",
    "list_unique": "list_unique([1, 1, NULL, 2])",
    "list_sum": "list_sum([1, 2, NULL, 4])",
    "range": "range(1, 4)",
    "array_distinct": "array_distinct([1, 1, NULL, 2])",
    "list_distinct": "list_distinct([1, 1, NULL, 2])",
    "regexp_extract_all": "regexp_extract_all('a1b22c333', '[0-9]+')",
    "sign": "sign(-7.5)",
    "regexp_extract": "regexp_extract('ab-123-cd', '[0-9]+')",
    "split": "split('a.b..c', '.')",
}

# Values that differ from call to call: compared by kind, not by value.
VOLATILE = {"random", "uuid", "gen_random_uuid", "now", "current_date",
            "get_current_timestamp", "current_localtime", "get_current_time"}

# DuckDB leaves the element order of these lists unspecified.
ORDERLESS = {"list_distinct", "array_distinct", "list_intersect"}

# Lambda arguments: the Python surface takes a Python callable.
LAMBDAS = {
    "x -> x + 1": lambda x: x + 1,
    "x -> x % 2 = 0": lambda x: x % 2 == 0,
    "(a, b) -> a + b": lambda a, b: a + b,
}

# Answers for names pip duckdb 1.0 does not know (its Catalog Error is not
# an answer): the value the function's definition gives.
EXPECTED = {
    "sha1": ["a9993e364706816aba3e25717850c26c9cd0d89d"],
    "overlay": ["hXYo"],
    "initcap": ["Hello World"],
    "sinh": [1.17520119], "cosh": [1.54308063], "tanh": [0.761594156],
    "asinh": [0.881373587], "acosh": [1.3169579], "atanh": [0.549306144],
    "add_months": ["2024-02-29"],
    "to_date": ["2024-03-17"],
    "map_contains": [True],
    "isnull": [True], "isnotnull": [True],
    "iif": ["no"], "nvl": [5], "nvl2": ["b"],
    "raise_error": "<error>",
    "every": [False],
    "skewness_pop": [0.381801774],
}

# (name, surface) → DuckDB's answer, where this engine's answer differs;
# surface is "sql" (Connection.sql) or "py" (FUNCTIONS).
KNOWN_GAPS: dict[tuple[str, str], object] = {
    # Spark's arrays_zip names the struct fields after its arguments
    ("list_zip", "sql"): [((1, "a"), (2, "b"))],
    ("list_zip", "py"): [((1, "a"), (2, "b"))],
    ("array_zip", "sql"): [((1, "a"), (2, "b"))],
    ("array_zip", "py"): [((1, "a"), (2, "b"))],
    # DuckDB 1.0 answers DATE for a date-level part of a TIMESTAMP
    ("date_trunc", "sql"): ["2024-03-01"],
    ("date_trunc", "py"): ["2024-03-01"],
    ("datetrunc", "sql"): ["2024-03-01"],
    ("datetrunc", "py"): ["2024-03-01"],
    # TIME results: Spark has no TIME type, localtimestamp is a TIMESTAMP
    ("current_localtime", "sql"): ["time"],
    ("current_localtime", "py"): ["time"],
    ("get_current_time", "sql"): ["time"],
    ("get_current_time", "py"): ["time"],
    # DuckDB 1.0's element_at on a MAP is map_extract: a list
    ("element_at", "sql"): [(2,)],
    ("element_at", "py"): [(2,)],
    # DuckDB's split takes a literal separator, Spark's a regex; SQL text
    # reaches Spark's (the dialect's own rewrites emit it with a regex)
    ("split", "sql"): [("a", "b", "", "c")],
    # Spark's array_distinct keeps one NULL; here SQL text reaches it
    # unchanged, because the dialect's own rewrites emit it too
    ("array_distinct", "sql"): [(1, 2)],
    # Python builders: F.concat answers NULL for a NULL part, F.struct
    # names the fields after the columns, list_aggregate's sum is DOUBLE
    ("concat", "py"): ["ab"],
    ("row", "py"): [(1, "x")],
    ("aggregate", "py"): [6],
}


# ---------------------------------------------------------------- helpers

def _split_args(text: str) -> list[str]:
    """Top-level comma split that respects quotes and brackets."""
    out, depth, cur, quote = [], 0, "", None
    for ch in text:
        if quote:
            cur += ch
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
            continue
        cur += ch
    if cur.strip():
        out.append(cur.strip())
    return out


def _parse(sample: str) -> tuple[list[str], str]:
    """`name(args) rest` → (args, rest)."""
    start = sample.index("(")
    depth, quote = 0, None
    for i in range(start, len(sample)):
        ch = sample[i]
        if quote:
            quote = None if ch == quote else quote
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return _split_args(sample[start + 1:i]), sample[i + 1:].strip()
    raise ValueError(sample)


def _norm(v):
    """One comparable form for DuckDB's and Spark's Python values.
    Struct field names are kept; a struct with fields col1..colN is this
    engine's unnamed-struct (ROW) marker and compares as a tuple; DuckDB's
    MAP arrives as {'key': [...], 'value': [...]}."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        x = float(v)
        return "NaN" if math.isnan(x) else float("%.9g" % x)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, uuid.UUID):
        return str(v)
    if hasattr(v, "asDict"):
        v = v.asDict()
        if list(v) == [f"col{i + 1}" for i in range(len(v))]:
            return tuple(_norm(x) for x in v.values())
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            v = dict(zip(v["key"], v["value"]))
        return tuple(sorted(((k, _norm(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _answer(rows, name):
    vals = [r[0] for r in rows]
    if name in VOLATILE:
        return [type(v).__name__ if not isinstance(v, uuid.UUID) else "str"
                for v in vals]
    if name in ORDERLESS:
        vals = [None if v is None else sorted(v, key=repr) for v in vals]
    return sorted((_norm(v) for v in vals), key=repr)


def _run(fn, name):
    try:
        return _answer(fn(), name)
    except Exception:  # an error is an answer: `error('boom')` raises
        return "<error>"


def _duck_answer(duck, name, sample):
    if name in EXPECTED:
        with pytest.raises((duckdb.CatalogException, duckdb.ParserException)):
            duck.execute(f"SELECT {sample}")
        return EXPECTED[name]
    return _run(lambda: duck.execute(f"SELECT {sample}").fetchall(), name)


def _py_call(con, name, sample):
    """FUNCTIONS[name] over the sample's arguments selected as columns. An
    argument PySpark declares as a plain value (`round`'s scale,
    `regexp_extract`'s pattern) is passed as that value, and so are all
    but the first when the builder refuses columns."""
    args, rest = _parse(sample)
    cols = [re.sub(r"^\w+\s*:=", "", a) for a in args if a not in LAMBDAS]
    sel = ", ".join(f"{a} AS a{i}" for i, a in enumerate(cols)) or "1 AS a_"
    df = con.sql(f"SELECT {sel} {rest}").df()
    first = df.first()
    fn = FUNCTIONS[name]
    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        params = []

    def call(plain_all):
        out, kw, k = [], {}, 0
        for i, a in enumerate(args):
            if a in LAMBDAS:
                out.append(LAMBDAS[a])
                continue
            ann = str(params[min(i, len(params) - 1)].annotation) if params else ""
            plain = re.search(r"\b(int|float|bool|str|list)\b", ann) or (
                plain_all and i > 0)
            v = first[f"a{k}"] if plain else F.col(f"a{k}")
            named = re.match(r"(\w+)\s*:=", a)  # struct_pack(a := 1)
            if named:
                kw[named.group(1)] = v
            else:
                out.append(v)
            k += 1
        return df.select(fn(*out, **kw)).collect()

    try:
        return call(False)
    except Exception:
        return call(True)


def _check(got, want, name, surface):
    if (name, surface) in KNOWN_GAPS:
        assert repr(want) == repr(KNOWN_GAPS[name, surface]), \
            f"{name}: DuckDB now answers {want!r}"
        assert repr(got) != repr(want), \
            f"{name} ({surface}) matches DuckDB: drop its known gap"
    else:
        # repr: a DOUBLE -1.0 is not DuckDB's TINYINT -1
        assert repr(got) == repr(want), \
            f"{name} ({surface}): {got!r}, DuckDB {want!r}"


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark)


@pytest.fixture(scope="module")
def duck():
    d = duckdb.connect()
    d.execute("SET TimeZone = 'UTC'")
    yield d
    d.close()


# ------------------------------------------------------------------ tests

_ALL = {**SAMPLES, **TEMPLATES}


def test_every_name_has_a_sample():
    assert sorted(set(NAMES) - set(SAMPLES)) == []
    assert sorted(set(SAMPLES) - set(NAMES)) == []
    assert not set(TEMPLATES) & set(NAMES)
    for name, sample in _ALL.items():
        assert sample.startswith(f"{name}("), name


@pytest.mark.parametrize("name", sorted(_ALL))
def test_sql_surface(con, duck, name):
    want = _duck_answer(duck, name, _ALL[name])
    got = _run(lambda: con.sql(f"SELECT {_ALL[name]}").fetchall(), name)
    _check(got, want, name, "sql")


@pytest.mark.parametrize("name", sorted(n for n in _ALL if n in FUNCTIONS))
def test_python_surface(con, duck, name):
    want = _duck_answer(duck, name, _ALL[name])
    got = _run(lambda: _py_call(con, name, _ALL[name]), name)
    _check(got, want, name, "py")


@pytest.mark.parametrize("sql", [
    "SELECT date_diff('day', DATE '2020-01-01', DATE '2020-01-05')",
    "SELECT date_diff('hour', TIMESTAMP '2020-01-01 01:59:00', "
    "TIMESTAMP '2020-01-01 02:01:00')",
    "SELECT datediff('month', DATE '2020-01-31', DATE '2020-02-01')",
    "SELECT date_diff('quarter', DATE '2019-12-31', DATE '2020-01-01'), "
    "date_diff('year', DATE '2019-12-31', DATE '2020-01-01'), "
    "date_diff('minute', TIMESTAMP '2020-01-01 00:00:59', "
    "TIMESTAMP '2020-01-01 00:01:00')",
])
def test_date_diff_counts_boundaries(con, duck, sql):
    """A quoted part reaches Spark as a count of the part boundaries
    crossed, as DuckDB's date_diff counts (not whole units elapsed)."""
    assert [tuple(r) for r in con.sql(sql).fetchall()] == \
        duck.execute(sql).fetchall()


REGEXP_REPLACE_CALLS = [
    r"regexp_replace('a1b22', '[0-9]+', '#')",
    r"regexp_replace('a1b22', '[0-9]+', '#', 'g')",
    r"regexp_replace('aAbA', 'a', '#', 'i')",
    r"regexp_replace('aAbA', 'a', '#', 'gi')",
    r"regexp_replace('aAbA', 'a', '#', 'ic')",
    r"regexp_replace('abcb', '(b)', '<\1\0>')",
    r"regexp_replace('abcb', '(b)(c)?', '[\2\1]', 'g')",
    r"regexp_replace('a$b', 'b', '$x\\')",
    r"regexp_replace('a.b.', '.', 'X', 'l')",
    r"regexp_replace('a.b.', '.', 'X', 'gl')",
    r"regexp_replace('a' || chr(10) || 'b', 'a.b', 'X')",
    r"regexp_replace('a' || chr(10) || 'b', 'a.b', 'X', 's')",
    r"regexp_replace('baaa', 'a*', '#')",
    r"regexp_replace('xyz', 'q', '#')",
    r"regexp_replace('it''s 1', '\d', '''')",
    r"regexp_replace(NULL, 'b', 'c')",
]


@pytest.mark.parametrize("call", REGEXP_REPLACE_CALLS)
def test_regexp_replace_options(con, duck, call):
    r"""The first match only unless 'g'; 'i'/'c' case, 's' dot-all, 'l'
    literal; `\N` group references in the replacement. Both surfaces."""
    want = duck.execute(f"SELECT {call}").fetchall()
    assert [tuple(r) for r in con.sql(f"SELECT {call}").fetchall()] == want
    lit = r"'((?:[^']|'')*)'"
    m = re.fullmatch(rf"regexp_replace\({lit}, {lit}, {lit}(?:, '(\w+)')?\)", call)
    if m:
        value, pat, rep, opts = (g and g.replace("''", "'") for g in m.groups())
        got = con.spark.range(1).select(
            FUNCTIONS["regexp_replace"](F.lit(value), pat, rep, opts or "")).collect()
        assert [tuple(r) for r in got] == want


def test_regexp_replace_over_columns(con, duck):
    """A pattern or replacement known only at run time."""
    sql = ("SELECT regexp_replace(s, p, r), regexp_replace(s, p, r, 'g'), "
           "regexp_replace(s, p, '#', 'i') FROM (VALUES ('a1b22', '[0-9]+', '#'), "
           "('AbA', 'a', '-')) t(s, p, r)")
    assert sorted(tuple(r) for r in con.sql(sql).fetchall()) == \
        sorted(duck.execute(sql).fetchall())


@pytest.mark.parametrize("sql", [
    r"SELECT regexp_split_to_array('a b  c', '\s+')",
    r"SELECT string_split_regex('a1b22c', '\d+')",
    r"SELECT regexp_full_match('a1', '\w\d'), "
    r"regexp_extract_all('a1b22', '\d+')",
])
def test_regex_literal_keeps_backslashes(con, duck, sql):
    r"""A literal pattern reaches Spark with its backslashes: DuckDB does not
    read `\` in a string literal as an escape, Spark's parser does."""
    assert [tuple(r) for r in con.sql(sql).fetchall()] == \
        duck.execute(sql).fetchall()


SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def sf_con(spark):
    return Connection(spark.newSession(), sf_dir=SF)


@pytest.fixture(scope="module")
def sf_duck():
    from scripts.check_contract import TABLES

    d = duckdb.connect()
    d.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        d.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield d
    d.close()


# ORACLE texts that failed only for a function name (`epoch_us`,
# `array_to_string`) or a quoted date_diff part; perfbench/workloads.py
# still lists them in SQL_SMALL_EXCLUDED
@pytest.mark.parametrize("name", ["win_lag_gap", "agg_collect_list", "win_frames"])
def test_oracle_text_matches(sf_con, sf_duck, name):
    from duckdb_spark import queries

    queries.load_all()
    sql = queries.ORACLE[name]
    assert_matches_oracle(sf_con.sql(sql).df(), sf_duck, sql, name)
