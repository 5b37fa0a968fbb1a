"""Function registry: DuckDB name → Column builder, plus SQL registration.

Mirrors the reference's two-registry model (`src/function/function_list.cpp`
built-ins + `extension/core_functions/function_list.cpp`): `FUNCTIONS` maps
every DuckDB-visible name we support to a callable producing a Spark Column;
names that are 1:1 with `pyspark.sql.functions` builtins map directly, the
rest come from duckdb_spark.functions.scalar / .aggregates.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from duckdb_spark import state
from duckdb_spark.functions import aggregates as A
from duckdb_spark.functions import scalar as S

# DuckDB name → pyspark.sql.functions name (identical semantics).
_DIRECT = {
    # string
    "concat": "concat", "concat_ws": "concat_ws", "lower": "lower", "upper": "upper",
    "trim": "trim", "ltrim": "ltrim", "rtrim": "rtrim", "reverse": "reverse",
    "replace": "replace", "repeat": "repeat", "lpad": "lpad", "rpad": "rpad",
    "length": "length", "strlen": "octet_length", "octet_length": "octet_length",
    "bit_length": "bit_length", "substring": "substring", "substr": "substring",
    "contains": "contains", "starts_with": "startswith", "ends_with": "endswith",
    "regexp_matches": "regexp_like", "regexp_replace": "regexp_replace",
    "regexp_extract": "regexp_extract", "regexp_extract_all": "regexp_extract_all",
    "regexp_split_to_array": "split", "split_part": "split_part",
    "translate": "translate", "ascii": "ascii", "chr": "char", "instr": "instr",
    "position": "instr", "levenshtein": "levenshtein", "md5": "md5", "sha1": "sha1",
    "overlay": "overlay", "format": "format_string", "printf": "format_string",
    "hex": "hex", "unhex": "unhex", "to_base64": "base64", "from_base64": "unbase64",
    "initcap": "initcap", "unicode": "ascii",
    # math
    "abs": "abs", "ceil": "ceil", "ceiling": "ceil", "floor": "floor", "round": "round",
    "trunc": "expr_trunc", "sqrt": "sqrt", "cbrt": "cbrt", "exp": "exp", "ln": "log",
    "log2": "log2", "log10": "log10", "pow": "pow", "power": "pow", "pi": "pi",
    "sin": "sin", "cos": "cos", "tan": "tan", "asin": "asin", "acos": "acos",
    "atan": "atan", "atan2": "atan2", "sinh": "sinh", "cosh": "cosh", "tanh": "tanh",
    "asinh": "asinh", "acosh": "acosh", "atanh": "atanh", "degrees": "degrees",
    "radians": "radians", "sign": "signum", "factorial": "factorial",
    "isnan": "isnan", "random": "rand", "greatest": "greatest", "least": "least",
    "bit_count": "bit_count",
    # date/time
    "date_trunc": "date_trunc", "year": "year", "month": "month", "day": "day",
    "hour": "hour", "minute": "minute", "second": "second", "quarter": "quarter",
    "dayofyear": "dayofyear", "weekofyear": "weekofyear", "add_months": "add_months",
    "to_timestamp": "to_timestamp", "make_timestamp": "make_timestamp",
    "current_date": "current_date", "now": "current_timestamp",
    "get_current_timestamp": "current_timestamp", "to_date": "to_date",
    # list
    "array_length": "size", "len": "size", "cardinality": "size",
    "list_append": "array_append", "list_prepend": "array_prepend",
    "list_concat": "concat", "list_extract": "element_at", "list_element": "element_at",
    "array_contains": "array_contains", "list_reverse": "reverse",
    "list_intersect": "array_intersect", "range": "sequence",
    "array_to_string": "array_join", "list_max": "array_max", "list_min": "array_min",
    "list_sum": "expr_list_sum",
    # map
    "map_keys": "map_keys", "map_values": "map_values", "map_concat": "map_concat",
    "map_from_entries": "map_from_entries", "element_at": "element_at",
    "map_contains": "map_contains_key",
    # struct
    "struct_pack": "struct", "row": "struct",
    # json
    "json_extract_string": "get_json_object", "to_json": "to_json",
    "from_json": "from_json", "json_array_length": "json_array_length",
    "json_keys": "json_object_keys",
    # generic
    "coalesce": "coalesce", "nullif": "nullif", "hash": "xxhash64",
    "uuid": "uuid", "typeof": "typeof", "isnull": "isnull", "isnotnull": "isnotnull",
    "if": "when", "iif": "when", "ifnull": "nvl", "nvl": "nvl", "nvl2": "nvl2",
    "raise_error": "raise_error", "encode": "encode", "decode": "decode",
    # -- wave 2 (names pinned against the shipping DuckDB's own
    #    duckdb_functions() catalog; see functions/scalar2.py for the rest) --
    # aggregates with identical Spark natives
    "avg": "avg", "mean": "avg", "count": "count", "min": "min", "max": "max",
    "sum": "sum",
    # date aliases
    "dayofmonth": "dayofmonth", "dayofweek": "dayofweek",
    "datetrunc": "date_trunc", "base64": "base64",
    "current_localtime": "localtimestamp", "get_current_time": "localtimestamp",
    # array_* aliases of the list surface
    "array_concat": "concat", "array_cat": "concat",
    "array_extract": "element_at", "array_indexof": "array_position",
    "array_position": "array_position", "array_contains": "array_contains",
    "array_distinct": "array_distinct", "array_sort": "array_sort",
    "array_transform": "transform", "array_apply": "transform",
    "array_filter": "filter", "array_reduce": "reduce",
    "array_slice": "slice", "array_zip": "arrays_zip",
    "array_unique": "array_distinct", "array_value": "array",
    "list": "collect_list", "array_agg": "collect_list",
    # list HOF bare aliases
    "apply": "transform", "aggregate": "aggregate", "filter": "filter",
    "reduce": "reduce",
    # misc
    "split": "split", "str_split_regex": "split", "string_split_regex": "split",
    "ord": "ascii",
}

# Names implemented in our scalar/aggregate modules (wave 1 + wave 2).
from duckdb_spark.functions import scalar2 as S2  # noqa: E402
from duckdb_spark.functions import variant as V  # noqa: E402


def _module_functions(mod) -> dict:
    out = {}
    for name in dir(mod):
        if name.startswith("_"):
            continue
        obj = getattr(mod, name)
        if callable(obj) and not isinstance(obj, type):
            out[name] = obj
    return out


_CUSTOM = _module_functions(S)
_CUSTOM.update(_module_functions(A))
_CUSTOM.update(_module_functions(S2))
_CUSTOM.update(S2.COLLATION_FUNCTIONS)
# VARIANT surface (reference function_list.cpp:269-277)
_CUSTOM.update({
    n: getattr(V, n)
    for n in (
        "variant_extract", "variant_typeof", "variant_type", "variant_keys",
        "variant_array_length", "variant_exists", "variant_contains",
        "variant_normalize", "variant_comparator", "to_variant", "try_to_variant",
    )
})
# names that collide with python keywords/builtins inside the modules
_CUSTOM["ord"] = S2.ord_
_CUSTOM["bin"] = S2.to_binary
_CUSTOM["array_resize"] = S.list_resize
_CUSTOM["formatReadableDecimalSize"] = S.format_bytes
_CUSTOM["formatReadableSize"] = S.format_bytes
_CUSTOM["greatest_common_divisor"] = S.gcd
_CUSTOM["least_common_multiple"] = S.lcm
_CUSTOM["datediff"] = S.date_diff
_CUSTOM["datesub"] = S.date_diff
_CUSTOM["date_sub"] = S.date_diff
_CUSTOM["datepart"] = S.date_part
_CUSTOM["array_cosine_similarity"] = S.list_cosine_similarity
_CUSTOM["array_cosine_distance"] = S.list_cosine_distance
_CUSTOM["array_inner_product"] = S.list_inner_product
_CUSTOM["array_dot_product"] = S.list_inner_product
_CUSTOM["array_distance"] = S.list_distance
_CUSTOM["array_has"] = S.list_contains
_CUSTOM["array_has_any"] = S.list_has_any
_CUSTOM["array_has_all"] = S.list_has_all
_CUSTOM["list_has"] = S.list_contains
_CUSTOM["list_indexof"] = S.list_position
_CUSTOM["array_select"] = S.list_select
_CUSTOM["array_where"] = S.list_where
_CUSTOM["list_cat"] = lambda a, b: F.concat(
    F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
)
_CUSTOM["generate_series"] = S.generate_series_list
_CUSTOM["map"] = S2.map_
_CUSTOM["log"] = S2.log


def _seq_fn_stub(name):
    def fn(*a, **kw):
        raise NotImplementedError(
            f"{name}() is catalog-stateful: use the SQL layer "
            "(duckdb_spark.sql.macros.MacroRegistry handles CREATE SEQUENCE "
            "+ nextval/currval inlining)"
        )
    return fn


_CUSTOM["nextval"] = _seq_fn_stub("nextval")
_CUSTOM["currval"] = _seq_fn_stub("currval")
_CUSTOM["mod"] = S2.mod
_CUSTOM["md5_number_lower"] = S.md5_number_lower
_CUSTOM["md5_number_upper"] = S.md5_number_upper


def _resolve_direct(spark_name: str):
    if spark_name == "expr_trunc":
        return lambda x: F.expr(f"trunc({x})") if isinstance(x, str) else F.floor(x)
    if spark_name == "expr_list_sum":
        return lambda arr: F.aggregate(
            F.col(arr) if isinstance(arr, str) else arr, F.lit(0.0), lambda a, v: a + v
        )
    return getattr(F, spark_name)


FUNCTIONS: dict[str, object] = {}
for duck_name, spark_name in _DIRECT.items():
    FUNCTIONS[duck_name] = _resolve_direct(spark_name)
FUNCTIONS.update(_CUSTOM)


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Expose DuckDB-only names to Spark SQL text via temp SQL aliases.

    Spark SQL already resolves the `_DIRECT` right-hand names; here we add
    lightweight SQL macros (CREATE TEMPORARY FUNCTION is JVM-only, so we
    register SQL-body equivalents using Spark 3.5 SQL UDF syntax where
    expressible).
    """
    created = []
    macros = {
        "strpos": "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) RETURNS INT RETURN instr(s, sub)",
        "list_cosine_similarity": (
            "CREATE OR REPLACE TEMPORARY FUNCTION list_cosine_similarity(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN "
            "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v) / "
            "(sqrt(aggregate(a, cast(0.0 as double), (acc, v) -> acc + v * v)) * "
            " sqrt(aggregate(b, cast(0.0 as double), (acc, v) -> acc + v * v)))"
        ),
        "list_inner_product": (
            "CREATE OR REPLACE TEMPORARY FUNCTION list_inner_product(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN "
            "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
        ),
        "list_distance": (
            "CREATE OR REPLACE TEMPORARY FUNCTION list_distance(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN "
            "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v))"
        ),
        "epoch_ms": "CREATE OR REPLACE TEMPORARY FUNCTION epoch_ms(ts TIMESTAMP) RETURNS BIGINT RETURN unix_millis(ts)",
    }
    # typeof() renders DuckDB type text (reference LogicalType::ToString):
    # post-process Spark's typeof string; tiny constant strings, so a
    # plain Python UDF is fine (not a data path)
    from duckdb_spark.types import duck_type_text

    state.register_udf(spark, "__ducktype", duck_type_text, "string")
    created.append("typeof")
    failed = []
    for name, ddl in macros.items():
        try:
            spark.sql(ddl)
            created.append(name)
        except Exception as exc:  # collect, don't silently drop names
            failed.append((name, f"{type(exc).__name__}: {exc}"))
    if failed:
        import warnings

        warnings.warn(
            "register_sql_functions: %d name(s) failed to register: %s"
            % (len(failed), "; ".join(f"{n} ({e})" for n, e in failed)),
            stacklevel=2,
        )
    register_sql_functions.last_failed = failed
    return created
