"""Function registry: DuckDB name → Column builder.

Mirrors the reference's two-registry model (`src/function/function_list.cpp`
built-ins + `extension/core_functions/function_list.cpp`): `FUNCTIONS` maps
every DuckDB-visible name we support to a callable producing a Spark Column.
Names that are 1:1 with a Spark function come from the one name table,
`functions.names.NAMES`, which SQL text reads too; the rest come from
duckdb_spark.functions.scalar / .aggregates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_spark.functions import aggregates as A
from duckdb_spark.functions import scalar as S
from duckdb_spark.functions import scalar2 as S2
from duckdb_spark.functions import variant as V
from duckdb_spark.functions.names import NAMES


def _module_functions(mod) -> dict:
    out = {}
    for name in dir(mod):
        if name.startswith("_"):
            continue
        obj = getattr(mod, name)
        if callable(obj) and not isinstance(obj, type):
            out[name] = obj
    return out


# Names implemented in our scalar/aggregate modules (wave 1 + wave 2).
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
_CUSTOM["format"] = S.format_
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
_CUSTOM["array_unique"] = S.list_unique
_CUSTOM["array_slice"] = S.list_slice
_CUSTOM["array_distinct"] = S.list_distinct
_CUSTOM["list"] = A.array_agg
_CUSTOM["split"] = S.str_split
_CUSTOM["aggregate"] = S2.list_aggregate
_CUSTOM["array_reduce"] = S.list_reduce
_CUSTOM["reduce"] = S.list_reduce
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


def _spark_function(spark_name: str):
    fn = getattr(F, spark_name, None)
    if fn is not None:
        return fn
    return lambda *cols: F.call_function(spark_name, *cols)


FUNCTIONS: dict[str, object] = {
    duck_name: _spark_function(spark_name)
    for duck_name, spark_name in NAMES.items()
}
FUNCTIONS.update(_CUSTOM)
