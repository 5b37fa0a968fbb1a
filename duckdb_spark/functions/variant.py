"""DuckDB VARIANT function surface on Spark 4's native VariantType.

Reference (semantics only, not ported): `src/function/function_list.cpp:269-277`
registers the variant set; per-function behavior studied from
`src/function/scalar/variant/*.cpp` and `test/sql/function/variant/*.test`;
type-name vocabulary from `src/include/duckdb/common/types/variant.hpp:127-164`
(VariantLogicalType enum).

Spark mapping: a DuckDB VARIANT column is a Spark `VariantType` column
(`parse_json` / `variant_get` / `schema_of_variant` / `is_variant_null` /
`to_json`). Everything below is a JVM-side Column expression except
`variant_contains` and `variant_normalize`'s duplicate-key handling, which
walk arbitrary nesting (Arrow-batched pandas UDFs, documented slow path —
same policy as the jaro/damerau string metrics).

Path syntax: DuckDB's variant path components (`'a[1].c'`, 1-based array
indexes — `variant_extract.cpp:19` "indexes are 1-based") are translated to
Spark JSON paths (`$.a[0].c`, 0-based).

Divergence policy (documented, driver-oracle-aligned): variants built from
JSON carry JSON's type lattice, so `variant_typeof` reports the JSON-origin
names the reference produces for `'...'::JSON::VARIANT` inputs — integers
are INT64, fractional/oversized numbers DOUBLE (see json_cast.test:32),
strings VARCHAR, plus BOOL_TRUE/BOOL_FALSE/VARIANT_NULL/OBJECT(keys)/
ARRAY(n). Spark's finer-grained parser types (e.g. DECIMAL(2,1) for 1.5)
are folded into those names.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from duckdb_spark.functions.scalar2 import _pd


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else (x if isinstance(x, Column) else F.lit(x))


# ---------------------------------------------------------------- paths

_COMPONENT = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)|\[(\d+)\]")


def _spark_path(*components) -> str:
    """DuckDB variant path components → Spark JSON path.

    Accepts any mix of key strings, 1-based integer indexes, and compound
    path strings like 'a[1].c' (the reference's VariantPathComponent
    grammar, variant_path_function.cpp).
    """
    parts: list[str] = []
    for comp in components:
        if isinstance(comp, int):
            if comp == 0:
                raise ValueError(
                    "Extracting index 0 from VARIANT(ARRAY) is invalid, "
                    "indexes are 1-based"  # variant_extract.cpp:20
                )
            parts.append(f"[{comp - 1}]")
            continue
        for m in _COMPONENT.finditer(str(comp)):
            key, idx = m.group(1), m.group(2)
            if key is not None:
                parts.append(f".{key}")
            else:
                i = int(idx)
                if i == 0:
                    raise ValueError(
                        "Extracting index 0 from VARIANT(ARRAY) is invalid, "
                        "indexes are 1-based"
                    )
                parts.append(f"[{i - 1}]")
    return "$" + "".join(parts)


# ---------------------------------------------------------------- core

def to_variant(x) -> Column:
    """JSON text → VARIANT (DuckDB `::JSON::VARIANT` cast, json_cast.test).

    Divergence: the reference resolves duplicate object keys last-wins
    (json_cast.test "Duplicate object keys use the last value"); Spark's
    variant builder raises VARIANT_DUPLICATE_KEY. Use try_to_variant to
    map such inputs to NULL instead of failing the job."""
    return F.parse_json(_c(x))


def try_to_variant(x) -> Column:
    return F.try_parse_json(_c(x))


def variant_extract(v, *path) -> Column:
    """`variant_extract(v, 'a[1].c')` → VARIANT at path (missing → NULL)."""
    return F.variant_get(_c(v), _spark_path(*path), "variant")


def variant_exists(v, *path) -> Column:
    """True when the path resolves to a node — including a JSON-null node
    (variant_exists.cpp WriteExistsResult: found == exists)."""
    node = variant_extract(v, *path)
    return F.coalesce(node.isNotNull(), F.lit(False))


def variant_array_length(v, *path) -> Column:
    """Element count of the ARRAY at path (variant_array_length.cpp)."""
    node = _c(v) if not path else variant_extract(v, *path)
    return F.size(F.variant_get(node, "$", "array<variant>"))


def variant_keys(v, *path) -> Column:
    """Sorted, deduplicated top-level object keys as ARRAY<STRING>
    (variant_keys.cpp; json_cast.test shows sorted+deduped output)."""
    node = _c(v) if not path else variant_extract(v, *path)
    return F.json_object_keys(F.to_json(node))


def _typeof_expr(node: Column, with_detail: bool) -> Column:
    """Shared typeof/type implementation over schema_of_variant."""
    sch = F.schema_of_variant(node)
    as_bool = F.variant_get(node, "$", "boolean")
    arr = F.variant_get(node, "$", "array<variant>")
    is_int = sch.isin("TINYINT", "SMALLINT", "INT", "BIGINT")
    is_float = sch.rlike(r"^(FLOAT|DOUBLE|DECIMAL.*)$")
    obj_detail = F.concat(
        F.lit("OBJECT("),
        F.array_join(F.json_object_keys(F.to_json(node)), ", "),
        F.lit(")"),
    )
    arr_detail = F.concat(F.lit("ARRAY("), F.size(arr).cast("string"), F.lit(")"))
    return (
        F.when(node.isNull(), F.lit(None).cast("string"))
        .when(F.is_variant_null(node), F.lit("VARIANT_NULL"))
        .when(sch == "BOOLEAN", F.when(as_bool, "BOOL_TRUE").otherwise("BOOL_FALSE"))
        .when(is_int, F.lit("INT64"))
        .when(is_float, F.lit("DOUBLE"))
        .when(sch == "STRING", F.lit("VARCHAR"))
        .when(sch.startswith("OBJECT"), obj_detail if with_detail else F.lit("OBJECT"))
        .when(sch.startswith("ARRAY"), arr_detail if with_detail else F.lit("ARRAY"))
        .otherwise(sch)
    )


def variant_typeof(v, *path) -> Column:
    """Reference variant_typeof: detailed names — OBJECT(k1, k2), ARRAY(n),
    BOOL_TRUE/BOOL_FALSE, INT64, DOUBLE, VARCHAR, VARIANT_NULL
    (variant_typeof.cpp:30-57)."""
    node = _c(v) if not path else variant_extract(v, *path)
    return _typeof_expr(node, with_detail=True)


def variant_type(v, *path) -> Column:
    """Reference variant_type: plain VariantLogicalType names (OBJECT/ARRAY
    without detail — variant_type.cpp:14 EnumUtil::ToString)."""
    node = _c(v) if not path else variant_extract(v, *path)
    return _typeof_expr(node, with_detail=False)


def variant_normalize(v) -> Column:
    """Canonical representation: key-sorted, duplicate-free (last wins),
    minimal whitespace (variant_normalize.cpp). Spark's variant binary
    already stores objects key-sorted and parse_json keeps the last
    duplicate, so normalize is a to_json/parse_json round-trip — JVM-side."""
    return F.parse_json(F.to_json(_c(v)))


def variant_normalized_json(v) -> Column:
    """Normalized canonical JSON text of a VARIANT (the comparable form of
    variant_normalize for differential tests)."""
    return F.to_json(_c(v))


def variant_comparator(v) -> Column:
    """PARTIAL: the reference emits a binary sort key ordering variants by
    logical VARIANT ordering (variant_comparator.cpp). We return the
    canonical JSON text — stable and deterministic, same ordering within a
    type for strings/objects, but NOT the reference's cross-type order.
    Documented partial."""
    return F.to_json(_c(v))


# ------------------------------------------------------- contains (slow path)

def _contains_impl(hay: pd.Series, needle: pd.Series) -> pd.Series:
    def eq(a, b) -> bool:
        # int/float JSON equality matches reference IsEqual (numeric compare)
        if isinstance(a, bool) or isinstance(b, bool):
            return a is b
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return a == b
        return type(a) is type(b) and a == b

    def walk(node, target) -> bool:
        if eq(node, target):
            return True
        if isinstance(node, dict):
            return any(walk(child, target) for child in node.values())
        if isinstance(node, list):
            return any(walk(child, target) for child in node)
        return False

    out = []
    for h, n in zip(hay, needle):
        if h is None or n is None:
            out.append(None)
        else:
            out.append(walk(json.loads(h), json.loads(n)))
    return pd.Series(out, dtype=object)


def variant_contains(v, needle) -> Column:
    """True when any node of `v` equals `needle` (recursive haystack walk,
    variant_contains.cpp:93 RecursiveHaystackWalk). Arrow-batched pandas UDF
    over canonical JSON text — documented slow path (arbitrary recursion
    depth is not expressible as a Column)."""
    u = _pd("variant_contains", "boolean", _contains_impl)
    return u(F.to_json(_c(v)), F.to_json(_c(needle)))
