"""Nested-type comparison semantics (reference
src/common/vector_operations/comparison_operators.cpp).

Spark and the reference disagree on LIST/STRUCT/MAP comparisons whenever a
NULL appears INSIDE the value:

- ``=`` / ``<>``: the reference scans positionally and yields SQL NULL at
  the first position where either child is NULL (before that, a non-NULL
  mismatch decides FALSE; for lists a length mismatch decides FALSE up
  front). Spark treats NULL members as ordinary values and always returns
  TRUE/FALSE.
- ``<`` ``<=`` ``>`` ``>=``: the reference uses DISTINCT child semantics —
  a total order where NULL children sort GREATER than every value
  (DistinctNullComparator: "default is NULLS LAST"), so the result is never
  NULL for non-NULL top-level operands. Spark sorts NULL children FIRST.
- ``IS [NOT] DISTINCT FROM``: Spark's ``<=>`` already matches (NULL
  children compare as equal values) — no rewrite needed.

The dialect rewrites nested comparisons to the two UDFs below; they are
registered lazily on the active session the first time a rewrite fires.

Scale note: these are row-at-a-time Python UDFs, used ONLY when a query
compares nested columns that may carry NULL members — a correctness path,
not an analytics hot path. The common case (no nested comparison in the
query) costs one regex scan at translate time.
"""

from __future__ import annotations

import datetime
import math
import struct
from decimal import Decimal

from duckdb_spark import state

_I64_BIAS = 1 << 63
_U64_MASK = (1 << 64) - 1


def _is_struct(v) -> bool:
    return hasattr(v, "__fields__")


def _num(v):
    if isinstance(v, Decimal):
        return float(v)
    return v


def nest_eq(a, b):
    """Three-valued equality over nested values (reference
    comparison_operators.cpp ListOrArrayComparator / StructComparator;
    semantics fitted against the full 36-row matrix of
    test/sql/types/list/list_null_members.test).

    LIST scan (asymmetric, per the reference's not-equal pass then NULL
    pass): a NULL LEFT element → NULL immediately; a NULL RIGHT element →
    pending-NULL; a non-NULL mismatch → False; LEFT exhausting first →
    False even with a pending NULL; RIGHT exhausting first → False only
    without one; equal lengths at the end → NULL if pending else True.

    STRUCT: no positional short-circuit — a decided mismatch in ANY field
    → False; else any NULL field → NULL; else True."""
    if a is None or b is None:
        return None
    a, b = _num(a), _num(b)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True  # reference: NaN compares equal to NaN
        return a == b
    a_struct, b_struct = _is_struct(a), _is_struct(b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        if a_struct or b_struct:
            saw_null = False
            for x, y in zip(a, b):
                if x is None or y is None:
                    saw_null = True
                    continue
                r = nest_eq(x, y)
                if r is False:
                    return False
                if r is None:
                    saw_null = True
            return None if saw_null else True
        # mismatch pass first: a DEFINITE inequality at any aligned
        # position decides False even when an earlier pair is NULL
        # ([NULL,1.0] = [2,3.0] is False, = [2,1.0] is NULL —
        # list_null_members_small.test:36); THEN the asymmetric NULL
        # scan fitted to the 36-row list_null_members.test matrix
        for k in range(min(len(a), len(b))):
            x, y = a[k], b[k]
            if x is None or y is None:
                continue
            if nest_eq(x, y) is False:
                return False
        pending = False
        for k in range(min(len(a), len(b))):
            x, y = a[k], b[k]
            if x is None:
                return None
            if y is None:
                pending = True
                continue
            if nest_eq(x, y) is None:
                pending = True
        if len(a) < len(b):
            return False
        if len(a) > len(b):
            return None if pending else False
        return None if pending else True
    if isinstance(a, dict) and isinstance(b, dict):
        if len(a) != len(b):
            return False
        saw_null = False
        for (ka, va), (kb, vb) in zip(a.items(), b.items()):
            for x, y in ((ka, kb), (va, vb)):
                if x is None or y is None:
                    saw_null = True
                    continue
                r = nest_eq(x, y)
                if r is False:
                    return False
                if r is None:
                    saw_null = True
        return None if saw_null else True
    return bool(a == b)


def _enc(v, out: bytearray) -> None:
    """Order-preserving byte encoding of one NON-NULL value. Bytes compare
    unsigned-lexicographically in Spark, so key(a) < key(b) iff a sorts
    before b under the reference's DISTINCT total order (NULL children
    greatest, NaN greatest among doubles)."""
    v = _num(v)
    if isinstance(v, bool):
        out += b"\x01" if v else b"\x00"
    elif isinstance(v, int):
        iv = max(-_I64_BIAS, min(v, _I64_BIAS - 1))
        out += struct.pack(">Q", (iv + _I64_BIAS) & _U64_MASK)
    elif isinstance(v, float):
        bits = struct.unpack(">Q", struct.pack(">d", v))[0]
        if bits >> 63:
            bits = ~bits & _U64_MASK  # negative: flip all
        else:
            bits |= 1 << 63  # positive (incl. NaN): set sign
        out += struct.pack(">Q", bits)
    elif isinstance(v, str):
        out += v.encode("utf-8").replace(b"\x00", b"\x00\x01") + b"\x00\x00"
    elif isinstance(v, (bytes, bytearray)):
        out += bytes(v).replace(b"\x00", b"\x00\x01") + b"\x00\x00"
    elif isinstance(v, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        out += struct.pack(
            ">Q",
            (int((v - epoch).total_seconds() * 1_000_000) + _I64_BIAS)
            & _U64_MASK,
        )
    elif isinstance(v, datetime.date):
        out += struct.pack(">Q", (v.toordinal() + _I64_BIAS) & _U64_MASK)
    elif isinstance(v, datetime.time):
        micros = ((v.hour * 60 + v.minute) * 60 + v.second) * 1_000_000 \
            + v.microsecond
        out += struct.pack(">Q", (micros + _I64_BIAS) & _U64_MASK)
    elif isinstance(v, dict):
        for k, val in v.items():
            for child in (k, val):
                if child is None:
                    out += b"\x02"
                else:
                    out += b"\x01"
                    _enc(child, out)
        out += b"\x00"
    elif isinstance(v, (list, tuple)):  # LIST and STRUCT(Row) alike
        for child in v:
            if child is None:
                out += b"\x02"  # NULL child: after any present child
            else:
                out += b"\x01"
                _enc(child, out)
        out += b"\x00"  # exhausted: before longer lists' next element
    else:
        out += str(v).encode("utf-8", "replace") + b"\x00\x00"


def nest_key(v):
    """Total-order sort key: None for top-level NULL (Spark's NULLS
    FIRST/LAST then applies), else the recursive encoding."""
    if v is None:
        return None
    out = bytearray()
    _enc(v, out)
    return bytes(out)


def nest_in(coll, v):
    """`v IN <collection column>` (reference: IN over a LIST calls
    list_contains semantics, over a STRUCT calls struct_contains) —
    three-valued: a NULL member that was not decided earlier makes the
    miss NULL, an equal member makes it True."""
    if coll is None or v is None:
        return None
    if isinstance(coll, dict):
        items = list(coll.keys())
    else:
        items = list(coll)
    saw_null = False
    for m in items:
        if m is None:
            saw_null = True
            continue
        r = nest_eq(m, v)
        if r is True:
            return True
        if r is None:
            saw_null = True
    return None if saw_null else False


def _atomic_default_lit(t) -> str | None:
    """A non-NULL placeholder literal of type t (only read when the null
    flag already decided the comparison, so any constant works)."""
    from pyspark.sql import types as T

    if isinstance(t, T.BooleanType):
        return "false"
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "0"
    if isinstance(t, T.FloatType):
        return "cast(0 as float)"
    if isinstance(t, T.DoubleType):
        return "cast(0 as double)"
    if isinstance(t, T.DecimalType):
        return f"cast(0 as decimal({t.precision},{t.scale}))"
    if isinstance(t, T.StringType):
        return "''"
    if isinstance(t, T.DateType):
        return "date'1970-01-01'"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp'1970-01-01'"
    if isinstance(t, T.BinaryType):
        return "X''"
    return None


def order_key_sql(expr: str, dtype) -> str | None:
    """Pure-Column ORDER BY key for depth-1 nested types (VERDICT r08/r09:
    the __dknestkey Python UDF routed EVERY row of a LIST-keyed sort —
    token arrays are a real training-data workload — through Python).
    Pair each child with a null flag so NULL children sort GREATEST like
    the reference's DISTINCT comparator; Spark's native array/struct
    ordering (NaN greatest, shorter-prefix first) matches the rest.
    Returns None when the shape still needs the UDF (MAP, nesting deeper
    than one level, exotic child types)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        d = _atomic_default_lit(dtype.elementType)
        if d is None:
            return None
        return (f"transform({expr}, __ok -> struct("
                f"if(__ok is null, 1, 0) AS n, coalesce(__ok, {d}) AS v))")
    if isinstance(dtype, T.StructType):
        parts = []
        for f in dtype.fields:
            d = _atomic_default_lit(f.dataType)
            if d is None:
                return None
            fx = f"({expr}).`{f.name}`"
            parts.append(f"if({fx} is null, 1, 0) AS `__n_{f.name}`")
            parts.append(f"coalesce({fx}, {d}) AS `__v_{f.name}`")
        if not parts:
            return None
        return "struct(" + ", ".join(parts) + ")"
    return None


def register_udfs(spark) -> None:
    """Register __dknesteq / __dknestkey / __dknestin on `spark`."""
    if spark is None:
        return
    state.register_udf(spark, "__dknesteq", nest_eq, "boolean")
    state.register_udf(spark, "__dknestkey", nest_key, "binary")
    state.register_udf(spark, "__dknestin", nest_in, "boolean")


# --------------------------------------------------------- BY NAME unify


def _unify_types(a, b):
    """DuckDB set-op type unification for UNION BY NAME: VARCHAR absorbs
    scalars, numerics widen, structs merge fields by name (lhs order, new
    rhs fields appended), lists/maps unify element-wise (reference
    bind_setop_node union-by-name casts; struct_cast_superset.test:31 —
    {'e2': 42} ∪ {'e2': 'hello'} must carry e2 as VARCHAR, not cast
    'hello' to the lhs integer type)."""
    from pyspark.sql import types as T

    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        bmap = {f.name.lower(): f for f in b.fields}
        fields = []
        seen = set()
        for f in a.fields:
            bf = bmap.get(f.name.lower())
            seen.add(f.name.lower())
            fields.append(T.StructField(
                f.name,
                _unify_types(f.dataType, bf.dataType) if bf else f.dataType,
                True))
        for f in b.fields:
            if f.name.lower() not in seen:
                fields.append(T.StructField(f.name, f.dataType, True))
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _unify_types(a.elementType, b.elementType), True)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _unify_types(a.keyType, b.keyType),
            _unify_types(a.valueType, b.valueType), True)
    if isinstance(a, T.StringType) or isinstance(b, T.StringType):
        return T.StringType()
    num_rank = [T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType]

    def _rank(t):
        for i, cls in enumerate(num_rank):
            if isinstance(t, cls):
                return i
        return None

    ra, rb = _rank(a), _rank(b)
    if ra is not None and rb is not None:
        return num_rank[max(ra, rb)]()
    if isinstance(a, T.DecimalType) and (
        rb is not None or isinstance(b, T.DecimalType)
    ):
        if isinstance(b, (T.FloatType, T.DoubleType)):
            return T.DoubleType()
        if isinstance(b, T.DecimalType):
            # keep ALL integer digits of both sides: DECIMAL(18,0) vs
            # DECIMAL(18,3) must widen to DECIMAL(21,3), not DECIMAL(18,3)
            # (ADVICE r09 #2: max(p),max(s) silently NULLs values >= 1e15)
            s = max(a.scale, b.scale)
            ip = max(a.precision - a.scale, b.precision - b.scale)
            return T.DecimalType(min(38, ip + s), s)
        # decimal vs integer: the integer carrier needs its full digit
        # count (LongType = 19 integer digits) or large values truncate
        int_digits = {T.ByteType: 3, T.ShortType: 5, T.IntegerType: 10,
                      T.LongType: 19}[type(b)]
        ip = max(a.precision - a.scale, int_digits)
        return T.DecimalType(min(38, ip + a.scale), a.scale)
    if isinstance(b, T.DecimalType) and ra is not None:
        return _unify_types(b, a)
    return T.StringType()  # last resort: duck text unification


def _coerce_to(expr, src, dst):
    """Column expression casting `expr` of Spark type src to dst, building
    structs field-by-field (a plain CAST cannot add struct members)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if src == dst:
        return expr
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        smap = {f.name.lower(): f for f in src.fields}
        parts = []
        for f in dst.fields:
            sf = smap.get(f.name.lower())
            if sf is None:
                parts.append(
                    F.lit(None).cast(f.dataType).alias(f.name))
            else:
                parts.append(_coerce_to(
                    expr.getField(sf.name), sf.dataType, f.dataType
                ).alias(f.name))
        built = F.struct(*parts)
        return F.when(expr.isNull(), F.lit(None).cast(dst)).otherwise(built)
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return F.transform(
            expr, lambda e: _coerce_to(e, src.elementType, dst.elementType))
    return expr.cast(dst)


def union_by_name_unified(df, rhs):
    """df.unionByName(rhs) with DuckDB type unification (see _unify_types):
    both sides are first coerced to the column-wise unified schema."""
    from pyspark.sql import functions as F

    lmap = {f.name.lower(): f for f in df.schema.fields}
    rmap = {f.name.lower(): f for f in rhs.schema.fields}
    unified = {}
    for k in set(lmap) & set(rmap):
        if lmap[k].dataType != rmap[k].dataType:
            unified[k] = _unify_types(lmap[k].dataType, rmap[k].dataType)
    if unified:
        df = df.select(*[
            _coerce_to(F.col(f.name), f.dataType, unified[f.name.lower()])
            .alias(f.name) if f.name.lower() in unified else F.col(f.name)
            for f in df.schema.fields
        ])
        rhs = rhs.select(*[
            _coerce_to(F.col(f.name), f.dataType, unified[f.name.lower()])
            .alias(f.name) if f.name.lower() in unified else F.col(f.name)
            for f in rhs.schema.fields
        ])
    return df.unionByName(rhs, allowMissingColumns=True)
