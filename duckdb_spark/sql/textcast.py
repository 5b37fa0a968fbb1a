"""Constant VARCHAR → nested-type cast folding.

DuckDB casts strings to LIST/STRUCT/MAP at runtime with its own text
grammar (src/function/cast/string_cast.cpp + vector_string_cast): bare or
quoted elements, backslash escapes, `{k: v}` structs, `{k=v}` maps,
nested brackets. Spark has no such cast, but when the operand is a
visible string literal the whole cast folds at translate time into
array()/named_struct()/map() constructors — JVM-side, no UDF.
"""

from __future__ import annotations

import re

from duckdb_spark.types import duckdb_type_to_spark


class TextCastError(ValueError):
    pass


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            out.append(s[i + 1])
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _split_top(s: str, sep: str) -> list[str]:
    """Split on top-level `sep`, respecting quotes and brackets. Backslash
    escapes apply only INSIDE quoted segments (bare-segment backslashes
    are literal and do not protect the separator — reference
    string-to-list grammar)."""
    parts, depth, start, i = [], 0, 0, 0
    quote = None
    while i < len(s):
        c = s[i]
        if quote:
            if c == "\\":
                i += 2
                continue
            if c == quote:
                quote = None
        elif c == "\\" and i + 1 < len(s) and s[i + 1] in "'\"":
            i += 2  # bare-level escaped quote: no quote opens
            continue
        elif c in "'\"`":
            quote = c
        elif c in "[{":
            depth += 1
        elif c in "}]":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    if depth != 0 or quote:
        raise TextCastError(
            f"Conversion Error: {s!r} can't be cast to the destination type "
            f"(unbalanced brackets)")
    return parts


_NESTED_TY = re.compile(
    r"(?is)^(.*\[\s*\d*\s*\]|STRUCT\s*\(|MAP\s*\(|TUPLE\s*\()")


def _elem(part: str, ducktype: str,
          list_elem: bool = True) -> tuple[str, bool]:
    """Element text for a target type: scalar targets strip/unescape
    quotes; nested targets keep the raw text (inner quotes belong to the
    recursive parse — reference VectorStringToList keeps nesting intact).
    list_elem applies the LIST grammar's bare-\" quirk (MAP/STRUCT
    members pass False and unescape to the bare quote)."""
    if _NESTED_TY.match(ducktype.strip()):
        return part.strip(), False
    t = part.strip()
    if list_elem and t[:1] in ("{", "["):
        # brace/bracket-led LIST elements stay RAW — no quote runs, no
        # unescaping (reference list-cast 'weird' escape:
        # '[{"bar":"\""}]'::VARCHAR[] keeps the element verbatim,
        # string_to_list_cast.test:511 — while flat elements unescape,
        # string_to_list_roundtrip.test:4)
        return t, False
    return _strip_value(part)


def _strip_value(s: str) -> tuple[str, bool]:
    """Trim an element; returns (text, was_quoted). Quoted segments
    consume their quotes and unescape `\\x` → x; bare segments keep
    backslashes literally."""
    t = s.strip()
    out: list[str] = []
    quoted_any = False
    i = 0
    while i < len(t):
        c = t[i]
        if c == "\\" and i + 1 < len(t):
            nxt = t[i + 1]
            if nxt in "'\"":
                out.append(nxt)  # bare escaped quote: literal, no run opens
            else:
                out.append(c)  # bare backslash is literal
                out.append(nxt)
            i += 2
            continue
        if c in "'\"":
            # quoted run: quotes consumed, \x → x inside
            quoted_any = True
            q = c
            i += 1
            closed = False
            while i < len(t):
                ch = t[i]
                if ch == "\\" and i + 1 < len(t):
                    out.append(t[i + 1])
                    i += 2
                    continue
                if ch == q:
                    closed = True
                    i += 1
                    break
                out.append(ch)
                i += 1
            if not closed:
                raise TextCastError(
                    f"Conversion Error: value {s!r} can't be cast to the "
                    f"destination type (unterminated quote)"
                )
            continue
        out.append(c)
        i += 1
    return "".join(out), quoted_any


def _quote_sql(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_INT_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "HUGEINT", "UTINYINT",
    "USMALLINT", "UINTEGER", "UBIGINT", "INT1", "INT2", "INT4", "INT8",
    "SHORT", "LONG", "INT16", "INT32", "INT64", "SIGNED",
}
_FLOAT_TYPES = {"FLOAT", "REAL", "DOUBLE", "FLOAT4", "FLOAT8"}


def emit_value(text: str, quoted: bool, ducktype: str,
               lenient: bool = False) -> str:
    """One parsed element → a Spark SQL expression of the target type.
    `lenient` is TRY_CAST: scalar conversion failures become NULL
    (reference try-cast nulls elements, not the whole list)."""
    dt = ducktype.strip()
    up = dt.upper()
    m = re.match(r"(?is)^(.*)\[\s*\d*\s*\]$", dt)
    if m:
        return emit_list(text, quoted, m.group(1), lenient)
    if _TUPLE_TY_RE.match(dt):
        return emit_tuple(text, quoted, dt, lenient)
    if re.match(r"(?is)^STRUCT\s*\(", dt):
        return emit_struct(text, dt, lenient)
    if re.match(r"(?is)^MAP\s*\(", dt):
        return emit_map(text, dt, lenient)
    if not quoted and text.upper() == "NULL":
        return f"cast(null as {duckdb_type_to_spark(dt).simpleString()})"

    def _fail(e=None):
        if lenient:
            return f"cast(null as {duckdb_type_to_spark(dt).simpleString()})"
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to {up}"
        ) from e

    if up in ("VARCHAR", "TEXT", "STRING", "BPCHAR", "CHAR") or re.match(
        r"(?i)^VARCHAR\s*\(", dt
    ):
        return _quote_sql(text)
    if up in _INT_TYPES:
        try:
            n = _exact_int(text.strip(), up)
        except TextCastError as e:
            return _fail(e)
        return f"cast({n} as {duckdb_type_to_spark(dt).simpleString()})"
    if up in _FLOAT_TYPES or re.match(r"(?i)^(DECIMAL|NUMERIC)", dt):
        try:
            float(text.strip())
        except ValueError as e:
            return _fail(e)
        return f"cast({_quote_sql(text.strip())} as {duckdb_type_to_spark(dt).simpleString()})"
    if up in ("BOOLEAN", "BOOL", "LOGICAL"):
        if text.strip().lower() in ("true", "false"):
            return text.strip().lower()
        return _fail()
    # dates/timestamps/uuid/…: delegate to a Spark cast of the text
    if up == "DATE" and re.match(r"^\d{5,7}-\d{2}-\d{2}$", text.strip()):
        # valid DuckDB date beyond Python's year 9999: PySpark cannot
        # collect such a DateType value (fromInternal overflows) — keep
        # the text, which renders identically
        # (string_to_struct_cast.test:52)
        return _quote_sql(text.strip())
    kw = "try_cast" if lenient else "cast"
    return f"{kw}({_quote_sql(text.strip())} as {duckdb_type_to_spark(dt).simpleString()})"


def emit_list(text: str, quoted: bool, elemtype: str,
              lenient: bool = False) -> str:
    t = text.strip()
    if not quoted and t.upper() == "NULL":
        spark = duckdb_type_to_spark(elemtype + "[]").simpleString()
        return f"cast(null as {spark})"
    if not (t.startswith("[") and t.endswith("]")):
        raise TextCastError(f"Conversion Error: can't cast {text!r} to LIST")
    body = t[1:-1].strip()
    if not body:
        spark = duckdb_type_to_spark(elemtype + "[]").simpleString()
        return f"cast(array() as {spark})"
    items = []
    for part in _split_top(body, ","):
        try:
            it, q = _elem(part, elemtype)
            items.append(emit_value(it, q, elemtype, lenient))
        except TextCastError:
            if not lenient:
                raise
            items.append(
                f"cast(null as {duckdb_type_to_spark(elemtype).simpleString()})")
    return "array(" + ", ".join(items) + ")"


def _split_type_fields(s: str) -> list[str]:
    """Split struct-type text on top-level commas with IDENTIFIER grammar:
    doubled quotes escape inside "..."/`...`, backslash is literal
    (unlike value text), <>/()/[] nest."""
    parts, depth, start, i = [], 0, 0, 0
    while i < len(s):
        c = s[i]
        if c in '"`':
            q = c
            i += 1
            while i < len(s):
                if s[i] == q:
                    if i + 1 < len(s) and s[i + 1] == q:
                        i += 2
                        continue
                    break
                i += 1
        elif c in "([<":
            depth += 1
        elif c in ")]>":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return [p for p in parts if p.strip()]


_TUPLE_TY_RE = re.compile(r"(?is)^TUPLE\s*\((.*)\)$")


def _split_tuple_text(s: str) -> list[str]:
    """Split tuple text `a, b` on top-level commas tracking (), [], {}
    and quotes (tuple elements may themselves be tuples)."""
    parts, depth, start, i = [], 0, 0, 0
    quote = None
    while i < len(s):
        c = s[i]
        if quote:
            if c == "\\":
                i += 2
                continue
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c in "[{(":
            depth += 1
        elif c in ")}]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
        i += 1
    parts.append(s[start:])
    return parts


def emit_tuple(text: str, quoted: bool, ducktype: str,
               lenient: bool = False) -> str:
    """`(a, b)` tuple text → named_struct('col1', …) of the TUPLE target
    (reference unnamed-struct cast; the trailing-comma 1-tuple spelling
    `(x,)` is accepted)."""
    t = text.strip()
    if not quoted and t.upper() == "NULL":
        return f"cast(null as {duckdb_type_to_spark(ducktype).simpleString()})"
    if not (t.startswith("(") and t.endswith(")")):
        raise TextCastError(
            f"Conversion Error: can't cast {text!r} to TUPLE")
    body = t[1:-1].strip()
    if body.endswith(","):
        body = body[:-1].rstrip()
    parts = [p for p in _split_tuple_text(body)] if body else []
    fields = _struct_fields(ducktype)
    if len(parts) > len(fields):
        raise TextCastError(
            f"Conversion Error: tuple {text!r} has {len(parts)} elements, "
            f"target type expects {len(fields)}")
    kvs = []
    for k, (fname, ftype) in enumerate(fields):
        if k < len(parts):
            it, q = _elem(parts[k], ftype, list_elem=False)
            kvs.append(f"'{fname}', {emit_value(it, q, ftype, lenient)}")
        else:
            # missing trailing children become NULL
            # (string_to_unnamed_struct.test:58)
            kvs.append(
                f"'{fname}', cast(null as "
                f"{duckdb_type_to_spark(ftype).simpleString()})")
    return "named_struct(" + ", ".join(kvs) + ")"


def _struct_fields(ducktype: str) -> list[tuple[str, str]]:
    mt = _TUPLE_TY_RE.match(ducktype.strip())
    if mt:
        parts = (_split_type_fields(mt.group(1))
                 if mt.group(1).strip() else [])
        return [(f"col{i + 1}", p.strip()) for i, p in enumerate(parts)]
    body = ducktype.strip()[ducktype.index("(") + 1:ducktype.rindex(")")]
    fields = []
    for part in _split_type_fields(body):
        p = part.strip()
        m = re.match(
            r'(?s)^(?:"((?:[^"]|"")*)"|`((?:[^`]|``)*)`|(\S+))\s+(.*)$', p)
        if not m:
            raise TextCastError(f"bad struct field {p!r}")
        if m.group(1) is not None:
            name = m.group(1).replace('""', '"')
        elif m.group(2) is not None:
            name = m.group(2).replace("``", "`")
        else:
            name = m.group(3)
        fields.append((name, m.group(4).strip()))
    return fields


def emit_struct(text: str, ducktype: str, lenient: bool = False) -> str:
    t = text.strip()
    if t.upper() == "NULL":
        return f"cast(null as {duckdb_type_to_spark(ducktype).simpleString()})"
    if t.startswith("(") and t.endswith(")"):
        # tuple-paren text binds positionally to the struct fields
        # (reference unnamed-struct cast; string_to_unnamed_struct.test)
        return emit_tuple(text, False, ducktype, lenient)
    if not (t.startswith("{") and t.endswith("}")):
        raise TextCastError(f"Conversion Error: can't cast {text!r} to STRUCT")
    body = t[1:-1].strip()
    fields = _struct_fields(ducktype)
    got: dict[str, str] = {}
    if body:
        # a comma-split segment without a top-level ':' belongs to the key
        # of the NEXT segment (keys may contain commas; reference grammar —
        # `{user,name: Alice}` parses, `{age, 30}` does not)
        merged, acc = [], ""
        for part in _split_top(body, ","):
            if not part.strip() and not acc:
                # `{a:3,, b:1}` — empty entry (string_to_struct_cast:361)
                _tyname = re.sub(r"(?i)\bINT\b", "INTEGER", ducktype)
                raise TextCastError(
                    f"Conversion Error: {text!r} can't be cast to the "
                    f"destination type {_tyname}")
            acc = part if not acc else acc + "," + part
            try:
                _part3(acc, ":")
            except TextCastError:
                continue
            merged.append(acc)
            acc = ""
        if acc.strip():
            raise TextCastError(
                f"Conversion Error: {acc!r} can't be cast to the destination "
                f"type (struct entry without ':')"
            )
        for part in merged:
            k, _, v = _part3(part, ":")
            key, _kq = _strip_value(k)
            got[key.lower()] = v
    # unknown keys error (missing target fields become NULL — reference
    # struct cast fills gaps but rejects extras)
    known = {f.lower() for f, _ in fields}
    for key in got:
        if key not in known:
            raise TextCastError(
                f"Conversion Error: struct key {key!r} can't be cast to the "
                f"destination type (no matching field)"
            )
    kvs = []
    for fname, ftype in fields:
        if fname.lower() in got:
            vt, vq = _elem(got[fname.lower()], ftype, list_elem=False)
            kvs.append(_quote_sql(fname) + ", "
                       + emit_value(vt, vq, ftype, lenient))
        else:
            kvs.append(
                _quote_sql(fname)
                + f", cast(null as {duckdb_type_to_spark(ftype).simpleString()})"
            )
    return "named_struct(" + ", ".join(kvs) + ")"


def _part3(s: str, sep: str) -> tuple[str, str, str]:
    """Split key/value on the first top-level sep (quote/escape aware)."""
    depth, i = 0, 0
    quote = None
    while i < len(s):
        c = s[i]
        if quote:
            if c == "\\":
                i += 2
                continue
            if c == quote:
                quote = None
        elif c == "\\" and i + 1 < len(s) and s[i + 1] in "'\"":
            i += 2  # bare-level escaped quote: no quote opens
            continue
        elif c in "'\"`":
            quote = c
        elif c in "[{":
            depth += 1
        elif c in "}]":
            depth -= 1
        elif c == sep and depth == 0:
            return s[:i], sep, s[i + 1:]
        i += 1
    raise TextCastError(f"missing {sep!r} in {s!r}")


def emit_map(text: str, ducktype: str, lenient: bool = False) -> str:
    t = text.strip()
    if t.upper() == "NULL":
        return f"cast(null as {duckdb_type_to_spark(ducktype).simpleString()})"
    if not (t.startswith("{") and t.endswith("}")):
        raise TextCastError(f"Conversion Error: can't cast {text!r} to MAP")
    body = t[1:-1].strip()
    m = re.match(r"(?is)^MAP\s*\((.*)\)$", ducktype.strip())
    kt, vt = _split_type_fields(m.group(1))[:2]
    if not body:
        return f"cast(map() as {duckdb_type_to_spark(ducktype).simpleString()})"
    # a comma-split segment without '=' belongs to the KEY of the next
    # segment (keys may contain commas; values may not — reference grammar)
    merged, acc = [], ""
    for part in _split_top(body, ","):
        acc = part if not acc else acc + "," + part
        try:
            _part3(acc, "=")
        except TextCastError:
            continue
        merged.append(acc)
        acc = ""
    if acc.strip():
        raise TextCastError(
            f"Conversion Error: {acc!r} can't be cast to the destination "
            f"type MAP (entry without '=')"
        )
    kvs = []
    for part in merged:
        k, _, v = _part3(part, "=")
        ktext, kq = _elem(k, kt, list_elem=False)
        vtext, vq = _elem(v, vt, list_elem=False)
        kvs.append(emit_value(ktext, kq, kt, lenient))
        kvs.append(emit_value(vtext, vq, vt, lenient))
    return "map(" + ", ".join(kvs) + ")"


_DUCK_INT_MSG = {  # reference error messages name the physical int type
    "TINYINT": "INT8", "SMALLINT": "INT16", "INT": "INT32",
    "INTEGER": "INT32", "BIGINT": "INT64", "HUGEINT": "INT128",
}


def _exact_int(text: str, up: str) -> int:
    """Numeric text -> int with DuckDB rounding (half away from zero) and
    target-range check; exact via Decimal (doubles lose int64 extremes)."""
    import decimal

    if not re.fullmatch(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?",
                        text.strip()):
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to "
            f"{_DUCK_INT_MSG.get(up, up)}")
    try:
        d = decimal.Decimal(text.strip())
    except decimal.InvalidOperation as e:
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to {up}"
        ) from e
    n = int(d.quantize(0, rounding=decimal.ROUND_HALF_UP))
    lo, hi = _INT_RANGES.get(up, (-2**127, 2**127 - 1))
    if not lo <= n <= hi:
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to {up} "
            f"(out of range)")
    return n


_INT_RANGES = {
    "TINYINT": (-128, 127), "INT1": (-128, 127),
    "SMALLINT": (-32768, 32767), "INT2": (-32768, 32767),
    "SHORT": (-32768, 32767), "INT16": (-32768, 32767),
    "INTEGER": (-2**31, 2**31 - 1), "INT": (-2**31, 2**31 - 1),
    "INT4": (-2**31, 2**31 - 1), "INT32": (-2**31, 2**31 - 1),
    "SIGNED": (-2**31, 2**31 - 1),
    "BIGINT": (-2**63, 2**63 - 1), "INT8": (-2**63, 2**63 - 1),
    "LONG": (-2**63, 2**63 - 1), "INT64": (-2**63, 2**63 - 1),
    "HUGEINT": (-2**127, 2**127 - 1),
    "UTINYINT": (0, 255), "USMALLINT": (0, 65535),
    "UINTEGER": (0, 2**32 - 1), "UBIGINT": (0, 2**64 - 1),
}


_DATE_TEXT = re.compile(
    r"(?i)^\s*[+-]?\d{1,6}-\d{1,2}-\d{1,2}"      # YYYY-MM-DD prefix
    r"([ T].*)?\s*(\(BC\))?\s*$"                  # optional time / BC tail
    r"|^\s*(epoch|[+-]?infinity)\s*$")


def check_temporal_literal(text: str, ducktype: str) -> None:
    """DuckDB rejects date/timestamp text without the YYYY-MM-DD shape
    (reference Date::TryConvertDate "expected format is (YYYY-MM-DD)");
    Spark's non-ANSI cast silently nulls instead — raise at translate."""
    up = ducktype.strip().upper()
    if up == "DATE" or up.startswith("TIMESTAMP") or up == "DATETIME":
        if text.strip().upper() == "NULL":
            return
        if not _DATE_TEXT.match(text):
            kind = "date" if up == "DATE" else "timestamp"
            raise TextCastError(
                f"Conversion Error: {kind} field value out of range: "
                f"\"{text}\", expected format is (YYYY-MM-DD)")


def fold_string_to_integer(text: str, ducktype: str) -> str | None:
    """Exact `'<numeric text>'::<integral>` folding: DuckDB parses the
    integer part and rounds the fraction half away from zero (reference
    TryCast string→integer); going through a double loses precision near
    int64/int128 extremes, so fold with Python's exact Decimal."""
    import decimal

    up = ducktype.strip().upper()
    if up not in _INT_RANGES:
        return None
    t = text.strip()
    if not re.fullmatch(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", t):
        return None  # not plain numeric text: keep the native cast
    n = _exact_int(t, up)
    if abs(n) >= 10**38:
        return None  # beyond Spark's DECIMAL(38): keep the native cast
    spark = duckdb_type_to_spark(ducktype).simpleString()
    return f"cast({n} as {spark})"


# ---------------------------------------------------------------- runtime
# Non-literal string → nested-type casts can't fold at translate time; they
# run through a per-target-type Python UDF (reference string_cast.cpp is a
# per-row runtime cast too). The dialect emits a deterministic UDF name and
# records it in RUNTIME_CASTS; Connection.sql registers pending names on
# its retry path. Correctness corner only — never a scan-scale hot path.
# RUNTIME_CASTS is module-wide, not session state: a name is a hash of its
# (type, is_try) pair, so the entry is the same for every session.

RUNTIME_CASTS: dict[str, tuple[str, bool]] = {}  # name -> (ducktype, is_try)


def runtime_cast_name(ducktype: str, is_try: bool) -> str:
    import hashlib

    key = ("T" if is_try else "C") + ducktype.strip().upper()
    name = "__dktc_" + hashlib.md5(key.encode()).hexdigest()[:10]
    RUNTIME_CASTS[name] = (ducktype.strip(), is_try)
    return name


def register_runtime_cast(spark, name: str) -> None:
    """Register the runtime-cast UDF `name` of RUNTIME_CASTS on `spark`."""
    from duckdb_spark import state

    ducktype, is_try = RUNTIME_CASTS[name]
    state.register_udf(spark, name, runtime_cast_fn(ducktype, is_try),
                       duckdb_type_to_spark(ducktype))


def render_duck(v) -> str:
    """DuckDB Value::ToString of a collected Python value (nested values
    quote per NeedsQuotes; reference value.cpp). Mirrors the sqllogic
    renderer but lives here to keep import direction dialect→textcast."""
    import datetime
    import decimal

    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v in (float("inf"), float("-inf")):
            return ("-" if v < 0 else "") + "inf"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.1f}"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += f".{v.microsecond:06d}".rstrip("0")
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ", ".join(_render_nested(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(
            f"{_render_nested(k)}={_render_nested(x)}" for k, x in v.items()
        ) + "}"
    if hasattr(v, "asDict"):
        d = v.asDict()
        names = list(d)
        if names == [f"col{i + 1}" for i in range(len(names))]:
            # ROW(…) auto-naming: unnamed struct renders as a tuple
            # (reference value.cpp Value::ToString for STRUCT without
            # field names)
            if len(d) == 1:
                return "(" + _render_nested(next(iter(d.values()))) + ",)"
            return "(" + ", ".join(_render_nested(x) for x in d.values()) + ")"
        return "{" + ", ".join(
            f"'{k}': {_render_nested(x)}" for k, x in d.items()
        ) + "}"
    return str(v)


def _render_nested(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        if (
            v == ""
            or v.upper() == "NULL"
            or any(c in v for c in "[]{},'\"=:\\")
            or v[0].isspace()
            or v[-1].isspace()
        ):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return v
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return "'" + render_duck(v) + "'"
    return render_duck(v)


def render_duck_sql(expr: str, dtype, top: bool = True,
                    _d: int = 0) -> str | None:
    """Pure-Column SQL expression rendering `expr` of Spark type `dtype`
    as DuckDB text — the JVM-side twin of render_duck/_render_nested, so
    COPY TO csv of nested columns never routes rows through a Python UDF
    (VERDICT r10 item 9; a 100-TB export throttles on BatchEvalPython).
    Returns None for shapes the textual renderer still owns (rare —
    unnamed-tuple markers aside, every type maps)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        if top:
            return expr
        quoted_form = (
            f"concat('\\'', replace(replace({expr}, '\\\\', '\\\\\\\\'), "
            f"'\\'', '\\\\\\''), '\\'')")
        need = (f"({expr} = '' OR upper({expr}) = 'NULL' OR "
                f"{expr} rlike '[\\\\[\\\\]{{}},\\'\"=:\\\\\\\\]|^\\\\s|\\\\s$')")
        return (f"CASE WHEN {expr} IS NULL THEN 'NULL' "
                f"WHEN {need} THEN {quoted_form} ELSE {expr} END")
    if isinstance(dtype, T.BooleanType):
        base = f"if({expr}, 'true', 'false')"
    elif isinstance(dtype, (T.FloatType, T.DoubleType)):
        base = (
            f"CASE WHEN isnan({expr}) THEN 'nan' "
            f"WHEN {expr} = double('inf') THEN 'inf' "
            f"WHEN {expr} = double('-inf') THEN '-inf' "
            f"WHEN {expr} = floor({expr}) AND abs({expr}) < 1e15 THEN "
            f"concat(cast(cast({expr} AS bigint) AS string), '.0') "
            f"ELSE cast({expr} AS string) END")
    elif isinstance(dtype, (T.DateType, T.TimestampType,
                            T.TimestampNTZType)):
        inner = f"cast({expr} AS string)"
        if not top:
            inner = f"concat('\\'', {inner}, '\\'')"
        base = inner
    elif isinstance(dtype, T.ArrayType):
        var = f"__rx{_d}"
        child = render_duck_sql(var, dtype.elementType, top=False,
                                _d=_d + 1)
        if child is None:
            return None
        base = (f"concat('[', array_join(transform({expr}, "
                f"{var} -> coalesce({child}, 'NULL')), ', ', 'NULL'), ']')")
    elif isinstance(dtype, T.MapType):
        var = f"__re{_d}"
        kx = render_duck_sql(f"{var}.key", dtype.keyType, top=False,
                             _d=_d + 1)
        vx = render_duck_sql(f"{var}.value", dtype.valueType, top=False,
                             _d=_d + 1)
        if kx is None or vx is None:
            return None
        base = (f"concat('{{', array_join(transform(map_entries({expr}), "
                f"{var} -> concat(coalesce({kx}, 'NULL'), '=', "
                f"coalesce({vx}, 'NULL'))), ', '), '}}')")
    elif isinstance(dtype, T.StructType):
        names = [f.name for f in dtype.fields]
        is_tuple = names == [f"col{i + 1}" for i in range(len(names))]
        parts = []
        for f in dtype.fields:
            cx = render_duck_sql(f"{expr}.`{f.name}`", f.dataType,
                                 top=False, _d=_d + 1)
            if cx is None:
                return None
            cx = f"coalesce({cx}, 'NULL')"
            if is_tuple:
                parts.append(cx)
            else:
                parts.append(f"concat('\\'{f.name}\\': ', {cx})")
        if is_tuple and len(parts) == 1:
            base = f"concat('(', {parts[0]}, ',)')"
        elif is_tuple:
            base = ("concat('(', " + ", ', ', ".join(parts) + ", ')')")
        else:
            base = ("concat('{', " + ", ', ', ".join(parts) + ", '}')")
    elif isinstance(dtype, T.DecimalType) or isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        base = f"cast({expr} AS string)"
    elif isinstance(dtype, T.BinaryType):
        base = f"cast({expr} AS string)"
    else:
        return None
    return f"CASE WHEN {expr} IS NULL THEN NULL ELSE {base} END" if top \
        else f"CASE WHEN {expr} IS NULL THEN 'NULL' ELSE {base} END"


def parse_typed(text: str, quoted: bool, ducktype: str,
                lenient: bool = False):
    """One element of DuckDB cast text → a Python value Spark can convert
    to duckdb_type_to_spark(ducktype). Raises TextCastError like the
    reference's Conversion Error."""
    import datetime
    import decimal

    dt = ducktype.strip()
    up = dt.upper()
    m = re.match(r"(?is)^(.*)\[\s*\d*\s*\]$", dt)
    if m:
        t = text.strip()
        if not quoted and t.upper() == "NULL":
            return None
        if not (t.startswith("[") and t.endswith("]")):
            raise TextCastError(f"Conversion Error: can't cast {text!r} to LIST")
        body = t[1:-1].strip()
        if not body:
            return []
        elems = []
        for part in _split_top(body, ","):
            try:
                it, q = _elem(part, m.group(1))
                elems.append(parse_typed(it, q, m.group(1), lenient))
            except TextCastError:
                if not lenient:
                    raise
                elems.append(None)
        return elems
    if _TUPLE_TY_RE.match(dt):
        t = text.strip()
        if not quoted and t.upper() == "NULL":
            return None
        if not (t.startswith("(") and t.endswith(")")):
            raise TextCastError(
                f"Conversion Error: can't cast {text!r} to TUPLE")
        body = t[1:-1].strip()
        if body.endswith(","):
            body = body[:-1].rstrip()
        parts = _split_tuple_text(body) if body else []
        fields = _struct_fields(dt)
        if len(parts) != len(fields):
            raise TextCastError(
                f"Conversion Error: tuple {text!r} arity mismatch")
        out = {}
        for (fname, ftype), part in zip(fields, parts):
            try:
                out[fname] = parse_typed(*_elem(part, ftype, list_elem=False), ftype, lenient)
            except TextCastError:
                if not lenient:
                    raise
                out[fname] = None
        return out
    if re.match(r"(?is)^STRUCT\s*\(", dt):
        t = text.strip()
        if not quoted and t.upper() == "NULL":
            return None
        if t.startswith("(") and t.endswith(")"):
            # tuple-paren text: positional binding, NULL-padded tail
            # (string_to_unnamed_struct.test)
            tb = t[1:-1].strip()
            if tb.endswith(","):
                tb = tb[:-1].rstrip()
            tparts = [p for p in _split_tuple_text(tb)] if tb else []
            tfields = _struct_fields(dt)
            if len(tparts) > len(tfields):
                raise TextCastError(
                    f"Conversion Error: tuple {text!r} has {len(tparts)} "
                    f"elements, target type expects {len(tfields)}")
            outv = {}
            for k, (fname, ftype) in enumerate(tfields):
                if k < len(tparts):
                    try:
                        outv[fname] = parse_typed(
                            *_elem(tparts[k], ftype, list_elem=False),
                            ftype, lenient)
                    except TextCastError:
                        if not lenient:
                            raise
                        outv[fname] = None
                else:
                    outv[fname] = None
            return outv
        if not (t.startswith("{") and t.endswith("}")):
            raise TextCastError(f"Conversion Error: can't cast {text!r} to STRUCT")
        body = t[1:-1].strip()
        fields = _struct_fields(dt)
        got: dict[str, tuple[str, bool]] = {}
        if body:
            merged, acc = [], ""
            for part in _split_top(body, ","):
                if not part.strip() and not acc:
                    _tyname = re.sub(r"(?i)\bINT\b", "INTEGER", dt)
                    raise TextCastError(
                        f"Conversion Error: {text!r} can't be cast to the "
                        f"destination type {_tyname}")
                acc = part if not acc else acc + "," + part
                try:
                    _part3(acc, ":")
                except TextCastError:
                    continue
                merged.append(acc)
                acc = ""
            if acc.strip():
                raise TextCastError(
                    f"Conversion Error: {acc!r} struct entry without ':'")
            for part in merged:
                k, _, v = _part3(part, ":")
                key, _kq = _strip_value(k)
                got[key.lower()] = v
        known = {f.lower() for f, _ in fields}
        for key in got:
            if key not in known:
                raise TextCastError(
                    f"Conversion Error: struct key {key!r} has no matching "
                    f"field in the destination type")
        def _field(raw, ftype):
            try:
                return parse_typed(*_elem(raw, ftype, list_elem=False), ftype, lenient)
            except TextCastError:
                if not lenient:
                    raise
                return None

        return {
            fname: (_field(got[fname.lower()], ftype)
                    if fname.lower() in got else None)
            for fname, ftype in fields
        }
    mm = re.match(r"(?is)^MAP\s*\((.*)\)$", dt)
    if mm:
        t = text.strip()
        if not quoted and t.upper() == "NULL":
            return None
        if not (t.startswith("{") and t.endswith("}")):
            raise TextCastError(f"Conversion Error: can't cast {text!r} to MAP")
        kt, vt = _split_type_fields(mm.group(1))[:2]
        body = t[1:-1].strip()
        if not body:
            return {}
        merged, acc = [], ""
        for part in _split_top(body, ","):
            acc = part if not acc else acc + "," + part
            try:
                _part3(acc, "=")
            except TextCastError:
                continue
            merged.append(acc)
            acc = ""
        if acc.strip():
            raise TextCastError(
                f"Conversion Error: {acc!r} map entry without '='")
        out = {}
        for part in merged:
            k, _, v = _part3(part, "=")
            ktext, kq = _elem(k, kt, list_elem=False)
            vtext, vq = _elem(v, vt, list_elem=False)
            try:
                key = parse_typed(ktext, kq, kt, lenient)
                val = parse_typed(vtext, vq, vt, lenient)
            except TextCastError:
                if not lenient:
                    raise
                continue  # map keys can't be NULL: drop the entry
            out[key] = val
        return out
    t = text.strip()
    if not quoted and t.upper() == "NULL":
        return None
    if up in ("VARCHAR", "TEXT", "STRING", "BPCHAR", "CHAR") or re.match(
        r"(?i)^VARCHAR\s*\(", dt
    ):
        return text
    if up in _INT_TYPES:
        return _exact_int(t, up)
    if up in _FLOAT_TYPES:
        try:
            return float(t)
        except ValueError as e:
            raise TextCastError(
                f"Conversion Error: Could not convert string {text!r} to {up}"
            ) from e
    if re.match(r"(?i)^(DECIMAL|NUMERIC)", dt):
        try:
            return decimal.Decimal(t)
        except decimal.InvalidOperation as e:
            raise TextCastError(
                f"Conversion Error: Could not convert string {text!r} to "
                f"DECIMAL") from e
    if up in ("BOOLEAN", "BOOL", "LOGICAL"):
        if t.lower() in ("true", "t", "1", "yes"):
            return True
        if t.lower() in ("false", "f", "0", "no"):
            return False
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to BOOLEAN")
    try:
        if up == "DATE":
            ym = re.match(r"^(\d{5,7})-(\d{2})-(\d{2})$", t)
            if ym:
                # beyond Python's year 9999 but valid in DuckDB (date max
                # 5881580-07-10): keep the text — it renders identically
                # and Spark/Python can't hold the value
                # (string_to_struct_cast.test:52)
                return t
            dm = re.match(r"^(\d{1,4})-(\d{1,2})-(\d{1,2})$", t)
            if dm:
                # single-digit month/day fields are legal duck date text
                # ('2022-12-2' — string_to_list_cast.test:485)
                return datetime.date(int(dm.group(1)), int(dm.group(2)),
                                     int(dm.group(3)))
            return datetime.date.fromisoformat(t)
        if up.startswith("TIMESTAMP") or up == "DATETIME":
            return datetime.datetime.fromisoformat(t)
    except (ValueError, OverflowError) as e:
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to {up}"
        ) from e
    if up == "UUID" and not re.fullmatch(
            r"[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}",
            t.strip()):
        # malformed UUID text must raise like the reference's cast
        # (string_to_list_cast.test:503 — a JSON-style nested list fed to
        # UUID[] errors on the child cast)
        raise TextCastError(
            f"Conversion Error: Could not convert string {text!r} to UUID")
    # remaining scalar types (TIME, BLOB, …): keep the text; Spark's
    # own cast of the string column applies downstream if needed
    return text


def coerce_value(v, ducktype: str, lenient: bool = False):
    """Value-level cast for non-string inputs (LIST↔LIST element casts,
    STRUCT→STRUCT by name, STRUCT→MAP); strings parse through the duck
    text grammar."""
    if v is None:
        return None
    dt = ducktype.strip()
    if isinstance(v, str):
        if dt.upper() in ("VARCHAR", "TEXT", "STRING", "BPCHAR", "CHAR") \
                or re.match(r"(?i)^VARCHAR\s*\(", dt):
            return v  # already a string VALUE, not duck text
        return parse_typed(v, False, dt, lenient)
    m = re.match(r"(?is)^(.*)\[\s*\d*\s*\]$", dt)
    if m:
        if isinstance(v, (list, tuple)):
            if lenient:
                out = []
                for x in v:
                    try:
                        out.append(coerce_value(x, m.group(1), True))
                    except TextCastError:
                        out.append(None)
                return out
            return [coerce_value(x, m.group(1)) for x in v]
        raise TextCastError(
            f"Conversion Error: can't cast {type(v).__name__} to LIST")
    if re.match(r"(?is)^STRUCT\s*\(", dt):
        d = v.asDict() if hasattr(v, "asDict") else v
        if not isinstance(d, dict):
            raise TextCastError(
                f"Conversion Error: can't cast {type(v).__name__} to STRUCT")
        low = {k.lower(): x for k, x in d.items()}
        return {
            fname: coerce_value(low.get(fname.lower()), ftype, lenient)
            for fname, ftype in _struct_fields(dt)
        }
    mm = re.match(r"(?is)^MAP\s*\((.*)\)$", dt)
    if mm:
        d = v.asDict() if hasattr(v, "asDict") else v
        if not isinstance(d, dict):
            raise TextCastError(
                f"Conversion Error: can't cast {type(v).__name__} to MAP")
        kt, vt = _split_type_fields(mm.group(1))[:2]
        return {
            coerce_value(k, kt, lenient): coerce_value(x, vt, lenient)
            for k, x in d.items()
        }
    # scalar: convert Python-side — Spark nulls type-mismatched UDF
    # returns (a float for an INT field) instead of coercing
    import decimal

    up = dt.upper()
    if up in _INT_TYPES:
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, float):  # DuckDB rounds half away from zero
            return int(decimal.Decimal(v).quantize(
                0, rounding=decimal.ROUND_HALF_UP))
        if isinstance(v, (int, decimal.Decimal)):
            return int(decimal.Decimal(v).quantize(
                0, rounding=decimal.ROUND_HALF_UP))
        raise TextCastError(
            f"Conversion Error: can't cast {type(v).__name__} to {up}")
    if up in _FLOAT_TYPES:
        return float(v)
    if re.match(r"(?i)^(DECIMAL|NUMERIC)", dt):
        return decimal.Decimal(str(v))
    if up in ("VARCHAR", "TEXT", "STRING", "BPCHAR", "CHAR"):
        return render_duck(v)
    return v  # dates/timestamps/…: Spark-convertible as-is


def runtime_cast_fn(ducktype: str, is_try: bool):
    """Callable for spark.udf.register: a string input parses through the
    duck text grammar (reference string_cast.cpp); a nested input coerces
    value-level (the `x::VARCHAR::T` chain collapses to one UDF call via
    render_duck when the dialect strips the inner VARCHAR cast)."""

    def fn(v):
        if v is None:
            return None
        try:
            return coerce_value(v, ducktype, lenient=is_try)
        except TextCastError:
            if is_try:
                return None
            raise

    return fn


def fold_string_cast(literal_text: str, ducktype: str,
                     lenient: bool = False) -> str | None:
    """`'<literal_text>'::<ducktype>` → Spark constructor expression, or
    None when the target isn't nested (plain casts stay native).
    `lenient` = TRY_CAST: bad elements fold to NULL."""
    dt = ducktype.strip()
    if re.match(r"(?is)^(.*)\[\s*\d*\s*\]$", dt):
        return "(" + emit_list(
            literal_text, False, dt[:dt.rindex("[")], lenient) + ")"
    if re.match(r"(?is)^STRUCT\s*\(", dt):
        return "(" + emit_struct(literal_text, dt, lenient) + ")"
    if re.match(r"(?is)^MAP\s*\(", dt):
        return "(" + emit_map(literal_text, dt, lenient) + ")"
    return None
