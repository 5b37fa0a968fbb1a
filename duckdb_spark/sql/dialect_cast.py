"""Cast / type-name mapping passes split out of dialect.py (VERDICT
r08/r09 order: ordered-pipeline modules). pg-style ::casts, CAST type
renames, const cast folds, runtime range probes, the duck→Spark type
text mapper. Invoked from dialect.translate's pass list."""

from __future__ import annotations

import re

from duckdb_spark import state
from duckdb_spark.sql.dialect import (  # noqa: E402 — bound at the
    # END of dialect.py's module body (ordered-pipeline split), so
    # every helper below is already defined when this executes
    _FLOAT_MAX,
    _NESTED_HINT_RE,
    _NONFN_WORDS,
    _TIMETZ_MAX_OFFSET,
    _TIMETZ_OFF_MOD,
    _balanced,
    _is_reserved_before_literal,
    _is_word,
    _match_paren,
    _next_code,
    _parse_time_us,
    _parse_timetz_packed,
    _prev_code,
    _split_struct_fields,
    _split_top_args,
    _strip_balanced_parens,
    _timetz_parse_sql,
    _tokens,
    _top_level_index,
    duck_blob_hex,
    expand_type_aliases,
)


_INT_CAST_TYPES = {"TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "LONG"}
# functions DuckDB types DOUBLE whatever their arguments
_DOUBLE_FNS = (
    "percent_rank", "cume_dist", "avg", "mean", "random", "log", "log10",
    "log2", "ln", "sqrt", "cbrt", "exp", "pow", "power", "sin", "cos", "tan",
    "asin", "acos", "atan", "atan2", "radians", "degrees",
)
_DOUBLE_OPERAND = re.compile(
    r"(?i)\b(" + "|".join(_DOUBLE_FNS) + r")\s*\(|/"
    r"|\bAS\s+(double|float|real)\b|\d[eE][+-]?\d")


def _double_operand(text: str) -> bool:
    """Whether DuckDB types the operand `text` DOUBLE, as far as the text
    shows: a call to one of `_DOUBLE_FNS`, a division, a cast to a
    floating type or an exponent literal. round() keeps its argument's
    type, so it counts only around no decimal literal (a column, taken
    as DOUBLE)."""
    return bool(_DOUBLE_OPERAND.search(text) or (
        re.search(r"(?i)\bround\s*\(", text)
        and not re.search(r"\d\.\d", text)))


def _round_decimal(operand: str) -> str:
    """DuckDB casts a DECIMAL to an integer rounding half away from
    zero, as Spark's round() does; Spark's cast truncates. Only a
    visibly decimal operand (a decimal literal, nothing DOUBLE) is
    wrapped: DOUBLE operands round half to even, which
    `_rewrite_float_int_casts` writes."""
    if re.search(r"\d\.\d", operand) and not _double_operand(operand):
        return f"round({operand})"
    return operand


def _rewrite_float_int_casts(toks: list[str]) -> list[str]:
    """DuckDB CAST(DOUBLE → integer) ROUNDS (half-to-even, rint); Spark
    truncates (reference src/common/operator/cast_operators.cpp
    NumericTryCast via std::nearbyint). Rewriting every int cast would
    risk precision loss on int64-valued expressions (rint goes through
    DOUBLE, exact only to 2^53), so only casts whose operand is visibly
    fractional — a top-level `*` or a `_double_operand` — get the rint
    treatment."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not (_is_word(out[i], "CAST") or _is_word(out[i], "TRY_CAST")):
            i += 1
            continue
        op = _next_code(out, i + 1)
        if op >= len(out) or out[op] != "(":
            i += 1
            continue
        oc = _match_paren(out, op)
        if oc < 0:
            i += 1
            continue
        inner = out[op + 1:oc]
        a = _top_level_index(inner, 0, len(inner), "AS")
        if a < 0:
            i = op + 1
            continue
        ty = "".join(inner[_next_code(inner, a + 1):]).strip().upper()
        if ty not in _INT_CAST_TYPES:
            i = op + 1
            continue
        expr = inner[:a]
        frac = False
        depth = 0
        for t in expr:
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and t == "*":
                frac = True
        etext = "".join(expr).strip()
        if not (frac or _double_operand(etext)):
            i = op + 1
            continue
        out[op + 1:a + op + 1] = _tokens(
            f"rint(CAST(({etext}) AS DOUBLE)) ")
        i = op + 1
    return out


def _rewrite_named_struct_casts(toks: list[str]) -> list[str]:
    """CAST of a VISIBLE struct literal to a STRUCT type binds fields BY
    NAME with reordering (reference struct_cast.cpp); Spark's struct cast
    is positional. Rebuild the literal in target order with per-field
    casts. Fixpoint loop handles nested literals."""
    joined = "".join(toks)
    if not re.search(r"(?i)\bCAST\s*\(\s*named_struct\b", joined):
        return toks
    # earlier passes splice multi-token replacements in as single strings;
    # re-tokenize so the scan sees real token boundaries
    out = _tokens(joined)
    changed = True
    while changed:
        changed = False
        for i in range(len(out)):
            if not _is_word(out[i], "CAST"):
                continue
            op = _next_code(out, i + 1)
            if op >= len(out) or out[op] != "(":
                continue
            oc = _match_paren(out, op)
            if oc < 0:
                continue
            ns = _next_code(out, op + 1)
            if ns >= len(out) or not _is_word(out[ns], "NAMED_STRUCT"):
                continue
            nsp = _next_code(out, ns + 1)
            if nsp >= len(out) or out[nsp] != "(":
                continue
            nsc = _match_paren(out, nsp)
            a = _top_level_index(out, nsc + 1, oc, "AS")
            if nsc < 0 or a < 0 or _next_code(out, nsc + 1) != a:
                continue  # cast arg is more than the bare literal
            ty = "".join(out[_next_code(out, a + 1):oc]).strip()
            m = re.match(r"(?is)^struct\s*<(.*)>$", ty)
            if not m:
                continue
            fields = _split_struct_fields(m.group(1))
            if not fields:
                continue
            kvs = _split_top_args(out[nsp + 1:nsc])
            if len(kvs) % 2 != 0:
                continue
            vals = {}
            ok = True
            for k2 in range(0, len(kvs), 2):
                km = re.fullmatch(r"\s*'([^']*)'\s*", kvs[k2])
                if not km:
                    ok = False
                    break
                vals[km.group(1).lower()] = kvs[k2 + 1]
            if not ok:
                continue
            # target-driven mapping: unmatched target fields become NULL,
            # extra source fields are dropped — but at least one member
            # must match (struct_cast.cpp). UNNAMED (colN) sources cast
            # POSITIONALLY instead (ROW(42, 84)::STRUCT(a INT, b INT))
            src_names = [kvs[k2].strip().strip("'")
                         for k2 in range(0, len(kvs), 2)]
            if src_names == [f"col{x + 1}" for x in range(len(src_names))] \
                    and not any(n.lower() in vals for n, _t in fields):
                pos_vals = [kvs[k2 + 1] for k2 in range(0, len(kvs), 2)]
                repl = "named_struct(" + ", ".join(
                    f"'{n}', CAST(({pos_vals[x] if x < len(pos_vals) else 'NULL'}) AS {t})"
                    for x, (n, t) in enumerate(fields)) + ")"
                out[i:oc + 1] = _tokens(repl)
                changed = True
                break
            tgt_names = [n for n, _t in fields]
            if tgt_names == [f"col{x + 1}" for x in range(len(fields))] \
                    and not any(n.lower() in vals for n, _t in fields):
                # UNNAMED (TUPLE) target: named STRUCT casts positionally
                # ({'x':1,'y':'a'}::TUPLE(INTEGER, VARCHAR) —
                # test_tuple.test:108)
                pos_vals = [kvs[k2 + 1] for k2 in range(0, len(kvs), 2)]
                repl = "named_struct(" + ", ".join(
                    f"'{n}', CAST(({pos_vals[x] if x < len(pos_vals) else 'NULL'}) AS {t})"
                    for x, (n, t) in enumerate(fields)) + ")"
                out[i:oc + 1] = _tokens(repl)
                changed = True
                break
            if not any(n.lower() in vals for n, _t in fields):
                raise ValueError(
                    "Binder Error: STRUCT to STRUCT cast must have at "
                    "least one matching member"
                )
            repl = "named_struct(" + ", ".join(
                f"'{n}', CAST(({vals.get(n.lower(), 'NULL')}) AS {t})"
                for n, t in fields) + ")"
            out[i:oc + 1] = _tokens(repl)
            changed = True
            break
    return out


def _rewrite_pg_cast(toks: list[str]) -> list[str]:
    """expr::TYPE → CAST(expr AS TYPE) for simple (literal/identifier/
    parenthesized) operands and word-or-word(args) type names."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if toks[i] == "::" and out:
            # operand: walk back over one balanced unit
            j = len(out) - 1
            while j >= 0 and out[j].isspace():
                j -= 1
            if j < 0:
                out.append(toks[i]); i += 1; continue
            if out[j] == ")":
                depth = 0
                k = j
                while k >= 0:
                    if out[k] == ")":
                        depth += 1
                    elif out[k] == "(":
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
                # include preceding function name if present (but never a
                # keyword — `SELECT (x)::T` parenthesizes an expression)
                m = k - 1
                while m >= 0 and out[m].isspace():
                    m -= 1
                if m >= 0 and _is_word(out[m], "OVER"):
                    # windowed atom: `fn(args) OVER (spec)::T` casts the
                    # whole window expression
                    mm = m - 1
                    while mm >= 0 and out[mm].isspace():
                        mm -= 1
                    if mm >= 0 and out[mm] == ")":
                        d2 = 0
                        k2 = mm
                        while k2 >= 0:
                            if out[k2] == ")":
                                d2 += 1
                            elif out[k2] == "(":
                                d2 -= 1
                                if d2 == 0:
                                    break
                            k2 -= 1
                        m2 = k2 - 1
                        while m2 >= 0 and out[m2].isspace():
                            m2 -= 1
                        if (
                            m2 >= 0
                            and re.match(r"[A-Za-z_]", out[m2])
                            and out[m2].lower() not in _NONFN_WORDS
                        ):
                            k2 = m2
                        k = k2
                elif (
                    m >= 0
                    and re.match(r"[A-Za-z_]", out[m])
                    and out[m].lower() not in _NONFN_WORDS
                ):
                    k = m
                start = k
            elif out[j] == "]":
                # list literal `[…]::T[]` or subscript `x[i]::T`
                depth = 0
                k = j
                while k >= 0:
                    if out[k] == "]":
                        depth += 1
                    elif out[k] == "[":
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
                m = k - 1
                while m >= 0 and out[m].isspace():
                    m -= 1
                if (
                    m >= 0
                    and re.match(r"[A-Za-z_]", out[m])
                    and out[m].lower() not in _NONFN_WORDS
                    and not _is_reserved_before_literal(out[m])
                ):
                    k = m  # subscript base identifier
                start = max(k, 0)
            elif out[j] == "}":
                # struct/map literal operand (rewritten to named_struct later)
                depth = 0
                k = j
                while k >= 0:
                    if out[k] == "}":
                        depth += 1
                    elif out[k] == "{":
                        depth -= 1
                        if depth == 0:
                            break
                    k -= 1
                start = max(k, 0)
            else:
                start = j
                # allow dotted identifiers: a.b::T
                while start - 2 >= 0 and out[start - 1] == "." :
                    start -= 2
            # type tokens: WORD [ ( ... ) ] or WORD [ ] for arrays
            i += 1
            ty: list[str] = []
            while i < len(toks) and toks[i].isspace():
                i += 1
            tdepth = 0
            while i < len(toks) and (
                re.match(r"[^\W\d]|`", toks[i]) or toks[i] in "()[]0123456789,." or toks[i].isdigit()
                or tdepth > 0  # inside STRUCT(…)/MAP(…) everything is type
                or (
                    # multi-word spellings: INT ARRAY, DOUBLE PRECISION,
                    # CHARACTER VARYING
                    toks[i].isspace() and tdepth == 0
                    and _next_code(toks, i) < len(toks)
                    and toks[_next_code(toks, i)].upper() in (
                        "ARRAY", "PRECISION", "VARYING")
                )
            ):
                # a comma only belongs to the type inside its parens
                # (DECIMAL(10,2)); at depth 0 it separates the next argument
                if toks[i] == "," and tdepth == 0:
                    break
                if toks[i] == "(":
                    tdepth += 1
                elif toks[i] == ")":
                    tdepth -= 1
                ty.append(toks[i])
                i += 1
                if ty and ty[-1] == ")" and tdepth <= 0:
                    # STRUCT(...)[] / MAP(...)[]: the list suffix follows
                    nx = _next_code(toks, i)
                    if nx < len(toks) and toks[nx] == "[":
                        continue
                    break
                if tdepth <= 0 and i < len(toks) and toks[i].isspace():
                    nx = _next_code(toks, i)
                    if nx >= len(toks) or not re.match(
                        r"[A-Za-z_0-9(\[]", toks[nx]
                    ):
                        break
            operand = "".join(out[start:]).strip()
            del out[start:]
            rawty = "".join(ty).strip()
            # constant string → nested type: fold into constructors
            mlit = re.fullmatch(r"(?s)\s*'((?:[^']|'')*)'\s*", operand)
            if mlit and re.match(r"(?is)^(.*\[\s*\d*\s*\]|STRUCT\s*\(|MAP\s*\(|TUPLE\s*\()", rawty):
                from duckdb_spark.sql.textcast import fold_string_cast

                folded = fold_string_cast(mlit.group(1).replace("''", "'"), rawty)
                if folded is not None:
                    out.append(folded)
                    continue
            if mlit:
                from duckdb_spark.sql.textcast import (
                    check_temporal_literal,
                    fold_string_to_integer,
                )

                check_temporal_literal(
                    mlit.group(1).replace("''", "'"), rawty)
                fint = fold_string_to_integer(
                    mlit.group(1).replace("''", "'"), rawty)
                if fint is not None:
                    out.append(fint)
                    continue
            # runtime mode (Connection.sql retry): non-literal operand →
            # per-target-type parse/coerce UDF (reference string_cast.cpp)
            if (
                state.flag("text_cast_runtime")
                and re.match(
                    r"(?is)^(.*\[\s*\d*\s*\]|STRUCT\s*\(|MAP\s*\(|TUPLE\s*\()", rawty)
                and not re.match(
                    r"(?s)^\s*[{']", operand)
                and not re.match(
                    r"(?is)^\s*(array|named_struct|map|struct|collect_list|"
                    r"collect_set|split|sequence|transform)\s*\(", operand)
            ):
                from duckdb_spark.sql.textcast import runtime_cast_name

                inner_op = _runtime_cast_chain(operand)
                name = runtime_cast_name(rawty, False)
                out.extend(_tokens(f"{name}({inner_op})"))
                continue
            rawtyU = rawty.upper()
            if (
                rawtyU in ("UTINYINT", "UINT8", "USMALLINT", "UINT16",
                           "UINTEGER", "UINT32", "UBIGINT", "UINT64",
                           "UHUGEINT")
                and mlit is None
                and not re.fullmatch(r"[+-]?[\d.]+([eE][+-]?\d+)?",
                                     operand.strip())
            ):
                # runtime range check for unsigned targets — see the CAST
                # scanner's matching clause (cast_error_location.test:108)
                carrier = _INT_TYPE_NAMES.get(rawtyU, "decimal(38,0)")
                opx = f"({operand})"
                _, probe = _unsigned_range_probes(rawtyU, opx)
                out.extend(_tokens(
                    f"CAST((CASE WHEN {opx} IS NULL THEN NULL WHEN "
                    f"{probe} THEN {opx} ELSE raise_error(concat("
                    f"'Conversion Error: value ', cast({opx} as string), "
                    f"' out of range for {rawtyU}')) END) AS {carrier})"))
                continue
            # struct literal → MAP: `{k: v, …}::MAP(K, V)` (DuckDB
            # struct-to-map cast; Spark has no struct→map cast)
            if re.match(r"(?is)^MAP\s*\(", rawty) and re.match(
                r"(?s)^\s*\{.*\}\s*$", operand
            ):
                from duckdb_spark.sql.textcast import (
                    _part3,
                    _split_top,
                    _split_type_fields,
                )

                body = operand.strip()[1:-1].strip()
                kvs = []
                try:
                    # cast keys/values to the declared K/V so mixed-type
                    # struct values don't fight map()'s type unification
                    kv_m = re.match(r"(?is)^MAP\s*\((.*)\)\s*$", rawty)
                    parts_ty = _split_type_fields(kv_m.group(1)) if kv_m else []
                    k_ty = _map_type(parts_ty[0]) if len(parts_ty) == 2 else "string"
                    v_ty = _map_type(parts_ty[1]) if len(parts_ty) == 2 else None
                    for part in _split_top(body, ",") if body else []:
                        k, _, val = _part3(part, ":")
                        key = k.strip().strip('"').strip("'").strip("`")
                        v_expr = (
                            f"cast(({val.strip()}) as {v_ty})"
                            if v_ty else val.strip()
                        )
                        kvs.append(f"cast('{key}' as {k_ty}), {v_expr}")
                    out.append("map(" + ", ".join(kvs) + ")")
                    continue
                except ValueError:
                    pass
            if re.match(r"(?is)^MAP\s*\(", rawty):
                # map → MAP casts are native; struct COLUMN → MAP has no
                # Spark cast — JSON round-trip keeps field order
                # (reference struct-to-map). Emit as TOKENS so later
                # passes still rewrite inside the operand ([..] literals;
                # map_cast.test:5).
                target = _map_type(rawty)
                if re.match(r"(?is)^\s*(MAP|map_from_arrays|"
                            r"map_from_entries)\s*\(", operand):
                    vm = re.search(r",\s*(tinyint|smallint|int|bigint)\s*>$",
                                   target, re.I)
                    if vm and re.search(r"\d\.\d", operand):
                        # duck float→int casts ROUND half away from zero
                        # (map_cast.test:21: 4.9 → 5)
                        base = (f"CAST(transform_values({operand}, "
                                f"(__mk, __mv) -> round(__mv)) AS {target})")
                    else:
                        base = f"CAST({operand} AS {target})"
                    # keys colliding AFTER the cast ('1' and '01' → 1)
                    # are an error in the reference (map_cast.test:36)
                    out.extend(_tokens(
                        f"(CASE WHEN size(array_distinct(map_keys({base})))"
                        f" <> size(map_keys({operand})) THEN "
                        f"CAST(raise_error('Invalid Input Error: Map keys "
                        f"must be unique.') AS {target}) "
                        f"ELSE {base} END)"))
                else:
                    out.extend(_tokens(
                        f"from_json(to_json({operand}), '{target}')"
                    ))
                continue
            if (
                re.match(r"(?is)^(VARCHAR|STRING|TEXT)$", rawty.strip())
                and mlit is None
                and not re.match(r"(?is)^\s*__dk", operand)
                and (state.flag("text_cast_runtime")
                     or _NESTED_HINT_RE.search(operand))
            ):
                out.extend(_tokens(f"__dkrender({operand})"))
                continue
            mfix = re.match(r"(?is)^(.*)\[\s*(\d+)\s*\]$", rawty.strip())
            ops = operand.strip()
            lit_list = None
            if mfix and re.match(r"(?is)^array\s*\(", ops) and \
                    ops.endswith(")"):
                lit_list = ops[ops.index("(") + 1:-1]
            elif mfix and ops.startswith("[") and ops.endswith("]"):
                lit_list = ops[1:-1]
            if lit_list is not None:
                # fixed-size ARRAY cast of a visible list literal checks
                # the length (reference array_casts.cpp)
                inner_n = len([
                    a for a in _split_top_args(_tokens(lit_list))
                    if a.strip()
                ])
                if inner_n != int(mfix.group(2)):
                    raise ValueError(
                        f"Conversion Error: Cannot cast list of size "
                        f"{inner_n} to array of size {mfix.group(2)}"
                    )
            mtrunc = re.match(r"(?i)^TIMESTAMP_(MS|S)$", rawty.strip())
            if mtrunc:
                unit = ("MILLISECOND" if mtrunc.group(1).upper() == "MS"
                        else "SECOND")
                # NTZ result: Spark's date_trunc returns the instant type,
                # whose renderer adds the +00 offset the reference's
                # tz-naive TIMESTAMP_MS/_S never shows
                out.extend(_tokens(
                    f"CAST(date_trunc('{unit}', CAST({operand} AS "
                    f"timestamp)) AS TIMESTAMP_NTZ)"))
                continue
            mun = re.match(r"(?is)^UNION\s*\((.*)\)$", rawty.strip())
            if mun:
                # tagged UNION target (see the CAST scanner's clause)
                from duckdb_spark.sql.textcast import _split_type_fields

                members = []
                okm = True
                for part in _split_type_fields(mun.group(1)):
                    pm = re.match(
                        r"(?s)^\s*([A-Za-z_]\w*|\"[^\"]+\")\s+(.*)$",
                        part.strip())
                    if not pm:
                        okm = False
                        break
                    members.append((pm.group(1).strip('"'),
                                    _map_type(pm.group(2).strip())))
                if okm and members:
                    out.extend(_tokens(
                        _union_cast_sql("CAST", operand, members)))
                    continue
            target = _map_type(rawty)
            if target.upper() in _INT_CAST_TYPES:
                operand = _round_decimal(operand)
            # emit as tokens, not one blob — later passes (fn renames,
            # bracket/list handling) must still see inside the operand
            out.extend(_tokens(f"CAST({operand} AS {target})"))
            continue
        out.append(toks[i])
        i += 1
    return out


_INT_CAST_RANGES = {
    "TINYINT": (-128, 127), "INT1": (-128, 127),
    "UTINYINT": (0, 255),
    "SMALLINT": (-32768, 32767), "INT2": (-32768, 32767),
    "INT16": (-32768, 32767), "SHORT": (-32768, 32767),
    "USMALLINT": (0, 65535),
    "INTEGER": (-2**31, 2**31 - 1), "INT": (-2**31, 2**31 - 1),
    "INT4": (-2**31, 2**31 - 1), "INT32": (-2**31, 2**31 - 1),
    "UINTEGER": (0, 2**32 - 1),
    "BIGINT": (-2**63, 2**63 - 1), "INT8": (-2**63, 2**63 - 1),
    "INT64": (-2**63, 2**63 - 1), "LONG": (-2**63, 2**63 - 1),
    "UBIGINT": (0, 2**64 - 1),
}


def _check_const_cast_ranges(toks: list[str]) -> None:
    """DuckDB errors on out-of-range constant casts (`1000::utinyint`,
    `1e308::float` — src/function/cast/numeric_casts.cpp); Spark wraps or
    saturates silently. Raise at translate time for visible literals."""
    def _check_span_lits(lits: list[str], target: str) -> None:
        if target in _INT_CAST_RANGES:
            lo, hi = _INT_CAST_RANGES[target]
            for lt in lits:
                try:
                    v = float(lt)
                except ValueError:
                    continue
                if v < lo or v > hi:
                    raise ValueError(
                        f"Conversion Error: value {lt} out of range for "
                        f"{target}")

    for i, t in enumerate(toks):
        if t != "::":
            continue
        p = _prev_code(toks, i - 1)
        n = _next_code(toks, i + 1)
        if p < 0 or n >= len(toks):
            continue
        lit = toks[p]
        if lit == "]":
            # constant list literal cast: [1000]::utinyint[] range-checks
            # every element (reference bound_cast: list cast per element)
            d = 0
            lo2 = -1
            for b in range(p, -1, -1):
                if toks[b] == "]":
                    d += 1
                elif toks[b] == "[":
                    d -= 1
                    if d == 0:
                        lo2 = b
                        break
            if lo2 >= 0:
                lits = [x for x in toks[lo2 + 1:p]
                        if re.fullmatch(r"\d+(\.\d*)?", x)]
                _check_span_lits(lits, toks[n].upper())
            continue
        if lit == "}":
            # struct literal cast: {'x': 1000}::row(x tinyint)
            d = 0
            lo2 = -1
            for b in range(p, -1, -1):
                if toks[b] == "}":
                    d += 1
                elif toks[b] == "{":
                    d -= 1
                    if d == 0:
                        lo2 = b
                        break
            if lo2 >= 0 and _is_word(toks[n], "ROW"):
                close = _match_paren(toks, _next_code(toks, n + 1)) \
                    if _next_code(toks, n + 1) < len(toks) and \
                    toks[_next_code(toks, n + 1)] == "(" else -1
                if close > 0:
                    ftypes = [w.upper() for w in
                              toks[_next_code(toks, n + 1):close]
                              if re.fullmatch(r"[A-Za-z_]\w*", w)
                              and w.upper() in _INT_CAST_RANGES]
                    lits = [x for x in toks[lo2 + 1:p]
                            if re.fullmatch(r"\d+(\.\d*)?", x)]
                    if len(set(ftypes)) == 1 and lits:
                        _check_span_lits(lits, ftypes[0])
            continue
        if not re.fullmatch(r"(?i)\d+(\.\d*)?(e[+-]?\d+)?", lit):
            continue
        target = toks[n].upper()
        if target in _INT_CAST_RANGES:
            lo, hi = _INT_CAST_RANGES[target]
            try:
                # exact compare: float() rounds int64-edge literals past
                # the BIGINT max (test_quantile_cont.test:302)
                import decimal as _dec

                v = _dec.Decimal(lit)
            except Exception:  # noqa: BLE001
                continue
            if v < lo or v > hi:
                raise ValueError(
                    f"Conversion Error: value {lit} out of range for {target}"
                )
        elif target in ("FLOAT", "FLOAT4", "REAL"):
            try:
                v = float(lit)
            except ValueError:
                continue
            if v > _FLOAT_MAX or v < -_FLOAT_MAX:
                raise ValueError(
                    f"Conversion Error: value {lit} out of range for FLOAT"
                )


def _runtime_cast_chain(operand: str) -> str:
    """Strip a trailing `CAST(x AS VARCHAR)` / `__dkrender(x)` wrapper so
    the runtime cast UDF receives the ORIGINAL value (the reference's
    value→text→value chain collapses into one render+parse)."""
    op = _strip_balanced_parens(operand)
    mchain = re.match(
        r"(?is)^\s*CAST\s*\(\s*(.*)\s+AS\s+(VARCHAR|STRING|TEXT)\s*\)\s*$",
        op)
    if mchain:
        return mchain.group(1)
    mrender = re.match(r"(?is)^\s*__dkrender\s*\((.*)\)\s*$", op)
    if mrender and _balanced(mrender.group(1)):
        return mrender.group(1)
    return op


def _fold_mixed_interval_literals(sql: str, restore) -> str:
    """`INTERVAL '5 months 2 days 12:11:49'` mixes year-month and
    day-time fields — unrepresentable in Spark's split interval types
    (ParseException). Fold such literals into the (months, days, micros)
    struct emulation (types.py INTERVAL; test_mode.test:222)."""
    def rep(m: re.Match) -> str:
        txt = restore(m.group(1))
        has_ym = re.search(r"(?i)\b(year|month|mon)s?\b", txt)
        has_dt = re.search(
            r"(?i)\b(week|day|hour|minute|min|second|sec|millisecond|ms|"
            r"microsecond|us)s?\b|\d:\d", txt)
        if not (has_ym and has_dt):
            return m.group(0)
        from duckdb_spark.sqllogic import _parse_interval_parts

        months, days, us = _parse_interval_parts(txt)
        return (f"named_struct('months', cast({months} as int), "
                f"'days', cast({days} as int), "
                f"'micros', cast({us} as bigint))")

    return re.sub(r"(?i)\bINTERVAL\s*'([^']*)'", rep, sql)


def _fold_time_literals(sql: str, restore) -> str:
    """`TIME 'hh:mm:ss[.ffffff]'` → µs-since-midnight BIGINT (the TIME
    emulation, SURVEY §1.2; Spark has no TIME type)."""
    return re.sub(
        r"(?i)\bTIME\s*'([^']*)'",
        lambda m: "__dktm(CAST("
        f"{_parse_time_us(restore(m.group(1)))} AS BIGINT))",
        sql,
    )


_INT_TYPE_NAMES = {
    "TINYINT": "tinyint", "INT1": "tinyint",
    "SMALLINT": "smallint", "INT2": "smallint",
    "INTEGER": "int", "INT": "int", "INT4": "int",
    "BIGINT": "bigint", "INT8": "bigint",
    "UTINYINT": "smallint", "USMALLINT": "int", "UINTEGER": "bigint",
    "HUGEINT": "decimal(38,0)", "UHUGEINT": "decimal(38,0)",
    "UBIGINT": "decimal(20,0)",
    "UINT8": "smallint", "UINT16": "int", "UINT32": "bigint",
    "UINT64": "decimal(20,0)",
}


_FOLD_CAST_RANGES = {
    "TINYINT": (-128, 127), "INT1": (-128, 127),
    "SMALLINT": (-2**15, 2**15 - 1), "INT2": (-2**15, 2**15 - 1),
    "INTEGER": (-2**31, 2**31 - 1), "INT": (-2**31, 2**31 - 1),
    "INT4": (-2**31, 2**31 - 1),
    "BIGINT": (-2**63, 2**63 - 1), "INT8": (-2**63, 2**63 - 1),
    "UTINYINT": (0, 255), "UINT8": (0, 255),
    "USMALLINT": (0, 2**16 - 1), "UINT16": (0, 2**16 - 1),
    "UINTEGER": (0, 2**32 - 1), "UINT32": (0, 2**32 - 1),
    "UBIGINT": (0, 2**64 - 1), "UINT64": (0, 2**64 - 1),
    "HUGEINT": (-2**127, 2**127 - 1), "UHUGEINT": (0, 2**128 - 1),
}


def _unsigned_range_probes(tyU: str, opx: str) -> tuple[str, str]:
    """(try_probe, probe) SQL for the unsigned-cast runtime range check.
    UHUGEINT's bound 2^128-1 is 39 digits — over DECIMAL(38)'s max, so a
    bare literal fails Spark analysis and the decimal(38,6) probe caps at
    ~1e32 (ADVICE r09 #1); probe it through DOUBLE instead (2^128-1 rounds
    to 3.402823669209385e38, the exact fold of the true bound)."""
    if tyU == "UHUGEINT":
        p = f"cast({opx} as double) BETWEEN 0 AND 3.402823669209385e38"
        pt = f"try_cast({opx} as double) BETWEEN 0 AND 3.402823669209385e38"
        return pt, p
    lo, hi = _FOLD_CAST_RANGES[
        {"UINT8": "UTINYINT", "UINT16": "USMALLINT",
         "UINT32": "UINTEGER", "UINT64": "UBIGINT"}.get(tyU, tyU)]
    return (
        f"round(try_cast({opx} as decimal(38,6))) BETWEEN {lo} AND {hi}",
        f"round(cast({opx} as decimal(38,6))) BETWEEN {lo} AND {hi}",
    )


def _fold_null_cast_chains(toks: list[str]) -> list[str]:
    """`NULL::a::b::…::z` → `CAST(NULL AS z)`: the reference folds a
    constant NULL through any cast chain; Spark rejects intermediate
    incompatible pairs (STRING→ARRAY, …)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "NULL"):
            i += 1
            continue
        j = _next_code(out, i + 1)
        last_ty = None
        end = i
        while j < len(out) and out[j] == "::":
            t0 = _next_code(out, j + 1)
            if t0 >= len(out) or not re.match(r"^[A-Za-z_]", out[t0]):
                break
            te = t0
            p = _next_code(out, te + 1)
            if p < len(out) and out[p] == "(":
                pc = _match_paren(out, p)
                if pc > 0:
                    te = pc
                    p = _next_code(out, te + 1)
            while p < len(out) and out[p] == "[":
                bd = 0
                pc = -1
                for q in range(p, len(out)):
                    if out[q] == "[":
                        bd += 1
                    elif out[q] == "]":
                        bd -= 1
                        if bd == 0:
                            pc = q
                            break
                if pc < 0:
                    break
                te = pc
                p = _next_code(out, te + 1)
            last_ty = "".join(out[t0:te + 1])
            end = te
            j = _next_code(out, te + 1)
        if last_ty is not None:
            repl = _tokens(f"NULL::{last_ty} ")
            out[i:end + 1] = repl
            i += len(repl)
            continue
        i += 1
    return out


def _fold_const_string_int_casts(toks: list[str]) -> list[str]:
    """Constant `'1e2'::INT` / `CAST('0xF' AS INT)`: the reference's
    string→integer cast accepts exponent and hex forms and rounds
    decimals half-away-from-zero (src/common/operator/cast_operators);
    Spark's rejects them. Fold literal cases driver-side."""
    out = list(toks)
    i = 0
    while i < len(out):
        lit = ty = close = -1
        if _is_word(out[i], "CAST") or _is_word(out[i], "TRY_CAST"):
            j = _next_code(out, i + 1)
            if j < len(out) and out[j] == "(":
                l0 = _next_code(out, j + 1)
                if l0 < len(out) and out[l0].startswith("'") and \
                        out[l0].endswith("'"):
                    a = _next_code(out, l0 + 1)
                    if a < len(out) and _is_word(out[a], "AS"):
                        t0 = _next_code(out, a + 1)
                        c0 = _next_code(out, t0 + 1) if t0 < len(out) else len(out)
                        if t0 < len(out) and c0 < len(out) and out[c0] == ")":
                            lit, ty, close = l0, t0, c0
        elif out[i].startswith("'") and out[i].endswith("'"):
            j = _next_code(out, i + 1)
            if j < len(out) and out[j] == "::":
                t0 = _next_code(out, j + 1)
                if t0 < len(out):
                    lit, ty, close = i, t0, t0
        if lit < 0 and re.fullmatch(r"(?i)X'[0-9A-F]*'", out[i]):
            # folded BLOB literal cast back to text: duck renders
            # printable ASCII + \xHH (test_blob_cast.test:24)
            j2 = _next_code(out, i + 1)
            if j2 < len(out) and out[j2] == "::":
                t2 = _next_code(out, j2 + 1)
                if t2 < len(out) and out[t2].upper() in (
                    "VARCHAR", "STRING", "TEXT",
                ):
                    j3 = _next_code(out, t2 + 1)
                    if j3 < len(out) and out[j3] == "::":
                        t3 = _next_code(out, j3 + 1)
                        if t3 < len(out) and out[t3].upper() in (
                            "BLOB", "BYTEA", "BINARY", "VARBINARY",
                        ):
                            # blob→varchar→blob round-trips to itself
                            # (test_blob_cast.test:30)
                            out[t2 + 1:t3 + 1] = []
                            out[i + 1:t2 + 1] = []
                            continue
                    data = bytes.fromhex(out[i][2:-1])
                    txt = "".join(
                        chr(b) if 32 <= b <= 126 and b != 92
                        else f"\\x{b:02X}" for b in data)
                    out[i:t2 + 1] = [
                        "'" + txt.replace("\\", "\\\\")
                        .replace("'", "''") + "'"]
                    i += 1
                    continue
        if lit < 0:
            i += 1
            continue
        tyname = out[ty].upper()
        if tyname in ("TIME", "TIMETZ"):
            try:
                if tyname == "TIME":
                    us = _parse_time_us(out[lit][1:-1])
                    repl0 = f"__dktm(CAST({us} AS BIGINT))"
                else:
                    p = _parse_timetz_packed(out[lit][1:-1])
                    repl0 = f"__dktz(CAST({p} AS BIGINT))"
            except ValueError:
                if out[i].upper() == "TRY_CAST":
                    # unparseable text under TRY_CAST → NULL TIME
                    # (timestamp_casts.test:121)
                    repl0 = "CAST(NULL AS BIGINT)"
                else:
                    raise
            out[i:close + 1] = [repl0]
            i += 1
            continue
        if tyname in ("TIMESTAMP_NS", "TIMESTAMPTZ_NS"):
            # nanosecond literals ROUND to µs (reference timestamp_t ns
            # conversion; timestamp_casts.test:114 — .999999999 rounds up
            # into the next day); Spark's parser truncates. The TZ
            # variant keeps the instant type (+00 offsets only).
            m2 = re.match(
                r"^(\d{4}-\d\d-\d\d[ T]\d\d:\d\d:\d\d)\.(\d{7,9})"
                r"(\+00(?::00)?)?$",
                out[lit][1:-1].strip())
            if m2:
                import datetime as _dt

                base = _dt.datetime.strptime(
                    m2.group(1).replace("T", " "), "%Y-%m-%d %H:%M:%S")
                ns = int(m2.group(2).ljust(9, "0"))
                val = base + _dt.timedelta(
                    microseconds=(ns + 500) // 1000)
                txt = val.strftime("%Y-%m-%d %H:%M:%S")
                if val.microsecond:
                    txt += f".{val.microsecond:06d}"
                sty = ("TIMESTAMP_LTZ" if tyname == "TIMESTAMPTZ_NS"
                       else "TIMESTAMP_NTZ")
                out[i:close + 1] = [f"CAST('{txt}' AS {sty})"]
                i += 1
                continue
        if tyname in ("BLOB", "BYTEA", "BINARY", "VARBINARY"):
            # duck BLOB text: \xHH escapes are raw bytes; Spark's string
            # literal parser silently drops the backslash — fold to a hex
            # literal (reference blob cast; test_blob.test:12)
            out[i:close + 1] = [f"X'{duck_blob_hex(out[lit][1:-1])}'"]
            continue  # no advance: a chained ::VARCHAR folds next
        if tyname in ("VARCHAR", "STRING", "TEXT"):
            nx2 = _next_code(out, close + 1)
            if nx2 < len(out) and out[nx2] == "::":
                # identity cast in a chain: collapse so the NEXT cast
                # pairs with the literal ('x'::VARCHAR::BLOB,
                # test_blob_cast.test:42)
                out[i:close + 1] = [out[lit]]
                continue
        if tyname not in _INT_TYPE_NAMES:
            i += 1
            continue
        raw = out[lit][1:-1].strip()
        if re.fullmatch(r"[+-]?\d+", raw):
            i += 1
            continue  # plain integer: Spark handles (and range-checks)
        v = None
        hx = re.fullmatch(r"([+-]?)0[xX]([0-9a-fA-F]+)", raw)
        if hx:
            v = int(hx.group(2), 16) * (-1 if hx.group(1) == "-" else 1)
        elif re.fullmatch(
            r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", raw
        ):
            from decimal import ROUND_HALF_UP, Decimal, localcontext

            with localcontext() as ctx:
                ctx.prec = 60
                v = int(
                    Decimal(raw).quantize(Decimal(1), rounding=ROUND_HALF_UP)
                )
        if v is None:
            i += 1
            continue
        lo_hi = _FOLD_CAST_RANGES.get(tyname)
        if lo_hi and not (lo_hi[0] <= v <= lo_hi[1]):
            if out[i].upper() == "TRY_CAST":
                out[i:close + 1] = [
                    f"CAST(NULL AS {_INT_TYPE_NAMES[tyname]})"]
                i += 1
                continue
            raise ValueError(
                f"Conversion Error: Could not convert string '{raw}' to "
                f"{tyname}: out of range"
            )
        spark_ty = _INT_TYPE_NAMES[tyname]
        out[i:close + 1] = [f"CAST({v} AS {spark_ty})"]
        i += 1
    return out


# DuckDB type name → Spark SQL type name (cast contexts only — these words
# are legal column names elsewhere).
_TYPE_RENAMES = {
    "VARCHAR": "STRING", "TEXT": "STRING", "BPCHAR": "STRING", "CHAR": "STRING",
    "HUGEINT": "DECIMAL(38,0)", "UHUGEINT": "DECIMAL(38,0)",
    "INT128": "DECIMAL(38,0)", "UTINYINT": "SMALLINT", "USMALLINT": "INT",
    "UINTEGER": "BIGINT", "UINT": "BIGINT", "UBIGINT": "DECIMAL(20,0)",
    "REAL": "FLOAT", "FLOAT4": "FLOAT", "FLOAT8": "DOUBLE",
    "BLOB": "BINARY", "BYTEA": "BINARY", "LOGICAL": "BOOLEAN",
    "INT1": "TINYINT", "INT2": "SMALLINT", "INT4": "INT", "INT8": "BIGINT",
    "UINT8": "SMALLINT", "UINT16": "INT", "UINT32": "BIGINT",
    "UINT64": "DECIMAL(20,0)",
    "INT16": "SMALLINT", "INT32": "INT", "INT64": "BIGINT",
    "SIGNED": "BIGINT", "OID": "BIGINT",
    "TIMESTAMP_S": "TIMESTAMP", "TIMESTAMP_MS": "TIMESTAMP",
    "TIMESTAMP_NS": "TIMESTAMP", "DATETIME": "TIMESTAMP",
}


def _pick_union_member(operand: str, members: list[tuple[str, str]]) -> int:
    """Index of the UNION member an operand binds to (reference
    `src/function/cast/union_casts.cpp` BindToUnionMemberCast: lowest
    implicit-cast cost wins). Heuristic on the operand's visible type
    class: string literals bind the VARCHAR member, numeric literals the
    numeric member, union_value(tag := v) carriers their tag. Unknown
    operand class keeps the historical first-member binding."""
    s = operand.strip()
    while s.startswith("(") and s.endswith(")"):
        d = 0
        ok = True
        for x, ch in enumerate(s):
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
                if d == 0 and x != len(s) - 1:
                    ok = False
                    break
        if not ok:
            break
        s = s[1:-1].strip()
    # union_value carrier: named_struct('__dkutag', '<tag>', ...) — or the
    # not-yet-rewritten union_value(tag := v) call itself
    tg = re.match(r"(?is)^named_struct\s*\(\s*'__dkutag'\s*,\s*'(\w+)'", s) \
        or re.match(r"(?is)^union_value\s*\(\s*(\w+)\s*(?::\s*=|=\s*>)", s)
    if tg:
        for ix, (n0, _t0) in enumerate(members):
            if n0.lower() == tg.group(1).lower():
                return ix
    cls = None
    if re.match(r"(?s)^'(?:[^']|'')*'$", s) or re.match(
            r"(?is)^(CAST|TRY_CAST)\s*\(.*\bAS\s+(STRING|VARCHAR)\s*\)$", s):
        cls = "string"
    elif re.match(r"^[+-]?\d+$", s):
        cls = "int"
    elif re.match(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$", s):
        cls = "float"
    elif re.match(r"(?is)^(true|false)$", s):
        cls = "boolean"
    elif re.match(r"(?is)^(DATE)\s+'", s):
        cls = "date"
    elif re.match(r"(?is)^(TIMESTAMP(TZ)?)\s+'", s):
        cls = "timestamp"
    if cls is None:
        return 0

    def _mclass(t: str) -> str:
        tu = t.strip().upper()
        if tu in ("STRING", "VARCHAR") or tu.startswith("VARCHAR"):
            return "string"
        if tu in ("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT",
                  "LONG", "SHORT", "BYTE"):
            return "int"
        if tu in ("FLOAT", "DOUBLE", "REAL") or tu.startswith("DECIMAL"):
            return "float"
        if tu == "BOOLEAN":
            return "boolean"
        if tu == "DATE":
            return "date"
        if tu.startswith("TIMESTAMP"):
            return "timestamp"
        return "other"

    _COST = {  # operand class -> member class -> cost (lower wins)
        "string": {"string": 0},
        "int": {"int": 0, "float": 1, "string": 5},
        "float": {"float": 0, "string": 5},
        "boolean": {"boolean": 0, "string": 5},
        "date": {"date": 0, "timestamp": 1, "string": 5},
        "timestamp": {"timestamp": 0, "string": 5},
    }
    best, best_cost = 0, None
    for ix, (_n0, t0) in enumerate(members):
        c = _COST.get(cls, {}).get(_mclass(t0))
        if c is not None and (best_cost is None or c < best_cost):
            best, best_cost = ix, c
    return best if best_cost is not None else 0


def _union_cast_sql(kw: str, operand: str,
                    members: list[tuple[str, str]]) -> str:
    """Render CAST(operand AS UNION(...)) as the tagged-struct carrier,
    binding the member chosen by _pick_union_member. A union_value
    carrier re-tags: its payload value is extracted into the member."""
    if len(members) == 1:
        return f"{kw}(({operand}) AS {members[0][1]})"
    pick = _pick_union_member(operand, members)
    src = operand
    tg = re.match(r"(?is)^\s*\(*\s*named_struct\s*\(\s*'__dkutag'\s*,\s*"
                  r"'(\w+)'\s*,\s*'(\w+)'\s*,", operand)
    tg2 = re.match(r"(?is)^\s*\(*\s*union_value\s*\(\s*(\w+)\s*"
                   r"(?::\s*=|=\s*>)\s*(.*?)\)*\s*$", operand)
    if tg:
        # extract the active member's payload from the carrier struct
        src = f"({operand}).{tg.group(2)}"
    elif tg2:
        # union_value not yet macro-rewritten: take the payload directly
        val = tg2.group(2).strip()
        d = 0
        for ch in val:
            d += (ch == "(") - (ch == ")")
        src = f"({val + ')' * max(0, -d)})" if val else operand
    kvs = [f"'__dkutag', '{members[pick][0]}'"]
    for ix, (n0, t0) in enumerate(members):
        if ix == pick:
            kvs.append(f"'{n0}', {kw}(({src}) AS {t0})")
        else:
            kvs.append(f"'{n0}', CAST(NULL AS {t0})")
    return "named_struct(" + ", ".join(kvs) + ")"


def _map_type(ty: str) -> str:
    """DuckDB type text → Spark DDL type text, via the §1.2 type mapping
    (handles nested LIST/MAP/STRUCT/ROW, decimal defaults, pg aliases).
    INTERVAL stays native (the struct emulation is for storage, not casts)."""
    s = expand_type_aliases(ty.strip())
    # SETOF wrapper drops; `T ARRAY[n]` / `T[n]` fixed-size arrays map to
    # plain lists (reference array_type parity: one list dimension each)
    s = re.sub(r"(?is)^\s*SETOF\s+", "", s)
    s = re.sub(r"(?is)\bARRAY\s*\[\s*\d*\s*\]", "[]", s)
    head = re.match(r"[A-Za-z_0-9]+", s)
    if head and head.group(0).upper() in ("INTERVAL", "TIME", "TIMETZ"):
        return ty  # storage emulations (types.py) would corrupt cast semantics
    if head and head.group(0).upper() == "TIMESTAMPTZ":
        # fixed-point spelling: plain 'timestamp' would be re-read as the
        # duck-naive TIMESTAMP by a later _map_type visit and demoted to
        # timestamp_ntz, losing the '+00' render (quantile_cont_list:32).
        # Keep any trailing text — the `::` scanner can hand over a
        # trailing close paren with the type.
        return "timestamp_ltz" + s[head.end():]
    if head and head.group(0).upper() == "TIMESTAMP_LTZ":
        return ty
    try:
        from duckdb_spark.types import duckdb_type_to_spark, spark_ddl

        return spark_ddl(duckdb_type_to_spark(s))
    except Exception:
        pass
    if head and head.group(0).upper() in _TYPE_RENAMES:
        mapped = _TYPE_RENAMES[head.group(0).upper()]
        rest = s[head.end():]
        # CHAR(n)/VARCHAR(n) → STRING (drop the length)
        if mapped == "STRING" and rest.strip().startswith("("):
            rest = ""
        return mapped + rest
    return ty


def _rewrite_cast_types(toks: list[str]) -> list[str]:
    """CAST/TRY_CAST(expr AS <duckdb-type>) → Spark type names
    (`_TYPE_RENAMES`). Scoped to cast calls: these words are legal column
    aliases elsewhere (`SELECT x AS text`)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if out[i].upper() not in ("CAST", "TRY_CAST"):
            i += 1
            continue
        p = _next_code(out, i + 1)
        if p >= len(out) or out[p] != "(":
            i += 1
            continue
        close = _match_paren(out, p)
        if close < 0:
            i += 1
            continue
        a = _top_level_index(out, p + 1, close, "AS")
        if a < 0:
            i = p  # nested casts still get their own visit
            continue
        j = _next_code(out, a + 1)
        ty = "".join(out[j:close]).strip()
        # constant string → nested type: fold into constructors
        operand = "".join(out[p + 1:a]).strip()
        mlit = re.fullmatch(r"(?s)\s*'((?:[^']|'')*)'\s*", operand)
        if mlit and re.match(r"(?is)^(STRUCT\s*\(|MAP\s*\(|TUPLE\s*\(|.*\[\s*\d*\s*\]$)", ty):
            from duckdb_spark.sql.textcast import (
                TextCastError,
                fold_string_cast,
            )

            try:
                folded = fold_string_cast(
                    mlit.group(1).replace("''", "'"), ty,
                    lenient=out[i].upper() == "TRY_CAST")
            except TextCastError:
                if out[i].upper() != "TRY_CAST":
                    raise
                folded = (  # TRY_CAST structural failure → NULL
                    f"cast(null as {_map_type(ty)})")
            if folded is not None:
                out[i:close + 1] = [folded]
                i += 1
                continue
        if mlit:
            from duckdb_spark.sql.textcast import (
                TextCastError,
                check_temporal_literal,
                fold_string_to_integer,
            )

            try:
                check_temporal_literal(mlit.group(1).replace("''", "'"), ty)
                fint = fold_string_to_integer(
                    mlit.group(1).replace("''", "'"), ty)
            except TextCastError:
                if out[i].upper() != "TRY_CAST":
                    raise
                fint = f"cast(null as {_map_type(ty)})"
            if fint is not None:
                out[i:close + 1] = [fint]
                i += 1
                continue
        # runtime mode (Connection.sql retry after "cannot cast STRING to
        # ARRAY/MAP/STRUCT"): non-literal string operands go through a
        # per-target-type parse UDF (reference string_cast.cpp runtime
        # cast). `x::VARCHAR::T` chains collapse: the UDF renders duck-
        # style then reparses, matching the reference value→text→value.
        if (
            state.flag("text_cast_runtime")
            and re.match(r"(?is)^(STRUCT\s*\(|MAP\s*\(|TUPLE\s*\(|.*\[\s*\d*\s*\]$)", ty)
            and not re.match(
                r"(?is)^\s*(array|named_struct|map|struct|collect_list|"
                r"collect_set|split|sequence|transform)\s*\(", operand)
        ):
            from duckdb_spark.sql.textcast import runtime_cast_name

            inner = _runtime_cast_chain(operand)
            name = runtime_cast_name(ty, out[i].upper() == "TRY_CAST")
            out[i:close + 1] = _tokens(f"{name}({inner})")
            i += 1
            continue
        if (
            re.match(r"(?is)^(VARCHAR|STRING|TEXT)$", ty.strip())
            and mlit is None
            and out[i].upper() in ("CAST", "TRY_CAST")
            and not re.match(r"(?is)^\s*__dk", operand)
            and (state.flag("text_cast_runtime")
                 or _NESTED_HINT_RE.search(operand))
        ):
            out[i:close + 1] = _tokens(f"__dkrender({operand})")
            i += 1
            continue
        # TIMESTAMP_MS / TIMESTAMP_S truncate sub-unit digits (reference
        # timestamp_t conversions); Spark has only µs timestamps
        mfix2 = re.match(r"(?is)^(.*)\[\s*(\d+)\s*\]$", ty.strip())
        ops2 = operand.strip()
        if mfix2 and re.match(r"(?is)^array\s*\(", ops2) and \
                ops2.endswith(")"):
            inner_n2 = len([
                a for a in _split_top_args(
                    _tokens(ops2[ops2.index("(") + 1:-1]))
                if a.strip()
            ])
            if inner_n2 != int(mfix2.group(2)):
                if out[i].upper() == "TRY_CAST":
                    # reference TRY_CAST returns NULL on a failed
                    # array-size cast (ADVICE r07 item 3)
                    out[i:close + 1] = _tokens(
                        f"cast(null as array<{_map_type(mfix2.group(1))}>)")
                    i += 1
                    continue
                raise ValueError(
                    f"Conversion Error: Cannot cast list of size "
                    f"{inner_n2} to array of size {mfix2.group(2)}"
                )
        if re.match(r"(?i)^(TIMESTAMP(_MS|_NS|_S|TZ|TZ_NS|_LTZ|_NTZ)?|DATE|"
                    r"DATETIME|TIMESTAMP WITH TIME ZONE)$", ty.strip()) and \
                re.fullmatch(r"(?i)\s*'([+-]?infinity)'\s*",
                             operand or ""):
            # ±infinity temporals have no Spark representation; the corpus
            # only renders them back to text (test_string_cast.test:236) —
            # fold the cast to its canonical text
            lit = re.sub(r"(?i)^\+", "", operand.strip().strip("'").lower())
            out[i:close + 1] = [f"'{lit}'"]
            i += 1
            continue
        tyU = ty.strip().upper()
        if (
            tyU in ("UTINYINT", "UINT8", "USMALLINT", "UINT16", "UINTEGER",
                    "UINT32", "UBIGINT", "UINT64", "UHUGEINT")
            and mlit is None
            and operand
            and not re.fullmatch(r"[+-]?[\d.]+([eE][+-]?\d+)?",
                                 operand.strip())
        ):
            # Unsigned targets ride wider signed carriers, so Spark's cast
            # would silently accept out-of-range values the reference
            # rejects at runtime (cast_error_location.test:108 —
            # 1000::UTINYINT must raise). Range-check through an exact
            # decimal; huge doubles overflow the decimal to NULL and fail
            # the BETWEEN, which is the correct out-of-range outcome.
            carrier = _INT_TYPE_NAMES.get(tyU, "decimal(38,0)")
            opx = f"({operand})"
            probe_try, probe = _unsigned_range_probes(tyU, opx)
            if out[i].upper() == "TRY_CAST":
                out[i:close + 1] = _tokens(
                    f"TRY_CAST((CASE WHEN {probe_try} THEN {opx} "
                    f"END) AS {carrier})")
            else:
                out[i:close + 1] = _tokens(
                    f"CAST((CASE WHEN {opx} IS NULL THEN NULL WHEN "
                    f"{probe} THEN {opx} ELSE raise_error(concat("
                    f"'Conversion Error: value ', cast({opx} as string), "
                    f"' out of range for {tyU}')) END) AS {carrier})")
            i += 1
            continue
        if re.match(r"(?i)^TIME$", ty.strip()) and operand and \
                not re.match(r"(?is)^\s*'", operand.strip()):
            # TIME over a non-literal operand: micros-of-day on the BIGINT
            # carrier (Spark parses the TIME type but cannot execute it —
            # UNSUPPORTED_TIME_TYPE; literal casts fold in textcast).
            # TRY_CAST keeps its leniency through the inner conversion.
            kw0 = "TRY_CAST" if out[i].upper() == "TRY_CAST" else "CAST"
            out[i:close + 1] = _tokens(
                f"__dktm(pmod(unix_micros({kw0}(({operand}) AS "
                f"TIMESTAMP_LTZ)), 86400000000))")
            i += 1
            continue
        if re.match(r"(?i)^TIMETZ$", ty.strip()) and operand and \
                not re.match(r"(?is)^\s*'", operand.strip()):
            # TIMETZ over a non-literal operand: a timestamp-typed
            # operand takes its UTC time-of-day (+00); text parses onto
            # the packed-int64 carrier (time_tz.hpp; test_median.test:140)
            kw0 = "TRY_CAST" if out[i].upper() == "TRY_CAST" else "CAST"
            if "__dktm" in operand:
                # TIME micros carrier → TIMETZ: attach +00 (reference
                # time→timetz cast; test_last.test:124)
                from duckdb_spark.sql.dialect import _strip_time_markers

                inner = _strip_time_markers(operand)
                out[i:close + 1] = _tokens(
                    f"__dktz(({inner}) * {_TIMETZ_OFF_MOD} "
                    f"+ {_TIMETZ_MAX_OFFSET})")
            elif re.search(r"(?i)timestamp|date_trunc", operand):
                out[i:close + 1] = _tokens(
                    f"__dktz(pmod(unix_micros({kw0}(({operand}) AS "
                    f"TIMESTAMP_LTZ)), 86400000000) "
                    f"* {_TIMETZ_OFF_MOD} + {_TIMETZ_MAX_OFFSET})")
            else:
                out[i:close + 1] = _tokens(
                    f"__dktz({_timetz_parse_sql(operand, lenient=kw0 == 'TRY_CAST')})")
            i += 1
            continue
        mtrunc = re.match(r"(?i)^TIMESTAMP_(MS|S)$", ty.strip())
        if mtrunc:
            unit = "MILLISECOND" if mtrunc.group(1).upper() == "MS" else "SECOND"
            kw = out[i]
            # TIMESTAMP_MS/_S are tz-naive in the reference — NTZ, or the
            # renderer would add the TIMESTAMPTZ offset suffix
            out[i:close + 1] = _tokens(
                f"CAST(date_trunc('{unit}', {kw}({operand} AS timestamp))"
                f" AS TIMESTAMP_NTZ)")
            i += 1
            continue
        if re.match(r"(?i)^TIMESTAMP(TZ)?_NS$", ty.strip()) and re.match(
            r"(?is)^\s*TIMESTAMP\b|.*\bAS\s+TIMESTAMP(_MS|_S|_LTZ|_NTZ)?\b"
            r"|.*\bdate_trunc\b", operand.strip()
        ):
            # ns range check: the int64-nanos carrier overflows past
            # 2262-04-11 23:47:16.854775 (reference timestamp_t ns
            # conversion; timestamp_casts.test:34,44 — TRY_CAST → NULL,
            # CAST → Conversion Error). In-range values keep the µs
            # timestamp (ns truncated to µs, documented SURVEY §1.2);
            # the TZ variant keeps the instant type (renders '+00').
            kw = out[i].upper()
            outty = "TIMESTAMP_LTZ" if re.match(
                r"(?i)^TIMESTAMPTZ_NS$", ty.strip()) else "TIMESTAMP_NTZ"
            over = (f"abs(unix_micros(CAST(({operand}) AS TIMESTAMP_LTZ)))"
                    f" > 9223372036854775")
            if kw == "TRY_CAST":
                bad = f"CAST(NULL AS {outty})"
            else:
                bad = ("CAST(raise_error('Conversion Error: timestamp "
                       f"out of TIMESTAMP_NS range') AS {outty})")
            out[i:close + 1] = _tokens(
                f"(CASE WHEN {over} THEN {bad} "
                f"ELSE CAST(({operand}) AS {outty}) END)")
            i += 1
            continue
        mun = re.match(r"(?is)^UNION\s*\((.*)\)$", ty.strip())
        if mun and operand:
            # tagged UNION target (reference union_casts.cpp): a single
            # member collapses to the member cast; multiple members bind
            # the lowest-implicit-cast-cost member (_pick_union_member)
            from duckdb_spark.sql.textcast import _split_type_fields

            members = []
            okm = True
            for part in _split_type_fields(mun.group(1)):
                pm = re.match(r"(?s)^\s*([A-Za-z_]\w*|\"[^\"]+\")\s+(.*)$",
                              part.strip())
                if not pm:
                    okm = False
                    break
                members.append((pm.group(1).strip('"'),
                                _map_type(pm.group(2).strip())))
            if okm and members:
                out[i:close + 1] = _tokens(
                    _union_cast_sql(out[i].upper(), operand, members))
                i += 1
                continue
        if re.match(r"(?is)^MAP\s*\(", ty.strip()) and re.match(
            r"(?is)^\s*(MAP|map_from_arrays|map_from_entries)\s*\(",
            operand or "",
        ):
            # map → MAP with a key-type change: Spark's cast refuses
            # string→int keys; rebuild via entries with per-element
            # casts. Keys that COLLIDE after casting ('1' and '01' → 1)
            # error, NULL under TRY_CAST (map_cast.test:36,41).
            target = _map_type(ty)
            innerkv = target[len("map<"):-1]
            d3 = 0
            cidx = -1
            for x3, ch3 in enumerate(innerkv):
                if ch3 == "<":
                    d3 += 1
                elif ch3 == ">":
                    d3 -= 1
                elif ch3 == "," and d3 == 0:
                    cidx = x3
                    break
            if cidx > 0:
                kty, vty = innerkv[:cidx], innerkv[cidx + 1:]
                kw3 = out[i].upper()
                ent = (
                    f"map_from_entries(transform(map_entries({operand}), "
                    f"__me -> struct({kw3}(__me.key AS {kty}) AS key, "
                    f"{kw3}(__me.value AS {vty}) AS value)))"
                )
                if kw3 == "TRY_CAST":
                    keys3 = (f"transform(map_entries({operand}), "
                             f"__me -> TRY_CAST(__me.key AS {kty}))")
                    cond3 = (
                        f"size(array_distinct(filter({keys3}, "
                        f"__x -> __x IS NOT NULL))) <> "
                        f"size(map_keys({operand}))")
                    repl3 = (f"(CASE WHEN {cond3} THEN "
                             f"CAST(NULL AS {target}) ELSE {ent} END)")
                else:
                    cond3 = (f"size(array_distinct(map_keys({ent}))) <> "
                             f"size(map_keys({operand}))")
                    repl3 = (
                        f"(CASE WHEN {cond3} THEN "
                        f"CAST(raise_error('Invalid Input Error: Map "
                        f"keys must be unique.') AS {target}) "
                        f"ELSE {ent} END)")
                out[i:close + 1] = _tokens(repl3)
                i += 1
                continue
        mapped = _map_type(ty)
        if mapped.upper() in _INT_CAST_TYPES \
                and _round_decimal(operand) != operand:
            kw = out[i]
            out[i:close + 1] = _tokens(
                f"{kw}({_round_decimal(operand)} AS {mapped})")
            i += 1
            continue
        if ty and mapped != ty:
            out[j:close] = [mapped]
        i = p
    return out


