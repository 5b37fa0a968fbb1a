"""TIME / TIMETZ emulation (ordered-pipeline split of sql/dialect.py).

Spark has no TIME or TIMETZ type; the emulation carries TIME as
microseconds-since-midnight BIGINTs and TIMETZ as the reference's packed
int64 (time_tz.hpp: micros * 2^24 + (MAX_OFFSET - offset_seconds)).
Translate-time passes mark carrier expressions (`__dktm(...)` /
`__dktz(...)`), fold arithmetic, and format top-level outputs back to
DuckDB text. Reference: src/common/types/time.cpp, time_tz.hpp.
"""

from __future__ import annotations

import re

from duckdb_spark import state
from duckdb_spark.sql.dialect import (  # noqa: E402 — bound at the END
    # of dialect.py's module body (ordered-pipeline split), so every
    # helper below is already defined when this executes
    _TM_BARE_PREV_OK,
    _balanced,
    _is_word,
    _match_paren,
    _nestcmp_from_tables,
    _next_code,
    _prev_code,
    _split_top_args,
    _tokens,
)


def _parse_time_us(txt: str) -> int:
    tm = re.fullmatch(
        r"(\d{1,2}):(\d{2})(?::(\d{2})(?:\.(\d{1,6}))?)?", txt.strip()
    )
    if not tm:
        raise ValueError(
            f"Conversion Error: Could not convert string '{txt}' to TIME"
        )
    h, mi = int(tm.group(1)), int(tm.group(2))
    s = int(tm.group(3) or 0)
    frac = (tm.group(4) or "").ljust(6, "0")
    if h > 24 or mi > 59 or s > 59:
        raise ValueError(
            f"Conversion Error: Could not convert string '{txt}' to TIME"
        )
    return ((h * 3600 + mi * 60 + s) * 1_000_000) + int(frac)
_TIMETZ_MAX_OFFSET = 57599  # ±15:59:59
_TIMETZ_OFF_MOD = 1 << 24
def _parse_timetz_packed(txt: str) -> int:
    m = re.match(r"^(.*?)([+-]\d{1,4}(?::\d{2})?(?::\d{2})?)?\s*$",
                 txt.strip())
    body, off = m.group(1), m.group(2)
    off_sec = 0
    if off:
        sgn = -1 if off[0] == "-" else 1
        raw = off[1:]
        if ":" in raw:
            parts = [int(p) for p in raw.split(":")]
        elif len(raw) > 2:
            # compact ±HHMM[SS] spelling ('+1559' = +15:59)
            parts = [int(raw[:2]), int(raw[2:4])]
            if len(raw) > 4:
                parts.append(int(raw[4:6]))
        else:
            parts = [int(raw)]
        while len(parts) < 3:
            parts.append(0)
        off_sec = sgn * (parts[0] * 3600 + parts[1] * 60 + parts[2])
    us = _parse_time_us(body)
    return us * _TIMETZ_OFF_MOD + (_TIMETZ_MAX_OFFSET - off_sec)
_TM_SAFE_FNS = {
    "__dktm", "median", "avg", "min", "max", "mode", "first", "last",
    "any_value", "lag", "lead", "pmod", "coalesce", "least", "greatest",
    # ordered first/last rewrite to min_by/max_by (value-preserving in
    # their FIRST arg — guarded below; test_last.test:124 TIMETZ render)
    "min_by", "max_by", "arg_min", "arg_max",
    # windowed mode/holistic macros expand to an element_at over the
    # collected TIME values (test_mode.test:168)
    "element_at", "try_element_at",
}
def _strip_time_markers(s: str) -> str:
    # longest first: "__dktml".replace("__dktm", "") would leave "l"
    return re.sub(r"__dkt[mz][lm]?", "", s)
def _time_fmt_sql(x: str) -> str:
    """µs-since-midnight (BIGINT or interpolated DOUBLE) →
    'HH:MM:SS[.ffffff]' text, trailing fraction zeros trimmed (the
    reference's Time::ToString, common/types/time.cpp)."""
    m = f"CAST(round({x}) AS BIGINT)"
    return (
        f"CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) ELSE "
        f"concat("
        f"lpad(CAST(CAST(floor(({x})/3600000000) AS BIGINT) AS "
        f"STRING), 2, '0'), ':', "
        f"lpad(CAST(CAST(floor(({x})/60000000) AS BIGINT) % 60 AS "
        f"STRING), 2, '0'), ':', "
        f"lpad(CAST(CAST(floor(({x})/1000000) AS BIGINT) % 60 AS "
        f"STRING), 2, '0'), "
        f"CASE WHEN {m} % 1000000 = 0 THEN '' ELSE "
        f"regexp_replace(concat('.', lpad(CAST({m} % 1000000 AS "
        f"STRING), 6, '0')), '0+$', '', 1) END) END"
    )
def _timetz_parse_sql(op: str, lenient: bool = False) -> str:
    """Runtime 'HH:MM:SS[.f][±HH[:MM[:SS]]]' text → packed TIMETZ int64
    (character-class regexes only: no backslash escaping in SQL text).
    `lenient` (TRY_CAST) yields NULL on unparseable text."""
    kw = "TRY_CAST" if lenient else "CAST"
    body = f"regexp_extract(({op}), '^([0-9:.]+)', 1)"
    # element_at: this SQL is emitted mid-translate, so duck 1-based
    # bracket rewrites would still apply to [] subscripts
    us = (
        f"({kw}(element_at(split({body}, ':'), 1) AS BIGINT)"
        f" * 3600000000 + "
        f"{kw}(element_at(split({body}, ':'), 2) AS BIGINT) * 60000000 + "
        f"{kw}(round({kw}(element_at(split({body}, ':'), 3) AS DOUBLE) "
        f"* 1000000) AS BIGINT))"
    )
    sgn = (f"CASE WHEN regexp_extract(({op}), '([+-])[0-9]', 1) = '-' "
           f"THEN -1 ELSE 1 END")
    oh = (f"CAST(coalesce(nullif(regexp_extract(({op}), "
          f"'[+-]([0-9]{{1,2}})', 1), ''), '0') AS BIGINT)")
    # minutes: ':MM' spelling or the compact '±HHMM' form ('+1559')
    om = (f"CAST(coalesce(nullif(regexp_extract(({op}), "
          f"'[+-][0-9]{{1,2}}:([0-9]{{2}})', 1), ''), "
          f"nullif(regexp_extract(({op}), "
          f"'[+-][0-9]{{2}}([0-9]{{2}})', 1), ''), '0') AS BIGINT)")
    os_ = (f"CAST(coalesce(nullif(regexp_extract(({op}), "
           f"'[+-][0-9]{{1,2}}:[0-9]{{2}}:([0-9]{{2}})', 1), ''), "
           f"nullif(regexp_extract(({op}), "
           f"'[+-][0-9]{{4}}([0-9]{{2}})', 1), ''), '0') "
           f"AS BIGINT)")
    off = f"({sgn}) * ({oh} * 3600 + {om} * 60 + {os_})"
    return (
        f"(CASE WHEN ({op}) IS NULL THEN CAST(NULL AS BIGINT) ELSE "
        f"{us} * {_TIMETZ_OFF_MOD} + ({_TIMETZ_MAX_OFFSET} - ({off})) "
        f"END)"
    )
def _timetz_fmt_sql(x: str) -> str:
    """Packed TIMETZ int64 (possibly interpolated DOUBLE) →
    'HH:MM:SS[.ffffff]±HH[:MM[:SS]]' (reference Time::ToString +
    time_tz.hpp decode)."""
    p = f"CAST(round({x}) AS BIGINT)"
    us = f"CAST(floor(({p}) / {_TIMETZ_OFF_MOD}) AS BIGINT)"
    off = f"({_TIMETZ_MAX_OFFSET} - pmod({p}, {_TIMETZ_OFF_MOD}))"
    ah = f"CAST(floor(abs({off}) / 3600) AS BIGINT)"
    am = f"CAST(floor(pmod(abs({off}), 3600) / 60) AS BIGINT)"
    asec = f"pmod(abs({off}), 60)"
    return (
        f"CASE WHEN ({x}) IS NULL THEN CAST(NULL AS STRING) ELSE concat("
        f"{_time_fmt_sql(us)}, "
        f"CASE WHEN {off} < 0 THEN '-' ELSE '+' END, "
        f"lpad(CAST({ah} AS STRING), 2, '0'), "
        f"CASE WHEN {am} = 0 AND {asec} = 0 THEN '' ELSE "
        f"concat(':', lpad(CAST({am} AS STRING), 2, '0')) END, "
        f"CASE WHEN {asec} = 0 THEN '' ELSE "
        f"concat(':', lpad(CAST({asec} AS STRING), 2, '0')) END"
        f") END"
    )
def mark_time_table_columns(sql: str) -> str:
    """Re-attach the translate-time `__dktm` TIME marker to references of
    managed-table columns DECLARED as TIME (types.py maps TIME → BIGINT
    µs-since-midnight, so the Spark schema alone can't distinguish them;
    test_mode.test:146 — `mode(v)` over a TIME column must render
    'HH:MM:SS[.ffffff]'). Wraps qualified `alias.col` refs and bare refs
    in operator/keyword positions; skips function calls and alias
    definitions. The marker is identity once rewrite_time_outputs strips
    it, so over-wrapping inside WHERE/GROUP BY is harmless."""
    st = state.current()
    if (not st.time_cols and not st.timetz_cols) or \
            "SELECT" not in sql.upper():
        return sql
    toks = _tokens(sql)
    tables = _nestcmp_from_tables(toks)
    live: dict[str, set[str]] = {}
    tz_cols: set[str] = set()
    for alias, tbl in tables.items():
        for c in st.time_cols.get(tbl.lower(), ()):
            live.setdefault(c, set()).add(alias)
        for c in st.timetz_cols.get(tbl.lower(), ()):
            live.setdefault(c, set()).add(alias)
            tz_cols.add(c)
    if not live:
        return sql
    i = 0
    changed = False
    while i < len(toks):
        t = toks[i]
        if not re.match(r"^[A-Za-z_`\"]", t):
            i += 1
            continue
        nm = t.strip('`"').lower()
        nxt = _next_code(toks, i + 1)
        pv = _prev_code(toks, i - 1)
        # qualified alias.col
        if nm in tables and nxt < len(toks) and toks[nxt] == "." and \
                (pv < 0 or toks[pv] != "."):
            ci = _next_code(toks, nxt + 1)
            if ci < len(toks) and re.match(r"^[A-Za-z_`\"]", toks[ci]):
                col = toks[ci].strip('`"').lower()
                after = _next_code(toks, ci + 1)
                if col in live and nm in live[col] and not (
                    after < len(toks) and toks[after] in ("(", ".")
                ):
                    ref = "".join(toks[i:ci + 1])
                    mk = "__dktz" if col in tz_cols else "__dktm"
                    ins = _tokens(f"{mk}({ref})")
                    toks[i:ci + 1] = ins
                    changed = True
                    i += len(ins)
                    continue
            i += 1
            continue
        if nm not in live:
            i += 1
            continue
        # bare col: reject qualifier/call/alias-definition positions
        if nxt < len(toks) and toks[nxt] in ("(", "."):
            i += 1
            continue
        if pv >= 0 and toks[pv] == ".":
            i += 1
            continue
        if pv >= 0 and re.match(r"^[A-Za-z_]", toks[pv]) and \
                toks[pv].upper() == "AS":
            i += 1
            continue
        if pv >= 0 and (
            re.match(r"^[A-Za-z_`\"0-9']", toks[pv]) or toks[pv] == ")"
        ) and toks[pv].upper() not in _TM_BARE_PREV_OK:
            # likely an implicit-alias or qualifier position
            i += 1
            continue
        mk = "__dktz" if nm in tz_cols else "__dktm"
        ins = _tokens(f"{mk}({t})")
        toks[i:i + 1] = ins
        changed = True
        i += len(ins)
    return "".join(toks) if changed else sql
def rewrite_time_outputs(sql: str, restore) -> str:
    """TIME render parity. The TIME emulation carries µs-since-midnight
    BIGINTs; fold sites mark them `__dktm(...)`. This pass (a) folds
    marker ± INTERVAL arithmetic into day-wrapped micros at translate
    time, (b) wraps top-level SELECT items that ARE TIME values (the
    marker itself, or a value-preserving aggregate over one) in a text
    formatter so they render 'HH:MM:SS[.ffffff]' like the reference
    (test_scalar_aggr.test:42, test_mode.test:146), and (c) strips the
    remaining markers so every other use stays a plain BIGINT. The unit
    of `date_part('<unit>', …)` is read through `restore`."""
    if "__dktm" not in sql and "__dktz" not in sql:
        return sql
    toks = _tokens(sql)
    # (a) __dktm(X) ± INTERVAL … → __dktm(pmod(X ± iv_us, day))
    i = 0
    while i < len(toks):
        t = toks[i]
        if not (re.match(r"^[A-Za-z_]", t) and t == "__dktm"):
            i += 1
            continue
        op = _next_code(toks, i + 1)
        close = _match_paren(toks, op) if op < len(toks) and \
            toks[op] == "(" else -1
        if close < 0:
            i += 1
            continue
        sgn = _next_code(toks, close + 1)
        if not (sgn < len(toks) and toks[sgn] in ("+", "-")):
            i += 1
            continue
        nx = _next_code(toks, sgn + 1)
        j = -1
        if nx < len(toks) and toks[nx] == "(":
            c2 = _match_paren(toks, nx)
            if c2 > 0 and any(
                re.match(r"^[A-Za-z_]", t2) and t2.upper() == "INTERVAL"
                for t2 in toks[nx + 1:c2]
            ):
                j = c2
        elif nx < len(toks) and re.match(r"^[A-Za-z_]", toks[nx]) and \
                toks[nx].upper() == "INTERVAL":
            j = _next_code(toks, nx + 1)
            if j < len(toks) and toks[j] == "(":
                c2 = _match_paren(toks, j)
                j = _next_code(toks, c2 + 1) if c2 > 0 else -1
            elif j < len(toks):
                j = _next_code(toks, j + 1)
            if not (0 <= j < len(toks)
                    and re.match(r"^[A-Za-z_']", toks[j])):
                j = -1
        if j < 0:
            i += 1
            continue
        base = "".join(toks[op + 1:close])
        iv = "".join(toks[nx:j + 1])
        sign = toks[sgn]
        ivm = (f"unix_micros(CAST('1970-01-01 00:00:00' AS TIMESTAMP) "
               f"+ ({iv}))")
        toks[i:j + 1] = _tokens(
            f"__dktm(pmod(({base}) {sign} {ivm}, 86400000000))")
        i += 1
    # (a2) unit extraction over TIME markers: hour(t) / date_part('h', t)
    # compute from micros-of-day (reference time_part functions)
    _UNIT_EXPR = {
        "hour": "CAST(floor({x}/3600000000) AS BIGINT) % 24",
        "minute": "CAST(floor({x}/60000000) AS BIGINT) % 60",
        "second": "CAST(floor({x}/1000000) AS BIGINT) % 60",
        "millisecond": "CAST(floor({x}/1000) AS BIGINT) % 60000",
        "microsecond": "CAST(({x}) AS BIGINT) % 60000000",
        "epoch": "CAST(({x}) AS DOUBLE) / 1000000",
    }
    i = 0
    while i < len(toks):
        t = toks[i]
        if not re.match(r"^[A-Za-z_]", t):
            i += 1
            continue
        low = t.lower()
        op = _next_code(toks, i + 1)
        if op >= len(toks) or toks[op] != "(":
            i += 1
            continue
        close = _match_paren(toks, op)
        if close < 0:
            i += 1
            continue
        inner = toks[op + 1:close]
        unit = None
        argtoks = None
        if low in ("date_part", "datepart") :
            args = _split_top_args(inner)
            lit = restore(args[0].strip()).lower() if len(args) == 2 else ""
            if re.fullmatch(r"'(\w+)s?'", lit):
                u = lit.strip("'").rstrip("s")
                if u in _UNIT_EXPR and "__dktm" in args[1]:
                    unit, argtoks = u, args[1]
        elif low.rstrip("s") in _UNIT_EXPR:
            a = "".join(inner)
            if "__dktm" in a:
                unit, argtoks = low.rstrip("s"), a
        if unit is not None:
            x = argtoks.replace("__dktm", "")
            toks[i:close + 1] = _tokens(
                "(" + _UNIT_EXPR[unit].format(x=f"({x})") + ")")
            i += 1
            continue
        i += 1
    # (b) wrap TIME-valued top-level select items in the text formatter —
    # EVERY depth-0 SELECT branch of a set operation (test_scalar_aggr:42:
    # the TIME values may sit in the second UNION branch), processed in
    # reverse so earlier token indices stay valid
    sel_positions = []
    depth = 0
    for k, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and re.match(r"^[A-Za-z_]", t) and \
                t.upper() == "SELECT":
            sel_positions.append(k)
    for sel_at in reversed(sel_positions):
        fr = len(toks)
        depth = 0
        for k in range(sel_at + 1, len(toks)):
            t = toks[k]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and re.match(r"^[A-Za-z_]", t) and t.upper() in (
                "FROM", "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
                "UNION", "EXCEPT", "INTERSECT", "QUALIFY", "WINDOW",
            ):
                fr = k
                break
        items = []
        st = _next_code(toks, sel_at + 1)
        if st < fr and re.match(r"^[A-Za-z_]", toks[st]) and \
                toks[st].upper() == "DISTINCT":
            st = _next_code(toks, st + 1)
        depth = 0
        for k in range(st, fr):
            t = toks[k]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif t == "," and depth == 0:
                items.append((st, k))
                st = k + 1
        items.append((st, fr))
        for a, b in reversed(items):
            text = "".join(toks[a:b]).strip()
            if "__dktm" not in text and "__dktz" not in text:
                continue
            malias = re.search(r"(?is)\s+AS\s+([A-Za-z_]\w*)\s*$", text)
            expr = text[:malias.start()] if malias else text
            alias = f" AS {malias.group(1)}" if malias else ""
            body = expr.strip()
            while body.startswith("(") and body.endswith(")") and \
                    _balanced(body[1:-1]):
                body = body[1:-1].strip()
            fm = re.match(r"^([A-Za-z_]\w*)\s*\(", body)
            low0 = fm.group(1).lower() if fm else ""
            if not (fm and body.endswith(")") and (
                low0 in _TM_SAFE_FNS or re.fullmatch(
                    r"__dkt[mz][lm]?", low0)
            )):
                continue
            if low0 in ("min_by", "max_by", "arg_min", "arg_max"):
                # value-preserving only in the FIRST argument; a marked
                # KEY with an unmarked value must not format the value
                bt0 = _tokens(body)
                p00 = _next_code(bt0, 1)
                c00 = _match_paren(bt0, p00) if p00 < len(bt0) and \
                    bt0[p00] == "(" else -1
                if c00 < 0:
                    continue
                a00 = _split_top_args(bt0[p00 + 1:c00])
                first_arg = a00[0] if a00 else ""
                if "__dktm" not in first_arg and "__dktz" not in first_arg:
                    continue
            # the call must span the WHOLE item (`__dktm(a) > __dktm(b)`
            # is a boolean, not a TIME); a trailing OVER (spec) window
            # clause is part of the call (test_mode.test:168)
            bt = _tokens(body)
            p0 = _next_code(bt, 1)
            if bt and bt[0] == fm.group(1):
                c0 = _match_paren(bt, p0) if p0 < len(bt) and \
                    bt[p0] == "(" else -1
                if c0 < 0:
                    continue
                rest = _next_code(bt, c0 + 1)
                if rest < len(bt):
                    if not _is_word(bt[rest], "OVER"):
                        continue
                    ov = _next_code(bt, rest + 1)
                    oc = _match_paren(bt, ov) if ov < len(bt) and \
                        bt[ov] == "(" else -1
                    if oc < 0 or _next_code(bt, oc + 1) < len(bt):
                        continue
            tz = "__dktz" in text
            fmt = _timetz_fmt_sql if tz else _time_fmt_sql
            if low0 in ("__dktml", "__dktzl"):
                # LIST of TIME micros (list-form quantiles): format each
                inner = _strip_time_markers(body[len(low0):])
                repl = f"transform({inner}, __tv -> {fmt('__tv')})"
            elif low0 in ("__dktmm", "__dktzm"):
                # MAP with TIME-micros keys (histogram): format the keys
                inner = _strip_time_markers(body[len(low0):])
                repl = (f"transform_keys({inner}, (__tk, __tv) -> "
                        f"{fmt('__tk')})")
            else:
                repl = fmt(_strip_time_markers(expr))
            toks[a:b] = _tokens(" " + repl + alias + " ")
    out = _strip_time_markers("".join(toks))
    return out
