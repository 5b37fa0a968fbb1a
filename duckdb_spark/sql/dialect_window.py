"""Window-clause rewrite passes split out of dialect.py (VERDICT r08/r09
order: ordered-pipeline modules). Frame rewrites (GROUPS/EXCLUDE/empty/
expression bounds), named-window inlining, DISTINCT window aggregates,
windowed ordered-aggregate macros. Invoked from dialect.translate's
pass list; helpers are imported back from dialect at its module end."""

from __future__ import annotations

import re

from duckdb_spark.sql.dialect import (  # noqa: E402 — bound at the
    # END of dialect.py's module body (ordered-pipeline split), so
    # every helper below is already defined when this executes
    _INTERVAL_UNITS,
    _NEED_ORDER_WINFNS,
    _collect_select_aliases,
    _depth_at,
    _has_bare_unnest,
    _is_word,
    _iter_depth,
    _keyed_sort,
    _macro_skew_kurt,
    _match_paren,
    _match_paren_rev,
    _next_code,
    _order_terms,
    _prev_code,
    _qdisc_pick,
    _scope_span,
    _split_top_args,
    _sql_scalar,
    _terms_cmp,
    _tokens,
    _top_level_index,
    _try_const_eval,
)


def _rewrite_groups_frames(toks: list[str]) -> list[str]:
    """GROUPS frames in SQL text (reference window_boundaries_state.cpp
    GROUPS mode; SURVEY §2.5): Spark has no GROUPS frame unit, but a
    GROUPS offset over the window's ORDER BY is exactly a RANGE offset
    over that ordering's dense_rank. Rewrite

        agg(x) OVER (PARTITION BY p ORDER BY o GROUPS <frame>) … FROM src

    to

        agg(x) OVER (PARTITION BY p ORDER BY __grkN RANGE <frame>) …
        FROM (SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY o)
              AS __grkN … FROM src) __grt

    Single-SELECT statements without GROUP BY only — the window
    input set is then the WHERE-filtered source, which moves into the
    derived table intact."""
    if not any(_is_word(t, "GROUPS") for t in toks):
        return toks
    out = list(toks)
    keys: dict[tuple[str, str], str] = {}  # (partition, order) -> alias
    i = 0
    changed = False
    while i < len(out):
        if not _is_word(out[i], "OVER"):
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
        spec = out[op + 1:oc]
        g = _top_level_index(spec, 0, len(spec), "GROUPS")
        if g < 0:
            i = oc + 1
            continue
        pp = _top_level_index(spec, 0, len(spec), "PARTITION")
        oo = _top_level_index(spec, 0, len(spec), "ORDER")
        part = "".join(
            spec[_next_code(spec, pp + 1) + 1:oo if oo >= 0 else g]
        ).strip() if pp >= 0 else ""
        order = "".join(
            spec[_next_code(spec, oo + 1) + 1:g]
        ).strip() if oo >= 0 else ""
        if not order:
            # GROUPS without ORDER BY: every row is one peer group, so
            # any GROUPS frame covers the whole partition — drop the
            # frame (reference window_boundaries_state.cpp peer groups)
            out[op + 1:oc] = _tokens(
                f"PARTITION BY {part}" if part else ""
            )
            changed = True
            i = op + 1
            continue
        tail = "".join(spec[g + 1:]).strip()
        k = (part, order)
        if k not in keys:
            keys[k] = f"__grk{len(keys)}"
        alias = keys[k]
        new_spec = (
            (f"PARTITION BY {part} " if part else "")
            + f"ORDER BY {alias} RANGE {tail}"
        )
        out[op + 1:oc] = _tokens(new_spec)
        changed = True
        i = op + 1
    if not changed:
        return toks
    # wrap the source segment with the dense_rank computations
    sel = _top_level_index(out, 0, len(out), "SELECT")
    frm = _top_level_index(out, sel + 1, len(out), "FROM")
    if frm < 0 or _top_level_index(out, frm, len(out), "GROUP") >= 0:
        return toks  # unsupported shape: leave original (will error)
    end = len(out)
    for stop in ("HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "OFFSET"):
        p = _top_level_index(out, frm + 1, len(out), stop)
        if p >= 0:
            end = min(end, p)
    src = "".join(out[_next_code(out, frm + 1):end]).strip().rstrip(";")
    ranks = ", ".join(
        f"dense_rank() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {o}) AS {a}"
        for (p, o), a in keys.items()
    )
    if not ranks:
        # GROUPS frame without ORDER BY keys needed no helpers — leave
        # the FROM untouched (test_streaming_window.test:333)
        return out
    out[frm:end] = _tokens(f"FROM (SELECT *, {ranks} FROM {src}) __grt ")
    return out


_EXCLUDE_NOT_SUPPORTED = {"LEAD", "LAG", "FILL"}


_EXCLUDE_RANKING = {
    "ROW_NUMBER", "RANK", "DENSE_RANK", "PERCENT_RANK", "CUME_DIST", "NTILE",
}


def _find_exclude_in_spec(spec: list[str]):
    """Top-level EXCLUDE clause of a window-spec token list →
    (start, mode, end) with mode in {'NO OTHERS','CURRENT ROW','GROUP',
    'TIES'}; None when absent."""
    e = _top_level_index(spec, 0, len(spec), "EXCLUDE")
    if e < 0:
        return None
    m1 = _next_code(spec, e + 1)
    w1 = spec[m1].upper() if m1 < len(spec) else ""
    if w1 in ("NO", "CURRENT"):
        m2 = _next_code(spec, m1 + 1)
        w2 = spec[m2].upper() if m2 < len(spec) else ""
        if w1 == "NO" and w2 in ("OTHERS", "OTHER"):
            return (e, "NO OTHERS", m2 + 1)
        if w1 == "CURRENT" and w2 == "ROW":
            return (e, "CURRENT ROW", m2 + 1)
        return None
    if w1 in ("GROUP", "TIES"):
        return (e, w1, m1 + 1)
    return None


def _inline_named_windows(toks: list[str]) -> list[str]:
    """Inline `WINDOW w AS (spec)` definitions into their `OVER w` use
    sites and drop the WINDOW clause — only called when some spec carries
    an EXCLUDE modifier, whose rewrite is per-use-site."""
    w = _top_level_index(toks, 0, len(toks), "WINDOW")
    if w < 0:
        return toks
    defs: dict[str, list[str]] = {}
    i = _next_code(toks, w + 1)
    end = w
    while i < len(toks):
        name = toks[i]
        a = _next_code(toks, i + 1)
        if a >= len(toks) or not _is_word(toks[a], "AS"):
            break
        op = _next_code(toks, a + 1)
        if op >= len(toks) or toks[op] != "(":
            break
        oc = _match_paren(toks, op)
        if oc < 0:
            break
        defs[name.lower()] = toks[op + 1:oc]
        end = oc + 1
        c = _next_code(toks, oc + 1)
        if c < len(toks) and toks[c] == ",":
            i = _next_code(toks, c + 1)
            continue
        break
    if not defs or not any(
        _find_exclude_in_spec(s) for s in defs.values()
    ):
        return toks
    out: list[str] = []
    i = 0
    while i < len(toks):
        if w <= i < end:  # excise the WINDOW clause
            i += 1
            continue
        if _is_word(toks[i], "OVER"):
            n = _next_code(toks, i + 1)
            if n < len(toks) and toks[n].lower() in defs:
                out.append("OVER")
                out.append(" ")
                out.append("(")
                out.extend(defs[toks[n].lower()])
                out.append(")")
                i = n + 1
                continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_exclude_frames(toks: list[str]) -> list[str]:
    """EXCLUDE window-frame modifier in SQL text (reference
    window_expression.hpp:18-30 WindowExcludeMode; SURVEY §2.5). Spark has
    no EXCLUDE syntax. Strategy per use site `fn(args) OVER (spec EXCLUDE
    mode)`:

    - EXCLUDE NO OTHERS            → drop the modifier (no-op).
    - ranking fns (row_number, …)  → drop modifier AND frame (both are
      ignored by ranking functions; Spark rejects explicit frames there).
    - lead/lag/fill                → Binder Error (reference parity).
    - aggregates / value fns       → collect the frame into an array of
      (row_number, dense_rank, value) structs via collect_list OVER the
      same frame, filter out the excluded rows with a lambda against the
      current row's helper columns, and re-aggregate with array
      higher-order functions. Helper columns are added by wrapping the
      FROM segment, like the GROUPS rewrite above. One window pass, no
      extra shuffle; O(frame) list per row, which matches the reference's
      own per-frame exclusion scan (window_aggregator.cpp).
    """
    if not any(_is_word(t, "EXCLUDE") for t in toks):
        return toks
    toks = _inline_named_windows(toks)
    out = list(toks)
    keys: dict[tuple[str, str], tuple[str, str]] = {}
    need_wrap = False
    i = 0
    while i < len(out):
        if not _is_word(out[i], "OVER"):
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
        spec = out[op + 1:oc]
        exc = _find_exclude_in_spec(spec)
        if exc is None:
            i = oc + 1
            continue
        e_idx, mode, e_end = exc
        # locate `fn ( args ) [FILTER ( WHERE f )]` before OVER
        j = _prev_code(out, i - 1)
        filt_cond = None
        fn_idx = -1
        args: list[str] = []
        if j >= 0 and out[j] == ")":
            po = _match_paren_rev(out, j)
            k = _prev_code(out, po - 1)
            if k >= 0 and _is_word(out[k], "FILTER"):
                grp = out[po + 1:j]
                wh = _top_level_index(grp, 0, len(grp), "WHERE")
                filt_cond = "".join(grp[wh + 1:]).strip() if wh >= 0 \
                    else "".join(grp).strip()
                j2 = _prev_code(out, k - 1)
                if j2 >= 0 and out[j2] == ")":
                    po2 = _match_paren_rev(out, j2)
                    args = out[po2 + 1:j2]
                    fn_idx = _prev_code(out, po2 - 1)
            else:
                args = out[po + 1:j]
                fn_idx = _prev_code(out, po - 1)
        fn = out[fn_idx].upper() if fn_idx >= 0 and re.match(
            r"^[A-Za-z_]", out[fn_idx]) else ""
        if fn in _EXCLUDE_RANKING and mode != "NO OTHERS" and any(
            _is_word(a, "ORDER") for a in args
        ):
            # reference window binder: the ORDERED-argument ranking form
            # rejects EXCLUDE (window/test_invalid_window.test); the
            # plain form ignores the frame entirely (test_window_rows)
            raise ValueError(
                "Binder Error: EXCLUDE is not supported for the window "
                "function"
            )
        if mode == "NO OTHERS" or fn in _EXCLUDE_RANKING:
            fr = len(spec)
            for wd in ("ROWS", "RANGE", "GROUPS"):
                x = _top_level_index(spec, 0, len(spec), wd)
                if x >= 0:
                    fr = min(fr, x)
            if fn in _EXCLUDE_RANKING:
                # ranking fns ignore frames; Spark rejects explicit ones
                out[op + 1:oc] = spec[:min(fr, e_idx)]
            else:  # NO OTHERS on an aggregate: modifier is a no-op
                out[op + 1:oc] = spec[:e_idx] + spec[e_end:]
            i = op + 1
            continue
        if fn in _EXCLUDE_NOT_SUPPORTED or not fn:
            raise ValueError(
                "Binder Error: EXCLUDE is not supported for the window "
                f"function \"{fn.lower() or '?'}\""
            )
        # ---- general exclusion via frame collection ----
        pp = _top_level_index(spec, 0, len(spec), "PARTITION")
        oo = _top_level_index(spec, 0, len(spec), "ORDER")
        fr = -1
        for wd in ("ROWS", "RANGE"):
            x = _top_level_index(spec, 0, len(spec), wd)
            if x >= 0:
                fr = x if fr < 0 else min(fr, x)
        part = "".join(
            spec[_next_code(spec, pp + 1) + 1:
                 oo if oo >= 0 else (fr if fr >= 0 else e_idx)]
        ).strip() if pp >= 0 else ""
        order = "".join(
            spec[_next_code(spec, oo + 1) + 1:fr if fr >= 0 else e_idx]
        ).strip() if oo >= 0 else ""
        frame = "".join(spec[fr:e_idx]).strip() if fr >= 0 else ""
        k = (part, order)
        if k not in keys:
            n = len(keys)
            keys[k] = (f"__xrn{n}", f"__xdr{n}")
        rn, dr = keys[k]
        base_win = (
            (f"PARTITION BY {part} " if part else "")
            + (f"ORDER BY {order} " if order else "")
            + frame
        ).strip()
        keep = {
            "CURRENT ROW": f"__e.r <> {rn}",
            "GROUP": f"__e.d <> {dr}",
            "TIES": f"(__e.d <> {dr} OR __e.r = {rn})",
        }[mode]
        # args: optional DISTINCT, first expr, optional extra args,
        # optional inner ORDER BY
        d0 = _next_code(args, 0)
        distinct = d0 < len(args) and _is_word(args[d0], "DISTINCT")
        if distinct:
            args = args[d0 + 1:]
        io = _top_level_index(args, 0, len(args), "ORDER")
        inner_order = None
        if io >= 0:
            inner_order = "".join(
                args[_next_code(args, io + 1) + 1:]).strip()
            args = args[:io]
        arg_parts, depth, cur = [], 0, []
        for t in args:
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            if t == "," and depth == 0:
                arg_parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(t)
        if "".join(cur).strip():
            arg_parts.append("".join(cur).strip())
        arg0 = arg_parts[0] if arg_parts else "*"
        star = arg0 == "*"
        fcond = (f"COALESCE(CAST(({filt_cond}) AS BOOLEAN), false)"
                 if filt_cond else "true")
        kfield = f", 'k', ({inner_order.split()[0] if inner_order else '0'})"
        if inner_order:
            ik = re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", inner_order).strip()
            ik = re.sub(r"(?i)\s+NULLS\s+(FIRST|LAST)$", "", ik).strip()
            kfield = f", 'k', ({ik})"
        struct = (
            f"named_struct('r', {rn}, 'd', {dr}, "
            f"'v', ({'1' if star else arg0}), 'f', {fcond}{kfield})"
        )
        farr = (
            f"filter(collect_list({struct}) OVER ({base_win}), "
            f"__e -> ({keep}) AND __e.f)"
        )
        if inner_order:
            desc = bool(re.search(r"(?i)\bDESC\s*(NULLS\s+\w+\s*)?$",
                                  inner_order))
            lo, hi = ("1", "-1") if desc else ("-1", "1")
            farr = (
                f"array_sort({farr}, (l, r) -> CASE "
                f"WHEN l.k IS NULL AND r.k IS NULL THEN 0 "
                f"WHEN l.k IS NULL THEN 1 WHEN r.k IS NULL THEN -1 "
                f"WHEN l.k < r.k THEN {lo} WHEN l.k > r.k THEN {hi} "
                f"ELSE 0 END)"
            )
        va = f"transform(filter({farr}, __e -> __e.v IS NOT NULL), __e -> __e.v)"
        if distinct:
            va = f"array_distinct({va})"
        vall = f"transform({farr}, __e -> __e.v)"
        if fn == "COUNT":
            expr = f"size({farr})" if star else f"size({va})"
        elif fn == "SUM":
            expr = (f"aggregate({va}, try_element_at({va}, 1) - "
                    f"try_element_at({va}, 1), (__a, __x) -> __a + __x)")
        elif fn == "MIN":
            expr = f"array_min({va})"
        elif fn == "MAX":
            expr = f"array_max({va})"
        elif fn == "AVG":
            expr = (f"CAST(aggregate({va}, CAST(try_element_at({va}, 1) - "
                    f"try_element_at({va}, 1) AS DOUBLE), "
                    f"(__a, __x) -> __a + __x) / size({va}) AS DOUBLE)")
        elif fn in ("FIRST_VALUE", "FIRST", "ANY_VALUE"):
            expr = f"try_element_at({vall}, 1)"
        elif fn in ("LAST_VALUE", "LAST"):
            expr = (f"CASE WHEN size({vall}) = 0 THEN NULL "
                    f"ELSE element_at({vall}, size({vall})) END")
        elif fn == "NTH_VALUE":
            nth = arg_parts[1] if len(arg_parts) > 1 else "1"
            expr = (f"CASE WHEN CAST({nth} AS INT) < 1 THEN NULL "
                    f"ELSE try_element_at({vall}, CAST({nth} AS INT)) END")
        else:
            raise ValueError(
                "Binder Error: EXCLUDE is not supported for the window "
                f"function \"{fn.lower()}\""
            )
        out[fn_idx:oc + 1] = _tokens(f"({expr})")
        need_wrap = True
        i = fn_idx + 1
    if not need_wrap:
        return out
    # wrap the FROM segment with the helper row_number/dense_rank columns
    sel = _top_level_index(out, 0, len(out), "SELECT")
    frm = _top_level_index(out, sel + 1, len(out), "FROM")
    if frm < 0 or _top_level_index(out, frm, len(out), "GROUP") >= 0:
        return toks  # unsupported shape: leave original (will error)
    end = len(out)
    for stop in ("HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "OFFSET"):
        p = _top_level_index(out, frm + 1, len(out), stop)
        if p >= 0:
            end = min(end, p)
    src = "".join(out[_next_code(out, frm + 1):end]).strip().rstrip(";")
    helpers = ", ".join(
        f"row_number() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {o or '1'}) AS {rn}, "
        f"dense_rank() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {o or '1'}) AS {dr}"
        for (p, o), (rn, dr) in keys.items()
    )
    out[frm:end] = _tokens(f"FROM (SELECT *, {helpers} FROM {src}) __xrt ")
    return out


def _rewrite_frame_bound_exprs(toks: list[str]) -> list[str]:
    """Non-literal window frame bounds (reference
    src/function/window/window_boundaries_state.cpp: START_EXPR/END_EXPR
    are full expressions; SURVEY §2.5). Spark's parser only accepts
    literals. Three cases:

    - UNNEST outside a subquery in a bound, a lead/lag offset/default, or
      a window FILTER → Binder Error 'UNNEST not supported here'
      (reference parity, test_window_unnest_error.test).
    - row-independent expression (scalar subquery, constant arithmetic) →
      evaluated once via the active session and substituted as a literal.
      Also applied to non-literal lead/lag offset/default args.
    - row-DEPENDENT bound (e.g. `mod(b, 11) PRECEDING`) → the frame is
      materialized per row: collect (row_number, value) structs over the
      unbounded partition frame once per partition, then each row filters
      to `__xrn - start .. __xrn + end` with array HOFs. O(partition) per
      row — matches the reference's per-row boundary search cost class;
      supported for SUM/AVG/COUNT/MIN/MAX.
    """
    if not any(_is_word(t, "OVER") for t in toks):
        return toks
    out = list(toks)
    keys: dict[tuple[str, str], str] = {}
    need_wrap = False
    i = 0
    while i < len(out):
        # lead/lag offset & default folding / UNNEST check / row-varying
        # offsets (reference window_value_function.cpp: LEAD/LAG offsets
        # are full expressions evaluated per row)
        if _is_word(out[i], "LEAD") or _is_word(out[i], "LAG"):
            is_lag = _is_word(out[i], "LAG")
            j = _next_code(out, i + 1)
            if j < len(out) and out[j] == "(":
                jc = _match_paren(out, j)
                ov = _next_code(out, jc + 1) if jc > 0 else -1
                is_win = ov >= 0 and ov < len(out) and \
                    _is_word(out[ov], "OVER")
                if is_win:
                    body = out[j + 1:jc]
                    if _has_bare_unnest(body):
                        raise ValueError(
                            "Binder Error: UNNEST not supported here")
                    # ordered-argument form `lead(x, o, d ORDER BY …)`:
                    # the inner ORDER BY is handled by the ordered-window
                    # pass — split args only up to it
                    io2 = _top_level_index(body, 0, len(body), "ORDER")
                    if io2 >= 0:
                        body = body[:io2]
                    parts, depth, cur, spans = [], 0, [], []
                    st = 0
                    for k2, t2 in enumerate(body):
                        if t2 == "(":
                            depth += 1
                        elif t2 == ")":
                            depth -= 1
                        if t2 == "," and depth == 0:
                            parts.append("".join(cur).strip())
                            spans.append((st, k2))
                            cur, st = [], k2 + 1
                        else:
                            cur.append(t2)
                    parts.append("".join(cur).strip())
                    spans.append((st, len(body)))
                    if len(parts) > 3:
                        raise ValueError(
                            "Binder Error: No function matches the given "
                            "name and argument types")
                    changed_args = False
                    var_offset = False
                    for ai in range(len(parts) - 1, 0, -1):
                        p = parts[ai]
                        if re.fullmatch(r"-?\s*\d+|NULL", p, re.I):
                            continue
                        if _has_bare_unnest(_tokens(p)):
                            raise ValueError(
                                "Binder Error: UNNEST not supported here")
                        v = _try_const_eval(p)
                        if v is not None:
                            lo, hi = spans[ai]
                            body[lo:hi] = [" ", _sql_scalar(v), " "]
                            changed_args = True
                        elif ai == 1:
                            var_offset = True
                    if var_offset and len(parts) >= 2:
                        # per-row offset: look up the target row by its
                        # row_number in the collected partition
                        op2 = _next_code(out, ov + 1)
                        oc2 = _match_paren(out, op2) if (
                            op2 < len(out) and out[op2] == "(") else -1
                        if oc2 > 0:
                            spec2 = out[op2 + 1:oc2]
                            pp = _top_level_index(
                                spec2, 0, len(spec2), "PARTITION")
                            oo = _top_level_index(
                                spec2, 0, len(spec2), "ORDER")
                            if oo >= 0:
                                fr2 = len(spec2)
                                for wd in ("ROWS", "RANGE"):
                                    x = _top_level_index(
                                        spec2, 0, len(spec2), wd)
                                    if x >= 0:
                                        fr2 = min(fr2, x)
                                part = "".join(
                                    spec2[_next_code(spec2, pp + 1) + 1:oo]
                                ).strip() if pp >= 0 else ""
                                order = "".join(
                                    spec2[_next_code(spec2, oo + 1) + 1:fr2]
                                ).strip()
                                k = (part, order)
                                if k not in keys:
                                    keys[k] = f"__fbr{len(keys)}"
                                rn = keys[k]
                                sign = "-" if is_lag else "+"
                                target = f"{rn} {sign} ({parts[1]})"
                                dflt = parts[2] if len(parts) > 2 else "NULL"
                                base = (
                                    (f"PARTITION BY {part} " if part else "")
                                    + f"ORDER BY {order} ROWS BETWEEN "
                                    "UNBOUNDED PRECEDING AND UNBOUNDED "
                                    "FOLLOWING"
                                )
                                flt = (
                                    f"filter(collect_list(named_struct("
                                    f"'r', {rn}, 'v', ({parts[0]}))) OVER "
                                    f"({base}), __e -> __e.r = ({target}))"
                                )
                                expr = (
                                    # NULL offset → NULL, NOT the default
                                    # (reference window_value_function.cpp;
                                    # test_lead_lag.test:152)
                                    f"CASE WHEN ({parts[1]}) IS NULL THEN "
                                    f"NULL WHEN size({flt}) = 0 THEN "
                                    f"({dflt}) ELSE try_element_at("
                                    f"transform({flt}, __e -> __e.v), 1) "
                                    f"END"
                                )
                                out[i:oc2 + 1] = _tokens(f"({expr})")
                                need_wrap = True
                                continue
                    if changed_args:
                        out[j + 1:j + 1 + (io2 if io2 >= 0 else jc - j - 1)] \
                            = body
        if not _is_word(out[i], "OVER"):
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
        spec = out[op + 1:oc]
        fr = -1
        for wd in ("ROWS", "RANGE"):
            x = _top_level_index(spec, 0, len(spec), wd)
            if x >= 0:
                fr = x if fr < 0 else min(fr, x)
        if fr < 0:
            i = oc + 1
            continue
        # parse bounds: [BETWEEN] b1 [AND b2] — split at top-level AND
        # first (CURRENT ROW / UNBOUNDED bounds carry no P/F keyword)
        b = _next_code(spec, fr + 1)
        two = b < len(spec) and _is_word(spec[b], "BETWEEN")
        start = _next_code(spec, b + 1) if two else b
        if two:
            a = _top_level_index(spec, start, len(spec), "AND")
            if a < 0:
                i = oc + 1
                continue
            raw = [(start, a), (_next_code(spec, a + 1), len(spec))]
        else:
            raw = [(start, len(spec))]
        bounds: list[tuple[int, int, str]] = []  # expr span + bound kind
        for lo0, hi0 in raw:
            stops = [p for wd in ("PRECEDING", "FOLLOWING")
                     for p in (_top_level_index(spec, lo0, hi0, wd),)
                     if 0 <= p]
            if stops:
                p1 = min(stops)
                bounds.append((lo0, p1, spec[p1].upper()))
            else:  # CURRENT ROW / malformed: literal, leave untouched
                bounds.append((lo0, lo0, "CURRENT"))
        variable: list[tuple[str, str]] = []
        folded = False
        for lo, hi, kind in reversed(bounds):
            expr_toks = spec[lo:hi]
            text = "".join(expr_toks).strip()
            if re.fullmatch(
                r"(?is)\d+|UNBOUNDED|CURRENT\s*|INTERVAL\s+.*|'[^']*'"
                r"(?:\s*(?:::\s*\w+|DAY|DAYS|HOUR|HOURS|MINUTE|MINUTES|"
                r"SECOND|SECONDS|MONTH|MONTHS|YEAR|YEARS))?", text,
            ) or not text:
                variable.insert(0, (text, kind))
                continue
            if _has_bare_unnest(expr_toks):
                raise ValueError("Binder Error: UNNEST not supported here")
            v = _try_const_eval(text)
            if v is not None and not isinstance(v, str):
                spec[lo:hi] = [str(v), " "]
                folded = True
                variable.insert(0, (str(v), kind))
            else:
                variable.insert(0, ("__VAR__" + text, kind))
        if folded:
            out[op + 1:oc] = spec
            oc = _match_paren(out, op)
            spec = out[op + 1:oc]
        if not any(t.startswith("__VAR__") for t, _ in variable):
            i = oc + 1
            continue
        # ---- row-dependent bound: materialize the frame per row ----
        j = _prev_code(out, i - 1)
        fn_idx = -1
        args: list[str] = []
        if j >= 0 and out[j] == ")":
            po = _match_paren_rev(out, j)
            args = out[po + 1:j]
            fn_idx = _prev_code(out, po - 1)
        fn = out[fn_idx].upper() if fn_idx >= 0 and re.match(
            r"^[A-Za-z_]", out[fn_idx]) else ""
        if fn not in ("SUM", "AVG", "COUNT", "MIN", "MAX", "MEDIAN",
                      "QUANTILE_DISC", "QUANTILE", "QUANTILE_CONT"):
            i = oc + 1
            continue  # leave: Spark raises 'must be a literal'
        pp = _top_level_index(spec, 0, len(spec), "PARTITION")
        oo = _top_level_index(spec, 0, len(spec), "ORDER")
        fr = _top_level_index(spec, 0, len(spec), "ROWS")
        if fr < 0 or oo < 0:
            i = oc + 1
            continue  # only ROWS with ORDER BY: offsets are row positions
        part = "".join(
            spec[_next_code(spec, pp + 1) + 1:oo]).strip() if pp >= 0 else ""
        order = "".join(spec[_next_code(spec, oo + 1) + 1:fr]).strip()
        k = (part, order)
        if k not in keys:
            keys[k] = f"__fbr{len(keys)}"
        rn = keys[k]
        conds = []
        for bi, (text, kind) in enumerate(variable):
            e = text[7:] if text.startswith("__VAR__") else text
            if e.strip().upper() == "UNBOUNDED":
                continue  # no constraint on this side
            if kind == "CURRENT" or not e.strip():
                edge = rn
            else:
                sign = "-" if kind == "PRECEDING" else "+"
                edge = f"{rn} {sign} ({e})"
            conds.append(f"__e.r >= {edge}" if bi == 0
                         else f"__e.r <= {edge}")
        if len(variable) == 1:  # `ROWS n PRECEDING`: frame ends at current
            conds.append(f"__e.r <= {rn}")
        keep = " AND ".join(conds) or "true"
        arg0 = "".join(args).strip() or "1"
        qfrac = None
        if fn in ("QUANTILE_DISC", "QUANTILE", "QUANTILE_CONT"):
            aparts = _split_top_args(_tokens(arg0))
            if len(aparts) != 2:
                i = oc + 1
                continue
            arg0, qfrac = aparts[0].strip(), aparts[1].strip()
        star = arg0 == "*"
        base = (
            (f"PARTITION BY {part} " if part else "")
            + f"ORDER BY {order} ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "UNBOUNDED FOLLOWING"
        )
        lst = (f"filter(collect_list(named_struct('r', {rn}, 'v', "
               f"({'1' if star else arg0}))) OVER ({base}), "
               f"__e -> {keep})")
        va = (f"transform(filter({lst}, __e -> __e.v IS NOT NULL), "
              f"__e -> __e.v)")
        if fn == "COUNT":
            expr = f"size({lst})" if star else f"size({va})"
        elif fn == "SUM":
            expr = (f"aggregate({va}, try_element_at({va}, 1) - "
                    f"try_element_at({va}, 1), (__a, __x) -> __a + __x)")
        elif fn == "AVG":
            expr = (f"CAST(aggregate({va}, CAST(try_element_at({va}, 1) - "
                    f"try_element_at({va}, 1) AS DOUBLE), "
                    f"(__a, __x) -> __a + __x) / size({va}) AS DOUBLE)")
        elif fn == "MIN":
            expr = f"array_min({va})"
        elif fn == "MEDIAN":
            # continuous median over the materialized frame
            # (test_quantile_window.test:237 variable bounds)
            s2 = f"array_sort(transform({va}, __x -> CAST(__x AS DOUBLE)))"
            nn = f"size({s2})"
            expr = (f"if({nn} = 0, CAST(NULL AS DOUBLE), "
                    f"(element_at({s2}, CAST(({nn} + 1) div 2 AS int)) + "
                    f"element_at({s2}, CAST({nn} div 2 + 1 AS int))) / 2)")
        elif fn == "QUANTILE_CONT":
            # continuous quantile over the materialized frame
            # (test_quantile_window.test:342)
            s9 = f"array_sort(transform({va}, __x -> CAST(__x AS DOUBLE)))"
            n9 = f"size({s9})"

            def _qc_pick(qq: str) -> str:
                pos = f"(1 + ({qq}) * ({n9} - 1))"
                lo9 = f"element_at({s9}, CAST(floor({pos}) AS int))"
                hi9 = f"element_at({s9}, CAST(ceil({pos}) AS int))"
                return (f"({lo9} + ({hi9} - {lo9}) * "
                        f"({pos} - floor({pos})))")

            if re.match(r"(?is)^\s*(array\s*\(|\[)", qfrac or ""):
                expr = (f"if({n9} = 0, NULL, transform({qfrac}, "
                        f"__q -> {_qc_pick('__q')}))")
            else:
                expr = (f"if({n9} = 0, CAST(NULL AS DOUBLE), "
                        f"{_qc_pick(qfrac or '0.5')})")
        elif fn in ("QUANTILE_DISC", "QUANTILE"):
            # discrete quantile (scalar or list fractions) over the
            # materialized frame (test_quantile_window.test:279)
            arr2 = f"array_sort({va})"
            if re.match(r"(?is)^\s*(array\s*\(|\[)", qfrac or ""):
                # bracket lists rewrite to array() in a later pass; an
                # EMPTY frame yields NULL, not a list of NULLs
                # (test_quantile_window.test:321)
                expr = (f"if(size({arr2}) = 0, NULL, transform({qfrac}, "
                        f"__q -> {_qdisc_pick(arr2, '__q')}))")
            else:
                expr = _qdisc_pick(arr2, qfrac or "0.5")
        else:
            expr = f"array_max({va})"
        out[fn_idx:oc + 1] = _tokens(f"({expr})")
        need_wrap = True
        i = fn_idx + 1
    if not need_wrap:
        return out
    sel = _top_level_index(out, 0, len(out), "SELECT")
    frm = _top_level_index(out, sel + 1, len(out), "FROM")
    if frm < 0 or _top_level_index(out, frm, len(out), "GROUP") >= 0:
        return toks
    end = len(out)
    for stop in ("HAVING", "QUALIFY", "WINDOW", "ORDER", "LIMIT", "OFFSET"):
        p = _top_level_index(out, frm + 1, len(out), stop)
        if p >= 0:
            end = min(end, p)
    src = "".join(out[_next_code(out, frm + 1):end]).strip().rstrip(";")
    helpers = ", ".join(
        f"row_number() OVER ({'PARTITION BY ' + p + ' ' if p else ''}"
        f"ORDER BY {o}) AS {rn}"
        for (p, o), rn in keys.items()
    )
    out[frm:end] = _tokens(f"FROM (SELECT *, {helpers} FROM {src}) __fbt ")
    return out


_FRAME_INSENSITIVE_WINFNS = {
    "LEAD", "LAG", "ROW_NUMBER", "RANK", "DENSE_RANK", "PERCENT_RANK",
    "CUME_DIST", "NTILE",
}


def _strip_ignored_frames(toks: list[str]) -> list[str]:
    """DuckDB accepts (and ignores) explicit frames on ranking/offset
    window functions; Spark rejects them ("must match the required
    frame"). Strip the frame clause at those use sites."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "OVER"):
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
        j = _prev_code(out, i - 1)
        if j < 0 or out[j] != ")":
            i = oc + 1
            continue
        po = _match_paren_rev(out, j)
        fn_idx = _prev_code(out, po - 1)
        fn = out[fn_idx].upper() if fn_idx >= 0 and re.match(
            r"^[A-Za-z_]", out[fn_idx]) else ""
        if fn not in _FRAME_INSENSITIVE_WINFNS:
            i = oc + 1
            continue
        if _top_level_index(out, po + 1, j, "ORDER") >= 0:
            # ordered-argument variant (lead(x ORDER BY k) OVER …):
            # evaluates over the FRAME (reference window ordered-argument
            # path) — keep it for the ordered-window rewrite
            i = oc + 1
            continue
        spec = out[op + 1:oc]
        fr = len(spec)
        for wd in ("ROWS", "RANGE", "GROUPS"):
            x = _top_level_index(spec, 0, len(spec), wd)
            if x >= 0:
                fr = min(fr, x)
        if fr < len(spec):
            out[op + 1:oc] = spec[:fr]
        i = op + 1
    return out


def _rewrite_ntile_null(toks: list[str]) -> list[str]:
    """NTILE(NULL) OVER (...) → typed NULL (reference window_executor.cpp:
    a NULL bucket count yields NULL for every row; Spark rejects the
    argument outright)."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "NTILE"):
            i += 1
            continue
        op = _next_code(out, i + 1)
        if op >= len(out) or out[op] != "(":
            i += 1
            continue
        oc = _match_paren(out, op)
        arg = "".join(out[op + 1:oc]).strip().upper() if oc > 0 else ""
        if oc > 0 and (not arg or "," in [
            t for t, d in _iter_depth(out[op + 1:oc]) if d == 0
        ]):
            # NTILE() / NTILE(a, b, …): reference binder rejects any
            # arity but 1
            raise ValueError(
                "Binder Error: No function matches the given name and "
                "argument types 'ntile'")
        if arg != "NULL":
            i = op + 1
            continue
        ov = _next_code(out, oc + 1)
        end = oc
        if ov < len(out) and _is_word(out[ov], "OVER"):
            op2 = _next_code(out, ov + 1)
            if op2 < len(out) and out[op2] == "(":
                oc2 = _match_paren(out, op2)
                if oc2 > 0:
                    end = oc2
        out[i:end + 1] = _tokens("CAST(NULL AS BIGINT)")
        i += 1
    # nth_value(x, NULL) is NULL for every row (window_executor.cpp);
    # Spark rejects a NULL offset at analysis
    i = 0
    while i < len(out):
        if not _is_word(out[i], "NTH_VALUE"):
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
        nargs = _split_top_args(out[op + 1:oc])
        if len(nargs) != 2:
            i = op + 1
            continue
        off = nargs[1].strip()
        if re.search(r"(?is)\b(IGNORE|RESPECT)\s+NULLS\s*$", off):
            # the hoisting pass moves the modifier out; constant offsets
            # then go native
            i = op + 1
            continue
        mord = re.match(r"(?is)^(.*?)\s+ORDER\s+BY\b.*$", off)
        if mord:
            # ordered-argument form `nth_value(x, n ORDER BY k)`: the
            # ORDER BY belongs to the call, not the offset — classify
            # the bare offset and leave rewriting to the ordered pass
            off_clean = mord.group(1).strip()
            if re.fullmatch(r"\d+", off_clean):
                i = op + 1
                continue
            off = off_clean
        is_null = off.upper() == "NULL"
        is_neg = bool(re.fullmatch(r"-\s*\d+", off))
        is_const = bool(re.fullmatch(r"\d+", off))
        moff = re.fullmatch(r"'((?:[^']|'')*)'", off)
        if moff and not re.fullmatch(r"\s*[+-]?\d+\s*", moff.group(1)):
            # non-numeric string offset (reference: string→INT64 cast fails)
            raise ValueError(
                f"Conversion Error: Could not convert string "
                f"{moff.group(1)!r} to INT64")
        if not (is_null or is_neg) and is_const:
            i = op + 1
            continue
        ov = _next_code(out, oc + 1)
        end = oc
        spec = None
        if ov < len(out) and _is_word(out[ov], "OVER"):
            op2 = _next_code(out, ov + 1)
            if op2 < len(out) and out[op2] == "(":
                oc2 = _match_paren(out, op2)
                if oc2 > 0:
                    end = oc2
                    spec = "".join(out[op2 + 1:oc2])
        if is_null or is_neg:
            # NULL / negative offsets yield NULL for every row
            # (window_executor.cpp); CASE keeps the value type unevaluated
            out[i:end + 1] = _tokens(
                f"(CASE WHEN 1 = 1 THEN NULL ELSE ({nargs[0]}) END)")
        elif spec is not None:
            # per-row (non-foldable) offset: index into the collected
            # frame — Spark's nth_value wants a foldable offset
            out[i:end + 1] = _tokens(
                f"try_element_at(transform(collect_list(named_struct("
                f"'v', {nargs[0]})) OVER ({spec}), __s -> __s.v), "
                f"CAST(if(({off}) < 1, NULL, ({off})) AS INT))")
        i += 1
    return out


def _rewrite_empty_frames(toks: list[str]) -> list[str]:
    """Statically-empty ROWS frames (reference window_boundaries_state.cpp:
    reversed or disjoint bounds give an empty frame → NULL aggregates,
    COUNT 0; Spark rejects such frames at analysis). Detect literal-bound
    empties and fold the whole windowed call to its empty-frame value."""
    if not any(_is_word(t, "ROWS") for t in toks):
        return toks
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "OVER"):
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
        spec = out[op + 1:oc]
        fr = _top_level_index(spec, 0, len(spec), "ROWS")
        if fr < 0:
            i = oc + 1
            continue
        end = _top_level_index(spec, fr, len(spec), "EXCLUDE")
        if end < 0:
            end = len(spec)
        b = _next_code(spec, fr + 1)
        if b >= len(spec) or not _is_word(spec[b], "BETWEEN"):
            i = oc + 1
            continue
        a = _top_level_index(spec, b, end, "AND")
        if a < 0:
            i = oc + 1
            continue

        def _bound(lo, hi):
            txts = [t for t in spec[lo:hi] if not t.isspace()]
            up = [t.upper() for t in txts]
            if up[:2] == ["CURRENT", "ROW"]:
                return ("C", 0)
            if len(up) == 2 and up[0] == "UNBOUNDED":
                return ("U", 0)
            if len(up) == 2 and re.fullmatch(r"\d+", up[0]) and \
                    up[1] in ("PRECEDING", "FOLLOWING"):
                return (up[1][0], int(up[0]))
            return None

        b1 = _bound(_next_code(spec, b + 1), a)
        b2 = _bound(_next_code(spec, a + 1), end)
        if not b1 or not b2:
            i = oc + 1
            continue
        (k1, n1), (k2, n2) = b1, b2
        empty = (
            (k1 == "F" and k2 == "P")
            or (k1 == "F" and k2 == "C" and n1 >= 1)
            or (k1 == "C" and k2 == "P" and n2 >= 1)
            or (k1 == "F" and k2 == "F" and n1 > n2)
            or (k1 == "P" and k2 == "P" and n1 < n2)
        )
        if not empty:
            i = oc + 1
            continue
        j = _prev_code(out, i - 1)
        if j < 0 or out[j] != ")":
            i = oc + 1
            continue
        po = _match_paren_rev(out, j)
        fn_idx = _prev_code(out, po - 1)
        fn = out[fn_idx].upper() if fn_idx >= 0 and re.match(
            r"^[A-Za-z_]", out[fn_idx]) else ""
        if not fn:
            i = oc + 1
            continue
        io = _top_level_index(out, po + 1, j, "ORDER")
        if fn in ("LEAD", "LAG") and io < 0:
            # offset functions ignore framing entirely (reference
            # window_executor.cpp LeadLagExecutor) — the frame is stripped
            # later, never folded to the empty-frame value. The ORDERED-
            # ARGUMENT form evaluates over the frame rows, so an empty
            # frame folds to NULL like the other value functions.
            i = oc + 1
            continue
        if fn in _EXCLUDE_RANKING:
            if io < 0:
                i = oc + 1
                continue  # plain ranking: frame-insensitive, handled later
            # ordered-argument ranking over an empty frame
            # (reference window_executor.cpp empty-frame results)
            repl = {
                "CUME_DIST": "CAST(0.0 AS DOUBLE)",
                "PERCENT_RANK": "CAST(0.0 AS DOUBLE)",
                "NTILE": "CAST(NULL AS BIGINT)",
            }.get(fn, "1")  # rank/dense_rank/row_number
        elif fn in ("COUNT", "COUNT_STAR", "APPROX_COUNT_DISTINCT",
                    "ENTROPY"):
            repl = "0"
        else:
            arg0 = "".join(out[po + 1:(io if io > 0 else j)]).strip()
            arg0 = arg0.split(",")[0].strip() or "NULL"
            repl = f"(CASE WHEN 1 = 0 THEN ({arg0}) END)"
        out[fn_idx:oc + 1] = _tokens(repl)
        i = fn_idx + 1
    return out


def _rewrite_exclude(toks: list[str]) -> list[str]:
    """EXCLUDE → EXCEPT when it follows `*` (star expression modifier)."""
    out = list(toks)
    for i, t in enumerate(out):
        if _is_word(t, "EXCLUDE"):
            j = i - 1
            while j >= 0 and out[j].isspace():
                j -= 1
            if j >= 0 and out[j] == "*":
                out[i] = "EXCEPT"
    return out


def _check_unnest_in_window_args(toks: list[str]) -> None:
    """UNNEST may not appear in window-function arguments or FILTER
    clauses (reference window/test_window_unnest_error.test)."""
    for i, t in enumerate(toks):
        if not _is_word(t, "OVER"):
            continue
        p = _prev_code(toks, i - 1)
        hops = 0
        while p >= 0 and toks[p] == ")" and hops < 2:
            ao = _match_paren_rev(toks, p)
            if ao < 0:
                break
            if _has_bare_unnest(toks[ao + 1:p]):
                raise ValueError("Binder Error: UNNEST not supported here")
            q = _prev_code(toks, ao - 1)
            if q >= 0 and _is_word(toks[q], "FILTER"):
                p = _prev_code(toks, q - 1)
            elif q >= 0 and re.match(r"^[A-Za-z_]", toks[q]):
                break
            else:
                p = q
            hops += 1


def _check_fromless_window_correlation(toks: list[str]) -> None:
    """A FROM-less scalar subquery whose window-function ARGUMENTS reference
    outer columns directly is rejected by the reference binder
    (subquery/scalar/test_correlated_window.test — wrapping the reference
    in its own scalar subquery is the supported spelling)."""
    allow = {
        "NULL", "TRUE", "FALSE", "CAST", "AS", "CASE", "WHEN", "THEN",
        "ELSE", "END", "AND", "OR", "NOT", "IS", "IN", "INTERVAL",
        "DISTINCT", "DATE", "TIMESTAMP", "TIME",
    }
    i = 0
    while i < len(toks):
        if toks[i] != "(":
            i += 1
            continue
        n = _next_code(toks, i + 1)
        if n >= len(toks) or not _is_word(toks[n], "SELECT"):
            i += 1
            continue
        close = _match_paren(toks, i)
        if close < 0:
            i += 1
            continue
        depth = 0
        has_from = False
        for k in range(i + 1, close):
            if toks[k] == "(":
                depth += 1
            elif toks[k] == ")":
                depth -= 1
            elif depth == 0 and _is_word(toks[k], "FROM"):
                has_from = True
        if has_from:
            i += 1
            continue
        depth = 0
        for k in range(i + 1, close):
            t = toks[k]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and _is_word(t, "OVER"):
                p = _prev_code(toks, k - 1)
                if p < 0 or toks[p] != ")":
                    continue
                ao = _match_paren_rev(toks, p)
                d2 = 0
                subq: list[int] = []
                for m2 in range(ao + 1, p):
                    t2 = toks[m2]
                    if t2 == "(":
                        d2 += 1
                        nn = _next_code(toks, m2 + 1)
                        if nn < p and _is_word(toks[nn], "SELECT"):
                            subq.append(d2)
                    elif t2 == ")":
                        if subq and subq[-1] == d2:
                            subq.pop()
                        d2 -= 1
                    elif not subq and re.fullmatch(r"[A-Za-z_]\w*", t2):
                        up = t2.upper()
                        if up in allow or up in _INTERVAL_UNITS:
                            continue
                        nn = _next_code(toks, m2 + 1)
                        if nn < len(toks) and toks[nn] == "(":
                            continue  # function call
                        raise ValueError(
                            "Binder Error: correlated columns in window "
                            "functions not supported")
        i += 1


_DISTINCT_WINDOW_FNS = {
    "COUNT", "SUM", "AVG", "MIN", "MAX", "LIST", "ARRAY_AGG",
    "STRING_AGG", "MEDIAN",
}


def _rewrite_distinct_window(toks: list[str]) -> list[str]:
    """DISTINCT window aggregates (reference
    src/function/window/window_distinct_aggregator.cpp; SURVEY §2.5).
    Spark rejects `agg(DISTINCT x) OVER (...)` outright; the frame's
    distinct multiset is exactly `array_distinct(collect_list(x) OVER
    (same spec))` — frame-ordered, first-occurrence dedup, NULLs dropped
    (DISTINCT aggregates ignore NULLs) — so every supported aggregate
    becomes an array expression over that:

        COUNT      → size(dset)
        SUM / AVG  → aggregate(dset, …) [/ size]
        MIN / MAX  → DISTINCT dropped (no-op for extrema)
        LIST       → dset (inner ORDER BY → array_sort / reverse)
        STRING_AGG → array_join(dset, sep) (first-seen order, like the
                     reference's naive fallback)
        MEDIAN     → lower-middle of array_sort(dset) (quantile_disc
                     semantics; exact for odd counts and non-numerics)

    A FILTER clause folds into the collected expression as CASE WHEN.
    One window pass, frame-size state per row — the same cost class as
    the reference's distinct tree. Scale note: the dset is bounded by the
    frame, not the partition, except for unframed specs where it is the
    per-partition distinct set (same as any exact distinct)."""
    out = list(toks)
    i = 0
    while i < len(out):
        fn = out[i].upper() if out[i] and re.match(r"^[A-Za-z_]", out[i]) \
            else ""
        if fn not in _DISTINCT_WINDOW_FNS:
            i += 1
            continue
        j = _next_code(out, i + 1)
        if j >= len(out) or out[j] != "(":
            i += 1
            continue
        d = _next_code(out, j + 1)
        if d >= len(out) or not _is_word(out[d], "DISTINCT"):
            i += 1
            continue
        close = _match_paren(out, j)
        if close < 0:
            i += 1
            continue
        # optional FILTER (WHERE f) between the args and OVER
        ov = _next_code(out, close + 1)
        filt = None
        end_tok = close
        if ov < len(out) and _is_word(out[ov], "FILTER"):
            fo = _next_code(out, ov + 1)
            if fo < len(out) and out[fo] == "(":
                fc = _match_paren(out, fo)
                grp = out[fo + 1:fc]
                wh = _top_level_index(grp, 0, len(grp), "WHERE")
                filt = "".join(grp[wh + 1:]).strip() if wh >= 0 \
                    else "".join(grp).strip()
                end_tok = fc
                ov = _next_code(out, fc + 1)
        if ov >= len(out) or not _is_word(out[ov], "OVER"):
            i += 1
            continue
        op = _next_code(out, ov + 1)
        if op >= len(out) or out[op] != "(":
            i += 1
            continue
        oc = _match_paren(out, op)
        if oc < 0:
            i += 1
            continue
        spec = "".join(out[op + 1:oc]).strip()
        body = out[_next_code(out, d + 1):close]
        io = _top_level_index(body, 0, len(body), "ORDER")
        inner_order = None
        if io >= 0:
            inner_order = "".join(body[_next_code(body, io + 1) + 1:]).strip()
            body = body[:io]
        parts, depth, cur = [], 0, []
        for t in body:
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            if t == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(t)
        if "".join(cur).strip():
            parts.append("".join(cur).strip())
        arg = parts[0] if parts else "1"
        if filt:
            arg = f"CASE WHEN ({filt}) THEN ({arg}) END"
        if fn in ("MIN", "MAX"):
            out[i:oc + 1] = _tokens(
                f"{fn.lower()}({arg}) OVER ({spec})")
            i += 1
            continue
        dset = f"array_distinct(collect_list({arg}) OVER ({spec}))"
        sort = f"array_sort({dset})"
        if inner_order and re.search(r"(?i)\bDESC\b", inner_order):
            sort = f"reverse({sort})"
        if fn == "COUNT":
            expr = f"size({dset})"
        elif fn == "SUM":
            expr = (f"aggregate({dset}, try_element_at({dset}, 1) - "
                    f"try_element_at({dset}, 1), (__a, __x) -> __a + __x)")
        elif fn == "AVG":
            expr = (f"CAST(aggregate({dset}, CAST(try_element_at({dset}, 1)"
                    f" - try_element_at({dset}, 1) AS DOUBLE), "
                    f"(__a, __x) -> __a + __x) / size({dset}) AS DOUBLE)")
        elif fn in ("LIST", "ARRAY_AGG"):
            expr = sort if inner_order else dset
        elif fn == "STRING_AGG":
            sep = parts[1] if len(parts) > 1 else "','"
            src = sort if inner_order else dset
            expr = f"array_join({src}, {sep})"
        else:  # MEDIAN: quantile_disc(0.5) lower-middle of the sorted set
            expr = (f"CASE WHEN size({dset}) = 0 THEN NULL "
                    f"ELSE element_at(array_sort({dset}), "
                    f"CAST((size({dset}) + 1) / 2 AS INT)) END")
        out[i:oc + 1] = _tokens(f"({expr})")
        i += 1
    return out


def _rewrite_orderless_over(toks: list[str]) -> list[str]:
    """DuckDB permits `lag(x) OVER ()` (input order); Spark requires an
    ORDER BY for ranking/offset window functions. Inject `ORDER BY 1` —
    a constant key, so Spark keeps the incoming row order too."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "OVER"):
            i += 1
            continue
        j = _next_code(out, i + 1)
        if j >= len(out) or out[j] != "(":
            i += 1
            continue
        close = _match_paren(out, j)
        if close < 0 or _top_level_index(out, j + 1, close, "ORDER") >= 0:
            i = j
            continue
        # function name: walk back over `fn ( args ) [IGNORE NULLS]`
        p = i - 1
        while p >= 0 and out[p].isspace():
            p -= 1
        if p >= 0 and re.fullmatch(
            r"(?is)\s*(IGNORE|RESPECT)\s+NULLS\s*", out[p],
        ):
            p -= 1
            while p >= 0 and out[p].isspace():
                p -= 1
        if p < 0 or out[p] != ")":
            i = j
            continue
        depth, o = 0, p
        while o >= 0:
            if out[o] == ")":
                depth += 1
            elif out[o] == "(":
                depth -= 1
                if depth == 0:
                    break
            o -= 1
        m = o - 1
        while m >= 0 and out[m].isspace():
            m -= 1
        if m >= 0 and out[m].lower() in _NEED_ORDER_WINFNS:
            body = "".join(out[j + 1:close]).strip()
            # insert BEFORE any frame clause — `ROWS … ORDER BY 1` is a
            # parse error; the ORDER BY must precede ROWS/RANGE
            ins = close
            for wd in ("ROWS", "RANGE", "GROUPS"):
                p2 = _top_level_index(out, j + 1, close, wd)
                if p2 >= 0:
                    ins = min(ins, p2)
            out[ins:ins] = [(" " if body else "") + "ORDER BY 1 "]
        i = j
    return out


def _rewrite_window_filter(toks: list[str]) -> list[str]:
    """`agg(args) FILTER (WHERE c) OVER (...)` → `agg(CASE WHEN c THEN
    args END) OVER (...)`: Spark rejects FILTER on window aggregates; the
    CASE form is equivalent for the null-skipping aggregates (count(*)
    becomes count(CASE WHEN c THEN 1 END))."""
    out = list(toks)
    i = 0
    while i < len(out):
        if not _is_word(out[i], "FILTER"):
            i += 1
            continue
        p = i - 1
        while p >= 0 and out[p].isspace():
            p -= 1
        if p < 0 or out[p] != ")":
            i += 1
            continue
        j = _next_code(out, i + 1)
        if j >= len(out) or out[j] != "(":
            i += 1
            continue
        fclose = _match_paren(out, j)
        if fclose < 0:
            i += 1
            continue
        k = _next_code(out, fclose + 1)
        if k >= len(out) or not _is_word(out[k], "OVER"):
            i += 1
            continue
        depth, o = 0, p
        while o >= 0:
            if out[o] == ")":
                depth += 1
            elif out[o] == "(":
                depth -= 1
                if depth == 0:
                    break
            o -= 1
        if o < 0:
            i += 1
            continue
        # reference rejects FILTER on non-aggregate window functions
        fn_i = o - 1
        while fn_i >= 0 and out[fn_i].isspace():
            fn_i -= 1
        if fn_i >= 0 and out[fn_i].lower() in (
            "rank", "dense_rank", "row_number", "percent_rank", "cume_dist",
            "ntile", "lag", "lead", "nth_value", "first_value", "last_value",
        ):
            raise ValueError(
                "Binder Error: FILTER is not supported for non-aggregate "
                "window functions"
            )
        inner = out[j + 1:fclose]
        w = _top_level_index(inner, 0, len(inner), "WHERE")
        cond = "".join(inner[w + 1:] if w >= 0 else inner).strip()
        argtext = "".join(out[o + 1:p]).strip()
        distinct = ""
        m = re.match(r"(?is)^distinct\s+(.*)$", argtext)
        if m:
            distinct, argtext = "DISTINCT ", m.group(1)
        if argtext in ("*", ""):
            argtext = "1"
        out[o + 1:fclose + 1] = [f"{distinct}case when {cond} then {argtext} end", ")"]
        i = o
    return out


def _substitute_window_aliases(sql: str) -> str:
    """DuckDB lets window expressions reference sibling SELECT-list
    aliases (`i // 2 AS inside, … OVER (ORDER BY inside)`); Spark raises
    LATERAL_COLUMN_ALIAS_IN_WINDOW. Inline the alias definition into
    OVER specs and window-call argument lists. Retry-only (gated by the
    `window_alias` flag): DuckDB prefers real columns over aliases,
    so this must not run on queries Spark resolves natively."""
    toks = _tokens(sql)
    # window-dependent aliases can't be inlined into another window
    aliases = {
        k: v for k, v in _collect_select_aliases(toks).items()
        if not re.search(r"(?i)\bOVER\b", v)
    }
    if not aliases:
        return sql
    # replace alias references inside OVER(...) specs and inside call
    # parens directly followed by OVER (in-call ORDER BY keys)
    out = list(toks)

    def _sub_region(lo: int, hi: int) -> None:
        for k in range(lo, hi):
            t = out[k]
            if not re.match(r"^[A-Za-z_]\w*$", t) or t.lower() not in aliases:
                continue
            p = k - 1
            while p >= lo and out[p].isspace():
                p -= 1
            if p >= lo and out[p] == ".":
                continue
            n = _next_code(out, k + 1)
            if n < hi and out[n] == "(":
                continue
            out[k] = "(" + aliases[t.lower()] + ")"

    i = 0
    while i < len(out):
        if out[i] == "(":
            close = _match_paren(out, i)
            if close > 0:
                p = i - 1
                while p >= 0 and out[p].isspace():
                    p -= 1
                if p >= 0 and _is_word(out[p], "OVER"):
                    _sub_region(i + 1, close)
                elif p >= 0 and re.match(r"^[A-Za-z_]\w*$", out[p]):
                    # call parens followed (possibly via IGNORE/RESPECT
                    # NULLS) by OVER
                    n = _next_code(out, close + 1)
                    if n < len(out) and (
                        _is_word(out[n], "IGNORE") or _is_word(out[n], "RESPECT")
                    ):
                        n2 = _next_code(out, n + 1)
                        n = _next_code(out, n2 + 1) if n2 < len(out) else n
                    if n < len(out) and _is_word(out[n], "OVER"):
                        _sub_region(i + 1, close)
        i += 1
    return "".join(out)


def _rewrite_named_windows(sql: str) -> str:
    """Inline `WINDOW w AS (...)` definitions into OVER references —
    including DuckDB's frame-extension form `OVER (w ROWS ...)`, which
    Spark's named-window support can't parse. The WINDOW clause itself is
    removed after inlining. Scope-aware: a definition only resolves
    references within its own SELECT scope (reference binder; a CTE can't
    see the main query's WINDOW clause), and duplicate names in one scope
    are a binder error."""
    m = re.search(r"(?is)\bWINDOW\s+([A-Za-z_][A-Za-z_0-9]*)\s+AS\s*\(", sql)
    if not m:
        return sql
    qm = re.search(r"(?i)\bQUALIFY\b", sql[:m.start()])
    if qm:
        # reference parser: the WINDOW clause precedes QUALIFY
        # (test_qualify.test:195)
        raise ValueError('Parser Error: syntax error at or near "WINDOW"')
    while m:
        name = m.group(1)
        if name.lower() in ("partition", "range", "rows", "groups"):
            # frame/partition keywords cannot name a window (reference
            # parser; test_invalid_window.test)
            raise ValueError(f"Parser Error: Invalid window name {name}")
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end() : i - 1]
        # duplicate names later in the same WINDOW clause chain
        rest_probe = sql[i:]
        probe_names = []
        while True:
            pm = re.match(
                r"(?is)\s*,\s*([A-Za-z_]\w*)\s+AS\s*\(", rest_probe
            )
            if not pm:
                break
            probe_names.append(pm.group(1).lower())
            d2, x2 = 1, pm.end()
            while x2 < len(rest_probe) and d2:
                if rest_probe[x2] == "(":
                    d2 += 1
                elif rest_probe[x2] == ")":
                    d2 -= 1
                x2 += 1
            rest_probe = rest_probe[x2:]
        if name.lower() in probe_names:
            raise ValueError(
                f"Binder Error: window \"{name}\" is already defined"
            )
        # inheritance is declaration-order only: a body starting with a
        # LATER window's name is a forward reference (binder error)
        bm = re.match(r"(?is)\s*([A-Za-z_]\w*)\b", body)
        if bm and bm.group(1).lower() in probe_names:
            raise ValueError(
                f"Binder Error: window \"{bm.group(1)}\" does not exist!"
            )
        # strip this definition (and an optional trailing comma for multi-defs)
        rest = re.sub(r"(?s)^\s*,", " WINDOW ", sql[i:], count=1)
        sql = sql[: m.start()] + " " + rest
        span0, span1 = _scope_span(sql, m.start())
        seg = sql[span0:span1]
        # same-SELECT scope only: mask nested subqueries (paren groups
        # opening with SELECT/WITH/VALUES — the reference binder doesn't
        # resolve a parent's WINDOW clause inside them)
        parts: list[tuple[str, bool]] = []
        pos0 = 0
        while True:
            nm = re.search(r"\(\s*(?:SELECT|WITH|VALUES)\b", seg[pos0:], re.I)
            if not nm:
                parts.append((seg[pos0:], True))
                break
            st = pos0 + nm.start()
            parts.append((seg[pos0:st], True))
            d2 = 0
            en = len(seg)
            for x2 in range(st, len(seg)):
                if seg[x2] == "(":
                    d2 += 1
                elif seg[x2] == ")":
                    d2 -= 1
                    if d2 == 0:
                        en = x2 + 1
                        break
            parts.append((seg[st:en], False))
            pos0 = en
        def _apply(s: str) -> str:
            # copy/extension form `OVER (w …)`: the reference binder (like
            # Postgres) forbids copying a framed window and overriding
            # PARTITION/ORDER (window/test_window_clause.test)
            for cm in re.finditer(
                rf"(?is)\bOVER\s*\(\s*{name}\b\s*([^()]*)\)", s,
            ):
                ext = cm.group(1).strip()
                if re.match(r"(?is)^PARTITION\b", ext):
                    raise ValueError(
                        f'Binder Error: Cannot override PARTITION BY '
                        f'clause of window "{name}"'
                    )
                if re.match(r"(?is)^ORDER\b", ext) and re.search(
                    r"(?is)\bORDER\s+BY\b", body,
                ):
                    raise ValueError(
                        f'Binder Error: Cannot override ORDER BY clause '
                        f'of window "{name}"'
                    )
                if re.search(r"(?is)\b(ROWS|RANGE|GROUPS)\b", body):
                    raise ValueError(
                        f'Binder Error: cannot copy window "{name}" '
                        f"because it has a frame clause"
                    )
            # OVER (w <frame-extension>) → OVER (<body> <frame-extension>)
            s = re.sub(
                rf"(?is)\bOVER\s*\(\s*{name}\b", f"OVER ({body} ", s
            )
            # a later named window may inherit: `w2 AS (w ROWS …)`
            s = re.sub(
                rf"(?is)(\bAS\s*\(\s*){name}\b", rf"\g<1>{body} ", s
            )
            # bare OVER w → OVER (<body>)
            return re.sub(rf"(?is)\bOVER\s+{name}\b", f"OVER ({body})", s)
        seg = "".join(_apply(p) if ok else p for p, ok in parts)
        sql = sql[:span0] + seg + sql[span1:]
        m = re.search(r"(?is)\bWINDOW\s+([A-Za-z_][A-Za-z_0-9]*)\s+AS\s*\(", sql)
    return sql


def _macro_quantile_disc(x: str, q: str) -> str:
    """quantile_disc(x, q) over the sorted non-NULL values (reference
    quantile.cpp discrete path). A list-typed q maps elementwise; an
    empty (all-NULL) group yields NULL, not a list of NULLs."""
    if re.search(r"(?i)\bAS\s+DATE\b|::\s*DATE\b", x) and re.search(
        r"(?i)\binterval\b", x
    ) and not re.search(r"(?i)timestamptz|timestamp_ltz", x):
        # DATE + INTERVAL is duck-naive TIMESTAMP; Spark types it as the
        # instant type, which the renderer would suffix '+00'
        # (test_quantile_disc_list.test:96)
        x = f"CAST({x} AS TIMESTAMP_NTZ)"
    s = f"array_sort(collect_list({x}))"
    if re.match(r"(?is)^\s*array\s*\(", q):
        return (
            f"if(size({s}) = 0, null, "
            f"transform({q}, __q -> {_qdisc_pick(s, '__q')}))"
        )
    return _qdisc_pick(s, q)


def _agg_macro_windowed(name: str, args: list[str], over: str) -> str | None:
    """Window-framed forms of the macro aggregates: compositions of
    window-able aggregates get the OVER clause attached to each; holistic
    ones bind the windowed collect_list to a lambda variable via a 1-step
    aggregate() so nothing window-typed appears inside lambda bodies."""
    n = len(args)

    def let(val: str, body_of: str) -> str:
        # bind `val` (a windowed array expr) as lambda var __l in body —
        # window expressions cannot appear inside lambda bodies, so the
        # windowed collect is evaluated once in argument position and the
        # body only sees the lambda variable
        return f"element_at(transform(array({val}), __l -> {body_of}), 1)"

    if name in ("arg_min_null", "arg_max_null") and n == 2:
        # NULL-keeping arg extremes map directly to min_by/max_by in
        # window position too (test_arg_min_max_null.test:114)
        fn = "max_by" if name == "arg_max_null" else "min_by"
        return f"{fn}({args[0]}, {args[1]}) {over}"
    if name == "sem" and n == 1:
        x = args[0]
        return f"(stddev_pop({x}) {over} / sqrt(count({x}) {over}))"
    if name in ("skewness", "kurtosis") and n == 1:
        return _macro_skew_kurt(name, args[0], over)
    if name in ("fsum", "sumkahan", "kahan_sum", "favg") and n == 1:
        agg = "avg" if name == "favg" else "sum"
        return f"cast({agg}(cast({args[0]} as decimal(38,8))) {over} as double)"
    if name in ("weighted_avg", "wavg") and n == 2:
        v, w = args[0], args[1]
        g = f"({v}) is not null and ({w}) is not null"
        num = f"sum(case when {g} then cast({v} as double) * ({w}) end) {over}"
        den = f"sum(case when {g} then cast({w} as double) end) {over}"
        return (
            f"(case when ({den}) = 0 then cast('NaN' as double) "
            f"else ({num}) / ({den}) end)"
        )
    if name == "product" and n == 1:
        x = args[0]
        ln = f"exp(sum(ln(abs(nullif(cast(({x}) as double), 0.0d)))) {over})"
        return (
            f"(case when sum(case when ({x}) = 0 then 1 else 0 end) {over} > 0 "
            f"then 0.0d "
            f"when pmod(sum(case when ({x}) < 0 then 1 else 0 end) {over}, 2) = 1 "
            f"then -{ln} else {ln} end)"
        )
    if name == "mode" and n == 1:
        # DuckDB windowed mode tie-break: highest count, then lowest first-
        # occurrence position in frame order (reference mode.cpp Scan()
        # "Tie break with the lowest insert position"). collect_list drops
        # NULLs, which mode ignores anyway, and preserves frame order so
        # array_position gives the first-occurrence rank. An in-call
        # ORDER BY (`mode(x ORDER BY k) OVER w`) redefines that insertion
        # order: sort the collected (v, keys) structs first.
        arg = args[0]
        om = re.search(r"(?is)\bORDER\s+BY\b", arg)
        if om:
            lst = _keyed_sort(f"({arg[:om.start()].strip()})",
                              _order_terms(_tokens(arg[om.end():])), over=over)
            lst = f"filter({lst}, __fv -> __fv is not null)"
        else:
            lst = f"collect_list({arg}) {over}"
        ranked = (
            "array_sort(transform(array_distinct(__l), __mv -> "
            "named_struct('negc', -size(filter(__l, __my -> __my <=> __mv)), "
            "'pos', array_position(__l, __mv), 'v', __mv)))"
        )
        return let(lst, f"try_element_at({ranked}, 1).v")
    if name == "entropy" and n == 1:
        lst = f"collect_list({args[0]}) {over}"
        body = (
            "coalesce(aggregate("
            "transform(array_distinct(__l), __ek -> "
            "size(filter(__l, __ev -> __ev <=> __ek))), cast(0 as double), "
            "(__a, __c) -> __a - (__c / size(__l)) * log2(__c / size(__l))"
            "), cast(0 as double))"
        )
        return let(lst, body)
    if name == "mad" and n == 1:
        lst = f"collect_list(cast({args[0]} as double)) {over}"
        s = "array_sort(__l)"
        nn = "size(__l)"
        med1 = (
            f"((element_at({s}, cast(({nn} + 1) div 2 as int)) + "
            f"element_at({s}, cast({nn} div 2 + 1 as int))) / 2)"
        )
        s2 = f"array_sort(transform({s}, __mv -> abs(__mv - {med1})))"
        med2 = (
            f"((element_at({s2}, cast(({nn} + 1) div 2 as int)) + "
            f"element_at({s2}, cast({nn} div 2 + 1 as int))) / 2)"
        )
        return let(lst, f"if({nn} = 0, cast(null as double), {med2})")
    if name == "count_star" and n == 0:
        return f"count(*) {over}"
    if name == "histogram" and n == 1:
        # windowed histogram: sorted-key count map over the frame rows
        # (reference histogram.cpp window path)
        lst = f"collect_list({args[0]}) {over}"
        body = (
            "map_from_entries(transform(array_sort(array_distinct(__l)), "
            "__k -> struct(__k, size(filter(__l, __e -> __e <=> __k)))))"
        )
        return let(lst, f"if(size(__l) = 0, null, {body})")
    if name == "median" and n == 1 and re.search(
        r"(?is)\bCAST\s*\(.*\bAS\s+(VARCHAR|STRING|TEXT)\s*\)|::\s*"
        r"(VARCHAR|STRING|TEXT)\b|^\s*'", args[0].strip(),
    ):
        # windowed median over VARCHAR: discrete lower-middle element
        # (reference quantile.cpp over non-interpolable types)
        lst = f"collect_list({args[0]}) {over}"
        s = "array_sort(__l)"
        nn = "size(__l)"
        pick = f"element_at({s}, cast(({nn} + 1) div 2 as int))"
        return let(lst, f"if({nn} = 0, null, {pick})")
    if name in ("median", "quantile_cont") and n in (1, 2):
        # windowed continuous quantile: sorted frame collect +
        # interpolation (reference quantile.cpp window path)
        q = args[1] if n == 2 else "0.5"
        lst = f"collect_list(cast({args[0]} as double)) {over}"
        s = "array_sort(__l)"
        nn = "size(__l)"
        pos = f"(1 + ({q}) * ({nn} - 1))"
        lo = f"element_at({s}, cast(floor({pos}) as int))"
        hi = f"element_at({s}, cast(ceil({pos}) as int))"
        interp = (
            f"({lo} + ({hi} - {lo}) * ({pos} - floor({pos})))"
        )
        return let(lst, f"if({nn} = 0, cast(null as double), {interp})")
    if name in ("quantile_disc", "quantile", "reservoir_quantile") and \
            n in (2, 3):
        # reservoir_quantile over a frame: the frame IS the reservoir, so
        # the exact discrete quantile is correct (reference
        # reservoir_quantile window path; test_empty_frames.test:187).
        # The optional third arg is the sample size — irrelevant here.
        lst = f"collect_list({args[0]}) {over}"
        q = args[1]
        arr = "array_sort(__l)"
        if re.match(r"(?is)^\s*(array\s*\(|\[)", q):
            # empty frame → NULL, not a list of NULLs
            # (test_quantile_window.test:321)
            return let(lst, f"if(size({arr}) = 0, NULL, transform({q}, "
                            f"__q -> {_qdisc_pick(arr, '__q')}))")
        return let(lst, _qdisc_pick(arr, q))
    return None


_WINDOWED_MACROS = {
    "sem", "entropy", "weighted_avg", "wavg", "fsum", "sumkahan",
    "kahan_sum", "favg", "product", "mad", "quantile_disc", "quantile",
    "quantile_cont", "median", "histogram", "reservoir_quantile",
    "skewness", "kurtosis", "mode", "count_star",
    "arg_min_null", "arg_max_null",
}


# DuckDB windowed ordered aggregates: `fn(args ORDER BY keys) OVER w`
# evaluates fn as if the frame rows were ordered by keys (reference
# src/execution/window_executor.cpp ordered-argument path). Spark has no
# spelling for this; rewritten to collect_list + comparator array ops.
_ORDERED_WINDOW_FNS = {
    "rank", "dense_rank", "percent_rank", "cume_dist", "row_number",
    "ntile", "lag", "lead", "first_value", "last_value", "nth_value",
    "list", "array_agg",
}


# windowed ordered aggregate spellings of the same shapes; any_value in
# order = first non-NULL value (forced IGNORE NULLS)
_OW_ALIASES = {
    "first": "first_value", "last": "last_value",
    "any_value": "first_value", "arbitrary": "first_value",
}


def _ordered_window_repl(
    name: str,
    args: list[str],
    entries: list[tuple[str, bool, bool]],
    ignore_nulls: bool,
    spec: str,
) -> str | None:
    """`fn(args ORDER BY keys) OVER (spec)` → Spark expression. Ties in
    keys are resolved arbitrarily-but-consistently (test corpora use
    unique keys; DuckDB's own tie order is implementation-defined)."""
    if not entries:
        return None
    # in-call IGNORE/RESPECT NULLS may trail any argument
    cleaned = []
    for a in args:
        m0 = re.search(r"(?is)\s+(IGNORE|RESPECT)\s+NULLS\s*$", a)
        if m0:
            ignore_nulls = ignore_nulls or m0.group(1).upper() == "IGNORE"
            a = a[:m0.start()]
        cleaned.append(a)
    args = cleaned
    # DuckDB breaks arg-key ties by frame position, i.e. by the window's
    # own ORDER BY — append those keys as tiebreakers where position (not
    # peer-shared rank) is what's computed
    om = re.search(
        r"(?is)\bORDER\s+BY\s+(.*?)(?:\b(?:ROWS|RANGE|GROUPS)\b|$)", spec
    )
    spec_entries = _order_terms(_tokens(om.group(1))) if om else []
    pos_entries = entries + [
        e for e in spec_entries if e[0] not in [k for k, _, _ in entries]
    ]
    over = f"OVER ({spec})"

    def _eq_before() -> str:
        """0-based rank of the current row among rows whose pos-keys all
        tie — position-stepping functions (lead/lag/row_number/ntile)
        must walk THROUGH duplicate keys, one output per peer row, the
        way the reference does (window/test_tpcc_results.test: two equal
        tps rows get lead = the other duplicate and lead = the next
        value, not the same value twice). A separate row_number window
        over (partition + tied keys) supplies the per-row identity the
        collect_list elements cannot carry."""
        pm = re.search(
            r"(?is)\bPARTITION\s+BY\s+(.*?)(?:\bORDER\b|\bROWS\b|"
            r"\bRANGE\b|\bGROUPS\b|$)", spec,
        )
        parts = [pm.group(1).strip().rstrip(",")] if pm else []
        parts += [k for k, _, _ in pos_entries]
        order = om.group(1).strip().rstrip(",") if om else \
            ", ".join(k for k, _, _ in pos_entries)
        return (f"(row_number() OVER (PARTITION BY {', '.join(parts)} "
                f"ORDER BY {order}) - 1)")

    def _fields(es):
        return ", ".join(f"'k{x}', ({k})" for x, (k, _, _) in enumerate(es))

    keyfields = _fields(entries)
    x_lt_cur = (
        _terms_cmp(entries, lambda x: f"__x.k{x}",
                   lambda x: f"({entries[x][0]})") + " < 0"
    )
    pos_lt_cur = (
        _terms_cmp(pos_entries, lambda x: f"__x.k{x}",
                   lambda x: f"({pos_entries[x][0]})") + " < 0"
    )
    if name in ("rank", "dense_rank", "row_number"):
        if name == "row_number":
            karr = f"collect_list(named_struct({_fields(pos_entries)})) {over}"
            return (f"(1 + {_eq_before()} + "
                    f"size(filter({karr}, __x -> ({pos_lt_cur}))))")
        karr = f"collect_list(named_struct({keyfields})) {over}"
        inner = f"filter({karr}, __x -> ({x_lt_cur}))"
        if name == "dense_rank":
            inner = f"array_distinct({inner})"
        return f"(1 + size({inner}))"
    if name == "ntile":
        n = f"({args[0].strip()})" if args and args[0].strip() else None
        if n is None:
            return None
        karr = f"collect_list(named_struct({_fields(pos_entries)})) {over}"
        p0 = (f"(size(filter({karr}, __x -> ({pos_lt_cur}))) "
              f"+ {_eq_before()})")
        m = f"size({karr})"
        # first (m % n) buckets get floor(m/n)+1 rows, the rest floor(m/n)
        big = f"(floor({m} / {n}) + 1)"
        rem = f"({m} % {n})"
        return (
            f"(cast(case when {p0} < {rem} * {big} "
            f"then floor({p0} / {big}) "
            f"else {rem} + floor(({p0} - {rem} * {big}) / floor({m} / {n})) "
            f"end as int) + 1)"
        )
    if name == "percent_rank":
        karr = f"collect_list(named_struct({keyfields})) {over}"
        return (
            f"(case when size({karr}) <= 1 then cast(0 as double) "
            f"else cast(size(filter({karr}, __x -> ({x_lt_cur}))) as double)"
            f" / (size({karr}) - 1) end)"
        )
    if name == "cume_dist":
        karr = f"collect_list(named_struct({keyfields})) {over}"
        cur_lt_x = (
            _terms_cmp(entries, lambda x: f"({entries[x][0]})",
                       lambda x: f"__x.k{x}") + " < 0"
        )
        return (
            f"(case when size({karr}) = 0 then cast(0 as double) "
            f"else cast(size(filter({karr}, __x -> not({cur_lt_x}))) "
            f"as double) / size({karr}) end)"
        )
    if not args:
        return None
    val = f"({args[0]})"
    if name in ("lag", "lead"):
        n = f"({args[1].strip()})" if len(args) > 1 and args[1].strip() else "1"
        dflt = args[2].strip() if len(args) > 2 and args[2].strip() else "null"
        # the ordered-argument variant is an ordered aggregate over the
        # FRAME (unlike plain lag/lead, which range over the partition)
        karr = f"collect_list(named_struct({_fields(pos_entries)})) {over}"
        idx = (f"(size(filter({karr}, __x -> ({pos_lt_cur}))) "
               f"+ {_eq_before()})")
        sgn = "-" if name == "lag" else "+"
        tgt = f"({idx} + 1 {sgn} {n})"
        pick = _keyed_sort(val, pos_entries, over=over, pick=tgt)
        return (
            f"(case when {tgt} between 1 and size({karr}) "
            f"then {pick} else ({dflt}) end)"
        )
    if name == "last_value":
        # last under keys ≡ first under the fully inverted order
        pos_entries = [(k, not d, not nf) for k, d, nf in pos_entries]
    pick = "" if name in ("list", "array_agg") else \
        args[1].strip() if name == "nth_value" and len(args) > 1 else "1"
    return _keyed_sort(val, pos_entries, over=over, pick=pick,
                       when=f"{val} is not null" if ignore_nulls else "")


def _strip_orderless_range_frames(toks: list[str]) -> list[str]:
    """`OVER (RANGE …)` without an ORDER BY: every row is a peer, so the
    frame is the whole partition — drop the frame clause (Spark raises
    RANGE_FRAME_WITHOUT_ORDER; reference allows the degenerate spelling,
    test_streaming_window.test:359)."""
    toks = list(toks)
    i = 0
    while i < len(toks):
        if not _is_word(toks[i], "OVER"):
            i += 1
            continue
        op = _next_code(toks, i + 1)
        if op >= len(toks) or toks[op] != "(":
            i += 1
            continue
        close = _match_paren(toks, op)
        if close < 0:
            i += 1
            continue
        spec = toks[op + 1:close]
        has_order = any(
            _is_word(t, "ORDER") for k, t in enumerate(spec)
            if _depth_at(spec, k) == 0
        )
        if not has_order:
            for k in range(len(spec)):
                if _is_word(spec[k], "RANGE") and _depth_at(spec, k) == 0:
                    toks[op + 1 + k:close] = []
                    break
        i = close + 1
    return toks




_WITHIN_GROUP_FOLD = {
    # ordered-set spellings Spark lacks (or types differently: Spark's
    # percentile_disc always returns DOUBLE, the reference keeps the input
    # type): fold the ORDER BY key back into the argument list; the
    # quantile forms re-dispatch through their macros
    "mode": "mode", "quantile_cont": "quantile_cont",
    "quantile_disc": "quantile_disc", "quantile": "quantile",
    "median": "median", "mad": "mad",
    "percentile_disc": "quantile_disc", "percentile_cont": "quantile_cont",
}
def _neg_q(q: str, cont: bool) -> str:
    """Descending WITHIN GROUP order: continuous quantiles mirror to 1-q;
    discrete ones use the reference's negative-quantile path. Literal
    quantiles fold numerically (Spark's percentile requires a foldable
    fraction array)."""

    def one(e: str) -> str:
        s = e.strip()
        if re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)", s):
            v = float(s)
            folded = 1 - v if cont else -v
            return repr(round(folded, 12))
        return f"(1 - ({s}))" if cont else f"-({s})"

    qs = q.strip()
    m = re.match(r"(?is)^array\s*\(", qs)
    if m and qs.endswith(")"):
        elems = _split_top_args(_tokens(qs[m.end():-1]))
        return "array(" + ", ".join(one(e) for e in elems) + ")"
    return one(qs)
def duck_blob_hex(raw: str) -> str:
    """Duck BLOB literal text → hex digits (\\xHH escapes are raw bytes,
    everything else UTF-8; reference common/types/blob.cpp)."""
    data = bytearray()
    k = 0
    while k < len(raw):
        if raw[k] == "\\" and k + 1 < len(raw) and raw[k + 1] in "xX":
            hx = raw[k + 2:k + 4]
            if len(hx) == 2 and re.fullmatch(r"[0-9a-fA-F]{2}", hx):
                data.append(int(hx, 16))
                k += 4
                continue
            raise ValueError(
                f"Conversion Error: could not convert string "
                f"'{raw}' to BLOB"
            )
        if not (32 <= ord(raw[k]) <= 126):
            # non-printable octets must be \xHH-escaped (blob.cpp;
            # test_blob.test:66)
            raise ValueError(
                f"Conversion Error: could not convert string "
                f"'{raw}' to BLOB"
            )
        data.extend(raw[k].encode("utf-8"))
        k += 1
    return data.hex().upper()
def _rewrite_within_group(toks: list[str]) -> list[str]:
    """`fn(args) WITHIN GROUP (ORDER BY key [dir])` → `fn(key[, args])`
    for ordered-set aggregates Spark has no WITHIN GROUP spelling for
    (reference transform_function.cpp ordered-aggregate path).
    percentile_cont/percentile_disc/listagg keep the native syntax."""
    out = list(toks)
    i = 0
    while i < len(out):
        t = out[i]
        if not re.match(r"^[A-Za-z_]", t) or t.lower() not in _WITHIN_GROUP_FOLD:
            i += 1
            continue
        j = _next_code(out, i + 1)
        if j >= len(out) or out[j] != "(":
            i += 1
            continue
        close = _match_paren(out, j)
        if close < 0:
            i += 1
            continue
        w = _next_code(out, close + 1)
        if w >= len(out) or not _is_word(out[w], "WITHIN"):
            i = j
            continue
        g = _next_code(out, w + 1)
        if g >= len(out) or not _is_word(out[g], "GROUP"):
            i = j
            continue
        p = _next_code(out, g + 1)
        if p >= len(out) or out[p] != "(":
            i = j
            continue
        pc = _match_paren(out, p)
        body = "".join(out[p + 1:pc]).strip()
        key = re.sub(r"(?is)^ORDER\s+BY\s*", "", body).strip()
        if len(_split_top_args(_tokens(key))) > 1:
            raise ValueError(
                "Binder Error: Cannot use multiple ORDER BY clauses "
                "with WITHIN GROUP"
            )
        desc = bool(re.search(r"(?i)\s+DESC\s*$", key))
        key = re.sub(r"(?i)\s+(ASC|DESC)\s*$", "", key).strip()
        key = re.sub(r"(?i)\s+NULLS\s+(FIRST|LAST)\s*$", "", key).strip()
        prior0 = [a for a in _split_top_args(out[j + 1:close]) if a.strip()]
        prior = []
        for a in prior0:
            nm = re.match(r"(?is)^\s*(\w+)\s*:\s*=\s*(.*)$", a)
            if nm:
                # only the documented parameter name resolves
                if nm.group(1).lower() != "quantile":
                    raise ValueError(
                        f"Binder Error: No function matches the given name "
                        f"and argument types '{t.lower()}({nm.group(1)})'"
                    )
                prior.append(nm.group(2).strip())
            else:
                prior.append(a)
        fn = _WITHIN_GROUP_FOLD[t.lower()]
        if t.lower().startswith("percentile") and len(prior) != 1:
            raise ValueError(
                f"Binder Error: Wrong number of arguments for "
                f"{t.upper()}"
            )
        if fn in ("mode", "median", "mad") and prior:
            raise ValueError(
                f"Binder Error: Wrong number of arguments for {t.upper()}"
            )
        for q in prior:
            if fn.startswith("quantile"):
                if re.search(r"(?i)'nan'|\bnull\b", q):
                    raise ValueError(
                        "Binder Error: QUANTILE parameter cannot be NaN/NULL"
                    )
                if re.fullmatch(r"(?is)array\s*\(\s*\)", q.strip()):
                    raise ValueError(
                        "Binder Error: QUANTILE requires a non-empty list"
                    )
                if re.search(r"(?i)\b(sum|count|avg|min|max|median|mode)\s*\(", q):
                    raise ValueError(
                        "Binder Error: aggregate function calls cannot be "
                        "nested"
                    )
                if re.search(r"(?is)\bcase\b", q) and not re.search(
                    r"(?i)\belse\b", q
                ):
                    # ELSE-less CASE over non-matching literals is a NULL
                    # fraction (reference rejects NULL fractions)
                    raise ValueError(
                        "Binder Error: QUANTILE parameter cannot be NULL"
                    )
                if t.lower().startswith("percentile"):
                    # the SQL-standard spelling requires fractions in
                    # [0, 1] — only quantile_* admits negatives
                    lits = [q.strip()]
                    qm = re.match(r"(?is)^array\s*\(", q.strip())
                    if qm and q.strip().endswith(")"):
                        lits = _split_top_args(_tokens(q.strip()[qm.end():-1]))
                    for lit in lits:
                        if re.match(r"^\s*-\s*(\d+\.?\d*|\.\d+)\s*$", lit):
                            raise ValueError(
                                "Binder Error: PERCENTILE fraction must be "
                                "between 0 and 1"
                            )
        if fn in ("mode", "median", "mad"):
            args = [key]
        else:
            # quantile_disc(q) WITHIN GROUP (ORDER BY x) = quantile_disc(x, q)
            args = [key] + prior
        if desc and fn in ("quantile_disc", "quantile", "quantile_cont"):
            cont = fn == "quantile_cont"
            args = [args[0]] + [_neg_q(a, cont) for a in args[1:]]
        out[i:pc + 1] = _tokens(f"{fn}(" + ", ".join(args) + ")")
        i += 1
    return out
