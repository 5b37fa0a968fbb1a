"""Deep correlated-subquery fallback (reference
src/planner/subquery/flatten_dependent_join.cpp).

Catalyst's DecorrelateInnerQuery handles equality-correlated predicates in
WHERE; the reference flattens ARBITRARY correlation — under aggregates,
windows, grouping sets, in quantifier comparisons. When Spark refuses a
plan (UNSUPPORTED_SUBQUERY_EXPRESSION / INVALID_WHERE_CONDITION /
SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION ...), this retry-only
pass manually flattens each hard subquery:

1. find its correlated references — outer-alias-qualified columns,
   unqualified names resolvable only in the outer scope, and (the
   SQL-standard scoping rule, test_many_correlated_columns.test:22)
   whole aggregate calls whose arguments are PURELY outer, which the
   reference evaluates in the OUTER query's context;
2. evaluate the subquery once per DISTINCT outer key tuple (driver loop,
   capped at MAX_KEYS with a loud bail — a correctness fallback for plans
   Spark cannot run at all, not a 100 TB path); aggregate refs enumerate
   keys under the outer query's own GROUP BY;
3. replace the subquery with a PURE literal expression — a null-safe
   CASE chain mapping each key tuple to its value (scalar / EXISTS
   boolean / IN array) — so no correlation reaches Catalyst at all and
   the replacement is valid in any expression position (SELECT list,
   ORDER BY, quantifiers).
"""

from __future__ import annotations

import re

MAX_KEYS = 300

_AGG_NAMES = {
    "sum", "min", "max", "avg", "count", "stddev", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "variance", "median", "mode",
    "string_agg", "group_concat", "listagg", "list", "array_agg", "first",
    "last", "any_value", "arg_min", "arg_max", "bit_and", "bit_or",
    "bit_xor", "bool_and", "bool_or", "product", "quantile",
    "quantile_cont", "quantile_disc", "approx_count_distinct", "entropy",
    "kurtosis", "skewness", "corr", "covar_pop", "covar_samp",
}

_OUTER_POS_GUARD = {
    "FROM", "JOIN", "LATERAL", "TABLE", "AS", "UNION", "EXCEPT",
    "INTERSECT", "INSERT", "VALUES", "USING",
}

_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "AND", "OR", "NOT", "AS",
    "ON", "JOIN", "ORDER", "LIMIT", "NULL", "TRUE", "FALSE", "IN",
    "EXISTS", "IS", "LIKE", "BETWEEN", "CASE", "WHEN", "THEN", "ELSE",
    "END", "HAVING", "DISTINCT", "ASC", "DESC", "NULLS", "FIRST", "LAST",
    "OVER", "PARTITION", "UNION", "ALL", "ANY", "SOME", "EXCEPT",
    "INTERSECT", "LEFT", "RIGHT", "INNER", "OUTER", "FULL", "CROSS",
    "USING", "INTERVAL", "CAST", "OFFSET", "ROWS", "RANGE", "GROUPS",
    "UNBOUNDED", "PRECEDING", "FOLLOWING", "CURRENT", "ROW", "FILTER",
    "WITHIN", "LATERAL", "VALUES", "SETS", "CUBE", "ROLLUP", "GROUPING",
    "WINDOW", "QUALIFY", "NATURAL", "SEMI", "ANTI", "ASOF", "TRY_CAST",
}


def _word(t: str) -> bool:
    return bool(re.match(r"^[A-Za-z_]", t))


def _clause_span(toks: list[str], word: str,
                 stop_words: tuple[str, ...]) -> tuple[int, int] | None:
    """(start, end) span of a depth-0 clause's body."""
    from duckdb_spark.sql.dialect import _next_code

    depth = 0
    start = -1
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _word(t) and t.upper() == word:
            start = i + 1
            if word == "GROUP":
                start = _next_code(toks, start) + 1  # skip BY
            break
    if start < 0:
        return None
    depth = 0
    end = len(toks)
    for i in range(start, len(toks)):
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _word(t) and t.upper() in stop_words:
            end = i
            break
    return start, end


_FROM_STOPS = ("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
               "WINDOW", "QUALIFY", "UNION", "EXCEPT", "INTERSECT")
_GB_STOPS = ("HAVING", "ORDER", "LIMIT", "OFFSET", "WINDOW", "QUALIFY",
             "UNION", "EXCEPT", "INTERSECT")


def _outer_from_span(toks: list[str]) -> tuple[int, int] | None:
    from duckdb_spark.sql.dialect import _prev_code

    depth = 0
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _word(t) and t.upper() == "FROM":
            pv = _prev_code(toks, i - 1)
            if pv >= 0 and _word(toks[pv]) and toks[pv].upper() in (
                "DISTINCT", "EXTRACT", "SUBSTRING", "TRIM",
            ):
                continue
            sp = _clause_span(toks[i:], "FROM", _FROM_STOPS)
            if sp is None:
                return None
            return i + sp[0], i + sp[1]
    return None


def _tvf_alias_cols(ft: list[str]) -> dict[str, set[str]]:
    """alias → declared column set for `fn(args) alias(c1, c2)` items —
    table functions carry their columns in the alias list, which the
    plain FROM-table scanner skips (pg_lateral.test generate_series)."""
    from duckdb_spark.sql.dialect import _match_paren, _next_code

    out: dict[str, set[str]] = {}
    k0 = 0
    while k0 < len(ft):
        if ft[k0] == "(":
            # derived item `( … ) alias (cols)` (VALUES lists and
            # subqueries with a declared column list)
            c1 = _match_paren(ft, k0)
            a1 = _next_code(ft, c1 + 1) if c1 > 0 else -1
            if 0 <= a1 < len(ft) and _word(ft[a1]) and \
                    ft[a1].upper() == "AS":
                a1 = _next_code(ft, a1 + 1)
            if 0 <= a1 < len(ft) and \
                    re.match(r"^[A-Za-z_`\"]", ft[a1]) and \
                    ft[a1].upper() not in ("WHERE", "GROUP", "ORDER",
                                           "JOIN", "ON", "LIMIT",
                                           "HAVING", "UNION", "LATERAL"):
                alias = ft[a1].strip('`"').lower()
                b1 = _next_code(ft, a1 + 1)
                if b1 < len(ft) and ft[b1] == "(":
                    cb1 = _match_paren(ft, b1)
                    if cb1 > 0:
                        out[alias] = {
                            c.strip().strip('`"').lower()
                            for c in "".join(ft[b1 + 1:cb1]).split(",")
                            if c.strip()
                        }
                        k0 = cb1 + 1
                        continue
            k0 = (c1 + 1) if c1 > 0 else (k0 + 1)
            continue
        if _word(ft[k0]):
            p1 = _next_code(ft, k0 + 1)
            if p1 < len(ft) and ft[p1] == "(":
                c1 = _match_paren(ft, p1)
                a1 = _next_code(ft, c1 + 1) if c1 > 0 else -1
                if 0 <= a1 < len(ft) and \
                        re.match(r"^[A-Za-z_`\"]", ft[a1]) and \
                        ft[a1].upper() not in ("WHERE", "GROUP", "ORDER",
                                               "JOIN", "ON", "AS", "LIMIT",
                                               "HAVING", "UNION"):
                    alias = ft[a1].strip('`"').lower()
                    b1 = _next_code(ft, a1 + 1)
                    if b1 < len(ft) and ft[b1] == "(":
                        cb1 = _match_paren(ft, b1)
                        if cb1 > 0:
                            out[alias] = {
                                c.strip().strip('`"').lower()
                                for c in "".join(ft[b1 + 1:cb1]).split(",")
                                if c.strip()
                            }
                            k0 = cb1 + 1
                            continue
                    k0 = a1 + 1
                    continue
        k0 += 1
    return out


def _columns_of(spark, table: str) -> set[str] | None:
    try:
        return {f.name.lower() for f in spark.table(table).schema.fields}
    except Exception:  # noqa: BLE001
        return None


def _derived_alias_cols(con, ft: list[str]) -> dict[str, set[str]]:
    """alias → column set for `( <uncorrelated body> ) [AS] alias` derived
    tables (no declared collist — those go through _tvf_alias_cols):
    resolve by asking Spark for the body's schema. Correlated bodies fail
    the probe and are skipped (lateral_fuzzer_1463.test outer
    `(SELECT 42 AS c1) AS ref`)."""
    from duckdb_spark.sql.dialect import _match_paren, _next_code

    out: dict[str, set[str]] = {}
    k = 0
    while k < len(ft):
        if ft[k] != "(":
            k += 1
            continue
        c = _match_paren(ft, k)
        if c < 0:
            k += 1
            continue
        a = _next_code(ft, c + 1)
        if a < len(ft) and _word(ft[a]) and ft[a].upper() == "AS":
            a = _next_code(ft, a + 1)
        if a < len(ft) and re.match(r"^[A-Za-z_`\"]", ft[a]) and \
                ft[a].upper() not in ("WHERE", "GROUP", "ORDER", "JOIN",
                                      "ON", "LIMIT", "HAVING", "UNION",
                                      "LATERAL", "LEFT", "RIGHT", "INNER",
                                      "FULL", "CROSS"):
            alias = ft[a].strip('`"').lower()
            b = _next_code(ft, a + 1)
            if not (b < len(ft) and ft[b] == "("):
                body = "".join(ft[k + 1:c]).strip()
                if re.match(r"(?is)^(SELECT|FROM|WITH|VALUES)\b", body):
                    try:
                        rel = con.sql(
                            f"SELECT * FROM ({body}) __dkpcols WHERE 1=0")
                        if rel is not None:
                            out[alias] = {
                                f.name.lower()
                                for f in rel.df().schema.fields}
                    except Exception:  # noqa: BLE001
                        pass
        k = c + 1
    return out


def _find_refs(s_toks: list[str], outer_aliases: dict[str, str],
               outer_cols: dict[str, set[str]],
               spark) -> tuple[list[str], bool] | None:
    """(correlated reference expressions, any_aggregate_ref) — or None for
    shapes we must not flatten. A non-windowed aggregate call whose
    arguments are purely outer is captured WHOLE (outer-context
    evaluation); mixed outer/inner aggregates bind their outer columns as
    constants, which matches the reference."""
    from duckdb_spark.sql.dialect import (
        _match_paren,
        _nestcmp_from_tables,
        _next_code,
        _prev_code,
    )

    own = _nestcmp_from_tables(s_toks)
    own_cols: set[str] = set()
    own_unresolved = False
    joined = "".join(s_toks)
    # CTEs defined inside the subquery are internal names, not unresolved
    # outer tables (correlation THROUGH a CTE —
    # test_correlated_subquery_cte.test); their select-list aliases shadow
    # outer columns, so fold every `AS x` alias into own_cols (cast
    # type-names land there too — harmless over-shadowing).
    cte_names = {
        m.group(1).lower() for m in re.finditer(
            r"(?is)(?:\bWITH\s+(?:RECURSIVE\s+)?|,)\s*([A-Za-z_]\w*)"
            r"\s+AS\s*\(", joined)
    }
    if cte_names:
        own_cols |= {
            m.group(1).lower()
            for m in re.finditer(r"(?is)\bAS\s+([A-Za-z_]\w*)", joined)
        }
    for tbl in set(own.values()):
        if tbl.lower() in cte_names:
            continue
        cols = _columns_of(spark, tbl)
        if cols is None:
            own_unresolved = True
        else:
            own_cols |= cols
    for alias, cols in _tvf_alias_cols(s_toks).items():
        own.setdefault(alias, alias)
        own_cols |= cols
    all_outer_cols = set()
    for cs in outer_cols.values():
        all_outer_cols |= cs
    refs: list[str] = []
    has_agg_ref = False
    i = 0
    n = len(s_toks)
    while i < n:
        t = s_toks[i]
        if not _word(t):
            i += 1
            continue
        low = t.lower()
        nx = _next_code(s_toks, i + 1)
        pv = _prev_code(s_toks, i - 1)
        if nx < n and s_toks[nx] == ".":
            c = _next_code(s_toks, nx + 1)
            if c < n and _word(s_toks[c]):
                if low in outer_aliases and low not in own:
                    refs.append(f"{t}.{s_toks[c]}")
                i = c + 1
                continue
        if nx < n and s_toks[nx] == "(":
            if low in _AGG_NAMES:
                close = _match_paren(s_toks, nx)
                if close > 0:
                    arg = s_toks[nx + 1:close]
                    has_outer = False
                    has_inner = False
                    k = 0
                    while k < len(arg):
                        a = arg[k]
                        if _word(a):
                            al = a.lower()
                            k2 = k + 1
                            while k2 < len(arg) and arg[k2].isspace():
                                k2 += 1
                            if k2 < len(arg) and arg[k2] == ".":
                                if al in own:
                                    has_inner = True
                                elif al in outer_aliases:
                                    has_outer = True
                                k = k2 + 1
                            elif k2 < len(arg) and arg[k2] == "(":
                                pass  # nested call name
                            elif al in own_cols:
                                has_inner = True
                            elif al in all_outer_cols and \
                                    not own_unresolved:
                                has_outer = True
                        if arg[k] == "*":
                            has_inner = True
                        k += 1
                    if has_outer and not has_inner:
                        after = _next_code(s_toks, close + 1)
                        if (after < n and _word(s_toks[after]) and
                                s_toks[after].upper() == "OVER"):
                            i += 1  # windowed: per-row, binding is fine
                            continue
                        # pure-outer aggregate: an OUTER-context value —
                        # capture the whole call as the reference
                        refs.append("".join(s_toks[i:close + 1]))
                        has_agg_ref = True
                        i = close + 1
                        continue
            i += 1
            continue
        if pv >= 0 and s_toks[pv] == ".":
            i += 1
            continue
        if low in own or (low in outer_aliases
                          and low not in all_outer_cols):
            # a bare alias name is not a value — unless the alias doubles
            # as its own column name (TVF collists: generate_series s1(s1))
            i += 1
            continue
        if t.upper() in _KEYWORDS:
            i += 1
            continue
        if low not in own_cols and low in all_outer_cols and \
                not own_unresolved:
            refs.append(t)
        i += 1
    seen: set[str] = set()
    out = []
    for r in refs:
        if r.lower() not in seen:
            seen.add(r.lower())
            out.append(r)
    return out, has_agg_ref


def _bind(s_text: str, refs: list[str], row, dtypes) -> str:
    from duckdb_spark.statements import _sql_lit

    bound = s_text
    order = sorted(range(len(refs)), key=lambda k: -len(refs[k]))
    for k in order:
        ref = refs[k]
        lit = _sql_lit(row[k], dtypes[k]).replace("\\", "\\\\")
        if "(" in ref:
            bound = bound.replace(ref, lit.replace("\\\\", "\\"))
        elif "." in ref:
            q, c = ref.split(".", 1)
            bound = re.sub(
                rf"(?is)(?<![\w.]){re.escape(q)}\s*\.\s*{re.escape(c)}"
                rf"\b(?!\s*\.)", lit, bound)
        else:
            bound = re.sub(
                rf"(?is)(?<![\w.]){re.escape(ref)}(?!\s*\()\b(?!\s*\.)",
                lit, bound)
    return bound


def _lit(v, dt) -> str:
    from duckdb_spark.statements import _sql_lit

    return _sql_lit(v, dt)


def _empty_grouping_fallback(con, bound_sql: str):
    """Rows the EMPTY grouping set `()` must contribute when the input is
    empty. Spark's GROUP BY GROUPING SETS/ROLLUP/CUBE over an empty input
    yields NO rows, but the reference (and the standard) gives one global-
    aggregate row per `()` set (lateral_grouping_sets.test:5). Returns the
    synthesized rows (may be []), or None when not applicable."""
    from duckdb_spark.sql.dialect import (
        _match_paren,
        _next_code,
        _split_top_args,
        _tokens,
    )

    toks = _tokens(bound_sql)
    gb = _clause_span(toks, "GROUP", _GB_STOPS)
    if gb is None:
        return None
    gtoks = toks[gb[0]:gb[1]]
    gtext = "".join(gtoks)
    n_empty = 0
    mgs = re.search(r"(?is)\bGROUPING\s+SETS\b", gtext)
    if mgs:
        # count top-level `()` entries in the GROUPING SETS list
        k = 0
        while k < len(gtoks):
            if _word(gtoks[k]) and gtoks[k].upper() == "SETS":
                o = _next_code(gtoks, k + 1)
                if o < len(gtoks) and gtoks[o] == "(":
                    c = _match_paren(gtoks, o)
                    if c > 0:
                        for part in _split_top_args(gtoks[o + 1:c]):
                            if re.fullmatch(r"\s*\(\s*\)\s*",
                                            "".join(part) if isinstance(part, list) else part):
                                n_empty += 1
                        k = c
            k += 1
    elif re.search(r"(?is)\b(ROLLUP|CUBE)\s*\(", gtext):
        n_empty = 1
    if n_empty == 0:
        return None
    # HAVING over the () group is out of this fallback's scope
    rest = "".join(toks[gb[1]:])
    if re.match(r"(?is)^\s*HAVING\b", rest):
        return None
    # global-aggregate variant: strip GROUP BY, NULL out non-aggregate
    # select items (they are grouping refs — NULL in the () set)
    lo = None
    for i, t in enumerate(toks):
        if _word(t) and t.upper() == "SELECT":
            lo = _next_code(toks, i + 1)
            break
    if lo is None:
        return None
    hi = len(toks)
    d = 0
    for i in range(lo, len(toks)):
        t = toks[i]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and _word(t) and t.upper() == "FROM":
            hi = i
            break
    items = _split_top_args(toks[lo:hi])
    items = ["".join(p) if isinstance(p, list) else p for p in items]
    if any(re.search(r"(?is)\bgrouping(_id)?\s*\(", it) for it in items):
        return None  # grouping()=1 in the () set; not synthesized here
    sel = ", ".join(
        it if _COMMON_AGG_DETECT.search(it) else "NULL"
        for it in items
    )
    # GROUP span starts after GROUP; back up to drop the GROUP keyword too
    gstart = gb[0]
    while gstart > 0 and not (_word(toks[gstart - 1])
                              and toks[gstart - 1].upper() == "GROUP"):
        gstart -= 1
    fallback = ("SELECT " + sel + " "
                + "".join(toks[hi:gstart - 1]) + " " + rest)
    try:
        r = con.sql(fallback)
        if r is None:
            return None
        rows = r.df().collect()
    except Exception:  # noqa: BLE001 — fallback is best-effort
        return None
    return rows * n_empty


_COMMON_AGG_DETECT = re.compile(
    r"(?is)\b(count|sum|avg|mean|min|max|first|last|any_value|string_agg|"
    r"list|array_agg|collect_list|collect_set|median|mode|quantile\w*|"
    r"percentile\w*|stddev\w*|var\w*|corr|covar\w*|regr_\w+|skewness|"
    r"kurtosis\w*|entropy|product|bool_and|bool_or|bit_and|bit_or|bit_xor|"
    r"arg_min\w*|arg_max\w*|min_by|max_by|approx_\w+|histogram\w*|"
    r"bitstring_agg|sem|mad|grouping|grouping_id)\s*\("
)


def decorrelate_retry(con, query: str):
    """Flatten hard correlated subqueries; returns a Relation or None.

    When the statement's own FROM yields nothing to flatten, recurse into
    top-level derived tables: `SELECT agg(...) FROM (SELECT EXISTS(...)
    FROM t)` correlates entirely INSIDE the (possibly alias-less) derived
    table, which the outer scan can't see
    (test_correlated_side_effects.test:18)."""
    text = _decorrelate_text(con, query)
    if text is not None:
        return con.sql(text)
    # ---- derived-table recursion ----
    from duckdb_spark.sql.dialect import _match_paren, _next_code, _tokens

    toks = _tokens(query)
    span = _outer_from_span(toks)
    if span is None:
        return None
    changed = False
    i = span[0]
    while i < span[1]:
        if toks[i] != "(":
            i += 1
            continue
        sel = _next_code(toks, i + 1)
        if sel >= len(toks) or not (
            _word(toks[sel]) and toks[sel].upper() in ("SELECT", "WITH")
        ):
            i += 1
            continue
        close = _match_paren(toks, i)
        if close < 0 or close > span[1]:
            i += 1
            continue
        inner = "".join(toks[i + 1:close])
        itext = _decorrelate_text(con, inner)
        if itext is not None:
            toks[i + 1:close] = [itext]
            changed = True
            break  # token indices shifted; one derived table per pass
        i = close + 1
    if not changed:
        return None
    return con.sql("".join(toks))


def _decorrelate_text(con, query: str):
    """Core flattener: returns the rewritten statement TEXT, or None."""
    from duckdb_spark.sql.dialect import (
        _match_paren,
        _next_code,
        _prev_code,
        _tokens,
    )

    from duckdb_spark.sql.dialect import insert_implicit_lateral

    # comma-joined FROM subqueries bind laterally in the reference even
    # without the keyword; spelling LATERAL up front routes them through
    # the FROM-position LATERAL handler below instead of the scalar
    # scanner (which would wrongly literal-fold a table item)
    query = insert_implicit_lateral(query)
    toks = _tokens(query)
    span = _outer_from_span(toks)
    if span is None:
        return None
    from duckdb_spark.sql.dialect import _nestcmp_from_tables

    outer_from_text = "".join(toks[span[0]:span[1]]).strip()
    # key-enumeration queries must not drag the (unplannable) LATERAL
    # items along — strip `, LATERAL (…) alias[(cols)]` spans
    oft = _tokens(outer_from_text)
    k0 = 0
    while k0 < len(oft):
        if _word(oft[k0]) and oft[k0].upper() == "LATERAL":
            from duckdb_spark.sql.dialect import (
                _match_paren as _mp0,
                _next_code as _nc0,
                _prev_code as _pc0,
            )

            o0 = _nc0(oft, k0 + 1)
            if o0 < len(oft) and oft[o0] == "(":
                c0 = _mp0(oft, o0)
                if c0 > 0:
                    e0 = c0
                    a0 = _nc0(oft, c0 + 1)
                    if a0 < len(oft) and _word(oft[a0]) and \
                            oft[a0].upper() == "AS":
                        a0 = _nc0(oft, a0 + 1)
                    if a0 < len(oft) and re.match(r"^[A-Za-z_`\"]", oft[a0]):
                        e0 = a0
                        b0 = _nc0(oft, a0 + 1)
                        if b0 < len(oft) and oft[b0] == "(":
                            cb = _mp0(oft, b0)
                            if cb > 0:
                                e0 = cb
                    s0 = _pc0(oft, k0 - 1)
                    st0 = s0 if (s0 >= 0 and oft[s0] == ",") else k0
                    oft[st0:e0 + 1] = []
                    k0 = st0
                    continue
        k0 += 1
    keys_from_text = "".join(oft).strip()
    outer_aliases = _nestcmp_from_tables(_tokens(f"FROM {outer_from_text}"))
    outer_cols: dict[str, set[str]] = {}
    for alias, tbl in list(outer_aliases.items()):
        cols = _columns_of(con.spark, tbl)
        if cols is None:
            del outer_aliases[alias]
            continue
        outer_cols[alias] = cols
    for alias, cols in _tvf_alias_cols(_tokens(keys_from_text)).items():
        if alias not in outer_aliases:
            outer_aliases[alias] = alias
            outer_cols[alias] = cols
    for alias, cols in _derived_alias_cols(
            con, _tokens(keys_from_text)).items():
        if alias not in outer_aliases:
            outer_aliases[alias] = alias
            outer_cols[alias] = cols
    if not outer_aliases:
        return None
    gb = _clause_span(toks, "GROUP", _GB_STOPS)
    outer_group_by = "".join(toks[gb[0]:gb[1]]).strip() if gb else ""

    out = list(toks)
    changed = False
    # ---- FROM-position LATERAL subqueries Catalyst refuses (grouping
    # sets / mixed-reference aggregates under correlation): materialize
    # rows per outer key and splice a Spark LATERAL VIEW inline() over a
    # key-dispatched array-of-structs literal — LATERAL VIEW adds exactly
    # the named columns, so SELECT * stays clean.
    i = 0
    while i < len(out):
        t = out[i]
        if not (_word(t) and t.upper() == "LATERAL"):
            i += 1
            continue
        op = _next_code(out, i + 1)
        if op >= len(out) or out[op] != "(":
            i += 1
            continue
        sel0 = _next_code(out, op + 1)
        if sel0 >= len(out) or not (_word(out[sel0]) and out[sel0].upper()
                                    in ("SELECT", "WITH", "FROM")):
            i += 1
            continue
        close = _match_paren(out, op)
        if close < 0:
            i += 1
            continue
        pv = _prev_code(out, i - 1)
        if not (pv >= 0 and out[pv] == ","):
            i += 1
            continue  # JOIN LATERAL forms: leave to Spark / other paths
        s_toks = out[op + 1:close]
        found = _find_refs(s_toks, outer_aliases, outer_cols, con.spark)
        if found is None:
            return None
        refs, has_agg_ref = found
        if not refs:
            i = close + 1
            continue
        # alias [ (col list) ]
        j = _next_code(out, close + 1)
        alias = None
        colnames: list[str] | None = None
        if j < len(out) and _word(out[j]) and out[j].upper() == "AS":
            j = _next_code(out, j + 1)
        if j < len(out) and re.match(r"^[A-Za-z_`\"]", out[j]) and \
                out[j].upper() not in ("WHERE", "GROUP", "ORDER", "LIMIT",
                                       "HAVING", "UNION", "QUALIFY"):
            alias = out[j].strip('`"')
            j2 = _next_code(out, j + 1)
            if j2 < len(out) and out[j2] == "(":
                c2 = _match_paren(out, j2)
                if c2 > 0:
                    colnames = [c.strip().strip('`"') for c in
                                "".join(out[j2 + 1:c2]).split(",")]
                    j = c2
        end = j if alias else close
        # after the lateral item only clause keywords may follow (the
        # LATERAL VIEW must trail every regular FROM item)
        nxt = _next_code(out, end + 1)
        if nxt < len(out) and not (
            _word(out[nxt]) and out[nxt].upper() in (
                "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET",
                "UNION", "EXCEPT", "INTERSECT", "QUALIFY", "WINDOW",
            )
        ) and out[nxt] != ")" and nxt < len(out):
            i = close + 1
            continue
        s_text = "".join(s_toks)
        keys_sql = "SELECT DISTINCT " + ", ".join(
            f"{r} AS __k{k}" for k, r in enumerate(refs)
        ) + f" FROM {keys_from_text}"
        if has_agg_ref and outer_group_by:
            keys_sql += f" GROUP BY {outer_group_by}"
        keys_rel = con.sql(keys_sql)
        if keys_rel is None:
            return None
        keys_df = keys_rel.df()
        key_rows = keys_df.limit(MAX_KEYS + 1).collect()
        if len(key_rows) > MAX_KEYS:
            return None
        dtypes = [f.dataType for f in keys_df.schema.fields]
        entries = []
        s_schema = None
        for row in key_rows:
            bound = _bind(s_text, refs, row, dtypes)
            r = con.sql(bound)
            if r is None:
                return None
            rdf = r.df()
            s_schema = rdf.schema
            vals = rdf.collect()
            if not vals:
                # empty grouping set over empty input still produces its
                # global-aggregate row (lateral_grouping_sets.test:5)
                extra = _empty_grouping_fallback(con, bound)
                if extra:
                    vals = extra
            cond = " AND ".join(
                f"({ref}) <=> {_lit(row[k], dtypes[k])}"
                for k, ref in enumerate(refs)
            )
            names = colnames or [f.name for f in s_schema.fields]
            structs = []
            for vr in vals:
                kv = ", ".join(
                    f"'{nm}', {_lit(v, f.dataType)}"
                    for nm, v, f in zip(names, vr, s_schema.fields)
                )
                structs.append(f"named_struct({kv})")
            entries.append((cond, structs))
        if s_schema is None:
            return None
        names = colnames or [f.name for f in s_schema.fields]
        sstr = "STRUCT<" + ", ".join(
            f"`{nm}`: {f.dataType.simpleString()}"
            for nm, f in zip(names, s_schema.fields)
        ) + ">"
        empty = f"CAST(array() AS ARRAY<{sstr}>)"
        chain = "CASE " + " ".join(
            f"WHEN {c} THEN array({', '.join(ss)})" if ss
            else f"WHEN {c} THEN {empty}"
            for c, ss in entries
        ) + f" ELSE {empty} END" if entries else empty
        lv = (f" LATERAL VIEW inline({chain}) "
              f"{alias or '__dklat'} AS "
              + ", ".join(f"`{nm}`" for nm in names) + " ")
        # drop the preceding comma and the whole lateral item
        out[pv:end + 1] = _tokens(lv)
        changed = True
        i = pv + 1
    i = 0
    while i < len(out):
        if out[i] != "(":
            i += 1
            continue
        sel = _next_code(out, i + 1)
        if sel >= len(out) or not (_word(out[sel]) and
                                   out[sel].upper() in ("SELECT", "WITH")):
            i += 1
            continue
        p = _prev_code(out, i - 1)
        prev_up = out[p].upper() if p >= 0 and _word(out[p]) else ""
        if prev_up in _OUTER_POS_GUARD:
            i += 1
            continue
        close = _match_paren(out, i)
        if close < 0:
            i += 1
            continue
        s_toks = out[i + 1:close]
        found = _find_refs(s_toks, outer_aliases, outer_cols, con.spark)
        if found is None:
            return None
        refs, has_agg_ref = found
        if not refs:
            i = close + 1
            continue
        mode = "scalar"
        repl_start = i
        if prev_up == "EXISTS":
            mode = "exists"
            repl_start = p
        elif prev_up == "IN":
            mode = "in"
        elif prev_up in ("ANY", "ALL", "SOME"):
            q2 = _prev_code(out, p - 1)
            op2 = out[q2] if q2 >= 0 else ""
            if prev_up in ("ANY", "SOME") and op2 in ("=", "=="):
                # `x = ANY(sub)` ≡ `x IN (sub)` (issue_2999.test) — the
                # IN branch below anchors the lhs from the op position;
                # the stale ANY token sits inside the spliced-out span
                mode = "in"
                p = q2
                out[q2] = "IN"
            elif op2 in (">", ">=", "<", "<="):
                # ordering quantifier over the per-key row-set array:
                # ANY folds against min/max of the non-NULL elements,
                # 3-valued on NULL members (test_correlated_any_all.test
                # `MIN(i) > ANY(SELECT i … WHERE i > MIN(i1.i))`)
                mode = "quant"
                quant = "ALL" if prev_up == "ALL" else "ANY"
                quant_op = op2
                p = q2
            else:
                return None  # = ALL / <> ANY: not expressible here
        s_text = "".join(s_toks)
        # volatile subqueries (nextval/random/uuid) must run once per
        # PHYSICAL outer row, not per distinct key: enumerate all outer
        # rows in order, dispatching on every outer column so same-key
        # rows stay distinct (test_correlated_side_effects.test:18;
        # identical full rows still collapse — documented limit)
        volatile = bool(re.search(
            r"(?i)\b(nextval|gen_random_uuid|uuid|random)\s*\(", s_text))
        if volatile and not has_agg_ref:
            for al, cols in outer_cols.items():
                for c in sorted(cols):
                    q = f"{al}.{c}"
                    if q not in refs:
                        refs = refs + [q]
            keys_sql = "SELECT " + ", ".join(
                f"{r} AS __k{k}" for k, r in enumerate(refs)
            ) + f" FROM {keys_from_text}"
        else:
            keys_sql = "SELECT DISTINCT " + ", ".join(
                f"{r} AS __k{k}" for k, r in enumerate(refs)
            ) + f" FROM {keys_from_text}"
            if has_agg_ref:
                keys_sql += f" GROUP BY {outer_group_by}" \
                    if outer_group_by else ""
        keys_rel = con.sql(keys_sql)
        if keys_rel is None:
            return None
        keys_df = keys_rel.df()
        key_rows = keys_df.limit(MAX_KEYS + 1).collect()
        if len(key_rows) > MAX_KEYS:
            return None
        dtypes = [f.dataType for f in keys_df.schema.fields]
        entries = []  # (cond_sql, value_sql)
        val_any = "CAST(NULL AS STRING)"
        for row in key_rows:
            r = con.sql(_bind(s_text, refs, row, dtypes))
            if r is None:
                return None
            rdf = r.df()
            cond = " AND ".join(
                f"({ref}) <=> {_lit(row[k], dtypes[k])}"
                for k, ref in enumerate(refs)
            )
            if mode == "exists":
                val = str(len(rdf.limit(1).collect()) > 0).lower()
            else:
                vals = rdf.collect()
                vdt = rdf.schema.fields[0].dataType
                if mode == "scalar":
                    if len(vals) > 1:
                        from duckdb_spark.sql.dialect import \
                            get_session_setting

                        if get_session_setting(
                            "scalar_subquery_error_on_multiple_rows"
                        ) != "false":
                            raise ValueError(
                                "Invalid Input Error: More than one row "
                                "returned by a subquery used as an "
                                "expression - scalar subqueries can only "
                                "return a single row.")
                    val = _lit(vals[0][0] if vals else None, vdt)
                else:  # in: the full row set as an array literal
                    val = ("array(" + ", ".join(
                        _lit(v[0], vdt) for v in vals) + ")"
                        if vals else
                        f"CAST(array() AS ARRAY<{vdt.simpleString()}>)")
                val_any = f"CAST(NULL AS {vdt.simpleString()})"
            entries.append((cond, val))
        if mode == "exists":
            repl = "(" + ("CASE " + " ".join(
                f"WHEN {c} THEN {v}" for c, v in entries
            ) + " ELSE false END" if entries else "false") + ")"
            out[repl_start:close + 1] = _tokens(repl)
        elif mode == "scalar":
            repl = "(" + ("CASE " + " ".join(
                f"WHEN {c} THEN {v}" for c, v in entries
            ) + f" ELSE {val_any} END" if entries else val_any) + ")"
            out[repl_start:close + 1] = _tokens(repl)
        elif mode == "quant":
            from duckdb_spark.sql.dialect import _nestcmp_operand_left

            lstart = _nestcmp_operand_left(out, p)
            if lstart >= p:
                return None
            lhs = "".join(out[lstart:p]).strip()
            arr = "(CASE " + " ".join(
                f"WHEN {c} THEN {v}" for c, v in entries
            ) + " ELSE CAST(NULL AS ARRAY<STRING>) END)" if entries \
                else "array()"
            # array_min/array_max skip NULL elements, so the fold
            # compares against the best non-NULL candidate; a remaining
            # NULL member turns the miss 3-valued
            agg_any = "array_min" if quant_op in (">", ">=") \
                else "array_max"
            agg_all = "array_max" if quant_op in (">", ">=") \
                else "array_min"
            if quant == "ANY":
                expr = (
                    f"(CASE WHEN size({arr}) = 0 THEN false "
                    f"WHEN ({lhs}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                    f"WHEN ({lhs}) {quant_op} {agg_any}({arr}) THEN true "
                    f"WHEN exists({arr}, __qx -> __qx IS NULL) "
                    f"THEN CAST(NULL AS BOOLEAN) ELSE false END)")
            else:
                expr = (
                    f"(CASE WHEN size({arr}) = 0 THEN true "
                    f"WHEN ({lhs}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                    f"WHEN NOT (({lhs}) {quant_op} {agg_all}({arr})) "
                    f"THEN false "
                    f"WHEN exists({arr}, __qx -> __qx IS NULL) "
                    f"THEN CAST(NULL AS BOOLEAN) ELSE true END)")
            out[lstart:close + 1] = _tokens(expr)
            changed = True
            i = lstart + 1
            continue
        else:  # in: rewrite `lhs IN (S)` as 3-valued array membership
            from duckdb_spark.sql.dialect import _nestcmp_operand_left

            lhs_anchor = p
            pnot = _prev_code(out, p - 1)
            neg = pnot >= 0 and _word(out[pnot]) and \
                out[pnot].upper() == "NOT"
            lstart = _nestcmp_operand_left(out, pnot if neg else p)
            if lstart >= (pnot if neg else p):
                return None
            lhs = "".join(out[lstart:(pnot if neg else p)]).strip()
            arr = "(CASE " + " ".join(
                f"WHEN {c} THEN {v}" for c, v in entries
            ) + " ELSE CAST(NULL AS ARRAY<STRING>) END)" if entries \
                else "array()"
            inx = (
                f"(CASE WHEN size({arr}) = 0 THEN false "
                f"WHEN ({lhs}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                f"WHEN array_contains({arr}, ({lhs})) THEN true "
                f"WHEN exists({arr}, __x -> __x IS NULL) THEN "
                f"CAST(NULL AS BOOLEAN) ELSE false END)"
            )
            if neg:
                inx = f"(NOT {inx})"
            out[lstart:close + 1] = _tokens(inx)
            changed = True
            i = lstart + 1
            continue
        changed = True
        i += 1
    if not changed:
        return None
    return "".join(out)
