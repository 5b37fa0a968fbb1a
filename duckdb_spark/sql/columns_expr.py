"""COLUMNS(...) star-expression expansion.

Reference: src/include/duckdb/parser/expression/star_expression.hpp and
src/planner/binder/expression/bind_star_expression.cpp — `COLUMNS('regex')`,
`COLUMNS(*)` (with EXCLUDE / REPLACE), and `COLUMNS(['a','b'])` replicate
the enclosing list entry once per matched source column; a string alias with
regex back-references (`AS '\\1_rank'`) names each replica from the
pattern's capture groups.

Spark has no COLUMNS star expression, but the expansion is pure syntax once
the source schema is known: the active Connection probes the FROM relation
(`SELECT * FROM <seg> LIMIT 0`) and hands the column list in, and this
module rewrites the statement into its expanded form before translation.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from duckdb_spark.sql.dialect import _tokens

_CLAUSE_END = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "QUALIFY",
    "WINDOW", "UNION", "EXCEPT", "INTERSECT", "SELECT", ";",
}


def has_columns_expr(sql: str) -> bool:
    return re.search(r"(?i)\bCOLUMNS\s*\(", sql) is not None


def _code(tok: str) -> bool:
    return bool(tok.strip()) and not tok.startswith("--") \
        and not tok.startswith("/*")


def _prev(toks: list[str], i: int) -> int:
    i -= 1
    while i >= 0 and not _code(toks[i]):
        i -= 1
    return i


def _next(toks: list[str], i: int) -> int:
    i += 1
    while i < len(toks) and not _code(toks[i]):
        i += 1
    return i


def _match_paren(toks: list[str], i: int) -> int:
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] == "(":
            depth += 1
        elif toks[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    return -1


def _quote(name: str) -> str:
    if re.fullmatch(r"[A-Za-z_]\w*", name):
        return name
    return "`" + name.replace("`", "``") + "`"


def _parse_arg(toks: list[str], lo: int, hi: int, cols: list[str]):
    """Parse the COLUMNS(...) argument; return list of (expr_text, colname)
    expansions. Raises ValueError (binder parity) on an empty match."""
    args = [t for t in toks[lo:hi] if _code(t)]
    if not args:
        raise ValueError("Binder Error: COLUMNS expects a single argument")
    if args[0] == "*":
        exclude: set[str] = set()
        replace: dict[str, str] = {}
        k = 1
        while k < len(args):
            kw = args[k].upper()
            if kw == "EXCLUDE" and k + 1 < len(args) and args[k + 1] == "(":
                close = _match_paren(args, k + 1)
                exclude |= {a.strip('"').lower() for a in args[k + 2:close]
                            if a not in (",",)}
                k = close + 1
            elif kw == "REPLACE" and k + 1 < len(args) and args[k + 1] == "(":
                close = _match_paren(args, k + 1)
                # entries: expr AS name, ...
                entry: list[str] = []
                depth = 0
                for a in args[k + 2:close] + [","]:
                    if a == "(":
                        depth += 1
                    elif a == ")":
                        depth -= 1
                    if a == "," and depth == 0:
                        if entry:
                            up = [x.upper() for x in entry]
                            if "AS" in up:
                                ai = len(up) - 1 - up[::-1].index("AS")
                                nm = "".join(entry[ai + 1:]).strip('"').lower()
                                replace[nm] = "(" + " ".join(entry[:ai]) + ")"
                        entry = []
                    else:
                        entry.append(a)
                k = close + 1
            else:
                k += 1
        out = []
        for c in cols:
            if c.lower() in exclude:
                continue
            out.append((replace.get(c.lower(), _quote(c)), c))
        if not out:
            raise ValueError("Binder Error: COLUMNS(*) matched no columns")
        return out, None
    if args[0].startswith("'"):
        pat = args[0][1:-1].replace("''", "'")
        try:
            rx = re.compile(pat)
        except re.error as e:
            raise ValueError(f"Binder Error: invalid regex in COLUMNS: {e}")
        out = [(_quote(c), c) for c in cols if rx.search(c)]
        if not out:
            raise ValueError(
                "Binder Error: No matching columns found that match "
                f"regex \"{pat}\"")
        return out, rx
    if args[0] == "[":
        names = [a[1:-1].replace("''", "'") for a in args[1:-1]
                 if a.startswith("'")]
        low = {c.lower(): c for c in cols}
        out = []
        for n in names:
            if n.lower() not in low:
                raise ValueError(
                    f"Binder Error: Column \"{n}\" was not found "
                    "in the table")
            c = low[n.lower()]
            out.append((_quote(c), c))
        if not out:
            raise ValueError("Binder Error: COLUMNS list is empty")
        return out, None
    raise ValueError(
        "Binder Error: unsupported COLUMNS argument "
        f"'{args[0]}' (regex, *, or name list)")


def _columns_spans(toks: list[str]):
    """(i, open, close) for each COLUMNS( call."""
    out = []
    for i, t in enumerate(toks):
        if t.upper() == "COLUMNS":
            n = _next(toks, i)
            if n < len(toks) and toks[n] == "(":
                close = _match_paren(toks, n)
                if close > 0:
                    out.append((i, n, close))
    return out


def _entry_bounds(toks: list[str], occ: int):
    """Locate the list entry containing token `occ`: returns
    (lo, hi, kind) with kind in {'select', 'list'} — hi exclusive.

    'select' entries get alias replication; 'list' entries (DISTINCT ON,
    ORDER BY / GROUP BY) are plain comma-list replication."""
    # paren stack + depth at occurrence
    stack: list[int] = []
    depths = [0] * len(toks)
    d = 0
    opens: list[int] = []
    for i, t in enumerate(toks):
        depths[i] = d
        if t == "(":
            if i < occ:
                opens.append(i)
            d += 1
        elif t == ")":
            d -= 1
            if i < occ and opens and depths[opens[-1]] == d:
                opens.pop()
    # (a) innermost DISTINCT ON ( ... ) containing occ
    for p in reversed(opens):
        pi = _prev(toks, p)
        if pi >= 0 and toks[pi].upper() == "ON":
            pj = _prev(toks, pi)
            if pj >= 0 and toks[pj].upper() == "DISTINCT":
                close = _match_paren(toks, p)
                lo, hi = p + 1, close
                lo, hi = _narrow_to_entry(toks, lo, hi, occ, depths[p] + 1)
                return lo, hi, "list"
    # (b) enclosing SELECT list
    docc = depths[occ]
    best = -1
    for i in range(occ - 1, -1, -1):
        if toks[i].upper() == "SELECT" and depths[i] <= docc:
            # all tokens between must stay at depth >= depths[i], with no
            # clause keyword AT depth[i]
            ok = True
            for j in range(i + 1, occ):
                if depths[j] < depths[i] or (
                    depths[j] == depths[i]
                    and toks[j].upper() in _CLAUSE_END
                ):
                    ok = False
                    break
            if ok:
                best = i
            break
    if best >= 0:
        dS = depths[best]
        lo = best + 1
        # skip DISTINCT [ON (...)] / ALL prefix
        n = _next(toks, best)
        if n < len(toks) and toks[n].upper() in ("DISTINCT", "ALL"):
            lo = n + 1
            n2 = _next(toks, n)
            if toks[n].upper() == "DISTINCT" and n2 < len(toks) \
                    and toks[n2].upper() == "ON":
                n3 = _next(toks, n2)
                if n3 < len(toks) and toks[n3] == "(":
                    lo = _match_paren(toks, n3) + 1
        hi = len(toks)
        for j in range(lo, len(toks)):
            if depths[j] < dS or (
                depths[j] == dS and (
                    toks[j].upper() in _CLAUSE_END or toks[j] == ";")
            ):
                hi = j
                break
        lo, hi = _narrow_to_entry(toks, lo, hi, occ, dS)
        return lo, hi, "select"
    # (c) ORDER BY / GROUP BY clause at the occurrence's scope
    for i in range(occ - 1, -1, -1):
        if depths[i] < docc:
            break
        if depths[i] == docc and toks[i].upper() == "BY":
            pi = _prev(toks, i)
            if pi >= 0 and toks[pi].upper() in ("ORDER", "GROUP"):
                lo = i + 1
                hi = len(toks)
                for j in range(lo, len(toks)):
                    if depths[j] < docc or (
                        depths[j] == docc and (
                            toks[j].upper() in _CLAUSE_END or toks[j] == ";")
                    ):
                        hi = j
                        break
                lo, hi = _narrow_to_entry(toks, lo, hi, occ, docc)
                return lo, hi, "list"
        if depths[i] == docc and toks[i].upper() in _CLAUSE_END:
            break
    return -1, -1, ""


def _narrow_to_entry(toks, lo, hi, occ, depth):
    """Narrow [lo, hi) to the comma-separated entry containing occ."""
    d = 0
    last = lo
    for j in range(lo, hi):
        if toks[j] == "(":
            d += 1
        elif toks[j] == ")":
            d -= 1
        elif toks[j] == "," and d == 0:
            if j < occ:
                last = j + 1
            else:
                return last, j
    return last, hi


def _alias_of(toks: list[str], lo: int, hi: int):
    """Trailing `AS <alias>` of the entry, if any: (alias_text, as_index)."""
    last = _prev(toks, hi)
    if last <= lo:
        return None, -1
    prev = _prev(toks, last)
    if prev > lo and toks[prev].upper() == "AS":
        return toks[last], prev
    return None, -1


def expand_columns(sql: str, resolve_cols: Callable[[], list[str]]) -> str:
    """Expand every COLUMNS(...) occurrence; resolve_cols() supplies the
    source column names (probed lazily, once)."""
    cache: list[list[str]] = []

    def cols() -> list[str]:
        if not cache:
            cache.append(resolve_cols())
        return cache[0]

    for _ in range(24):
        toks = _tokens(sql)
        spans = _columns_spans(toks)
        if not spans:
            return sql
        occ, op, close = spans[0]
        expansions, rx = _parse_arg(toks, op + 1, close, cols())
        lo, hi, kind = _entry_bounds(toks, occ)
        if kind == "":
            # no recognizable context — expand in place as a comma list
            repl = ", ".join(e for e, _ in expansions)
            sql = "".join(toks[:occ]) + repl + "".join(toks[close + 1:])
            continue
        entry = toks[lo:hi]
        # all COLUMNS spans inside this entry with the same argument text
        arg_text = "".join(toks[op + 1:close])
        mine = [(i - lo, o - lo, c - lo) for (i, o, c) in spans
                if lo <= i < hi and "".join(toks[o + 1:c]) == arg_text]
        alias, as_idx = _alias_of(toks, lo, hi)
        replicas: list[str] = []
        for expr_text, colname in expansions:
            parts: list[str] = []
            pos = 0
            for (ci, co, cc) in mine:
                parts.append("".join(entry[pos:ci]))
                parts.append(expr_text)
                pos = cc + 1
            parts.append("".join(entry[pos:]))
            body = "".join(parts)
            if alias is not None:
                # strip the trailing AS <alias> from the body
                strip_at = as_idx - lo
                parts2: list[str] = []
                pos = 0
                for (ci, co, cc) in mine:
                    if ci >= strip_at:
                        continue
                    parts2.append("".join(entry[pos:ci]))
                    parts2.append(expr_text)
                    pos = cc + 1
                parts2.append("".join(entry[pos:strip_at]))
                body = "".join(parts2)
                a = alias
                if a.startswith("'") and rx is not None:
                    m = rx.search(colname)
                    a = m.expand(a[1:-1].replace("''", "'")) if m else colname
                elif a.startswith("'") or a.startswith('"'):
                    a = a[1:-1]
                else:
                    a = a if len(expansions) == 1 else f"{a}_{colname}"
                if kind == "select":
                    body = f"{body} AS {_quote(a)}"
            elif kind == "select" and not body.strip().lstrip("`") \
                    .rstrip("`").replace(colname, "").strip():
                pass  # bare column reference names itself
            replicas.append(body.strip())
        repl = ", ".join(replicas)
        sql = "".join(toks[:lo]) + " " + repl + " " + "".join(toks[hi:])
    return sql
