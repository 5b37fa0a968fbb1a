"""`LATERAL (WITH RECURSIVE …)` flattened into one run of the recursion
for all outer rows (reference src/planner/subquery/
flatten_dependent_join.cpp; Neumann & Kemper, Unnesting Arbitrary
Queries, BTW 2015).

    SELECT <sel> FROM <outer> o, LATERAL (
      WITH RECURSIVE t(x) AS (<anchor> UNION [ALL] <step>) <tail>) r …

becomes

    WITH RECURSIVE t(__lat_rid, x) AS (
      SELECT o.__lat_rid, __lat_a.* FROM __lat_outer o,
             LATERAL (<anchor>) __lat_a
      UNION [ALL]
      <step reading __lat_outer_step o, joined on the row id>)
    SELECT <sel> FROM __lat_outer o, LATERAL (<tail, t bound to (SELECT
      * EXCEPT (__lat_rid) FROM t WHERE __lat_rid = o.__lat_rid)>) r …

`__lat_outer` holds the outer rows, numbered once by `__lat_rid` and
materialized, as the id is only stable if they are never recomputed.
`__lat_outer_step` holds the same rows with `__lat_rid` as `__lat_orid`
and each column the CTE also has as `__lat_o_<name>`, so in the step a
bare name binds to the CTE first, as in the reference, while `o.<name>`
still reads the outer column. The row id keys the recursion per outer
row: UNION dedupes per row, USING KEY keys on it, and a join between two
references to `t` equates it. The tail runs as Spark's own correlated
LATERAL, which decorrelates aggregates (the COUNT bug included), ORDER
BY/LIMIT and derived tables. A shape this cannot flatten raises.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from duckdb_spark.operators import recursive
from duckdb_spark.sql import dialect

GATE = re.compile(r"(?is)\bLATERAL\s*\(\s*WITH\s+RECURSIVE\b")

# tokens that end a FROM item
_ITEM_END = dialect._JOIN_ITEM_STOP | {",", "LATERAL"}
# words after a table reference that are no alias
_ALIAS_STOP = _ITEM_END | {"ON", "OUTER", "POSITIONAL"}
_STEP_CLAUSES = {"WHERE", "GROUP", "HAVING", "QUALIFY", "WINDOW", "ORDER",
                 "LIMIT", "OFFSET"}


def _unflattened(shape: str) -> ValueError:
    return ValueError(
        f"Not implemented Error: LATERAL (WITH RECURSIVE …) {shape} "
        "cannot be flattened")


def _first_top(toks: list[str], lo: int, hi: int, words: set[str]) -> int:
    """Index of the first token of `toks[lo:hi]` outside the parens opened
    there that is one of `words`, or `hi`."""
    depth = 0
    for k in range(lo, hi):
        depth += (toks[k] == "(") - (toks[k] == ")")
        if depth == 0 and toks[k].upper() in words:
            return k
    return hi


def _cte_refs(toks: list[str], name: str) -> list[tuple[int, bool]]:
    """Token indices of the table references to CTE `name` (after FROM,
    JOIN or a comma), each with whether it is `recurring.<name>`."""
    out = []
    for i, t in enumerate(toks):
        n = dialect._next_code(toks, i + 1)
        if t.lower() != name.lower() or toks[n:n + 1] in (["."], ["("]):
            continue
        p = dialect._prev_code(toks, i - 1)
        recurring = p >= 0 and toks[p] == "."
        if recurring:
            p = dialect._prev_code(toks, p - 1)
            if p < 0 or not dialect._is_word(toks[p], "RECURRING"):
                continue
            p = dialect._prev_code(toks, p - 1)
        if p >= 0 and (toks[p] == "," or toks[p].upper() in ("FROM", "JOIN")):
            out.append((i, recurring))
    return out


def _ref_alias(toks: list[str], i: int) -> tuple[str | None, int]:
    """The alias of the table reference at token `i`, and the index of
    the code token after reference and alias."""
    k = dialect._next_code(toks, i + 1)
    if k < len(toks) and dialect._is_word(toks[k], "AS"):
        k = dialect._next_code(toks, k + 1)
    elif not (k < len(toks) and re.fullmatch(r"[A-Za-z_]\w*", toks[k])
              and toks[k].upper() not in _ALIAS_STOP):
        return None, k
    return toks[k], dialect._next_code(toks, k + 1)


def _step(step: str, name: str, oa: str, clash: set[str]) -> str:
    """The recursive term for every outer row at once: `__lat_outer_step`
    is cross-joined in front of its FROM and equated with the working
    table on the row id, which the term selects (and groups by) first;
    every other reference to the CTE is equated on the row id too."""
    toks = dialect._tokens(step)
    s = dialect._next_code(toks, 0)
    f = dialect._top_level_index(toks, s, len(toks), "FROM")
    if not dialect._is_word(toks[s], "SELECT") or f < 0:
        raise _unflattened("with a recursive term that is no SELECT … FROM")
    if any(dialect._is_word(t, "OVER") for t in toks):
        raise _unflattened("with a window function in its recursive term")
    end = _first_top(toks, f + 1, len(toks), _STEP_CLAUSES)
    refs = _cte_refs(toks, name)
    if any(not f < i < end or dialect._depth_at(toks, i) for i, _ in refs):
        raise _unflattened(
            f"with a reference to {name} inside a subquery of its "
            "recursive term")
    driver = next((i for i, recurring in refs if not recurring), None)
    if driver is None:
        raise _unflattened(f"with a recursive term that does not read {name}")
    d = _ref_alias(toks, driver)[0] or name
    ins: dict[int, list[str]] = {}

    def at(k: int, text: str) -> None:
        ins.setdefault(k, []).append(text)

    conds = [f"{oa}.__lat_orid = {d}.__lat_rid"]
    for i, recurring in refs:
        if i == driver:
            continue
        alias, k = _ref_alias(toks, i)
        q = alias or (f"recurring.{name}" if recurring else name)
        if k < len(toks) and dialect._is_word(toks[k], "USING"):
            at(dialect._next_code(toks, k + 1) + 1, "__lat_rid, ")
        elif k < len(toks) and dialect._is_word(toks[k], "ON"):
            e = _first_top(toks, k + 1, end, _ITEM_END)
            at(dialect._next_code(toks, k + 1), "(")
            at(e, f") AND {q}.__lat_rid = {d}.__lat_rid ")
        else:
            conds.append(f"{q}.__lat_rid = {d}.__lat_rid")
    first = dialect._next_code(toks, s + 1)
    if toks[first].upper() in ("DISTINCT", "ALL"):
        first = dialect._next_code(toks, first + 1)
    at(first, f"{d}.__lat_rid, ")
    at(dialect._next_code(toks, f + 1),
       f"__lat_outer_step {oa} CROSS JOIN ")
    if end < len(toks) and dialect._is_word(toks[end], "WHERE"):
        at(dialect._next_code(toks, end + 1), " AND ".join(conds) + " AND (")
        at(_first_top(toks, end + 1, len(toks), _STEP_CLAUSES), ") ")
    else:
        at(end, f" WHERE {' AND '.join(conds)} ")
    g = dialect._top_level_index(toks, end, len(toks), "GROUP")
    if g >= 0:
        by = dialect._next_code(toks, dialect._next_code(toks, g + 1) + 1)
        if not dialect._is_word(toks[by], "ALL"):
            at(by, f"{d}.__lat_rid, ")
    for k, t in enumerate(toks):
        # `o.<name>` of a column the CTE shadows reads the renamed one
        p = dialect._prev_code(toks, k - 1)
        if t.lower() in clash and p > 0 and toks[p] == "." and \
                toks[dialect._prev_code(toks, p - 1)].lower() == oa.lower():
            toks[k] = f"__lat_o_{t}"
    return "".join("".join(ins.get(k, ())) + t for k, t in enumerate(toks)) \
        + "".join(ins.get(len(toks), ()))


def flatten(con, query: str) -> str:
    """The statement `GATE` matched, with the recursion run once for all
    outer rows; a shape that cannot be flattened raises."""
    if len(GATE.findall(query)) > 1:
        raise _unflattened("more than once in a statement")
    toks = dialect._tokens(query)
    sel = dialect._next_code(toks, 0)
    fr = dialect._top_level_index(toks, sel, len(toks), "FROM")
    lat = dialect._top_level_index(toks, max(fr, 0), len(toks), "LATERAL")
    if not dialect._is_word(toks[sel], "SELECT") or fr < 0 or lat < 0:
        raise _unflattened("outside the FROM clause of a top-level SELECT")
    end = _first_top(toks, fr + 1, lat + 1, _ITEM_END)
    # Spark resolves no outer reference nested in a JOIN LATERAL's
    # derived table, so only the comma form is flattened
    if not "".join(toks[fr + 1:end]).strip() or \
            "".join(toks[end:lat]).strip() != ",":
        raise _unflattened("after anything but one FROM item and a comma")
    op = dialect._next_code(toks, lat + 1)
    oc = dialect._match_paren(toks, op)
    rec = dialect.split_recursive_cte(
        "".join(toks[op + 1:oc]), include_union_all=True)
    if rec is None or any(re.match(r"(?is)\s*WITH\b", rec[p])
                          for p in ("base", "tail")):
        raise _unflattened("without exactly one recursive CTE")
    name = rec["name"]
    oa = dialect._item_alias(toks[fr + 1:end]) or "__lat_outer"
    outer = con.sql("SELECT * FROM " + "".join(toks[fr + 1:end])).df()
    numbered = recursive.materialize(
        outer.withColumn("__lat_rid", F.monotonically_increasing_id()))
    numbered.createOrReplaceTempView("__lat_outer")
    anchor = (f"SELECT {oa}.__lat_rid, __lat_a.* FROM __lat_outer {oa}, "
              f"LATERAL ({rec['base']}) __lat_a")
    cols = rec["cols"] or con.sql(anchor).df().columns[1:]
    clash = {c.lower() for c in cols} & {c.lower() for c in outer.columns}
    numbered.withColumnsRenamed({"__lat_rid": "__lat_orid", **{
        c: f"__lat_o_{c}" for c in outer.columns if c.lower() in clash
    }}).createOrReplaceTempView("__lat_outer_step")
    # `*` and `<alias>.*` of the outer query leave the row id out
    for k in range(sel + 1, fr):
        p = dialect._prev_code(toks, k - 1)
        if toks[k] == "*" and dialect._depth_at(toks, k) == 0 and (
                toks[p] == "," or toks[p].upper() in (
                    "SELECT", "DISTINCT", "ALL")
                or toks[p] == "." and toks[dialect._prev_code(
                    toks, p - 1)].lower() == oa.lower()):
            toks[k] = "* EXCEPT (__lat_rid)"
    tail = dialect._tokens(rec["tail"])
    for i, _ in _cte_refs(tail, name):
        tail[i] = (
            f"(SELECT * EXCEPT (__lat_rid) FROM {name} "
            f"WHERE __lat_rid = {oa}.__lat_rid)"
            + ("" if _ref_alias(tail, i)[0] else f" AS {name}"))
    head = name
    if rec["cols"]:
        head += f"({', '.join(['__lat_rid', *rec['cols']])})"
    if rec["key"]:
        head += f" USING KEY (__lat_rid, {', '.join(rec['key'])})"
    union = "UNION" if rec["distinct"] else "UNION ALL"
    return (f"WITH RECURSIVE {head} AS ({anchor} {union} "
            f"{_step(rec['step'], name, oa, clash)}) "
            + "".join(toks[sel:fr + 1]) + f" __lat_outer {oa}, LATERAL ("
            + "".join(tail) + "".join(toks[oc:]))
