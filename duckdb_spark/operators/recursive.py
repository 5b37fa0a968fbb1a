"""WITH RECURSIVE driver loop (SURVEY.md §2.7).

Reference: `src/execution/operator/set/physical_recursive_cte.cpp` —
iterate: working table → recursive step → dedupe against accumulated
result; stop when the step yields no new rows (UNION semantics) or no rows
(UNION ALL semantics).

Spark has no WITH RECURSIVE; the idiomatic pattern is a driver-side loop
with `localCheckpoint()` per iteration to truncate lineage (otherwise the
plan tree grows exponentially). The per-iteration `count()` action is the
fixpoint test — unavoidable in any engine (DuckDB's executor does the same
check on its intermediate table sizes).

Scale: each iteration is a distributed join/union; the accumulated result
stays partitioned. `max_iterations` bounds runaway cycles like DuckDB's
(implicit) resource limits.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def recursive_cte(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    distinct: bool = True,
    max_iterations: int = 100,
) -> DataFrame:
    """Evaluate WITH RECURSIVE: base UNION [ALL] step(working) fixpoint.

    `distinct=True` ≡ UNION (dedupe, terminate when no *new* rows);
    `distinct=False` ≡ UNION ALL (terminate when step yields no rows).
    """
    # UNION identity applies to the base rows too
    acc = (base.distinct() if distinct else base).localCheckpoint(eager=True)
    working = acc
    for _ in range(max_iterations):
        nxt = step(working)
        if distinct:
            # subtract = EXCEPT DISTINCT: dedupe within the round AND
            # against the accumulated set (exceptAll is a multiset
            # difference, so a row produced twice would survive it)
            nxt = nxt.subtract(acc)
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            return acc
        acc = acc.unionByName(nxt).localCheckpoint(eager=True)
        working = nxt
    raise RuntimeError(f"recursive_cte: no fixpoint after {max_iterations} iterations")


def recursive_cte_using_key(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    max_iterations: int = 100,
) -> DataFrame:
    """WITH RECURSIVE ... USING KEY (reference
    physical_recursive_cte_key_join.cpp): the recurring table is KEYED —
    each iteration's rows REPLACE existing rows with the same key instead
    of accumulating, and iteration stops when a round changes nothing.
    The canonical use is iterative relaxation (shortest paths, PageRank-
    style updates) where plain UNION recursion would accumulate every
    intermediate state.

    Distributed shape: each round is one shuffle on the key (anti-join +
    union); the working set stays at |keys| rows instead of growing by
    |new rows| per round — exactly why the reference added the variant.
    """
    from pyspark.sql import functions as F

    acc = base.localCheckpoint(eager=True)
    payload = [c for c in base.columns if c not in key_cols]
    for _ in range(max_iterations):
        nxt = step(acc).localCheckpoint(eager=True)
        if nxt.isEmpty():
            return acc
        # replace-by-key: new rows win the PAYLOAD, but keys that already
        # exist keep their STORED representation (reference keyed state —
        # recursive_cte_key_probe.test:102: a -0.0 key probed with +0.0
        # stays -0.0; a plain nxt-first union would re-store the probe's
        # normalized key)
        # NULL keys compare EQUAL in the reference's keyed hash table, so
        # every key match below is eqNullSafe (a plain == would re-add a
        # NULL-key row as "fresh" while keeping the old one — duplicating
        # state instead of replacing it). Backtick-quote names so keys
        # with spaces/dots resolve.
        def _q(side: str, k: str):
            return F.col(f"{side}.`" + k.replace("`", "``") + "`")

        keyset = acc.select(*key_cols).distinct()
        upd = (
            keyset.alias("a")
            .join(nxt.alias("n"),
                  [_q("a", k).eqNullSafe(_q("n", k)) for k in key_cols],
                  "inner")
            .select(*[_q("a", k).alias(k) for k in key_cols],
                    *[_q("n", c).alias(c) for c in payload])
        )
        fresh = nxt.alias("n").join(
            keyset.alias("a"),
            [_q("n", k).eqNullSafe(_q("a", k)) for k in key_cols],
            "left_anti")
        kept = acc.alias("a").join(
            nxt.select(*key_cols).distinct().alias("n"),
            [_q("a", k).eqNullSafe(_q("n", k)) for k in key_cols],
            "left_anti")
        merged = upd.unionByName(fresh).unionByName(kept) \
            .localCheckpoint(eager=True)
        # fixpoint: nothing changed (same multiset of rows)
        if merged.exceptAll(acc).isEmpty() and acc.exceptAll(merged).isEmpty():
            return acc
        acc = merged
    raise RuntimeError(
        f"recursive_cte_using_key: no fixpoint after {max_iterations} iterations"
    )
