"""WITH RECURSIVE as one driver-side fixpoint loop (SURVEY.md §2.7).

Reference: `src/execution/operator/set/physical_recursive_cte.cpp` and
its USING KEY variant `physical_recursive_cte_key_join.cpp` — iterate:
working table → recursive step → merge into the result; stop when a
round adds nothing.

Spark's own recursion runs only plain UNION ALL; every other WITH
RECURSIVE form, from SQL (`statements`) or from DataFrames, runs through
`recursive_cte`. It decides, once for all of them:

- the round cap, `MAX_ROUNDS`;
- lineage: a distributed round is cut by `materialize`, or the plan tree
  grows with every round;
- where a round runs. While each round has at most `INLINE_ROUND_ROWS`
  rows, the rows so far number at most `INLINE_ROWS` and all have
  scalar types, they stay on the driver: UNION dedupes in a Python set
  and the next working table goes back to Spark as VALUES text, which
  Spark folds into the step's plan with no job. Spark parses that text
  at a cost that grows with the rows it holds, so the inline round wins
  only for small rounds: on a 4-core host, 80 ms against 250 ms for a
  checkpointed round of 2,000 rows, even at 5,000 rows, 460 ms against
  320 ms at 10,000 rows. The rows so far are rendered once more for the
  result (49 rounds of 1,000 rows, 50,000 in all, take 5.9 s inline
  against 18.8 s checkpointed) and every 16th round for `until`; a
  `state_view` renders them every round, so with one they count as a
  round's rows. Past either bound, or under USING KEY, rounds are
  checkpointed and the result stays partitioned.
"""

from __future__ import annotations

import datetime
import decimal
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# rounds before a recursion counts as runaway (the reference has no cap)
MAX_ROUNDS = 20_000
# a round stays on the driver while it has at most INLINE_ROUND_ROWS
# rows and the rows so far number at most INLINE_ROWS (timings above)
INLINE_ROUND_ROWS = 5_000
INLINE_ROWS = 50_000
# Spark's LogicalRDD.rewriteStatsAndConstraints throws on unions of
# checkpointed frames (stale exprIds); the loop gains nothing from
# constraint inference
_CONSTRAINTS = "spark.sql.constraintPropagation.enabled"
_INLINE_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "boolean", "date", "timestamp", "timestamp_ntz",
)
_NAN = object()


def materialize(df: DataFrame) -> DataFrame:
    """Compute `df` once and truncate its lineage (recursive rounds,
    MATERIALIZED CTEs, numbered LATERAL outer rows)."""
    return df.localCheckpoint(eager=True)


def sql_literal(v, dt) -> str:
    """Render a driver-side value as a typed SQL literal."""
    ts = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ts})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return f"CAST('NaN' AS {ts})"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{v}' AS {ts})"
        return f"CAST({v!r} AS {ts})"
    if isinstance(v, int):
        return f"CAST({v} AS {ts})"
    if isinstance(v, decimal.Decimal):
        return f"CAST('{v}' AS {ts})"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return f"CAST('{v.isoformat(sep=' ')}' AS {ts})"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"CAST(unhex('{bytes(v).hex()}') AS BINARY)"
    if isinstance(v, (list, tuple)) and isinstance(dt, T.ArrayType):
        if not v:
            return f"CAST(array() AS {ts})"
        return "array(" + ", ".join(
            sql_literal(e, dt.elementType) for e in v) + ")"
    if isinstance(v, dict) and isinstance(dt, T.MapType):
        if not v:
            return f"CAST(map() AS {ts})"
        return "map(" + ", ".join(
            f"{sql_literal(k, dt.keyType)}, {sql_literal(x, dt.valueType)}"
            for k, x in v.items()) + ")"
    if isinstance(dt, T.StructType) and hasattr(v, "__fields__"):
        return "named_struct(" + ", ".join(
            "'" + f.name.replace("'", "''") + "', "
            + sql_literal(v[i], f.dataType)
            for i, f in enumerate(dt.fields)) + ")"
    raise ValueError(f"not inlinable: {type(v)}")


def _values(spark, schema: T.StructType, rows: list) -> DataFrame:
    """Driver rows back in Spark as a VALUES relation of `schema`'s
    types. The step may have produced wider values or NULLs where the
    base schema says non-nullable; the literals carry the base types."""
    if not rows:
        return spark.createDataFrame([], schema)
    vals = ", ".join(
        "(" + ", ".join(sql_literal(v, f.dataType)
                        for v, f in zip(r, schema.fields)) + ")"
        for r in rows)
    names = ", ".join(
        "`" + f.name.replace("`", "``") + "`" for f in schema.fields)
    return spark.sql(f"SELECT * FROM (VALUES {vals}) AS __v({names})")


def _dedupe_key(row) -> tuple:
    """A row as UNION compares it: NaN equals NaN in SQL, not in Python."""
    return tuple(_NAN if v != v else v for v in row)


def _keyed_state(hist: DataFrame, key: list[str],
                 aggregates: Callable[[DataFrame], DataFrame] | None
                 ) -> DataFrame:
    """USING KEY state: one row per key. `aggregates(hist)`, if given,
    returns the columns kept by aggregate entries, one row per key with
    the keys as `__key0`, `__key1`, …; every other column takes the
    latest round's value, a NULL included. NULL keys are equal, as in
    the reference's keyed hash table, and a key keeps the form it was
    first stored in (recursive_cte_key_probe.test:102: a -0.0 key probed
    with +0.0 stays -0.0)."""
    def col(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    keys = {k.lower() for k in key}
    cols = [c for c in hist.columns if c != "__iter"]
    agg = aggregates(hist) if aggregates is not None else None
    done = {c.lower() for c in agg.columns} if agg is not None else set()
    state = hist.groupBy(
        *[col(k).alias(f"__key{i}") for i, k in enumerate(key)]
    ).agg(*[
        (F.min_by if c.lower() in keys else F.max_by)(
            col(c), "__iter").alias(c)
        for c in cols if c.lower() not in done
    ])
    if agg is not None:
        state = state.alias("s").join(agg.alias("a"), [
            F.col(f"s.__key{i}").eqNullSafe(F.col(f"a.__key{i}"))
            for i in range(len(key))])
    return state.select(*map(col, cols))


def recursive_cte(
    base: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    distinct: bool = True,
    key: list[str] | None = None,
    aggregates: Callable[[DataFrame], DataFrame] | None = None,
    state_view: str | None = None,
    until: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Evaluate WITH RECURSIVE: `base` UNION [ALL] `step(working)` to a
    fixpoint, where `working` is the last round's rows.

    - `distinct=True` is UNION: the base and every round are deduped
      against all rows so far, and the loop ends when a round adds no
      new row. `distinct=False` is UNION ALL: it ends when a round
      yields no rows.
    - `key` makes it USING KEY: the result is a keyed state in which a
      round's rows replace the stored rows with the same key. The state
      is derived from every row produced, tagged with its round in
      `__iter`; `aggregates(history)` supplies the columns of aggregate
      entries (see `_keyed_state`). The loop also ends when a round
      leaves the state unchanged.
    - `state_view` names a temp view bound to the rows so far (the keyed
      state under USING KEY) before each round, for steps that read
      them; it is dropped at the end.
    - `until(rows so far)`, asked every 16 rounds, ends the loop early
      when it returns True (a LIMIT the consumer has already met).
    """
    spark = base.sparkSession
    keyed = key is not None
    if aggregates is not None and not keyed:
        raise ValueError("recursive_cte: aggregates need a key")
    old = spark.conf.get(_CONSTRAINTS, "true")
    spark.conf.set(_CONSTRAINTS, "false")
    try:
        cols = base.columns
        rows = None  # the rows so far, while they are kept on the driver
        if keyed:
            hist = materialize(base.withColumn("__iter", F.lit(0)))
            working = hist.drop("__iter")
            state = materialize(_keyed_state(hist, key, aggregates))
        else:
            hist = state = working = materialize(
                base.distinct() if distinct else base)
            if all(f.dataType.simpleString() in _INLINE_TYPES
                   or f.dataType.simpleString().startswith("decimal")
                   for f in hist.schema.fields):
                got = hist.limit(INLINE_ROUND_ROWS + 1).collect()
                if len(got) <= INLINE_ROUND_ROWS:
                    rows, seen = got, set(map(_dedupe_key, got))
                    working = _values(spark, hist.schema, rows)

        def so_far() -> DataFrame:
            return state if rows is None else _values(spark, hist.schema, rows)

        for it in range(1, MAX_ROUNDS + 1):
            if until is not None and it % 16 == 0 and until(so_far()):
                break
            if state_view:
                so_far().createOrReplaceTempView(state_view)
            nxt = step(working).toDF(*cols)
            if rows is not None:
                room = INLINE_ROUND_ROWS if state_view else INLINE_ROWS
                cap = min(INLINE_ROUND_ROWS, room - len(rows))
                got = nxt.limit(cap + 1).collect()
                if len(got) <= cap:
                    if distinct:
                        fresh = {_dedupe_key(r): r for r in got}
                        got = [r for k, r in fresh.items() if k not in seen]
                        seen.update(fresh)
                    if not got:
                        break
                    rows += got
                    working = _values(spark, hist.schema, got)
                    continue
                # a round outgrew the driver: checkpointed from here on
                hist = state = materialize(so_far())
                rows = None
            if distinct:
                nxt = nxt.subtract(hist.drop("__iter"))
            nxt = materialize(nxt)
            if nxt.isEmpty():
                break
            hist = materialize(hist.unionByName(
                nxt.withColumn("__iter", F.lit(it)) if keyed else nxt))
            if keyed:
                new = materialize(_keyed_state(hist, key, aggregates))
                same = (new.exceptAll(state).isEmpty()
                        and state.exceptAll(new).isEmpty())
                state = new
                if same:
                    break
            else:
                state = hist
            working = nxt
        else:
            raise RuntimeError(
                f"recursive CTE: no fixpoint after {MAX_ROUNDS} rounds")
        return so_far()
    finally:
        spark.conf.set(_CONSTRAINTS, old)
        if state_view:
            spark.catalog.dropTempView(state_view)
