"""The pip-duckdb correctness oracle.

Results are compared as sorted multisets of rows whose cells are
rendered by `scripts/check_contract.render`, except that numbers of any
type (int, float, Decimal) are rendered to nine significant digits: the
dialect may answer DECIMAL where DuckDB answers DOUBLE, and a parallel
sum may differ from a sequential one in the last bits.

Oracle answers are computed outside every timed region and cached on
disk per fixture fingerprint, so only the first run on a fixture pays
for them.
"""

from __future__ import annotations

import decimal
import json
import math
import os

from scripts.check_contract import TABLES, render


def cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        x = float(v)
        return "0" if x == 0 else "%.9g" % x
    if hasattr(v, "item") and getattr(v, "shape", None) == ():
        return cell(v.item())  # numpy scalar
    return render(v)


def normalize(rows) -> list[list[str]]:
    return sorted([cell(v) for v in row] for row in rows)


def diff(got: list[list[str]], want: list[list[str]]) -> str | None:
    """None when equal, else a one-line description of the first
    difference."""
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: {g[:6]} != {w[:6]}"
    return "rows differ"


def connect(sf_dir: str):
    """A single-threaded DuckDB connection with one view per fixture
    table (single-threaded so float folds are reproducible)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        glob = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con


def cached_answers(cache_path: str, sf_dir: str,
                   texts: dict[str, str]) -> dict[str, list[list[str]]]:
    """Oracle answer of every text, read from `cache_path` when present."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if set(cached) >= set(texts):
            return {k: cached[k] for k in texts}
    con = connect(sf_dir)
    answers = {name: normalize(con.execute(sql).fetchall())
               for name, sql in texts.items()}
    con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, cache_path)
    return answers
