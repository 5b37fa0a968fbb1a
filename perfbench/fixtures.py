"""Deterministic fixtures, built from the sf0.01 tables checked in under
`perfbench/tables/sf0.01` and nothing else.

- `sf0.01`: the checked-in tables themselves, plus the base TPC-DS and
  ClickBench fixtures that `queries/tpcds.py` and `queries/clickbench.py`
  generate.
- `sf0.02`: two FK-preserving replicas of sf0.01, made by the repo's
  `scripts/gen_scaled_sf.py`, plus the TPC-DS and ClickBench fixtures at
  the multiplier `queries.bench_scale_mult` derives from the directory
  name (2).

Generation is idempotent, runs outside every timed region, and records a
content fingerprint and its own duration next to the data.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import time
from dataclasses import dataclass

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")
SCALED = "sf0.02"
SCALE = 2


@dataclass
class Fixture:
    sf_dir: str
    fingerprint: str
    generation_s: float


def fingerprint(dirs: list[str]) -> str:
    """sha256 over the relative path and bytes of every parquet file."""
    h = hashlib.sha256()
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs.sort()
            for name in sorted(files):
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, d).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _scale(out_dir: str) -> None:
    import scripts.gen_scaled_sf as gen

    argv, src = sys.argv, gen.SRC
    sys.argv, gen.SRC = ["gen_scaled_sf", str(SCALE), out_dir], BASE
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen.main()
    finally:
        sys.argv, gen.SRC = argv, src


def ensure(work: str, scaled: bool) -> Fixture:
    """The fixture for a workload: sf0.01 or, when `scaled`, sf0.02."""
    from duckdb_spark.queries import bench_scale_mult, clickbench, tpcds

    sf_dir = os.path.join(work, "fixtures", SCALED) if scaled else BASE
    marker = os.path.join(work, "fixtures", f"{os.path.basename(sf_dir)}.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return Fixture(sf_dir, **json.load(f))
    t0 = time.perf_counter()
    if scaled:
        _scale(sf_dir)
    mult = bench_scale_mult(sf_dir)
    dirs = [sf_dir, tpcds.ensure_fixture(mult), clickbench.ensure_fixture(mult)]
    fx = Fixture(sf_dir, fingerprint(dirs), round(time.perf_counter() - t0, 3))
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"fingerprint": fx.fingerprint, "generation_s": fx.generation_s}, f)
    return fx


def scaled_oracle_text(sql: str, sf_dir: str) -> str:
    """An ORACLE text with the base TPC-DS/ClickBench paths it bakes in
    replaced by the fixture's own (as bench.py's DuckDB companion does)."""
    from duckdb_spark.queries import bench_scale_mult, clickbench, tpcds

    mult = bench_scale_mult(sf_dir)
    for mod in (tpcds, clickbench):
        sql = sql.replace(mod.fixture_dir(1) + "/", mod.fixture_dir(mult) + "/")
    return sql
