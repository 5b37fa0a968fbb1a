#!/usr/bin/env python
"""Paired A/B of a registered hand builder against its ORACLE text.

For each named query, in one session: one warm-up run of each form (their
results must agree), then N alternating pairs (the builder first in odd
pairs), each run building the DataFrame and collecting it. The text runs
through `queries.run_text`, the path every text query takes. Prints one
line per query: builder and text medians in ms, text ÷ builder, and in
how many pairs the text was faster. The rule that keeps a builder: its
text is slower in at least 80% of the pairs (ROADMAP Direction 2).

Usage: python scripts/ab_text.py [sf_dir] name[,name...] [pairs]
(ClickBench builders run against their text on the fixture for the
sf_dir's scale.)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str, names: list[str], pairs: int) -> None:
    from duckdb_spark import queries as Q
    from duckdb_spark.queries import clickbench
    from duckdb_spark.session import get_spark

    spark = get_spark(app_name="ab_text")
    Q.load_all()
    mult = Q.bench_scale_mult(sf_dir)

    def text_of(name: str) -> str:
        if name.startswith("cb_"):
            clickbench.ensure_fixture(mult)
            raw = getattr(clickbench, f"_CB_{name[3:].upper()}_SQL")
            return clickbench.FIXTURE.read(raw, mult)
        return Q.ORACLE[name]

    def run(form: str, name: str):
        t0 = time.perf_counter()
        df = (Q.QUERIES[name](spark, sf_dir) if form == "builder"
              else Q.run_text(spark, sf_dir, text_of(name)))
        rows = df.collect()
        ms = (time.perf_counter() - t0) * 1e3
        spark.catalog.clearCache()
        return ms, rows

    def canon(rows):
        return sorted(tuple(round(x, 2) if isinstance(x, float) else str(x) for x in r)
                      for r in rows)

    print("query builder_ms text_ms ratio text_faster same")
    for name in names:
        same = canon(run("builder", name)[1]) == canon(run("text", name)[1])
        times = {"builder": [], "text": []}
        for k in range(pairs):
            for form in (("builder", "text") if k % 2 == 0 else ("text", "builder")):
                times[form].append(run(form, name)[0])
        b, t = (statistics.median(times[f]) for f in ("builder", "text"))
        wins = sum(y < x for x, y in zip(times["builder"], times["text"]))
        print(f"{name} {b:.0f} {t:.0f} {t / b:.2f} {wins}/{pairs} {same}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2].split(","), int(sys.argv[3]) if len(sys.argv) > 3 else 10)
