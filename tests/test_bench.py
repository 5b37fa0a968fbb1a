"""bench.py's paired protocol, driven with fake engines (no Spark needed)."""

from __future__ import annotations

import pytest

import bench


class FakeEngine:
    """Plain callable that logs each call into a shared list."""

    def __init__(self, name: str, log: list[str]):
        self.name, self.log = name, log

    def __call__(self):
        self.log.append(self.name)


def test_time_pair_warms_up_once_each_then_alternates():
    log: list[str] = []
    bench.time_pair(FakeEngine("spark", log), FakeEngine("duckdb", log))
    warmup = ["spark", "duckdb"]
    assert log == warmup + ["spark", "duckdb"] * bench.ROUNDS


def test_time_pair_without_oracle_times_spark_only():
    log: list[str] = []
    s, d = bench.time_pair(FakeEngine("spark", log))
    assert log == ["spark"] * (1 + bench.ROUNDS)
    assert d is None and s >= 0


def test_time_pair_keeps_each_engines_minimum(monkeypatch):
    # Each timed call reads perf_counter at start and end; warm-ups are
    # not timed. Rounds: spark 5, duckdb 3; spark 2, duckdb 9; spark 7,
    # duckdb 1.
    readings = iter([0, 5, 0, 3, 0, 2, 0, 9, 0, 7, 0, 1])
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(readings))
    log: list[str] = []
    assert bench.time_pair(FakeEngine("spark", log),
                           FakeEngine("duckdb", log)) == (2, 1)
    assert next(readings, None) is None


def test_geomean_ratio_skips_spark_only_queries():
    spark_q = {"a": 2.0, "b": 8.0, "spark_only": 50.0}
    duckdb_q = {"a": 2.0, "b": 2.0}  # ratios a: 1.0, b: 4.0
    assert bench.geomean_ratio(spark_q, duckdb_q) == pytest.approx(2.0)
    assert bench.geomean_ratio({"spark_only": 1.0}, {}) is None
