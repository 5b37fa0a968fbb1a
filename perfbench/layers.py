"""Per-layer metrics of a traced run.

Layers are named after the repo module they measure (NOTES.md has the
table of which end-to-end metric each should move). Times and counts are
summed per statement, then averaged over the run's statements; metrics of
one statement kind (managed DML, COPY) average over statements of that
kind. A layer a workload never enters reads 0.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import eventlog
import tracing

MANAGED_KINDS = ("ctas", "insert", "update", "delete")


def install(run) -> tracing.Tracer:
    """Wrap each layer's public entry points; spans start now."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader
    from pyspark.sql.session import SparkSession

    from duckdb_spark import catalog, relation
    from duckdb_spark.io import readers, writers
    from duckdb_spark.managed import ManagedTables
    from duckdb_spark.sql import dialect

    tr = tracing.Tracer()

    def cache_probe(args):
        spark, sf_dir, name = args[:3]
        tr.count("catalog.lookups")
        tr.count("catalog.hits", (id(spark), sf_dir, name) in catalog._TABLE_CACHE)

    def copy_written(args, _result):
        path = args[1] if len(args) > 1 else None
        if path and os.path.isdir(path):
            files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs
                     if not f.startswith((".", "_"))]
            tr.count("io.files_written", len(files))
            tr.count("io.bytes_written", sum(os.path.getsize(f) for f in files))

    tr.patch(dialect, "translate", "sql.translate")
    tr.patch(relation.Connection, "sql", "relation.sql")
    tr.patch(SparkSession, "sql", "spark.sql")
    tr.patch(DataFrameReader, "parquet", "io.read_parquet")
    tr.patch(readers, "read_parquet", "io.read_parquet")
    for attr in ("localCheckpoint", "checkpoint", "persist"):
        tr.patch(DataFrame, attr, "operators.checkpoint")
    tr.patch(ManagedTables, "handle", "managed.handle")
    tr.patch(writers, "copy_to", "io.copy_to", after=copy_written)
    tr.patch(catalog, "register_views", "catalog.register")
    tr.patch(catalog, "load_table", "catalog.load_table", before=cache_probe)
    run.t0_spans = time.perf_counter()
    return tr


def _gc_ms(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return float(sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()))


def reset_jvm_peaks(run) -> None:
    """Start the heap peak and GC counters at the measured statements."""
    mf = run.spark._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        pool.resetPeakUsage()
    run.gc0 = _gc_ms(run.spark)


def heap_peak_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 2**20


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the statement's final
    DataFrame, from Spark's own query-planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def collect(run, samples, storage, setups) -> dict[str, float]:
    """Every per-layer metric that needs the live session; the spark.*
    ones come from the event log after the session stops."""
    tr = run.tracer
    times = tr.layer_times()
    ops = [times.get(s.st.op_id, {}) for s in samples]
    n = len(samples)

    def per_op(key):
        return _mean(o.get(key, 0.0) for o in ops)

    phases = defaultdict(float)
    for s in samples:
        if s.df is not None:
            for phase, ms in catalyst_ms(s.df).items():
                phases[phase] += ms
    spark_sql_calls = sum(o.get("spark.sql.calls", 0.0) for o in ops)
    # statements through Connection.sql per spark.sql call they made: below
    # 1 when fallback retries or catalog statements add calls
    rel_ops = [o for o in ops if o.get("relation.sql.calls")]
    rel_calls = sum(o.get("spark.sql.calls", 0.0) for o in rel_ops)

    def kind_mean(prefix, key):
        return _mean(times.get(s.st.op_id, {}).get(key, 0.0)
                     for s in samples if s.st.name.startswith(prefix))

    counts = tr.counts
    changed = {s.st.op_id: run.dml_counts.get(s.st.op_id, 0)
               for s in samples if s.st.kind == "write"}
    written = sum(counts[s.st.op_id].get("managed.bytes_written", 0) for s in samples)
    row_bytes = run.live_bytes / run.live_rows if run.live_rows else 0
    copies = [s for s in samples if s.st.kind == "copy"]
    lookups = sum(c.get("catalog.lookups", 0) for c in counts.values())
    hits = sum(c.get("catalog.hits", 0) for c in counts.values())
    return {
        "sql.translate_ms": per_op("sql.translate.ms"),
        "sql.translate_calls": per_op("sql.translate.calls"),
        "relation.sql_ms": per_op("relation.sql.ms"),
        "relation.self_ms": per_op("relation.sql.self_ms"),
        "relation.spark_sql_calls": spark_sql_calls / n,
        "relation.spark_sql_failed": per_op("spark.sql.errors"),
        "relation.useful_ratio": len(rel_ops) / rel_calls if rel_calls else 0.0,
        "io.read_parquet_calls": per_op("io.read_parquet.calls"),
        "io.read_parquet_ms": per_op("io.read_parquet.ms"),
        "catalyst.analysis_ms": phases["analysis"] / n,
        "catalyst.optimization_ms": phases["optimization"] / n,
        "catalyst.planning_ms": phases["planning"] / n,
        "queries.build_ms": per_op("queries.build.ms"),
        "operators.checkpoint_calls": per_op("operators.checkpoint.calls"),
        "operators.checkpoint_ms": per_op("operators.checkpoint.ms"),
        "collect.rows": _mean(len(s.rows or ()) for s in samples),
        **{f"managed.{k}_ms": kind_mean(k, "managed.handle.ms") for k in MANAGED_KINDS},
        "managed.rows_changed": _mean(changed.values()),
        "managed.bytes_written": _mean(counts[op].get("managed.bytes_written", 0)
                                       for op in changed),
        "managed.write_amp": (written / (sum(changed.values()) * row_bytes)
                              if changed and row_bytes else 0.0),
        "managed.versions_on_disk": storage.get("versions_on_disk", 0),
        "managed.rows_written_per_s": storage.get("rows_written_per_s", 0.0),
        "managed.bytes_stored_per_user_byte": storage.get("bytes_stored_per_user_byte", 0.0),
        "io.copy_to_ms": kind_mean("copy", "io.copy_to.ms"),
        "io.bytes_written": _mean(counts[s.st.op_id].get("io.bytes_written", 0) for s in copies),
        "io.files_written": _mean(counts[s.st.op_id].get("io.files_written", 0) for s in copies),
        "catalog.register_ms": times.get("setup", {}).get("catalog.register.ms", 0.0) / len(setups),
        "catalog.table_cache_hit_ratio": hits / lookups if lookups else 0.0,
        "jvm.heap_peak_mb": heap_peak_mb(run.spark),
        "jvm.gc_ms": (_gc_ms(run.spark) - run.gc0) / n,
    }


def spark_metrics(run, samples, app_id: str) -> dict[str, float]:
    """spark.* per statement from the event log, and collect.ms: the
    action's wall time minus the statement's jobs that ran inside it."""
    log = eventlog.find_log(os.path.join(run.scratch, "eventlog"), app_id)
    per, jobs = eventlog.parse(eventlog.read_events(log)) if log else ({}, [])
    n = len(samples)
    out = {f"spark.{f}": sum(g[f] for g in per.values()) / n for f in eventlog.FIELDS}
    collect_ms = 0.0
    for s in samples:
        if s.window is None:
            continue
        lo, hi = s.window[0] * 1e3, s.window[1] * 1e3
        inside = sum(j.end_ms - j.start_ms for j in jobs
                     if j.group == s.st.op_id and lo <= j.start_ms <= hi)
        collect_ms += max(0.0, hi - lo - inside)
    out["collect.ms"] = collect_ms / n
    return out
