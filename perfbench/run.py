#!/usr/bin/env python3
"""duckdb_spark benchmark: run one workload from a seed, check every result
against the pip-duckdb oracle, and print the metrics.

    python3 perfbench/run.py --workload sql_small --seed 1 --seconds 20 --trace 0

Workloads (reasons in NOTES.md), all a closed loop with one client and one
statement in flight on local[nproc]:

- sql_small     DuckDB-dialect SQL texts through `Connection.sql` on sf0.01
- headline_sf1  bench.py's 19 headline query builders on the sf0.02 fixture
- dml_write     a seeded CTAS/INSERT/UPDATE/DELETE/COPY/read stream on
                managed tables

With `--trace 0` the metrics are the end-to-end ones; `--trace 1` turns on
Spark's event log and the layer wrappers and prints the per-layer metrics.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the run's details (host record, sample counts, fixture fingerprint,
failures). Everything the run writes stays under `.perfbench_work/` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from urllib.parse import urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # session set-ups per run; setup_s is their median

# name -> (uses the scaled fixture, nominal seconds of one pass on a 4-core host)
WORKLOADS = {"sql_small": (False, 20), "headline_sf1": (True, 20), "dml_write": (True, 10)}

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_ms": "ms", "op_geomean_ms": "ms",
    "ops_per_s": "1/s", "pass_s": "s", "peak_rss_mb": "MB",
}

PER_LAYER = {  # name -> unit; per-statement means unless the unit says otherwise
    "sql.translate_ms": "ms", "sql.translate_calls": "count",
    "relation.sql_ms": "ms", "relation.self_ms": "ms",
    "relation.spark_sql_calls": "count", "relation.spark_sql_failed": "count",
    "relation.useful_ratio": "ratio",
    "io.read_parquet_calls": "count", "io.read_parquet_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "queries.build_ms": "ms",
    "operators.checkpoint_calls": "count", "operators.checkpoint_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_ms": "ms", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.jvm_gc_ms": "ms",
    "spark.input_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "collect.ms": "ms", "collect.rows": "count",
    "managed.ctas_ms": "ms", "managed.insert_ms": "ms",
    "managed.update_ms": "ms", "managed.delete_ms": "ms",
    "managed.rows_changed": "count", "managed.bytes_written": "B",
    "managed.write_amp": "ratio", "managed.versions_on_disk": "count",
    "managed.rows_written_per_s": "1/s", "managed.bytes_stored_per_user_byte": "ratio",
    "io.copy_to_ms": "ms", "io.bytes_written": "B", "io.files_written": "count",
    "catalog.register_ms": "ms", "catalog.table_cache_hit_ratio": "ratio",
    "jvm.heap_peak_mb": "MB", "jvm.gc_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(scratch: str) -> None:
    """Point every file the program or Spark writes into WORK (temporary
    files into this run's `scratch` directory), and size the JVM heap below
    host RAM (the program's default heap is 24g)."""
    import hostinfo

    for sub in ("spark-local", "warehouse", "fixtures", "oracle", "traces", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.makedirs(os.path.join(scratch, "eventlog"))
    heap_gib = max(1, min(2, hostinfo.ram_mib() // 4096))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_GRAFT_TPCDS_DIR": os.path.join(WORK, "fixtures", "tpcds"),
        "SPARK_GRAFT_CLICKBENCH_DIR": os.path.join(WORK, "fixtures", "clickbench"),
        "SPARK_GRAFT_ALLTYPES_DIR": os.path.join(WORK, "fixtures", "all_types"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": scratch,
        "PYSPARK_PYTHON": sys.executable,
    })


def first_line(exc: BaseException) -> str:
    text = str(exc).strip()
    return (text.splitlines()[0] if text else type(exc).__name__)[:300]


class Sample:
    __slots__ = ("st", "ms", "rows", "error", "window", "df")

    def __init__(self, st, ms, rows, error, window, df):
        self.st, self.ms, self.rows, self.error, self.window, self.df = (
            st, ms, rows, error, window, df)


class Run:
    def __init__(self, args, fx, scratch: str):
        from duckdb_spark.queries import ORACLE, QUERIES

        import fixtures

        self.args, self.fx, self.scratch = args, fx, scratch
        self.live_bytes = self.live_rows = 0
        self.dml_counts: dict[str, int] = {}
        self.queries, self.oracle_texts = QUERIES, ORACLE
        self.copy_root = os.path.join(scratch, "copy")
        self.tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        self.tracer = None
        self.spark = self.con = None
        self.retired = []  # stopped sessions, kept alive so ids are not reused
        if args.workload == "sql_small":
            texts = {n: ORACLE[n] for n in self._names()}
        elif args.workload == "headline_sf1":
            texts = {n: fixtures.scaled_oracle_text(ORACLE[n], fx.sf_dir)
                     for n in self._names()}
        else:
            texts = {}
        self.answers = self._oracle(texts) if texts else {}

    def _names(self):
        import workloads

        if self.args.workload == "sql_small":
            return workloads.SQL_SMALL_WARMUP + workloads.SQL_SMALL
        return workloads.HEADLINE_WARMUP + workloads.HEADLINE

    def _oracle(self, texts):
        import oracle

        path = os.path.join(WORK, "oracle", f"{self.args.workload}-{self.fx.fingerprint}.json")
        return oracle.cached_answers(path, self.fx.sf_dir, texts)

    def make_pass(self, k: int):
        import workloads

        w, seed = self.args.workload, self.args.seed
        if w == "sql_small":
            return workloads.sql_small_pass(seed, k, self.oracle_texts)
        if w == "headline_sf1":
            return workloads.headline_pass(seed, k)
        return workloads.dml_pass(seed, k, self.copy_root)

    # -- sessions -------------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        conf = {
            # a fixed, pre-touched heap: peak RSS then does not depend on
            # when G1 decides to grow the heap
            "spark.driver.extraJavaOptions": (f"-Xms{heap} -XX:+AlwaysPreTouch "
                                              f"-Djava.io.tmpdir={self.scratch}"),
            "spark.hadoop.hadoop.tmp.dir": self.scratch,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.scratch, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup_once(self) -> float:
        """Session, `connect` (view registration) and a warm-up statement."""
        from duckdb_spark import connect, get_spark

        if self.spark is not None:
            self.retired.append((self.spark, self.con))
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=self.spark_conf())
        self.con = connect(sf_dir=self.fx.sf_dir)
        self.con.sql("SELECT count(*) FROM lineitem").df().collect()
        return time.perf_counter() - t0

    # -- statements -------------------------------------------------------------

    def execute(self, st) -> Sample:
        tr = self.tracer
        if tr:
            tr.op = st.op_id
            self.spark.sparkContext.setJobGroup(st.op_id, st.name)
            root = tr.begin("op")
        rows, error, window, df = None, None, None, None
        base = self.con.managed.base if tr and st.kind == "write" else None
        b0 = _tree_bytes(base) if base else 0
        t0 = time.perf_counter()
        try:
            if st.kind == "builder":
                if tr:
                    idx = tr.begin("queries.build")
                df = self.queries[st.name](self.spark, self.fx.sf_dir)
                if tr:
                    tr.end(idx)
            else:
                rel = self.con.sql(st.text)
                df = rel.df() if rel is not None else None
            c0 = time.time()
            rows = df.collect() if df is not None else []
            window = (c0, time.time())
        except Exception as e:  # noqa: BLE001 — a failed statement is a result
            error = first_line(e)
        ms = (time.perf_counter() - t0) * 1e3
        if tr:
            tr.end(root)
            if base:
                tr.count("managed.bytes_written", _tree_bytes(base) - b0)
            tr.op = None
        if st.kind == "builder":
            # release checkpoint blocks between queries, as bench.py does
            self.spark.catalog.clearCache()
        return Sample(st, ms, rows, error, window, df if tr else None)

    def measure(self):
        """One unmeasured warm-up pass (pass 0), then round(--seconds /
        nominal pass time) measured passes, at least one. The work is the
        same on every run, whatever the host's speed, so runs stay
        comparable; the warm-up takes the JIT and Python worker start-up
        that a long-lived session pays once."""
        nominal = WORKLOADS[self.args.workload][1]
        warmup = [self.execute(st) for st in self.make_pass(0)]
        self.warmup_s = sum(s.ms for s in warmup) / 1e3
        if self.tracer:
            import layers

            layers.reset_jvm_peaks(self)
        samples, passes = [], []
        for k in range(1, 1 + max(1, round(self.args.seconds / nominal))):
            t0 = time.perf_counter()
            for st in self.make_pass(k):
                samples.append(self.execute(st))
            passes.append(time.perf_counter() - t0)
        return warmup, samples, passes

    # -- correctness --------------------------------------------------------------

    def verify(self, samples) -> dict[str, str]:
        """op id -> reason, for every statement that raised or disagrees
        with the oracle."""
        import oracle

        bad = {s.st.op_id: s.error for s in samples if s.error}
        if self.args.workload == "dml_write":
            bad.update(self.verify_dml([s for s in samples if not s.error]))
            return bad
        for s in samples:
            if not s.error:
                why = oracle.diff(oracle.normalize(s.rows), self.answers[s.st.name])
                if why:
                    bad[s.st.op_id] = why
        return bad

    def verify_dml(self, samples) -> dict[str, str]:
        """Replay the executed statements in DuckDB; compare read results,
        affected-row counts, the files COPY wrote and the final tables."""
        import oracle

        con = oracle.connect(self.fx.sf_dir)
        bad = {}
        for s in samples:
            st = s.st
            if st.kind == "copy":
                inner = st.text[st.text.index("(") + 1:st.text.rindex(") TO")]
                cols = inner.split("SELECT", 1)[1].split("FROM", 1)[0]
                want = oracle.normalize(con.execute(inner).fetchall())
                path = st.text.split("TO '", 1)[1].split("'", 1)[0]
                got = oracle.normalize(con.execute(
                    f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', "
                    f"hive_partitioning = 1)").fetchall())
                self.dml_counts[st.op_id] = len(want)
            else:
                want = oracle.normalize(con.execute(st.text).fetchall())
                got = oracle.normalize(s.rows)
                if st.name.startswith("ctas"):
                    want = got = []
                    self.dml_counts[st.op_id] = con.execute(
                        f"SELECT count(*) FROM {st.table}").fetchone()[0]
                elif st.kind == "write":
                    self.dml_counts[st.op_id] = int(float(want[0][0])) if want else 0
            why = oracle.diff(got, want)
            if why:
                bad[st.op_id] = why
        for table in sorted({s.st.table for s in samples}):
            files = [urlparse(u).path for u in self.spark.table(table).inputFiles()]
            self.live_bytes += sum(os.path.getsize(f) for f in files)
            self.live_rows += con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            types = con.execute(f"DESCRIBE {table}").fetchall()
            cast = ", ".join(f'CAST("{c[0]}" AS {c[1]}) AS "{c[0]}"' for c in types)
            got = f"SELECT {cast} FROM read_parquet({files!r})" if files else \
                f"SELECT * FROM {table} LIMIT 0"
            n = con.execute(
                f"SELECT count(*) FROM (({got} EXCEPT ALL SELECT * FROM {table}) "
                f"UNION ALL (SELECT * FROM {table} EXCEPT ALL {got}))").fetchone()[0]
            if n:
                bad[f"final.{table}"] = f"{n} rows differ from the replayed table"
        con.close()
        return bad

    # -- metrics --------------------------------------------------------------------

    def end_to_end(self, setups, samples, passes, peak_rss) -> dict:
        import metrics

        ms = [s.ms for s in samples]
        by_name: dict[str, list[float]] = {}
        for s in samples:
            by_name.setdefault(s.st.name, []).append(s.ms)
        return {
            "setup_s": metrics.median(setups),
            "op_p50_ms": metrics.median(ms),
            "op_geomean_ms": metrics.geomean([metrics.median(v) for v in by_name.values()]),
            "ops_per_s": len(samples) / sum(passes),
            "pass_s": metrics.median(passes),
            "peak_rss_mb": peak_rss,
        }

    def managed_storage(self, samples) -> dict:
        """Rows written per second of write statements, and bytes under the
        managed base directory per byte of the live table versions."""
        write = [s for s in samples if s.st.kind in ("write", "copy") and not s.error]
        rows = sum(self.dml_counts.get(s.st.op_id, 0) for s in write)
        stored = _tree_bytes(self.con.managed.base)
        return {
            "rows_written_per_s": rows / (sum(s.ms for s in write) / 1e3) if write else 0.0,
            "bytes_stored_per_user_byte": stored / self.live_bytes if self.live_bytes else 0.0,
            "versions_on_disk": _count_versions(self.con.managed.base),
            "rows_written": rows,
        }

    def run(self) -> tuple[dict, dict]:
        import hostinfo
        import metrics

        host = hostinfo.HostRecord(self.args.seed)
        if self.args.trace:
            import layers

            self.tracer = layers.install(self)
        setups = [self.setup_once() for _ in range(SETUPS)]
        warmup, samples, passes = self.measure()
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = hostinfo.vm_hwm_mib(jvm_pid) + hostinfo.vm_hwm_mib()
        bad = self.verify(warmup + samples)
        storage = (self.managed_storage(warmup + samples)
                   if self.args.workload == "dml_write" else {})
        e2e = self.end_to_end(setups, samples, passes, peak_rss)
        n = len(samples)
        attempted = n + len(warmup)
        tail = metrics.tail_percentile(n)
        detail = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "host": None, "fixture": vars(self.fx), "setups_s": setups,
            "warmup_pass_s": self.warmup_s, "passes_s": passes, "statements": n,
            "failed_frac": len(bad) / attempted, "failures": bad,
            "tail": ({"percentile": tail, "ms": metrics.percentile([s.ms for s in samples], tail),
                      "samples": n} if tail else {"percentile": None, "samples": n}),
            "managed": storage,
        }
        if self.args.workload == "sql_small":
            import workloads

            detail["excluded"] = workloads.SQL_SMALL_EXCLUDED
        layer = None
        if self.tracer:
            layer = layers.collect(self, samples, storage, setups)
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        if self.tracer:
            layer.update(layers.spark_metrics(self, samples, app_id))
            self.tracer.unpatch()
            spans = os.path.join(WORK, "traces", f"{self.tag}.spans.json")
            self.tracer.dump(spans, self.t0_spans)
            detail["spans_file"] = os.path.relpath(spans, ROOT)
            detail["trace_overhead"] = _overhead(self.args, e2e)
        else:
            with open(os.path.join(WORK, "results", f"{self.tag}.json"), "w") as f:
                json.dump(e2e, f)
        detail["host"] = host.finish()
        detail["end_to_end"] = e2e
        chosen = layer if self.tracer else e2e
        units = PER_LAYER if self.tracer else END_TO_END
        result = {
            "correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
        }
        return detail, result


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, files in os.walk(path) for f in files)


def _count_versions(base: str) -> int:
    return sum(1 for r, dirs, _ in os.walk(base) for d in dirs if d[:1] == "v" and d[1:].isdigit())


def _overhead(args, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the untraced run
    of the same workload and seed (or any seed) found in this checkout."""
    results = os.path.join(WORK, "results")
    names = sorted(f for f in os.listdir(results) if f.startswith(args.workload + "-"))
    same = f"{args.workload}-seed{args.seed}-trace0.json"
    pick = same if same in names else next((f for f in names if f.endswith("-trace0.json")), None)
    if pick is None:
        return {"baseline": None}
    with open(os.path.join(results, pick)) as f:
        base = json.load(f)
    return {"baseline": pick, **{k: traced[k] - base[k] for k in base}}


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM, and the Python workers
    it started, to exit (the JVM exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    scratch = os.path.join(WORK, "tmp", str(os.getpid()))
    configure_environment(scratch)
    try:
        return _main(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _main(args, scratch: str) -> int:
    sys.path.insert(1, ROOT)
    try:
        import duckdb_spark  # noqa: F401
        import scripts.check_contract  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from duckdb_spark.queries import load_all

    import fixtures

    load_all()
    fx = fixtures.ensure(WORK, scaled=WORKLOADS[args.workload][0])
    detail, result = Run(args, fx, scratch).run()
    stop_jvm()
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
