"""Opening parquet through `readers.open_parquet`.

The schema is read on the driver from the footer Spark's inference would
pick, so an open runs no Spark job, and it must equal what Spark infers
(`spark.read.parquet(p).schema`, nullability and metadata included) for
every fixture file and for the directory layouts that change Spark's
pick: summary files, `_SUCCESS`, files that differ, hive partitions.
"""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import sys
import weakref

import duckdb
import pytest

from duckdb_spark.io import readers
from duckdb_spark.relation import Connection, connect
from tests.conftest import SF_DIR, py4j_calls, spark_jobs

ROOT = pathlib.Path(__file__).resolve().parent.parent
BASE = ROOT / "perfbench" / "tables" / "sf0.01"


@pytest.fixture(scope="module")
def fixture_roots(tmp_path_factory):
    """sf0.01, its ×2 replica, the TPC-DS, ClickBench and all-types
    fixtures."""
    import scripts.gen_scaled_sf as gen
    from duckdb_spark.io import all_types
    from duckdb_spark.queries import clickbench, tpcds

    scaled = str(tmp_path_factory.mktemp("sf0.02"))
    argv, src = sys.argv, gen.SRC
    sys.argv, gen.SRC = ["gen_scaled_sf", "2", scaled], str(BASE)
    try:
        gen.main()
    finally:
        sys.argv, gen.SRC = argv, src
    return [str(BASE), scaled, tpcds.ensure_fixture(), clickbench.ensure_fixture(),
            os.path.dirname(all_types.ensure_fixture())]


def _same_schema(spark, path: str | list[str]) -> None:
    want = spark.read.parquet(*([path] if isinstance(path, str) else path)).schema
    got = readers.open_parquet(spark, path).schema
    assert got == want, path
    assert [f.nullable for f in got] == [f.nullable for f in want], path


def test_fixture_schemas_match_spark(spark, fixture_roots):
    paths = []
    for root in fixture_roots:
        paths.append(root)
        paths += sorted(os.path.join(root, n) for n in os.listdir(root)
                        if not n.startswith((".", "_")))
    assert len(paths) >= 45
    for path in paths:
        _same_schema(spark, path)


def test_fixture_opens_run_no_job(spark):
    session = spark.newSession()
    for name in ("region", "events", "lineitem"):
        assert spark_jobs(session, lambda: readers.open_parquet(
            session, f"{BASE}/{name}.parquet")) == 0


def _copy(sql: str, path) -> None:
    duckdb.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def test_hive_partitioned_copy(spark, tmp_path):
    # pip duckdb keeps the partition column in the files (as BIGINT);
    # Spark's partition discovery types it INT
    out = tmp_path / "hive"
    duckdb.execute(f"COPY (SELECT range AS a, range % 2 AS k FROM range(6)) "
                   f"TO '{out}' (FORMAT PARQUET, PARTITION_BY (k))")
    _same_schema(spark, str(out))
    # a summary file beside the partitions is what Spark reads first
    _copy("SELECT 0::BIGINT AS k, 1::BIGINT AS a", out / "_metadata")
    _same_schema(spark, str(out))
    con = Connection(spark.newSession())
    out2 = tmp_path / "hive2"
    con.sql(f"COPY (SELECT range AS a, range % 2 AS k FROM range(6)) "
            f"TO '{out2}' (FORMAT PARQUET, PARTITION_BY (k))")
    _same_schema(spark, str(out2))


def test_spark_written_directory(spark, tmp_path):
    out = tmp_path / "sw"
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s", "current_timestamp() AS t",
                              "CAST(id AS DECIMAL(9, 2)) AS d").write.parquet(str(out))
    assert (out / "_SUCCESS").exists()
    _same_schema(spark, str(out))
    session = spark.newSession()
    assert spark_jobs(session, lambda: readers.open_parquet(session, str(out))) == 0


@pytest.mark.parametrize("summaries", [("_metadata",), ("_metadata", "_common_metadata")])
def test_summary_files_win(spark, tmp_path, summaries):
    for i, name in enumerate(summaries):
        _copy(f"SELECT 1 AS a, {i}::{'INT' if i else 'SMALLINT'} AS s{i}", tmp_path / name)
    _copy("SELECT 2 AS a", tmp_path / "part-0.parquet")
    _same_schema(spark, str(tmp_path))
    assert readers.open_parquet(spark, str(tmp_path)).columns == ["a", f"s{len(summaries) - 1}"]


def test_files_that_differ_take_the_first(spark, tmp_path):
    _copy("SELECT 1::INT AS x, 'a' AS y", tmp_path / "b.parquet")
    _copy("SELECT 2::BIGINT AS x", tmp_path / "a.parquet")
    _copy("SELECT 'z' AS w", tmp_path / ".hidden.parquet")
    _copy("SELECT 'z' AS w", tmp_path / "_ignored.parquet")
    _same_schema(spark, str(tmp_path))
    _same_schema(spark, [str(tmp_path / "b.parquet"), str(tmp_path / "a.parquet")])


def test_spark_reports_what_it_cannot_read(spark, tmp_path):
    """Paths that give no footer are Spark's own read, errors included."""
    _copy("SELECT 1 AS a", tmp_path / "_x.parquet")
    (tmp_path / "empty").mkdir()
    for path in (tmp_path / "_x.parquet", tmp_path / "empty"):
        with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
            readers.open_parquet(spark, str(path))
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    with pytest.raises(Exception) as raw:
        spark.read.parquet(str(bad))
    with pytest.raises(type(raw.value)):
        readers.open_parquet(spark, str(bad))


def test_merge_schema_reads_every_file(spark, tmp_path):
    _copy("SELECT 1 AS a", tmp_path / "a.parquet")
    _copy("SELECT 2 AS a, 'x' AS b", tmp_path / "b.parquet")
    df = readers.open_parquet(spark, str(tmp_path), mergeSchema="true")
    assert df.columns == ["a", "b"]


def test_connect_runs_no_job(spark):
    session = spark.newSession()
    assert spark_jobs(session, lambda: Connection(session, sf_dir=SF_DIR)) == 0


def test_connect_does_no_per_table_work(spark):
    """`connect(sf_dir)` lists the dir and binds nothing: on a warm
    session it makes a handful of py4j round trips (to find the active
    session), whatever the number of tables."""
    spark.createDataFrame([(1,)], "a INT")  # makes `spark` the active session
    connect(SF_DIR)
    assert py4j_calls(spark, lambda: connect(SF_DIR)) <= 5
    assert py4j_calls(spark, lambda: Connection(spark, sf_dir=SF_DIR)) == 0


def test_dropped_connections_free_their_sessions(spark):
    """Nothing the engine keeps outside a session holds on to it: 30
    sessions, each with a Connection that ran a statement, are all
    collected once dropped and no longer the context's active one."""
    refs = []
    for _ in range(30):
        con = Connection(spark.newSession(), sf_dir=SF_DIR)
        con.sql("SELECT count(*) FROM nation").fetchall()
        refs.append(weakref.ref(con.spark))
        del con
    # the context points at the session it last ran a statement on, and
    # pyspark's `RDD.toDF` patch at the session made last
    Connection(spark.newSession()).sql("SELECT 1")
    gc.collect()
    assert [r for r in refs if r() is not None] == []


def test_ctas_runs_only_the_write(spark):
    con = Connection(spark.newSession())
    assert spark_jobs(con.spark, lambda: con.sql(
        "CREATE TABLE ctas_jobs AS SELECT range AS k FROM range(5)")) == 1
    assert con.sql("SELECT sum(k) FROM ctas_jobs").fetchone()[0] == 10
    assert con.managed.tables["ctas_jobs"][0] == con.spark.table("ctas_jobs").schema


def test_connect_keeps_runtime_conf(spark):
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.createDataFrame([(1,)], "a INT")  # makes `spark` the active session
    spark.conf.set(key, "false")
    try:
        con = Connection()
        assert con.spark is spark
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("written", [
    "g2/top.parquet", "./g2/top.parquet", "g2/*.parquet", "./g2/*.parquet",
    "**/*.parquet", "g2/../g2/top.parquet"])
def test_filename_is_the_path_as_written(spark, tmp_path, monkeypatch, written):
    (tmp_path / "g2").mkdir()
    _copy("SELECT 1 AS k", tmp_path / "g2" / "top.parquet")
    monkeypatch.chdir(tmp_path)
    con = Connection(spark.newSession())
    text = f"SELECT k, filename FROM read_parquet('{written}', filename=true)"
    got = [tuple(r) for r in con.sql(text).df().collect()]
    assert got == duckdb.execute(text).fetchall()
    assert not got[0][1].startswith("/")


def test_filename_of_absolute_paths(spark, tmp_path):
    _copy("SELECT 1 AS k", tmp_path / "a+b.parquet")
    con = Connection(spark.newSession())
    for written in (f"{tmp_path}/a+b.parquet", f"{tmp_path}/*.parquet"):
        text = f"SELECT filename FROM read_parquet('{written}', filename=true)"
        assert [tuple(r) for r in con.sql(text).df().collect()] == \
            duckdb.execute(text).fetchall() == [(f"{tmp_path}/a+b.parquet",)]


def _raw_parquet_opens(path: pathlib.Path) -> list[str]:
    """`.parquet(` / `.load(` calls on a `.read` chain, and parquet
    `createTable` calls without `schema=`, in one source file."""
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
            continue
        attr = node.func.attr
        chain, recv = [], node.func.value
        while isinstance(recv, (ast.Attribute, ast.Call)):
            if isinstance(recv, ast.Attribute):
                chain.append(recv.attr)
                recv = recv.value
            else:
                chain += [ast.unparse(a) for a in recv.args]
                recv = recv.func
        kw = {k.arg: ast.unparse(k.value) for k in node.keywords}
        if "read" in chain and (attr == "parquet" or (
                attr == "load" and "'parquet'" in chain)):
            found.append(f"{path.name}:{node.lineno}")
        if attr == "createTable" and kw.get("source") == "'parquet'" \
                and "schema" not in kw:
            found.append(f"{path.name}:{node.lineno}")
    return found


def test_every_parquet_open_goes_through_open_parquet():
    pkg = ROOT / "duckdb_spark"
    found = [hit for p in sorted(pkg.rglob("*.py")) if p != pkg / "io" / "readers.py"
             for hit in _raw_parquet_opens(p)]
    assert found == []


def test_raw_open_check_sees_raw_opens(tmp_path):
    src = tmp_path / "m.py"
    src.write_text("spark.read.parquet(p)\n"
                   "spark.read.options(**o).parquet(p)\n"
                   "spark.read.format('parquet').load(p)\n"
                   "spark.catalog.createTable(n, path=p, source='parquet')\n"
                   "spark.catalog.createTable(n, path=p, source='parquet', schema=s)\n"
                   "df.write.parquet(p)\n"
                   "spark.readStream.schema(s).parquet(p)\n")
    assert _raw_parquet_opens(src) == ["m.py:1", "m.py:2", "m.py:3", "m.py:4"]


def test_open_parquet_after_the_files_move(spark, tmp_path):
    """A directory read twice sees the file that replaced the first one."""
    _copy("SELECT 1 AS a", tmp_path / "a.parquet")
    assert readers.open_parquet(spark, str(tmp_path)).columns == ["a"]
    os.remove(tmp_path / "a.parquet")
    _copy("SELECT 1 AS b", tmp_path / "b.parquet")
    assert readers.open_parquet(spark, str(tmp_path)).columns == ["b"]
