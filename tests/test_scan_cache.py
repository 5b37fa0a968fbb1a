"""The session's scan cache (io/readers.py, `SessionState.scans`).

A second read of unchanged local files returns the cached DataFrame and
runs no Spark job; a read of files that changed since sees their new
rows; SQL text reads each cached scan through one temp view; and a
second session starts with no entries. Local paths resolve once, in
Python, the way DuckDB resolves them, and Spark reads what they resolved
to.
"""

from __future__ import annotations

import gc
import sys
import threading
import weakref

import duckdb
import pytest

from duckdb_spark import state
from duckdb_spark.io import readers
from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR, spark_jobs


@pytest.fixture
def con(spark):
    """A Connection on a new session, so the cache starts empty."""
    return Connection(spark.newSession())


def _write(path, rows: int, start: int = 0) -> None:
    duckdb.execute(f"COPY (SELECT range + {start} AS k FROM range({rows})) "
                   f"TO '{path}' (FORMAT PARQUET)")


def _count(con, source: str) -> int:
    return con.sql(f"SELECT count(*) AS n FROM {source}").df().collect()[0][0]


def test_second_read_runs_no_job(con):
    text = f"SELECT * FROM read_parquet('{SF_DIR}/region.parquet')"
    assert spark_jobs(con.spark, lambda: con.sql(text)) >= 1
    assert spark_jobs(con.spark, lambda: con.sql(text)) == 0


def test_relation_api_and_sql_text_share_entries(con):
    path = f"{SF_DIR}/nation.parquet"
    con.sql(f"SELECT * FROM read_parquet('{path}')")
    assert spark_jobs(con.spark, lambda: con.read_parquet(path)) == 0
    assert readers.read_parquet(con.spark, f"file://{path}") is \
        readers.read_parquet(con.spark, f"file://{path}")


def test_second_session_reads_again(con, spark):
    text = f"SELECT * FROM read_parquet('{SF_DIR}/region.parquet')"
    con.sql(text)
    other = Connection(spark.newSession())
    assert state.of(other.spark).scans == {}
    assert spark_jobs(other.spark, lambda: other.sql(text)) >= 1


def test_cached_scans_do_not_keep_their_session_alive(spark):
    other = spark.newSession()
    readers.read_parquet(other, f"{SF_DIR}/region.parquet")
    ref = weakref.ref(other)
    spark.newSession()  # pyspark keeps the newest session as the active one
    del other
    gc.collect()
    assert ref() is None


def test_one_view_per_read(con):
    for _ in range(5):
        _count(con, f"read_parquet('{SF_DIR}/region.parquet')")
    views = [t.name for t in con.spark.catalog.listTables()
             if t.name.startswith("__tvf_")]
    assert len(views) == 1, views


@pytest.mark.parametrize("call", [
    "read_text('{f}')", "read_blob('{f}')", "sniff_csv('{f}')",
    "repeat(7, 3)", "duckdb_tables()"])
def test_repeated_table_function_keeps_one_view(con, tmp_path, call):
    f = tmp_path / "t.csv"
    f.write_text("a,b\n1,x\n")
    for _ in range(3):
        _count(con, call.format(f=f))
    views = [t.name for t in con.spark.catalog.listTables()
             if t.name.startswith("__tvf_")]
    assert len(views) == 1, views


def test_relative_path_after_chdir(con, tmp_path, monkeypatch):
    (tmp_path / "g2").mkdir()
    _write(tmp_path / "g2" / "top.parquet", 2)
    monkeypatch.chdir(tmp_path)
    src = "read_parquet('g2/top.parquet')"
    assert _count(con, src) == duckdb.execute(
        f"SELECT count(*) FROM {src}").fetchone()[0] == 2


def test_double_star_recurses(con, tmp_path):
    (tmp_path / "a" / "b").mkdir(parents=True)
    for sub, rows in (("", 3), ("a", 5), ("a/b", 9)):
        _write(tmp_path / sub / f"f{rows}.parquet", rows)
    src = f"read_parquet('{tmp_path}/**/*.parquet')"
    assert _count(con, src) == duckdb.execute(
        f"SELECT count(*) FROM {src}").fetchone()[0] == 17


def test_unresolved_paths_get_no_entry(con, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        readers.read_parquet(con.spark, str(tmp_path / "none.parquet"))
    assert state.of(con.spark).scans == {}


def test_self_join_of_one_file(con):
    src = f"read_parquet('{SF_DIR}/region.parquet')"
    n = _count(con, f"{src} a JOIN {src} b ON a.r_regionkey = b.r_regionkey")
    assert n == 5
    a = con.read_parquet(f"{SF_DIR}/region.parquet").df()
    b = con.read_parquet(f"{SF_DIR}/region.parquet").df()
    assert a.alias("a").join(b.alias("b"), "r_regionkey").count() == 5


def test_copy_to_the_same_path_again(con, tmp_path):
    out = tmp_path / "copied.parquet"
    con.sql(f"COPY (SELECT * FROM range(3)) TO '{out}' (FORMAT PARQUET)")
    assert _count(con, f"read_parquet('{out}')") == 3
    con.sql(f"COPY (SELECT * FROM range(7)) TO '{out}' (FORMAT PARQUET)")
    assert _count(con, f"read_parquet('{out}')") == 7


@pytest.mark.parametrize("pattern, subs", [
    ("{d}", ("", "")), ("{d}/**/*.parquet", ("p1", "p2"))])
def test_directory_and_glob_that_gain_a_file(con, tmp_path, pattern, subs):
    src = f"read_parquet('{pattern.format(d=tmp_path)}')"
    for sub in subs:
        (tmp_path / sub).mkdir(exist_ok=True)
    _write(tmp_path / subs[0] / "a.parquet", 2)
    assert _count(con, src) == 2
    _write(tmp_path / subs[1] / "b.parquet", 3)
    assert _count(con, src) == 5


def test_file_rewritten_in_place(con, tmp_path):
    path, other = tmp_path / "f.parquet", tmp_path / "g.parquet"
    _write(path, 2)
    # a row group that ends far past the old file's end: a stale scan
    # would plan it out of the read
    _write(other, 100_000, start=10)
    ino = path.stat().st_ino
    assert _count(con, f"read_parquet('{path}')") == 2
    with open(path, "wb") as fh:  # same inode, new size
        fh.write(other.read_bytes())
    assert path.stat().st_ino == ino
    got = con.sql(f"SELECT count(*), sum(k) FROM read_parquet('{path}')").df().collect()
    assert tuple(got[0]) == (100_000, 100_000 * 10 + 99_999 * 100_000 // 2)


def test_threads_reading_one_session(con):
    """More threads than cores read six files, each twice, through SQL
    text on one session: every count is right and each file has one view."""
    tables = ("region", "nation", "supplier", "customer", "part", "orders")
    want = {t: duckdb.execute(f"SELECT count(*) FROM read_parquet("
                              f"'{SF_DIR}/{t}.parquet')").fetchone()[0]
            for t in tables}
    got: dict = {}

    def run(i: int) -> None:
        t = tables[i % len(tables)]
        try:
            got[i] = _count(con, f"read_parquet('{SF_DIR}/{t}.parquet')") == want[t]
        except Exception as e:  # noqa: BLE001 — reported below
            got[i] = e

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(12)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert got == {i: True for i in range(12)}
    views = [t.name for t in con.spark.catalog.listTables()
             if t.name.startswith("__tvf_")]
    assert len(views) == len(tables), views
