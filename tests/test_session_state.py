"""Engine state is scoped to a SparkSession (duckdb_spark/state.py).

Two Connections on two sessions of one Spark application are two DuckDB
databases: a type, schema, setting or TIME column declared on one must not
change what the other answers, whatever thread runs either. Each case
compares with pip duckdb, where two connections are two databases, when
it can express the case.
"""

from __future__ import annotations

import ast
import pathlib
import re
import threading

import duckdb
import pytest

from duckdb_spark.relation import Connection
from tests.conftest import assert_matches_oracle

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "duckdb_spark"


@pytest.fixture
def two(spark):
    """Two Connections, each on its own new session."""
    return Connection(spark.newSession()), Connection(spark.newSession())


def _rows(rel) -> list[tuple]:
    return [tuple(r) for r in rel.df().collect()]


def test_time_column_marks_stay_in_their_session(two):
    ca, cb = two
    ca.sql("CREATE TABLE ss_time (a TIME)")
    try:
        cb.sql("CREATE OR REPLACE TEMP VIEW ss_time AS "
               "SELECT CAST(3600000000 AS BIGINT) AS a")
        d = duckdb.connect()
        d.execute("CREATE TEMP VIEW ss_time AS SELECT 3600000000::BIGINT AS a")
        assert_matches_oracle(cb.sql("SELECT a FROM ss_time").df(), d,
                              "SELECT a FROM ss_time")
    finally:
        ca.sql("DROP TABLE ss_time")


def test_types_and_schemas_stay_in_their_session(two):
    ca, cb = two
    ca.sql("CREATE TYPE ss_mood AS ENUM ('sad', 'ok', 'happy')")
    ca.sql("CREATE SCHEMA ss_s1")
    da, db = duckdb.connect(), duckdb.connect()
    da.execute("CREATE TYPE ss_mood AS ENUM ('sad', 'ok', 'happy')")
    da.execute("CREATE SCHEMA ss_s1")
    with pytest.raises(duckdb.Error, match="ss_mood"):
        db.execute("CREATE TABLE ss_m (x ss_mood)")
    with pytest.raises(Exception, match="ss_mood"):
        cb.sql("CREATE TABLE ss_m (x ss_mood)")
    db.execute("CREATE SCHEMA ss_s1")
    assert cb.sql("CREATE SCHEMA ss_s1") is None


def test_connection_state_follows_it_to_another_thread(two):
    ca, _ = two
    ca.sql("CREATE TYPE ss_mood2 AS ENUM ('sad', 'ok', 'happy')")
    out: dict = {}

    def run():
        try:
            ca.sql("CREATE TABLE ss_m2 (x ss_mood2)")
            ca.sql("INSERT INTO ss_m2 VALUES ('ok')")
            out["rows"] = _rows(ca.sql("SELECT x FROM ss_m2"))
        except Exception as e:  # noqa: BLE001 — reported below
            out["rows"] = e

    th = threading.Thread(target=run)
    th.start()
    th.join(timeout=300)
    assert not th.is_alive()
    try:
        d = duckdb.connect()
        d.execute("CREATE TYPE ss_mood2 AS ENUM ('sad', 'ok', 'happy')")
        d.execute("CREATE TABLE ss_m2 (x ss_mood2)")
        d.execute("INSERT INTO ss_m2 VALUES ('ok')")
        assert out["rows"] == d.execute("SELECT x FROM ss_m2").fetchall()
    finally:
        ca.sql("DROP TABLE IF EXISTS ss_m2")


def test_sqllogic_reset_forgets_column_marks(spark):
    from duckdb_spark.sqllogic import SLSession

    sess = SLSession(spark.newSession())
    sess.execute("CREATE TYPE ss_mood3 AS ENUM ('sad', 'ok', 'happy')")
    sess.execute("CREATE TABLE ss_r (a TIME, e ss_mood3)")
    sess.reset()
    sess.execute("CREATE TABLE ss_r AS SELECT CAST(3600000000 AS BIGINT) AS a, "
                 "'ok' AS e")
    assert _rows(sess.execute("SELECT a, e FROM ss_r")) == [(3600000000, "ok")]


def test_set_records_a_duckdb_setting(spark):
    con = Connection(spark.newSession())
    assert con.sql("SET default_null_order='nulls_first'") is None
    assert con.last_trace == [("duckdb_setting", "answered")]
    q = "SELECT x FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY x"
    d = duckdb.connect()
    d.execute("SET default_null_order='nulls_first'")
    assert _rows(con.sql(q)) == d.execute(q).fetchall() == [(None,), (1,), (2,)]
    # a dotted key is Spark's own conf
    con.sql("SET spark.sql.shuffle.partitions=3")
    assert con.spark.conf.get("spark.sql.shuffle.partitions") == "3"


def _same_names(con, ty: str, make_table: tuple[str, ...]) -> list:
    """Declare type `ss_k` as `ty`, build `ss_kt` over it, read it back."""
    out = []
    for _ in range(3):
        con.sql("DROP TYPE IF EXISTS ss_k")
        con.sql(f"CREATE TYPE ss_k AS {ty}")
        for stmt in make_table:
            con.sql(stmt)
        out.append(_rows(con.sql("SELECT a FROM ss_kt")))
    return out


LOOPS = {
    # a managed table whose column is declared TIME through the alias
    "time": ("TIME", ("CREATE OR REPLACE TABLE ss_kt (a ss_k)",
                      "INSERT INTO ss_kt VALUES ('01:00:00')")),
    # a temp view of the same name whose column is a BIGINT
    "bigint": ("BIGINT", ("CREATE OR REPLACE TEMP VIEW ss_kt AS "
                          "SELECT CAST(3600000000 AS ss_k) AS a",)),
}


def test_concurrent_sessions_answer_as_one_thread_does(spark):
    alone = {k: _same_names(Connection(spark.newSession()), *v)
             for k, v in LOOPS.items()}
    assert alone["bigint"][0] == [(3600000000,)]
    cons = {k: Connection(spark.newSession()) for k in LOOPS}
    got: dict = {}

    def run(k):
        try:
            got[k] = _same_names(cons[k], *LOOPS[k])
        except Exception as e:  # noqa: BLE001 — reported below
            got[k] = e

    threads = [threading.Thread(target=run, args=(k,)) for k in LOOPS]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    try:
        assert got == alone
    finally:
        cons["time"].sql("DROP TABLE IF EXISTS ss_kt")


# ------------------------------------------------------- no module state

_FORBIDDEN_TEXT = re.compile(r"threading\.local\(|\bid\(spark\)")
_FORBIDDEN_NAME = re.compile(r"\w*_TABLE_COLS|\w*_TABLE_CACHE|_BOUND|_REGISTERED")


def _module_state(path: pathlib.Path) -> list[str]:
    hits = []
    for line in path.read_text().splitlines():
        if _FORBIDDEN_TEXT.search(line):
            hits.append(line.strip())
    for node in ast.parse(path.read_text()).body:
        targets = node.targets if isinstance(node, ast.Assign) else \
            [node.target] if isinstance(node, ast.AnnAssign) else []
        mutable = isinstance(getattr(node, "value", None), (
            ast.Dict, ast.Set, ast.DictComp, ast.SetComp, ast.Call))
        for t in targets:
            if isinstance(t, ast.Name) and mutable and \
                    _FORBIDDEN_NAME.fullmatch(t.id):
                hits.append(t.id)
    return hits


def test_no_module_level_engine_state():
    found = {str(p.relative_to(PACKAGE)): h for p in sorted(PACKAGE.rglob("*.py"))
             if (h := _module_state(p))}
    assert found == {}
