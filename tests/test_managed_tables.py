"""Writable managed tables through Connection.sql (duckdb_spark/managed.py;
reference physical_insert.cpp / physical_delete.cpp / physical_update.cpp).

INSERT must be a native executor-side file append (no driver rows);
UPDATE/DELETE are copy-on-write version rewrites — asserted behaviorally:
results stay correct across interleaved mutations and reads.
"""

from __future__ import annotations

import pytest

import duckdb_spark


@pytest.fixture(scope="module")
def con(spark):
    return duckdb_spark.Connection(spark)


def test_create_insert_select(con):
    con.sql("DROP TABLE IF EXISTS mt1")
    con.sql("CREATE TABLE mt1 (a INTEGER, b VARCHAR)")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 0
    r = con.sql("INSERT INTO mt1 VALUES (1, 'x'), (2, 'y'), (3, NULL)")
    assert r.df().collect()[0].Count == 3
    rows = con.sql("SELECT * FROM mt1 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(1, "x"), (2, "y"), (3, None)]


def test_insert_column_list_and_returning(con):
    r = con.sql(
        "INSERT INTO mt1 (b, a) VALUES ('w', 9) RETURNING a + 1 AS a1, b"
    ).df().collect()
    assert (r[0].a1, r[0].b) == (10, "w")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 4


def test_insert_from_select(con):
    con.sql("INSERT INTO mt1 SELECT a + 100, upper(b) FROM mt1 WHERE a <= 2")
    rows = con.sql(
        "SELECT a, b FROM mt1 WHERE a > 100 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(101, "X"), (102, "Y")]


def test_update_where(con):
    r = con.sql("UPDATE mt1 SET b = 'z' WHERE a = 2").df().collect()
    assert r[0].Count == 1
    assert con.sql(
        "SELECT b FROM mt1 WHERE a = 2").df().collect()[0].b == "z"
    # untouched rows survive the copy-on-write rewrite
    assert con.sql(
        "SELECT b FROM mt1 WHERE a = 1").df().collect()[0].b == "x"


def test_update_expression_multi_column(con):
    con.sql("UPDATE mt1 SET a = a * 2, b = b || '!' WHERE a > 100")
    rows = con.sql(
        "SELECT a, b FROM mt1 WHERE a > 150 ORDER BY a").df().collect()
    assert [(x.a, x.b) for x in rows] == [(202, "X!"), (204, "Y!")]


def test_delete_where_and_counts(con):
    before = con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n
    r = con.sql("DELETE FROM mt1 WHERE a > 150").df().collect()
    assert r[0].Count == 2
    after = con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n
    assert after == before - 2


def test_ctas_and_drop(con):
    con.sql("DROP TABLE IF EXISTS mt2")
    con.sql("CREATE TABLE mt2 AS SELECT a * 10 AS a10 FROM mt1 WHERE a <= 3")
    vals = sorted(
        x.a10 for x in con.sql("SELECT a10 FROM mt2").df().collect())
    assert vals == [10, 20, 30]
    con.sql("DROP TABLE mt2")
    con.sql("DROP TABLE IF EXISTS mt2")  # idempotent


def test_truncate(con):
    con.sql("TRUNCATE mt1")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 0
    # still writable after truncate
    con.sql("INSERT INTO mt1 VALUES (5, 'v')")
    assert con.sql("SELECT COUNT(*) AS n FROM mt1").df().collect()[0].n == 1
    con.sql("DROP TABLE mt1")


def test_create_duplicate_raises(con):
    con.sql("DROP TABLE IF EXISTS mt3")
    con.sql("CREATE TABLE mt3 (x INTEGER)")
    with pytest.raises(Exception, match="already exists"):
        con.sql("CREATE TABLE mt3 (x INTEGER)")
    con.sql("CREATE TABLE IF NOT EXISTS mt3 (x INTEGER)")  # no raise
    con.sql("DROP TABLE mt3")


def test_merge_into_sql(con):
    con.sql("DROP TABLE IF EXISTS mtgt")
    con.sql("DROP TABLE IF EXISTS msrc")
    con.sql("CREATE TABLE mtgt (k INTEGER, v VARCHAR)")
    con.sql("INSERT INTO mtgt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    con.sql("CREATE TABLE msrc AS SELECT * FROM "
            "(VALUES (2, 'B'), (3, 'C'), (4, 'D')) AS t(k, v)")
    r = con.sql(
        "MERGE INTO mtgt USING msrc s ON mtgt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)"
    ).df().collect()
    assert r[0].Count == 3  # 2 updates + 1 insert
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mtgt").df().collect())
    assert rows == [(1, "a"), (2, "B"), (3, "C"), (4, "D")]
    r2 = con.sql(
        "MERGE INTO mtgt USING msrc s ON mtgt.k = s.k "
        "WHEN MATCHED AND s.k = 2 THEN DELETE"
    ).df().collect()
    assert r2[0].Count == 1
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mtgt").df().collect())
    assert rows == [(1, "a"), (3, "C"), (4, "D")]
    con.sql("DROP TABLE mtgt")
    con.sql("DROP TABLE msrc")


def test_merge_multiple_matched_clauses(con):
    """First matching WHEN MATCHED clause wins per row; later clauses see
    only not-yet-consumed rows; counts don't double-count (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS mm_t")
    con.sql("DROP TABLE IF EXISTS mm_s")
    con.sql("CREATE TABLE mm_t (k INTEGER, v INTEGER)")
    con.sql("INSERT INTO mm_t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    con.sql("CREATE TABLE mm_s AS SELECT * FROM "
            "(VALUES (1), (2), (3), (5)) AS t(k)")
    r = con.sql(
        "MERGE INTO mm_t USING mm_s s ON mm_t.k = s.k "
        "WHEN MATCHED AND mm_t.v < 15 THEN DELETE "
        "WHEN MATCHED AND mm_t.v < 25 THEN UPDATE SET v = v + 1 "
        "WHEN MATCHED THEN UPDATE SET v = 0 "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, -1)"
    ).df().collect()
    # k=1 deleted, k=2 updated to 21, k=3 updated to 0, k=5 inserted
    assert r[0].Count == 4
    rows = sorted((x.k, x.v) for x in
                  con.sql("SELECT * FROM mm_t").df().collect())
    assert rows == [(2, 21), (3, 0), (4, 40), (5, -1)]
    con.sql("DROP TABLE mm_t")
    con.sql("DROP TABLE mm_s")


def test_insert_self_referential(con):
    """INSERT INTO t SELECT ... FROM t must count/return the pre-append
    source, not re-scan the table including the new files (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS sr_t")
    con.sql("CREATE TABLE sr_t (a INTEGER)")
    con.sql("INSERT INTO sr_t VALUES (1), (2), (3)")
    r = con.sql("INSERT INTO sr_t SELECT a + 10 FROM sr_t").df().collect()
    assert r[0].Count == 3  # not 6
    assert con.sql(
        "SELECT COUNT(*) AS n FROM sr_t").df().collect()[0].n == 6
    r2 = con.sql(
        "INSERT INTO sr_t SELECT a + 100 FROM sr_t WHERE a <= 2 "
        "RETURNING a").df().collect()
    assert sorted(x.a for x in r2) == [101, 102]
    con.sql("DROP TABLE sr_t")


def test_drop_if_exists_falls_through_to_views(con, spark):
    """DROP TABLE IF EXISTS on a non-managed temp view must still drop it
    (ADVICE r06: the managed layer used to swallow the statement)."""
    spark.range(3).createOrReplaceTempView("dv_view")
    con.sql("DROP TABLE IF EXISTS dv_view")
    assert not any(t.name == "dv_view"
                   for t in spark.catalog.listTables())
    # and a genuinely missing name stays a no-op
    con.sql("DROP TABLE IF EXISTS definitely_not_a_table_xyz")


def test_keywords_inside_string_literals(con):
    """WHERE/RETURNING inside string literals or subqueries must not split
    the statement (ADVICE r06)."""
    con.sql("DROP TABLE IF EXISTS kw_t")
    con.sql("CREATE TABLE kw_t (a INTEGER, note VARCHAR)")
    con.sql("INSERT INTO kw_t VALUES (1, 'x'), (2, 'y')")
    con.sql("UPDATE kw_t SET note = 'see where clause' WHERE a = 1")
    assert con.sql("SELECT note FROM kw_t WHERE a = 1").df() \
        .collect()[0].note == "see where clause"
    con.sql("UPDATE kw_t SET a = (SELECT max(a) FROM kw_t WHERE a < 10) + 5 "
            "WHERE a = 2")
    assert con.sql("SELECT a FROM kw_t WHERE note = 'y'").df() \
        .collect()[0].a == 7
    r = con.sql("DELETE FROM kw_t WHERE note = 'see where clause' "
                "RETURNING a").df().collect()
    assert [x.a for x in r] == [1]
    con.sql("DROP TABLE kw_t")


def test_connection_makes_its_table_directory_on_first_use(spark):
    """A connection that creates no table leaves no directory behind; the
    first table makes one, and `base` names it."""
    import glob
    import os
    import tempfile

    def dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "duckdb_spark_tables_*")))

    before = dirs()
    c = duckdb_spark.Connection(spark)
    assert c.sql("SELECT 1 AS x").fetchall()[0].x == 1
    assert dirs() == before
    c.sql("CREATE OR REPLACE TABLE mt_lazy_dir AS SELECT 1 AS a")
    try:
        assert dirs() - before == {c.managed.base}
    finally:
        c.sql("DROP TABLE mt_lazy_dir")
