import datetime
import decimal

import oracle

ROWS = [("A", 1, 2.5), ("B", 2, None), ("C", 3, 0.1 + 0.2)]


def test_equal_results_in_any_order_and_numeric_type():
    spark_side = [("C", 3.0, decimal.Decimal("0.3")), ("A", 1, 2.5), ("B", 2, None)]
    assert oracle.diff(oracle.normalize(spark_side), oracle.normalize(ROWS)) is None


def test_planted_wrong_row_is_a_failure():
    want = oracle.normalize(ROWS)
    wrong = [("A", 1, 2.5), ("B", 2, None), ("C", 4, 0.3)]
    assert oracle.diff(oracle.normalize(wrong), want) is not None
    missing = ROWS[:2]
    assert "rows" in oracle.diff(oracle.normalize(missing), want)


def test_failed_frac_flips_on_a_planted_wrong_row(tmp_path):
    """The compare the benchmark runs: one statement's result against the
    oracle's answer from a real DuckDB connection over a parquet table."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"COPY (SELECT i AS k, i * 1.5 AS v FROM range(20) t(i)) "
                f"TO '{tmp_path}/t.parquet' (FORMAT PARQUET)")
    sql = f"SELECT k % 3 AS g, sum(v) AS s FROM read_parquet('{tmp_path}/t.parquet') GROUP BY g"
    want = oracle.normalize(con.execute(sql).fetchall())
    good = con.execute(sql).fetchall()
    bad = [(g, s + (1 if g == 0 else 0)) for g, s in good]

    def failed_frac(results):
        failures = [r for r in results if oracle.diff(oracle.normalize(r), want)]
        return len(failures) / len(results)

    assert failed_frac([good, good]) == 0
    assert failed_frac([good, bad]) == 0.5


def test_cells_render_like_the_contract_check():
    assert oracle.cell(None) == oracle.cell(float("nan")) == "<NULL>"
    assert oracle.cell(datetime.datetime(2020, 1, 2)) == "2020-01-02"
    assert oracle.cell(1) == oracle.cell(1.0) == oracle.cell(decimal.Decimal("1.00"))
    assert oracle.cell(True) == "True"
    assert oracle.cell(-0.0) == "0"
