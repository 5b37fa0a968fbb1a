"""Workload definitions and their seeded statement generators.

Every generator is a pure function of its seed: the same seed gives the
same statements in the same order. The program under test only ever
receives the generated statements.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# sql_small: registered DuckDB-dialect ORACLE texts that run through
# `Connection.sql` and match the oracle at the time the benchmark was
# defined, chosen per family so one pass takes about 20 s on 4 cores.
SQL_SMALL = (
    # TPC-H
    "tpch_q01", "tpch_q03", "tpch_q04", "tpch_q05", "tpch_q06", "tpch_q07",
    "tpch_q08", "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q18", "tpch_q21",
    # windows
    "win_ranking", "win_offsets", "win_qualify", "win_topk_per_group",
    "win_running_total", "win_ntile",
    # aggregates
    "agg_grouping_sets", "agg_rollup", "agg_cube", "agg_filter_distinct",
    "agg_stats", "agg_string_agg",
    # ClickBench
    "cb_q00", "cb_q03", "cb_q08", "cb_q12", "cb_q17", "cb_q22", "cb_q28",
    "cb_q33",
    # TPC-DS (build-heavy: translate and fallback dispatch dominate)
    "tpcds_q03", "tpcds_q07", "tpcds_q19", "tpcds_q25", "tpcds_q26",
    "tpcds_q42", "tpcds_q43", "tpcds_q52", "tpcds_q55", "tpcds_q96",
)

# Warm-up passes: other statements of the same families, so the JVM,
# Catalyst and the Python workers are warm but each measured statement
# still runs for the first time in the session. (A warm-up over the
# measured builders themselves made the measured headline pass vary more
# between seeds, 8.9-11.9 s against 12.2-14.9 s.)
SQL_SMALL_WARMUP = (
    "tpch_q09", "tpch_q14", "tpch_q16", "tpch_q22",
    "cb_q01", "cb_q05", "tpcds_q01", "tpcds_q15", "tpcds_q93",
)
HEADLINE_WARMUP = (
    "tpch_q02", "ev_sessionization", "dedup_minhash_sig", "text_token_stats",
    "sim_lsh_topk", "cb_q00",
)

# Texts of these families that fail or disagree with the oracle through
# `Connection.sql` on the sf0.01 fixture, with the error seen. They stay
# out of SQL_SMALL so failed statements start at zero.
SQL_SMALL_EXCLUDED = {
    "win_frames": "INVALID_PARAMETER_VALUE.DATETIME_UNIT: date_diff('day', ...) "
                  "reaches Spark with a quoted unit",
    "tpch_q17": "wrong result: NULL, oracle 3892392",
    "tpch_q19": "wrong result: 12584579.2, oracle 21469983.2",
    "tpcds_q10": "wrong result: 0 rows, oracle has rows",
    "tpcds_q12": "wrong result: 0 rows, oracle has rows",
    "tpcds_q20": "wrong result: 0 rows, oracle has rows",
    "tpcds_q41": "wrong result: 0 rows, oracle has 2",
    "tpcds_q98": "wrong result: 0 rows, oracle has rows",
    "win_lag_gap": "UNRESOLVED_ROUTINE: epoch_us",
    "agg_collect_list": "UNRESOLVED_ROUTINE: array_to_string",
    "agg_quantiles": "no result within 25 s (cancelled)",
    "agg_stats_wide": "no result within 120 s",
}

# headline_sf1: the 19 headline query builders of bench.py, frozen here
# so a change to bench.py does not silently change the workload.
HEADLINE = (
    "tpch_q01", "tpch_q03", "tpch_q05", "tpch_q06", "tpch_q08", "tpch_q09",
    "tpch_q13", "tpch_q18", "tpch_q21",
    "win_topk_per_group", "ev_timeseries", "ev_asof_join",
    "dedup_minhash_lsh", "text_quality", "sim_cosine_topk",
    "tpcds_q07", "tpcds_q25",
    "cb_q12", "cb_q32",
)


@dataclass(frozen=True)
class Statement:
    """One statement of a workload. `kind` says how it is run and checked:
    `query` (SQL text), `builder` (a QUERIES builder), `write` (DML whose
    effect is checked through the final tables), `copy` (COPY TO, checked
    by reading the files back) and `read` (a query on managed tables)."""

    op_id: str
    name: str
    kind: str
    text: str = ""
    table: str = ""


def shuffled(names, seed: int) -> list[str]:
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def sql_small_pass(seed: int, pass_no: int, oracle_texts: dict[str, str]) -> list[Statement]:
    """Pass 0 is the warm-up set, later passes the 42 measured texts."""
    names = SQL_SMALL_WARMUP if pass_no == 0 else SQL_SMALL
    return [Statement(f"p{pass_no}.{i}.{n}", n, "query", oracle_texts[n])
            for i, n in enumerate(shuffled(names, seed * 1000 + pass_no))]


def headline_pass(seed: int, pass_no: int) -> list[Statement]:
    """Pass 0 is the warm-up set, later passes the 19 headline builders."""
    names = HEADLINE_WARMUP if pass_no == 0 else HEADLINE
    return [Statement(f"p{pass_no}.{i}.{n}", n, "builder")
            for i, n in enumerate(shuffled(names, seed * 1000 + pass_no))]


LINEITEM_COLS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                 "l_extendedprice, l_discount, l_returnflag, l_shipdate")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def dml_pass(seed: int, pass_no: int, copy_root: str) -> list[Statement]:
    """One pass of the write stream on fresh managed tables: two CTAS,
    then INSERT batches, UPDATEs and DELETEs touching a few % of rows, a
    partitioned COPY and read-back aggregates, in seeded order with
    seeded keys. Every pass writes the same number of statements of each
    kind, so passes are comparable."""
    rnd = random.Random(seed * 1000 + pass_no)
    o, li = f"orders_p{pass_no}", f"lineitem_p{pass_no}"
    a, b, c, d, e, f = (rnd.randrange(m) for m in (4, 4, 50, 40, 50, 97))
    prio = rnd.choice(PRIORITIES)
    setup = [
        ("ctas_orders", "write", o,
         f"CREATE TABLE {o} AS SELECT * FROM orders WHERE o_orderkey % 10 < 8"),
        ("ctas_lineitem", "write", li,
         f"CREATE TABLE {li} AS SELECT {LINEITEM_COLS} FROM lineitem "
         f"WHERE l_orderkey % 10 < 8"),
    ]
    body = [
        ("insert_orders", "write", o,
         f"INSERT INTO {o} SELECT * FROM orders "
         f"WHERE o_orderkey % 10 = 8 AND o_custkey % 4 = {a}"),
        ("insert_lineitem", "write", li,
         f"INSERT INTO {li} SELECT {LINEITEM_COLS} FROM lineitem "
         f"WHERE l_orderkey % 10 = 9 AND l_partkey % 4 = {b}"),
        ("update_orders", "write", o,
         f"UPDATE {o} SET o_orderstatus = 'X', o_totalprice = o_totalprice + 100 "
         f"WHERE o_custkey % 50 = {c}"),
        ("update_lineitem", "write", li,
         f"UPDATE {li} SET l_quantity = l_quantity + 1 WHERE l_partkey % 40 = {d}"),
        ("delete_lineitem", "write", li, f"DELETE FROM {li} WHERE l_suppkey % 50 = {e}"),
        ("delete_orders", "write", o, f"DELETE FROM {o} WHERE o_orderkey % 97 = {f}"),
        ("copy_orders", "copy", o,
         f"COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM {o} "
         f"WHERE o_orderpriority = '{prio}') TO '{copy_root}/p{pass_no}' "
         f"(FORMAT PARQUET, PARTITION_BY (o_orderstatus))"),
        ("read_status", "read", o,
         f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
         f"FROM {o} GROUP BY o_orderstatus"),
        ("read_flags", "read", li,
         f"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty "
         f"FROM {li} GROUP BY l_returnflag"),
        ("read_join", "read", o,
         f"SELECT o_orderpriority, count(*) AS n FROM {o} JOIN {li} "
         f"ON o_orderkey = l_orderkey GROUP BY o_orderpriority"),
    ]
    rnd.shuffle(body)
    return [Statement(f"p{pass_no}.{i}.{name}", name, kind, text, table)
            for i, (name, kind, table, text) in enumerate(setup + body)]
