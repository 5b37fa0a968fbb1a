"""Pins for every statement step and error fallback of `Connection.sql`
(duckdb_spark/statements.py) and every pass of `dialect.translate`
(`dialect.PASSES`).

Each case runs one DuckDB-dialect statement through a Connection, reads
`Connection.last_trace` to check that the named step, fallback or pass
fired, and compares the result with pip duckdb on the same text. An
error case checks that both engines raise with the same phrase. A case
with `expect` pins a behaviour of later DuckDB releases that pip duckdb
1.0.0 does not have (it raises, or concatenates two lists as text): our
rows must equal `expect`, and its setup runs on our side only.

Placeholders: `{sf}` is the fixture directory, `{data}` a directory both
engines read, `{tmp}` a directory each engine writes on its own.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from datetime import datetime
from decimal import Decimal

import duckdb
import pytest

from duckdb_spark.relation import Connection
from tests.conftest import SF_DIR, assert_matches_oracle, normalize, spark_jobs

V = "CREATE OR REPLACE TEMP VIEW "


@dataclass(frozen=True)
class Case:
    fired: str | None  # None: no step or fallback fires, Spark answers
    sql: str
    setup: tuple = ()
    check: str | None = None  # compared instead of the statement's own result
    error: str | None = None  # phrase both engines' errors carry
    expect: list | None = None  # our rows, where pip duckdb 1.0.0 differs
    own_session: bool = False  # runs on a new session: it changes a setting


# a twice-referenced aggregate: marked, it is computed once
MATERIALIZED_AGG = (
    "WITH agg AS {hint} (SELECT n_regionkey, count(*) AS c FROM nation "
    "GROUP BY n_regionkey) SELECT a.n_regionkey, a.c + b.c AS c2 "
    "FROM agg a JOIN agg b ON a.n_regionkey = b.n_regionkey")


def _lateral(outer, anchor, where, tail="SELECT x FROM t",
             union="UNION ALL", sel="i, x"):
    """A recursion correlated on the outer row `o(i)`."""
    return (f"SELECT {sel} FROM {outer} o(i), LATERAL (WITH RECURSIVE t(x) "
            f"AS (SELECT {anchor} {union} SELECT x + 1 FROM t WHERE {where}) "
            f"{tail}) r")


STEP_CASES = {
    "prepared_statement": Case(
        "prepared_statement", "EXECUTE pin_p(41)",
        setup=("PREPARE pin_p AS SELECT $1 + 1 AS x",)),
    "macro_ddl": Case(
        "macro_ddl", "CREATE MACRO pin_add(a, b) AS a + b",
        check="SELECT pin_add(1, 2) AS s"),
    "duckdb_setting": Case(
        "duckdb_setting", "SET default_null_order = 'nulls_first'",
        check="SELECT x, row_number() OVER (ORDER BY x) AS r "
              "FROM (VALUES (1), (NULL), (2)) t(x)",
        own_session=True),
    "macro_expand": Case(
        "macro_expand", "SELECT pin_mul(2, 3) AS s",
        setup=("CREATE MACRO pin_mul(a, b) AS a * b",)),
    "managed_table": Case(
        "managed_table", "CREATE TABLE pin_t AS SELECT 1 AS a, 'x' AS b",
        check="SELECT * FROM pin_t"),
    "recursive_view": Case(
        "recursive_view",
        "CREATE RECURSIVE VIEW pin_rv(n) AS SELECT 1 UNION ALL "
        "SELECT n + 1 FROM pin_rv WHERE n < 5",
        check="SELECT * FROM pin_rv"),
    "copy_to": Case(
        "copy_to",
        "COPY (SELECT 1 AS a, 'x' AS b) TO '{tmp}/pin_copy.parquet' "
        "(FORMAT PARQUET)",
        check="SELECT * FROM read_parquet('{tmp}/pin_copy.parquet')"),
    "copy_from": Case(
        "copy_from", "COPY pin_cf FROM '{data}/pin_in.csv' (HEADER)",
        setup=("CREATE TABLE pin_cf (a INTEGER, b VARCHAR)",),
        check="SELECT * FROM pin_cf"),
    "describe_cte": Case(
        "describe_cte",
        "WITH c AS (SELECT * FROM region) FROM (DESCRIBE TABLE c)"),
    "describe_in_from": Case(
        "describe_in_from",
        "SELECT column_name, column_type FROM "
        "(DESCRIBE SELECT 42 AS j, 'x' AS k)"),
    "describe": Case("describe", "DESCRIBE nation"),
    # every column of a described query is nullable, as in DuckDB
    "describe-query": Case("describe", "DESCRIBE SELECT 1 AS a"),
    "describe-query_over_view": Case(
        "describe", "DESCRIBE SELECT * FROM pin_dv",
        setup=(V + "pin_dv AS SELECT 1 AS a, 'x' AS b",)),
    "limit_percent_nested": Case(
        "limit_percent_nested",
        "SELECT count(*) AS n FROM (SELECT * FROM nation LIMIT 20%)"),
    "limit_percent": Case(
        "limit_percent",
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10%"),
    "create_schema": Case(
        "create_schema", "CREATE SCHEMA pin_dup",
        setup=("CREATE SCHEMA pin_dup",), error="already exists"),
    "drop_schema": Case(
        "drop_schema", "DROP SCHEMA pin_ds CASCADE",
        setup=("CREATE SCHEMA pin_ds", "CREATE VIEW pin_ds.v AS SELECT 1 AS a"),
        check="CREATE SCHEMA pin_ds"),
    "strip_unused_ctes": Case(
        "strip_unused_ctes",
        "WITH unused AS (SELECT 1 AS x), used AS (SELECT 2 AS y) "
        "SELECT * FROM used"),
    "materialized_ctes": Case(
        "materialized_ctes", MATERIALIZED_AGG.format(hint="MATERIALIZED")),
    # a marked second entry whose body has its own WITH list
    "materialized_ctes-nested_with": Case(
        "materialized_ctes",
        "WITH a AS (SELECT n_regionkey AS x FROM nation), b AS MATERIALIZED "
        "(WITH c AS (SELECT x FROM a) SELECT x, count(*) AS n FROM c "
        "GROUP BY x) SELECT * FROM b"),
    "no_step-not_materialized": Case(
        None, MATERIALIZED_AGG.format(hint="NOT MATERIALIZED")),
    # an unreferenced MATERIALIZED entry is stripped before it could run
    "strip_unused_ctes-materialized": Case(
        "strip_unused_ctes",
        "WITH unused AS MATERIALIZED (SELECT count(*) AS c FROM nation), "
        "used AS (SELECT 2 AS y) SELECT * FROM used"),
    "string_tables": Case(
        "string_tables", "SELECT count(*) AS n FROM '{sf}/nation.parquet'"),
    "sql_table_functions": Case(
        "sql_table_functions",
        "SELECT count(*) AS n FROM read_parquet('{sf}/nation.parquet')"),
    "sql_table_functions-filename": Case(
        "sql_table_functions",
        "SELECT * FROM read_parquet('{sf}/region.parquet', filename=true)"),
    "sql_table_functions-file_row_number": Case(
        "sql_table_functions",
        "SELECT * FROM read_parquet('{sf}/region.parquet', "
        "file_row_number=true)"),
    # the reader's own error surfaces, not an unresolved table function
    "sql_table_functions-missing_file": Case(
        "sql_table_functions",
        "SELECT * FROM read_parquet('{data}/pin_no_such.parquet')",
        error="pin_no_such.parquet"),
    "columns_star": Case(
        "columns_star", "SELECT COLUMNS('r_.*key') FROM region"),
    "using_star_order": Case(
        "using_star_order",
        "SELECT * FROM (VALUES (1, 'a')) l(x, k) "
        "JOIN (VALUES ('b', 1)) r(y, x) USING (x)"),
    "struct_unnest": Case(
        "struct_unnest",
        "SELECT UNNEST(s) FROM (SELECT struct_pack(a := 1, b := 'x') AS s)"),
    "positional_ref": Case(
        "positional_ref", "SELECT #2 FROM (VALUES (1, 'a')) t(x, y)"),
    # a `#N` inside a string literal is not a reference
    "positional_ref-literal": Case(
        "positional_ref",
        "SELECT #2 FROM (VALUES (1, 'a#1')) t(x, y) WHERE y = 'a#1'"),
    "lateral_recursive": Case(
        "lateral_recursive",
        "SELECT i, n FROM (VALUES (2), (3)) t(i), LATERAL (WITH RECURSIVE "
        "r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < i) "
        "SELECT n FROM r)"),
    # the recursion runs once for all outer rows; `o.i` resolves as written
    "lateral_recursive-qualified": Case(
        "lateral_recursive", _lateral(
            "range(3)", "o.i", "x < o.i + 3", sel="o.i, r.x")
        + " ORDER BY 1, 2"),
    # no cap on the outer row count
    "lateral_recursive-1001_outer_rows": Case(
        "lateral_recursive", _lateral("range(1001)", "i", "x < i + 3")),
    # UNION dedupes per outer row: two equal outer rows keep 3 rows each
    "lateral_recursive-duplicate_outer_rows": Case(
        "lateral_recursive",
        _lateral("(VALUES (1), (1))", "i", "x < i + 2", union="UNION")),
    "lateral_recursive-null_outer_value": Case(
        "lateral_recursive", _lateral(
            "(VALUES (1), (NULL))", "coalesce(i, 10)",
            "x < coalesce(i, 10) + 2", union="UNION")),
    # `*` over outer plus lateral leaves the row id out
    "lateral_recursive-star": Case(
        "lateral_recursive",
        _lateral("(VALUES (1), (2))", "i", "x < 3", sel="*")),
    "lateral_recursive-order_limit_tail": Case(
        "lateral_recursive", _lateral(
            "range(3)", "i", "x < i + 3",
            tail="SELECT x FROM t ORDER BY x DESC LIMIT 2")),
    # the anchor of outer row 0 yields nothing: its count is 0
    "lateral_recursive-count_tail": Case(
        "lateral_recursive", _lateral(
            "range(3)", "i WHERE i > 0", "x < 4", sel="i, n",
            tail="SELECT count(*) AS n FROM t")),
    # a bare name binds to the CTE column before the outer one
    "lateral_recursive-cte_column_shadows_outer": Case(
        "lateral_recursive",
        "SELECT o.i AS oi, r.i FROM range(3) o(i), LATERAL (WITH RECURSIVE "
        "t(i) AS (SELECT o.i UNION ALL SELECT i + 1 FROM t "
        "WHERE i < o.i + 2) SELECT i FROM t) r"),
    "recursive_cte": Case(
        "recursive_cte",
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r "
        "WHERE n < 5) SELECT * FROM r"),
    "limit_expr": Case(
        "limit_expr",
        "SELECT n_nationkey FROM nation ORDER BY 1 LIMIT (SELECT 3)"),
    "offset_expr": Case(
        "offset_expr",
        "SELECT n_nationkey FROM nation ORDER BY 1 OFFSET (SELECT 22)"),
    "union_by_name": Case(
        "union_by_name",
        "SELECT 1 AS a, 2 AS b UNION ALL BY NAME SELECT 3 AS b, 4 AS a"),
}

FALLBACK_CASES = {
    "struct_subscript": Case(
        "struct_subscript", "SELECT s['b'] AS v FROM pin_ss",
        setup=(V + "pin_ss AS SELECT struct_pack(a := 1, b := 'x') AS s",)),
    "runtime_text_cast": Case(
        "runtime_text_cast", "SELECT CAST(v AS INTEGER[]) AS l FROM pin_tc",
        setup=(V + "pin_tc AS SELECT * FROM (VALUES ('[1, 2]'), ('[3]')) t(v)",)),
    # Spark's native recursion refuses the recursive reference on the
    # nullable side of an outer join
    "recursive_loop": Case(
        "recursive_loop",
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL SELECT r.n + 1 "
        "FROM region LEFT JOIN r ON r_regionkey = r.n WHERE r.n < 5) "
        "SELECT * FROM r"),
    "decorrelate": Case(
        "decorrelate",
        "SELECT n_nationkey FROM nation WHERE n_regionkey = (SELECT "
        "min(r_regionkey) FROM region WHERE r_regionkey >= (SELECT "
        "min(n2.n_regionkey) FROM nation n2 WHERE n2.n_nationkey = "
        "nation.n_nationkey))"),
    "subquery_select_alias": Case(
        "subquery_select_alias",
        "SELECT n_regionkey AS rk, (SELECT r_name FROM region "
        "WHERE r_regionkey = rk) AS rn FROM nation GROUP BY n_regionkey"),
    "setop_order_ordinal": Case(
        "setop_order_ordinal",
        "SELECT n_nationkey AS a FROM nation UNION ALL SELECT r_regionkey "
        "AS b FROM region ORDER BY b LIMIT 3"),
    "string_index": Case(
        "string_index", "SELECT b[1][1] AS c FROM pin_si",
        setup=(V + "pin_si AS SELECT * FROM (VALUES (['hello', 'x'])) t(b)",)),
    "variant_shape": Case(
        "variant_shape", "SELECT 1::VARIANT = 1 AS e", expect=[(True,)]),
    "null_interval_setop": Case(
        "null_interval_setop",
        "SELECT INTERVAL 1 DAY AS i UNION ALL SELECT NULL::INTERVAL"),
    "time_interval_arith": Case(
        "time_interval_arith",
        "SELECT (t + INTERVAL 1 HOUR) = TIME '00:30:00' AS ok FROM pin_ti",
        setup=(V + "pin_ti AS SELECT * FROM (VALUES (TIME '23:30:00')) v(t)",)),
    "join_lateral_keyword": Case(
        "join_lateral_keyword",
        "SELECT * FROM (VALUES (1)) t(a) NATURAL JOIN LATERAL "
        "(SELECT 1 AS a, 2 AS b)"),
    "window_alias": Case(
        "window_alias",
        "SELECT n_regionkey AS rk, row_number() OVER (PARTITION BY rk "
        "ORDER BY n_nationkey) AS rn FROM nation"),
    "boolean_filter": Case(
        "boolean_filter", "SELECT a FROM pin_nf WHERE a",
        setup=(V + "pin_nf AS SELECT * FROM (VALUES (1.5), (0.0), (NULL)) t(a)",)),
    "boolean_filter-join": Case(
        "boolean_filter",
        "SELECT * FROM (VALUES (1)) a(x) JOIN (VALUES (2)) b(y) ON x"),
    "boolean_filter-having": Case(
        "boolean_filter",
        "SELECT k, count(*) AS c FROM pin_nh WHERE k GROUP BY k HAVING count(*) - 1",
        setup=(V + "pin_nh AS SELECT * FROM (VALUES (1, 1.5), (1, 0.0), (2, 0.0), "
               "(3, NULL)) t(k, x)",)),
    # a numeric HAVING alone: Spark coerces it, no fallback runs
    "no_fallback-having": Case(
        None, "SELECT k FROM pin_nh GROUP BY k HAVING sum(x)",
        setup=(V + "pin_nh AS SELECT * FROM (VALUES (1, 1.5), (1, 0.0), (2, 0.0), "
               "(3, NULL)) t(k, x)",)),
    "window_over_rollup": Case(
        "window_over_rollup",
        "SELECT n_regionkey, sum(n_regionkey) OVER () AS w FROM nation "
        "GROUP BY ROLLUP (n_regionkey)"),
    # duckdb 1.0.0 concat() of two lists is string concatenation
    "concat_struct_order": Case(
        "concat_struct_order", "SELECT concat(x, y) AS l FROM pin_cs",
        setup=(V + "pin_cs AS SELECT [struct_pack(a := 1, b := 2)] AS x, "
               "[struct_pack(b := 3, a := 4)] AS y",),
        expect=[([{"a": 1, "b": 2}, {"a": 4, "b": 3}],)]),
    "positional_struct_subscript": Case(
        "positional_struct_subscript", "SELECT s[2] AS v FROM pin_ps",
        setup=(V + "pin_ps AS SELECT row(1, 'a') AS s",)),
    "numeric_if": Case(
        "numeric_if", "SELECT if(a, 'y', 'n') AS r FROM pin_if",
        setup=(V + "pin_if AS SELECT * FROM (VALUES (2), (0)) t(a)",)),
    "alias_in_aggregate": Case(
        "alias_in_aggregate",
        "SELECT n_regionkey % 2 AS k, sum(k) AS s FROM nation GROUP BY k",
        expect=[(0, 0), (1, 10)]),
    "sum_boolean": Case(
        "sum_boolean", "SELECT sum(b) AS s FROM pin_sb",
        setup=(V + "pin_sb AS SELECT * FROM (VALUES (true), (false), (true)) t(b)",),
        expect=[(2,)]),
    "avg_temporal": Case(
        "avg_temporal", "SELECT CAST(avg(d) AS VARCHAR) AS a FROM pin_ad",
        setup=(V + "pin_ad AS SELECT * FROM (VALUES (DATE '2020-01-01'), "
               "(DATE '2020-01-04')) t(d)",),
        expect=[("2020-01-02 12:00:00",)]),
    # the INTERVAL emulation of managed tables: a months/days/micros struct
    "interval_avg_sum": Case(
        "interval_avg_sum", "SELECT avg(i) AS a FROM pin_iv",
        setup=(V + "pin_iv AS SELECT * FROM (VALUES "
               "(struct_pack(months := 0, days := 1, micros := 0::BIGINT)), "
               "(struct_pack(months := 0, days := 30, micros := 0::BIGINT))) t(i)",),
        expect=[({"months": 0, "days": 15, "micros": 43_200_000_000},)]),
    "bit_aggregate": Case(
        "bit_aggregate", "SELECT bit_and(b) AS r FROM pin_ba",
        setup=(V + "pin_ba AS SELECT * FROM (VALUES ('101'::BIT), ('110'::BIT)) t(b)",)),
    "bit_count": Case(
        "bit_count", "SELECT bit_count(b) AS r FROM pin_bc",
        setup=(V + "pin_bc AS SELECT * FROM (VALUES ('1011'::BIT)) t(b)",)),
    # duckdb 1.0.0 has no lttb aggregate
    "lttb_timestamp": Case(
        "lttb_timestamp",
        "SELECT lttb(ts, v, 3 ORDER BY ts) AS l FROM pin_lt",
        setup=(V + "pin_lt AS SELECT * FROM (VALUES "
               "(TIMESTAMP '2020-01-01 00:00:00', 1.0), "
               "(TIMESTAMP '2020-01-01 00:01:00', 5.0), "
               "(TIMESTAMP '2020-01-01 00:02:00', 2.0), "
               "(TIMESTAMP '2020-01-01 00:03:00', 3.0)) t(ts, v)",),
        expect=[([{"x": datetime(2020, 1, 1, 0, m), "y": Decimal(y)}
                  for m, y in ((0, "1.0"), (1, "5.0"), (3, "3.0"))],)]),
    "list_length": Case(
        "list_length", "SELECT len(l) AS n FROM pin_ll",
        setup=(V + "pin_ll AS SELECT * FROM (VALUES ([1, 2, 3])) t(l)",)),
    "median_orderable": Case(
        "median_orderable", "SELECT median(d) AS m FROM pin_md",
        setup=(V + "pin_md AS SELECT * FROM (VALUES (DATE '2020-01-01'), "
               "(DATE '2020-01-05')) t(d)",)),
    "median_orderable-list": Case(
        "median_orderable", "SELECT CAST(median(l) AS VARCHAR) AS m FROM pin_ml",
        setup=(V + "pin_ml AS SELECT * FROM (VALUES ([1, 2]), ([3]), ([0, 9])) t(l)",)),
    # duckdb 1.0.0: range() takes no lateral column parameters
    "range_lateral": Case(
        "range_lateral",
        "SELECT n, r.range FROM (VALUES (2), (3)) t(n) "
        "CROSS JOIN LATERAL range(n) r",
        expect=[(2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]),
    "derived_alias_padding": Case(
        "derived_alias_padding",
        "SELECT * FROM (SELECT * FROM region) t(a) ORDER BY 1 LIMIT 2"),
    "setop_string_literal": Case(
        "setop_string_literal", "SELECT [1, 2] AS l UNION ALL SELECT '[3]'"),
    "select_alias": Case(
        "select_alias",
        "SELECT n_nationkey AS k, n_regionkey AS r FROM nation "
        "WHERE k < 8 AND r = 0"),
    "setop_order_refs": Case(
        "setop_order_refs",
        "SELECT n_nationkey * 2 AS d FROM nation UNION ALL SELECT r_regionkey * 2 "
        "FROM region ORDER BY n_nationkey * 2 LIMIT 3"),
    # a comma-joined subquery naming an earlier FROM item: Spark binds it
    # laterally itself
    "no_fallback-comma_lateral": Case(
        None,
        "SELECT i, j FROM (VALUES (1), (2)) t(i), (SELECT i + 1 AS j) s ORDER BY i"),
    "bare_table_in_order": Case(
        "bare_table_in_order", "SELECT x FROM pin_bt ORDER BY pin_bt",
        setup=(V + "pin_bt AS SELECT * FROM (VALUES (2), (1)) t(x)",)),
    "natural_join_runtime_cast": Case(
        "natural_join_runtime_cast",
        "SELECT count(*) AS n FROM pin_nja NATURAL JOIN pin_njb",
        setup=(V + "pin_nja AS SELECT 1 AS k WHERE false",
               V + "pin_njb AS SELECT DATE '2020-01-01' AS k WHERE false")),
    "incomparable_types": Case(
        "incomparable_types", "SELECT i = DATE '2020-01-01' AS e FROM pin_ic",
        setup=(V + "pin_ic AS SELECT * FROM (VALUES (1)) t(i)",),
        error="Unimplemented type for cast"),
}

# one case per `dialect.PASSES` entry: its trace shows `(name, "translated")`
# or, for a check, `(name, "raised")`
PASS_CASES = {
    "materialized_hint": Case(
        "materialized_hint", MATERIALIZED_AGG.format(hint="NOT MATERIALIZED")),
    "timetz_spelling": Case(
        "timetz_spelling",
        "SELECT CAST('12:00:00+01' AS TIME WITH TIME ZONE) = "
        "CAST('11:00:00+00' AS TIMETZ) AS e"),
    # duckdb 1.0.0 has no TIME_NS
    "time_ns": Case(
        "time_ns", "SELECT CAST('12:34:56.123' AS TIME_NS) AS t",
        expect=[("12:34:56.123",)]),
    "limit_null": Case(
        "limit_null", "SELECT count(*) AS n FROM (SELECT * FROM nation LIMIT NULL)"),
    "clamp_limits": Case(
        "clamp_limits",
        "SELECT count(*) AS n FROM (SELECT * FROM nation LIMIT 9999999999)"),
    "clamp_limits-past_int64": Case(
        "clamp_limits",
        "SELECT * FROM nation LIMIT 99999999999999999999",
        error="out of range"),
    # duckdb 1.0.0 answers NULL: IEEE float division came later
    "float_div_zero": Case(
        "float_div_zero", "SELECT 1.0 / 0 AS x", expect=[(float("inf"),)]),
    "digit_separators": Case(
        "digit_separators", "SELECT 1_000_000 AS n"),
    # duckdb 1.0.0 has no Python-style lambda
    "python_lambda": Case(
        "python_lambda", "SELECT list_transform(l, lambda x: x + 1) AS l "
        "FROM (SELECT [1, 2] AS l)", expect=[([2, 3],)]),
    # duckdb 1.0.0 has no prefix aliases
    "prefix_colon_aliases": Case(
        "prefix_colon_aliases", "SELECT j: 42", expect=[(42,)]),
    "sample_percent": Case(
        "sample_percent", "SELECT count(*) AS n FROM nation USING SAMPLE 100%"),
    "sample_rows": Case(
        "sample_rows", "SELECT count(*) AS n FROM nation USING SAMPLE 5"),
    "generate_subscripts": Case(
        "generate_subscripts",
        "SELECT generate_subscripts(l, 1) AS i FROM (SELECT [4, 5, 6] AS l)"),
    "offset_before_limit": Case(
        "offset_before_limit",
        "SELECT n_nationkey FROM nation ORDER BY 1 OFFSET 2 LIMIT 3"),
    "from_first": Case("from_first", "FROM region"),
    "from_first_subquery": Case(
        "from_first_subquery", "SELECT count(*) AS n FROM (FROM nation)"),
    "mixed_interval_literals": Case(
        "mixed_interval_literals",
        "SELECT mode(i) = INTERVAL '1 month 2 days' AS e FROM (VALUES "
        "(INTERVAL '1 month 2 days'), (INTERVAL '1 month 2 days')) t(i)"),
    "nested_union_by_name": Case(
        "nested_union_by_name",
        "SELECT * FROM (SELECT 1 AS a, 2 AS b UNION ALL BY NAME "
        "SELECT 3 AS b, 4 AS a) t"),
    "time_literals": Case("time_literals", "SELECT TIME '12:34:56' AS t"),
    "time_columns": Case(
        "time_columns", "SELECT count(*) AS n FROM pin_tm WHERE t < TIME '02:00:00'",
        setup=("CREATE TABLE pin_tm (t TIME)",
               "INSERT INTO pin_tm VALUES (TIME '01:02:03'), (TIME '03:00:00')")),
    "enum_columns": Case(
        "enum_columns", "SELECT m FROM pin_en",
        setup=("CREATE TYPE pin_mood AS ENUM ('sad', 'ok', 'happy')",
               "CREATE TABLE pin_en (m pin_mood)",
               "INSERT INTO pin_en VALUES ('ok'), ('happy')")),
    # duckdb 1.0.0: UNNEST is not allowed under GROUP BY
    "unnest_group_by": Case(
        "unnest_group_by",
        "SELECT unnest(l) AS u, count(*) AS c FROM pin_ug GROUP BY u",
        setup=(V + "pin_ug AS SELECT * FROM (VALUES ([1, 2]), ([2, 3])) t(l)",),
        expect=[(1, 1), (2, 2), (3, 1)]),
    "table_statement": Case("table_statement", "TABLE region"),
    "bit_literals": Case(
        "bit_literals", "SELECT CAST(BIT '0101' AS VARCHAR) AS b"),
    "infinite_typed_literals": Case(
        "infinite_typed_literals", "SELECT CAST(DATE 'infinity' AS VARCHAR) AS d"),
    # a fresh Connection registers the type-text UDF itself
    "calls-typeof_fresh_connection": Case(
        "calls", "SELECT typeof(1::INTEGER) AS t", own_session=True),
    # duckdb 1.0.0 cannot pack an empty struct
    "typeof_empty_struct": Case(
        "typeof_empty_struct", "SELECT typeof(struct_pack()) AS t",
        expect=[("STRUCT",)]),
    "empty_struct_compare": Case(
        "empty_struct_compare", "SELECT struct_pack() = row() AS e",
        expect=[(True,)]),
    "empty_struct_pack": Case(
        "empty_struct_pack", "SELECT struct_pack() IS NOT NULL AS e",
        expect=[(True,)]),
    "empty_row_struct": Case(
        "empty_row_struct", "SELECT row()::STRUCT IS NOT NULL AS e",
        expect=[(True,)]),
    "timestamptz_literals": Case(
        "timestamptz_literals",
        "SELECT epoch(TIMESTAMPTZ '2020-01-01 00:00:00+00') AS e"),
    "timestamp_literals": Case(
        "timestamp_literals", "SELECT TIMESTAMP '2020-01-01 10:00:00' AS t"),
    "precision_timestamp_literals": Case(
        "precision_timestamp_literals",
        "SELECT CAST(TIMESTAMP_MS '2020-01-01 10:00:00.123456' AS VARCHAR) AS t"),
    "precision_timestamp_casts": Case(
        "precision_timestamp_casts",
        "SELECT CAST('2020-01-01 10:00:00.123456'::TIMESTAMP_MS AS VARCHAR) AS t"),
    "star_alias_series": Case(
        "star_alias_series", "SELECT * AS x FROM range(3)"),
    "by_star": Case(
        "by_star", "SELECT n_regionkey FROM nation GROUP BY * ORDER BY *"),
    "named_windows": Case(
        "named_windows",
        "SELECT n_nationkey, row_number() OVER w AS r FROM nation "
        "WINDOW w AS (ORDER BY n_nationkey)"),
    "window_alias_refs": Case(
        "window_alias_refs", FALLBACK_CASES["window_alias"].sql),
    "filter_alias_refs": Case(
        "filter_alias_refs", FALLBACK_CASES["select_alias"].sql),
    "in_fromless_select": Case(
        "in_fromless_select",
        "SELECT n_nationkey FROM nation WHERE n_regionkey IN (SELECT 1)"),
    # duckdb 1.0.0 has no multi-column IN
    "row_in_subquery": Case(
        "row_in_subquery",
        "SELECT n_nationkey FROM nation WHERE row(n_regionkey, n_nationkey) "
        "IN (SELECT r_regionkey, r_regionkey FROM region)",
        expect=[(0,), (1,), (2,), (3,), (4,)]),
    "select_in_subquery": Case(
        "select_in_subquery",
        "SELECT n_nationkey, n_regionkey IN (SELECT r_regionkey FROM region "
        "WHERE r_regionkey < 2) AS f FROM nation"),
    "any_all": Case(
        "any_all",
        "SELECT n_nationkey FROM nation WHERE n_regionkey = ANY "
        "(SELECT r_regionkey FROM region WHERE r_regionkey < 2)"),
    "empty_group_keys": Case(
        "empty_group_keys",
        "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY (), n_regionkey"),
    "empty_group_by": Case(
        "empty_group_by", "SELECT count(*) AS c FROM nation GROUP BY ()"),
    "grouping_qualified_args": Case(
        "grouping_qualified_args",
        "SELECT n.n_regionkey, GROUPING(n.n_regionkey) AS g FROM nation n "
        "GROUP BY ROLLUP (n.n_regionkey)"),
    "duplicate_from_aliases": Case(
        "duplicate_from_aliases", "SELECT * FROM nation a, region a",
        error="uplicate alias"),
    "quoted_identifiers": Case(
        "quoted_identifiers", 'SELECT "n_name" FROM nation'),
    "by_positional_refs": Case(
        "by_positional_refs",
        "SELECT n_nationkey AS a FROM nation UNION ALL SELECT r_regionkey "
        "FROM region ORDER BY #1 LIMIT 3"),
    "schema_refs": Case(
        "schema_refs", "SELECT a FROM pin_sr.v",
        setup=("CREATE SCHEMA pin_sr", "CREATE VIEW pin_sr.v AS SELECT 1 AS a")),
    "leadlag_named_args": Case(
        "leadlag_named_args",
        "SELECT n_nationkey, lag(n_nationkey, \"offset\" := 2) OVER "
        "(ORDER BY n_nationkey) AS l FROM nation"),
    "tuple_literals": Case(
        "tuple_literals", "SELECT CAST((1, 'a') AS VARCHAR) AS t"),
    "lateral_fromless_derived": Case(
        "lateral_fromless_derived",
        "SELECT i, j FROM (VALUES (1), (2)) t(i), (SELECT [i + 1] AS j) s"),
    "name_anonymous_derived": Case(
        "name_anonymous_derived",
        "SELECT unnamed_subquery.a FROM (SELECT 1 AS a)"),
    "grouping_set_limits": Case(
        "grouping_set_limits",
        "SELECT count(*) FROM nation GROUP BY CUBE (" +
        ", ".join(["n_regionkey"] * 17) + ")",
        error="grouping set count of 65535 exceeded"),
    "expand_dup_grouping": Case(
        "expand_dup_grouping",
        "SELECT n_regionkey, grouping(n_regionkey) AS g, count(*) AS c "
        "FROM nation GROUP BY CUBE (n_regionkey, n_regionkey)"),
    "grouping_in_order_by": Case(
        "grouping_in_order_by",
        "SELECT count(*) AS c FROM nation GROUP BY ROLLUP (n_regionkey) "
        "ORDER BY grouping(n_regionkey), c"),
    "group_by_all_having": Case(
        "group_by_all_having",
        "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY ALL "
        "HAVING n_nationkey > 20"),
    # c becomes a grouping key; b, only inside an aggregate, does not
    "group_by_all_having-aggregate_only": Case(
        "group_by_all_having",
        "SELECT a, count(*) AS n FROM (VALUES (1, 1, 0), (1, 5, 0), "
        "(2, 2, 1), (2, 9, 1)) t(a, b, c) GROUP BY ALL "
        "HAVING max(b) > 3 AND c >= 0"),
    "plain_grouping": Case(
        "plain_grouping",
        "SELECT n_regionkey, grouping(n_regionkey) AS g FROM nation "
        "GROUP BY n_regionkey"),
    "const_cast_ranges": Case(
        "const_cast_ranges", "SELECT 1000::UTINYINT AS x", error="out of range"),
    "order_by_terms": Case(
        "order_by_terms", "SELECT n_name FROM nation ORDER BY -1",
        error="ORDER term out of range"),
    "strictness": Case(
        "strictness", "SELECT n_name FROM nation LIMIT -1",
        error="cannot be negative"),
    "fromless_window_correlation": Case(
        "fromless_window_correlation",
        "SELECT (SELECT sum(n_nationkey) OVER ()) AS s FROM nation",
        error="correlated columns in window functions not supported"),
    "unnest_in_window_args": Case(
        "unnest_in_window_args",
        "SELECT sum(unnest([1, 2])) OVER () AS s",
        error="UNNEST not supported here"),
    "inline_fromless_subqueries": Case(
        "inline_fromless_subqueries",
        "SELECT n_nationkey, (SELECT 100 - n_nationkey) AS d FROM nation"),
    "alias_expr_strictness": Case(
        "alias_expr_strictness",
        "SELECT 1 AS k, count(*) AS c FROM nation GROUP BY k + 1",
        error="Binder Error"),
    "frame_bounds": Case(
        "frame_bounds",
        "SELECT sum(n_nationkey) OVER (ORDER BY n_nationkey ROWS BETWEEN "
        "UNBOUNDED FOLLOWING AND CURRENT ROW) AS s FROM nation",
        error="UNBOUNDED FOLLOWING"),
    "trailing_commas": Case("trailing_commas", "SELECT n_name, FROM nation"),
    "export_state": Case(
        "export_state",
        "SELECT finalize(sum(n_nationkey) EXPORT_STATE) AS s FROM nation"),
    # duckdb 1.0.0 has no GROUPS frames
    "groups_frames": Case(
        "groups_frames",
        "SELECT x, sum(x) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW) AS s FROM (VALUES (1, 1), (2, 1), (3, 2)) t(x, k)",
        expect=[(1, 3), (2, 3), (3, 6)]),
    "empty_frames": Case(
        "empty_frames",
        "SELECT n_nationkey, count(n_nationkey) OVER (ORDER BY n_nationkey "
        "ROWS BETWEEN 1 PRECEDING AND 2 PRECEDING) AS c FROM nation"),
    "exclude_frames": Case(
        "exclude_frames",
        "SELECT n_nationkey, sum(n_nationkey) OVER (ORDER BY n_nationkey "
        "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s "
        "FROM nation"),
    "frame_bound_exprs": Case(
        "frame_bound_exprs",
        "SELECT n_nationkey, sum(n_nationkey) OVER (ORDER BY n_nationkey "
        "ROWS BETWEEN n_regionkey PRECEDING AND CURRENT ROW) AS s FROM nation"),
    "ignored_frames": Case(
        "ignored_frames",
        "SELECT n_nationkey, row_number() OVER (ORDER BY n_nationkey ROWS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS r FROM nation"),
    "ntile_null": Case(
        "ntile_null",
        "SELECT n_nationkey, ntile(NULL) OVER (ORDER BY n_nationkey) AS t "
        "FROM nation"),
    "collate": Case(
        "collate",
        "SELECT n_name FROM nation WHERE n_name COLLATE NOCASE = 'china'"),
    "star_exclude": Case(
        "star_exclude", "SELECT * EXCLUDE (r_name) FROM region"),
    "floordiv": Case("floordiv", "SELECT n_nationkey // 4 AS q FROM nation"),
    "regex_op": Case(
        "regex_op", "SELECT n_name FROM nation WHERE n_name ~ '^CH'"),
    "escape_null": Case(
        "escape_null", "SELECT n_name LIKE 'A%' ESCAPE NULL AS m FROM nation"),
    "null_cast_chains": Case(
        "null_cast_chains", "SELECT NULL::VARCHAR::INTEGER[] AS l"),
    "const_string_int_casts": Case(
        "const_string_int_casts", "SELECT '1e2'::INTEGER AS x"),
    "pg_casts": Case("pg_casts", "SELECT n_nationkey::VARCHAR AS s FROM nation"),
    "cast_types": Case(
        "cast_types", "SELECT CAST(n_nationkey AS HUGEINT) AS h FROM nation"),
    "float_int_casts": Case(
        "float_int_casts", "SELECT CAST(3.7::DOUBLE AS INTEGER) AS i"),
    # DOUBLE rounds half to even; DECIMAL half away from zero
    "float_int_casts-half_even": Case(
        "float_int_casts",
        "SELECT CAST(2.5::DOUBLE AS INTEGER) AS a, "
        "CAST(-2.5::DOUBLE AS INTEGER) AS b, CAST(5 / 2 AS INTEGER) AS c, "
        "CAST(2.5 AS INTEGER) AS d, CAST(-2.5 AS INTEGER) AS e, "
        "TRY_CAST(sqrt(6.25) AS INTEGER) AS f"),
    "brackets": Case("brackets", "SELECT [1, 2, 3][2] AS e"),
    "struct_literals": Case("struct_literals", "SELECT {{'k': 1}}.k AS v"),
    "division": Case("division", "SELECT n_nationkey / 4 AS d FROM nation"),
    "values_specials": Case(
        "values_specials",
        "SELECT * FROM (VALUES (1.5::DOUBLE), ('inf')) t(x)"),
    "values_colnames": Case(
        "values_colnames", "SELECT col0 FROM (VALUES (1), (2))"),
    "table_col_aliases": Case(
        "table_col_aliases",
        "WITH c(a, b) AS (SELECT 1, 2) SELECT * FROM c t(x)"),
    "filter_where": Case(
        "filter_where",
        "SELECT count(*) FILTER (n_regionkey = 1) AS c FROM nation"),
    "ignore_nulls_args": Case(
        "ignore_nulls_args",
        "SELECT n_nationkey, last_value(n_name IGNORE NULLS) OVER "
        "(ORDER BY n_nationkey) AS l FROM nation"),
    "where_null": Case("where_null", "SELECT n_name FROM nation WHERE NULL"),
    "bool_int_compare": Case("bool_int_compare", "SELECT true = 1 AS e"),
    "int_bool_context": Case(
        "int_bool_context", "SELECT CASE WHEN 1 THEN 'y' ELSE 'n' END AS r"),
    "distinct_window": Case(
        "distinct_window",
        "SELECT n_nationkey, count(DISTINCT n_regionkey) OVER "
        "(ORDER BY n_nationkey) AS c FROM nation"),
    "list_quantifier": Case(
        "list_quantifier", "SELECT 2 = ANY([1, 2, 3]) AS e"),
    "group_by_lists": Case(
        "group_by_lists",
        "SELECT n_regionkey, count(*) AS c FROM nation "
        "GROUP BY (n_regionkey, n_name)"),
    "window_filter": Case(
        "window_filter",
        "SELECT n_nationkey, count(*) FILTER (WHERE n_regionkey = 1) OVER "
        "(ORDER BY n_nationkey) AS c FROM nation"),
    "orderless_over": Case(
        "orderless_over",
        "SELECT count(*) AS n FROM (SELECT lag(n_nationkey) OVER () AS l "
        "FROM nation)"),
    "rowid": Case(
        "rowid", "SELECT count(DISTINCT rowid) AS n FROM pin_ri",
        setup=("CREATE TABLE pin_ri AS SELECT * FROM region",)),
    "asof_join": Case(
        "asof_join",
        "SELECT a.t, b.v FROM (VALUES (1), (5)) a(t) ASOF JOIN "
        "(VALUES (0, 'x'), (4, 'y')) b(t, v) ON a.t >= b.t"),
    "lateral_values": Case(
        "lateral_values",
        "SELECT i, v FROM (VALUES (1), (2)) t(i), LATERAL (VALUES (i), "
        "(i * 10)) s(v)"),
    "dynamic_interval": Case(
        "dynamic_interval",
        "SELECT DATE '2020-01-01' + INTERVAL (n_regionkey) DAY AS d FROM nation"),
    "array_subquery": Case(
        "array_subquery",
        "SELECT ARRAY(SELECT r_regionkey FROM region ORDER BY 1) AS a"),
    "table_functions": Case(
        "table_functions", "SELECT range FROM range(3)"),
    "select_unnest": Case(
        "select_unnest", "SELECT unnest([1, 2]) + 1 AS u"),
    "within_group": Case(
        "within_group",
        "SELECT mode() WITHIN GROUP (ORDER BY x) AS m "
        "FROM (VALUES (1), (2), (2)) t(x)"),
    "order_by_all": Case(
        "order_by_all", "SELECT n_regionkey, n_name FROM nation ORDER BY ALL"),
    "null_order": Case(
        "null_order", "SELECT x FROM (VALUES (1), (NULL)) t(x) ORDER BY x LIMIT 1"),
    # the NULLS LAST lands before a line comment, not inside it
    "null_order-comment": Case(
        "null_order",
        "SELECT x FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY x -- asc\nLIMIT 2"),
    "null_order-no_space_after_comma": Case(
        "null_order",
        "SELECT y FROM (VALUES (1, NULL), (1, 2)) t(x, y) ORDER BY x DESC,y "
        "LIMIT 1"),
    "calls": Case("calls", "SELECT count() AS n FROM nation"),
    "values_structs": Case(
        "values_structs", "SELECT s[1] AS a FROM (VALUES ((1, 2)), ((3, 4))) t(s)"),
    "values_coerce": Case(
        "values_coerce",
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT)), (2)) t(x)"),
    "concat_null": Case("concat_null", "SELECT [1, 2] || NULL AS l"),
    "array_struct_elems": Case(
        "array_struct_elems", "SELECT [{{'t': 'x', 'n': 1}}, ('y', 2)] AS l"),
    "named_struct_casts": Case(
        "named_struct_casts",
        "SELECT CAST({{'b': 1, 'a': 'x'}} AS STRUCT(a VARCHAR, b INTEGER)) AS s"),
    "volatile_agg_args": Case(
        "volatile_agg_args", "SELECT count(DISTINCT uuid()) AS n FROM nation"),
    "distinct_order_by": Case(
        "distinct_order_by",
        "SELECT DISTINCT n_regionkey FROM nation ORDER BY n_nationkey LIMIT 2"),
    "distinct_on": Case(
        "distinct_on",
        "SELECT DISTINCT ON (n_regionkey) n_regionkey, n_name FROM nation "
        "ORDER BY n_regionkey, n_name"),
    "qualify": Case(
        "qualify",
        "SELECT n_name FROM nation QUALIFY row_number() OVER "
        "(ORDER BY n_nationkey) <= 2"),
    # duckdb 1.0.0 has no such setting
    "scalar_subquery_first_row": Case(
        "scalar_subquery_first_row",
        "SELECT (SELECT x FROM (VALUES (1), (2)) t(x) ORDER BY 1) AS r",
        setup=("SET scalar_subquery_error_on_multiple_rows = false",),
        expect=[(1,)], own_session=True),
    "scalar_subquery_offset": Case(
        "scalar_subquery_offset",
        "SELECT r_regionkey, (SELECT n_nationkey FROM nation WHERE "
        "n_regionkey = r_regionkey ORDER BY n_nationkey OFFSET 1 LIMIT 1) "
        "AS k FROM region"),
    "sample_before_alias": Case(
        "sample_before_alias",
        "SELECT count(*) AS n FROM nation AS t TABLESAMPLE (100 PERCENT)"),
    # duckdb 1.0.0 has no struct_concat
    "struct_concat": Case(
        "struct_concat",
        "SELECT struct_concat(struct_pack(a := 1), struct_pack(b := 2)) AS s",
        expect=[({"a": 1, "b": 2},)]),
    # unnamed ROW tuples are renumbered: the pass reads the key names
    "struct_concat-row_tuples": Case(
        "struct_concat", "SELECT struct_concat(row(1, 2), row(3)) AS s",
        expect=[({"col1": 1, "col2": 2, "col3": 3},)]),
    "nested_comparisons": Case(
        "nested_comparisons", "SELECT [1, NULL] = [1, NULL] AS e"),
    "time_outputs": Case(
        "time_outputs", "SELECT TIME '01:00:00' + INTERVAL 1 HOUR AS t"),
    # the unit is a literal the pass reads through `restore`
    "time_outputs-date_part": Case(
        "time_outputs", "SELECT date_part('hour', TIME '12:34:56') AS h"),
    "orderless_range_frames": Case(
        "orderless_range_frames",
        "SELECT sum(n_nationkey) OVER (RANGE BETWEEN UNBOUNDED PRECEDING AND "
        "UNBOUNDED FOLLOWING) AS s FROM nation"),
    "enum_markers": Case(
        "enum_markers", "SELECT m FROM pin_en2 WHERE m = 'ok'",
        setup=("CREATE TYPE pin_mood2 AS ENUM ('sad', 'ok', 'happy')",
               "CREATE TABLE pin_en2 (m pin_mood2)",
               "INSERT INTO pin_en2 VALUES ('ok'), ('happy')")),
    "where_paren": Case(
        "where_paren",
        "SELECT n_name FROM nation WHERE EXISTS (SELECT 1)"),
    # Spark's lexer drops the comment between the source and WHERE
    "where_paren-comment": Case(
        "where_paren",
        "SELECT n_name FROM nation -- note.\nWHERE (n_nationkey > 20)"),
}


# y holds a NULL: DuckDB sorts it last unless told otherwise
NULL_KEYS = "(VALUES (1, 3), (2, NULL), (3, 2)) t(x, y)"
RANKED = "(VALUES (1, 30), (2, NULL), (3, 20), (4, 10)) t(x, y)"
NULLS_FIRST = ("SET default_null_order = 'nulls_first'",)
LTTB_ROWS = [([{"x": 1, "y": Decimal("1.0")}, {"x": 2, "y": Decimal("5.0")},
               {"x": 4, "y": Decimal("3.0")}],)]


def _window(call, expect, rows=RANKED, **kw):
    """A windowed ordered call over `rows`; duckdb 1.0.0 raises "ORDER BY
    is not implemented for window functions"."""
    return Case("calls", f"SELECT x, {call} AS w FROM {rows}",
                expect=expect, **kw)


# one case (or more) per `dialect._CALL_HANDLERS` key, the key before any
# `-`: its trace shows ("calls", "translated")
CALL_CASES = {
    "grouping": Case(
        "calls",
        "SELECT n_regionkey, GROUPING(n_regionkey, n_nationkey) AS g, "
        "count(*) AS c FROM nation GROUP BY ROLLUP (n_regionkey, n_nationkey)"),
    "count": Case(
        "calls",
        "SELECT count() AS n, count(n_name ORDER BY n_nationkey) AS m FROM nation"),
    "len": Case("calls", "SELECT len([1, 2, 3]) AS a, len('abc') AS b"),
    "length": Case("calls", "SELECT length([1, 2]) AS a, length('abcd') AS b"),
    "log": Case("calls", "SELECT log(100) AS a, log(2, 8) AS b"),
    "make_timestamp": Case(
        "calls",
        "SELECT make_timestamp(1000000) AS a, "
        "make_timestamp(2020, 1, 2, 3, 4, 5) AS b"),
    "list": Case("calls", f"SELECT list(x ORDER BY y) AS l FROM {NULL_KEYS}"),
    "list-nulls_first": Case(
        "calls", f"SELECT list(x ORDER BY y) AS l FROM {NULL_KEYS}",
        setup=NULLS_FIRST, own_session=True),
    "list-desc_nulls_first": Case(
        "calls", f"SELECT list(x ORDER BY y DESC) AS l FROM {NULL_KEYS}",
        setup=NULLS_FIRST, own_session=True),
    "list-window_keeps_nulls": Case(
        "calls", f"SELECT x, list(y) OVER (ORDER BY x) AS l FROM {NULL_KEYS}"),
    "list-window_nulls_first": _window(
        "list(x ORDER BY y) OVER ()", [(x, [2, 3, 1]) for x in (1, 2, 3)],
        rows=NULL_KEYS, setup=NULLS_FIRST, own_session=True),
    "array_agg": Case(
        "calls",
        f"SELECT array_agg(x ORDER BY y DESC NULLS FIRST, x) AS l FROM {RANKED}"),
    "string_agg": Case(
        "calls",
        f"SELECT string_agg(x::VARCHAR, ',' ORDER BY y) AS s FROM {NULL_KEYS}"),
    "string_agg-nulls_first": Case(
        "calls",
        f"SELECT string_agg(x::VARCHAR, ',' ORDER BY y) AS s FROM {NULL_KEYS}",
        setup=NULLS_FIRST, own_session=True),
    "string_agg-distinct_key_expression": Case(
        "calls",
        "SELECT string_agg(DISTINCT s, ',' ORDER BY upper(s)) AS s "
        "FROM (VALUES ('b'), ('A'), ('b'), (NULL)) t(s)"),
    "group_concat": Case(
        "calls",
        f"SELECT group_concat(x::VARCHAR ORDER BY y) AS s FROM {NULL_KEYS}"),
    "listagg": Case(
        "calls",
        f"SELECT listagg(x::VARCHAR, '-' ORDER BY y DESC) AS s FROM {NULL_KEYS}"),
    "first": Case("calls", f"SELECT first(x ORDER BY y) AS f FROM {NULL_KEYS}"),
    "first-nulls_first": Case(
        "calls", f"SELECT first(x ORDER BY y) AS f FROM {NULL_KEYS}",
        setup=NULLS_FIRST, own_session=True),
    "first-null_placement": Case(
        "calls",
        f"SELECT first(x ORDER BY y NULLS FIRST) AS a, "
        f"first(x ORDER BY y DESC) AS b FROM {RANKED}"),
    "last": Case("calls", f"SELECT last(x ORDER BY y) AS l FROM {NULL_KEYS}"),
    "any_value": Case(
        "calls", f"SELECT any_value(y ORDER BY x DESC) AS a FROM {RANKED}"),
    "arbitrary": Case(
        "calls", f"SELECT arbitrary(y ORDER BY x DESC) AS a FROM {RANKED}"),
    # duckdb 1.0.0 has no lttb aggregate
    "lttb": Case(
        "calls",
        "SELECT lttb(x, y, 3 ORDER BY x) AS l FROM (VALUES (1, 1.0), "
        "(2, 5.0), (3, 2.0), (4, 3.0)) t(x, y)", expect=LTTB_ROWS),
    "lttb_ts": Case(
        "calls",
        "SELECT lttb_ts(x, y, 3 ORDER BY x) AS l FROM (VALUES (1, 1.0), "
        "(2, 5.0), (3, 2.0), (4, 3.0)) t(x, y)", expect=LTTB_ROWS),
    # duckdb 1.0.0 has no n-argument arg_min / min_by
    "arg_min": Case(
        "calls", f"SELECT arg_min(x, y, 2 ORDER BY x) AS a FROM {RANKED}",
        expect=[([4, 3],)]),
    "arg_max": Case(
        "calls", f"SELECT arg_max(x, y, 2 ORDER BY x) AS a FROM {RANKED}",
        expect=[([1, 3],)]),
    "min_by": Case(
        "calls", f"SELECT min_by(x, y, 2 ORDER BY x) AS a FROM {RANKED}",
        expect=[([4, 3],)]),
    "max_by": Case(
        "calls", f"SELECT max_by(x, y, 2 ORDER BY x) AS a FROM {RANKED}",
        expect=[([1, 3],)]),
    "quantile_cont": Case(
        "calls",
        f"SELECT quantile_cont(x, 0.25 ORDER BY x DESC) AS q FROM {RANKED}"),
    "struct_insert": Case(
        "calls", "SELECT struct_insert({{'a': 1}}, b := 2) AS s"),
    "struct_insert-column": Case(
        "calls",
        "SELECT struct_insert(s, b := 2) AS r FROM (SELECT {{'a': 1}} AS s)"),
    "rank": _window("rank(ORDER BY y) OVER ()", [(1, 3), (2, 4), (3, 2), (4, 1)]),
    "dense_rank": _window(
        "dense_rank(ORDER BY y DESC) OVER ()", [(1, 1), (2, 4), (3, 2), (4, 3)]),
    "percent_rank": _window(
        "percent_rank(ORDER BY y) OVER ()",
        [(1, 2 / 3), (2, 1.0), (3, 1 / 3), (4, 0.0)]),
    "cume_dist": _window(
        "cume_dist(ORDER BY y) OVER ()",
        [(1, 0.75), (2, 1.0), (3, 0.5), (4, 0.25)]),
    "row_number": _window(
        "row_number(ORDER BY y) OVER ()", [(1, 3), (2, 4), (3, 2), (4, 1)]),
    "ntile": _window(
        "ntile(2 ORDER BY y) OVER ()", [(1, 2), (2, 2), (3, 1), (4, 1)]),
    "lag": _window(
        "lag(x ORDER BY y) OVER ()", [(1, 3), (2, 1), (3, 4), (4, None)]),
    "lead": _window(
        "lead(x ORDER BY y) OVER ()", [(1, 2), (2, None), (3, 1), (4, 3)]),
    "first_value": _window(
        "first_value(x ORDER BY y) OVER ()", [(x, 4) for x in range(1, 5)]),
    "last_value": _window(
        "last_value(x ORDER BY y) OVER ()", [(x, 2) for x in range(1, 5)]),
    "nth_value": _window(
        "nth_value(x, 2 ORDER BY y) OVER ()", [(x, 3) for x in range(1, 5)]),
}


@pytest.fixture(scope="module")
def con(spark):
    return Connection(spark=spark, sf_dir=SF_DIR)


@pytest.fixture(scope="module")
def duck():
    d = duckdb.connect()
    for t in ("nation", "region"):
        d.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield d
    d.close()


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    data = tmp_path_factory.mktemp("pin_data")
    (data / "pin_in.csv").write_text("a,b\n1,x\n2,y\n")
    return {
        "ours": {"sf": SF_DIR, "data": str(data),
                 "tmp": str(tmp_path_factory.mktemp("pin_ours"))},
        "duck": {"sf": SF_DIR, "data": str(data),
                 "tmp": str(tmp_path_factory.mktemp("pin_duck"))},
    }


def _run(con, duck, dirs, case: Case):
    """Run the case on both engines; returns our trace and result."""
    for s in case.setup:
        con.sql(s.format(**dirs["ours"]))
        if case.expect is None:
            duck.execute(s.format(**dirs["duck"]))
    if case.error:
        with pytest.raises(Exception) as ours:
            con.sql(case.sql.format(**dirs["ours"]))
        trace = list(con.last_trace)
        with pytest.raises(duckdb.Error) as theirs:
            duck.execute(case.sql.format(**dirs["duck"]))
        assert case.error in str(ours.value), str(ours.value)
        assert case.error in str(theirs.value), str(theirs.value)
        return trace, None
    rel = con.sql(case.sql.format(**dirs["ours"]))
    trace = list(con.last_trace)
    if case.expect is not None:
        df = rel.df()
        assert normalize(df.columns, df.collect())[1] == \
            normalize(df.columns, case.expect)[1]
        return trace, rel
    if case.check:
        duck.execute(case.sql.format(**dirs["duck"]))
        rel = con.sql(case.check.format(**dirs["ours"]))
        sql = case.check.format(**dirs["duck"])
    else:
        sql = case.sql.format(**dirs["duck"])
    if rel is None:
        assert duck.execute(sql).fetchall() == []
    else:
        assert_matches_oracle(rel.df(), duck, sql)
    return trace, rel


def _statement_entries(trace):
    """The step and fallback entries of a trace, without translate's."""
    from duckdb_spark.statements import FALLBACKS, STEPS

    names = {f.__name__ for f in (*STEPS, *FALLBACKS)}
    return [e for e in trace if e[0] in names]


@pytest.mark.parametrize("case", [
    pytest.param(c, id=k) for k, c in
    {**STEP_CASES, **FALLBACK_CASES, **PASS_CASES, **CALL_CASES}.items()])
def test_pin(con, duck, dirs, case):
    if case.own_session:
        con, duck = Connection(con.spark.newSession()), duckdb.connect()
    trace, _ = _run(con, duck, dirs, case)
    if case.fired is None:
        assert _statement_entries(trace) == []
        return
    outcomes = [o for name, o in trace if name == case.fired]
    assert outcomes and not any(o.startswith("failed") for o in outcomes), trace


def test_every_step_and_fallback_is_pinned():
    from duckdb_spark.statements import FALLBACKS, STEPS

    pinned = {c.fired for c in (*STEP_CASES.values(), *FALLBACK_CASES.values())}
    pinned.discard(None)
    assert {f.__name__ for f in (*STEPS, *FALLBACKS)} == pinned


def test_every_translate_pass_is_pinned():
    from duckdb_spark.sql.dialect import PASSES
    from duckdb_spark.statements import FALLBACKS, STEPS

    names = [p.name for p in PASSES]
    assert len(set(names)) == len(names)
    assert not set(names) & {f.__name__ for f in (*STEPS, *FALLBACKS)}
    assert set(names) == {c.fired for c in PASS_CASES.values()}


def test_every_call_handler_is_pinned():
    from duckdb_spark.sql.dialect import _CALL_HANDLERS

    assert set(_CALL_HANDLERS) == {k.split("-")[0] for k in CALL_CASES}


def test_lttb_count_is_never_evaluated_in_python():
    """The target count is a literal or a constant Spark can fold; a
    power tower must not be computed in Python."""
    from duckdb_spark.sql.dialect import translate

    start = time.monotonic()
    try:
        translate("SELECT lttb(x, y, 9**9**9 ORDER BY o) AS r FROM t")
    except ValueError as e:
        assert str(e).startswith("Binder Error"), e
    assert time.monotonic() - start < 2


def test_where_paren_reads_whole_words():
    from duckdb_spark.sql.dialect import translate

    # `anywhere (1)` ends in "where" but holds no WHERE keyword
    assert translate("SELECT anywhere (1) FROM t") == \
        "SELECT anywhere (1) FROM t"


def test_unreferenced_materialized_cte_never_runs(con):
    con.sql(STEP_CASES["strip_unused_ctes-materialized"].sql)
    assert _statement_entries(con.last_trace) == [
        ("strip_unused_ctes", "rewrote")]


def test_materialized_cte_is_scanned_once(con):
    """The marked entry is read back from its materialized view, so the
    main plan scans no parquet; inlined, both references scan nation."""
    for hint, scans in (("MATERIALIZED", 0), ("NOT MATERIALIZED", 2)):
        df = con.sql(MATERIALIZED_AGG.format(hint=hint)).df()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == scans, plan


def test_lateral_recursive_jobs_do_not_grow_with_outer_rows(con):
    """The recursion runs once for all outer rows, so its Spark job count
    does not grow from 3 outer rows to 40."""
    jobs = [spark_jobs(con.spark, lambda n=n: con.sql(
        _lateral(f"range({n})", "i", "x < i + 3")).df().collect())
        for n in (3, 40)]
    assert jobs[1] <= jobs[0], jobs


# ------------------------------------------------------------ loop policy

def test_plain_statement_has_empty_trace(con):
    con.sql("SELECT n_name FROM nation WHERE n_nationkey < 3")
    assert _statement_entries(con.last_trace) == []


def test_failed_fallbacks_raise_the_original_error(con):
    con.sql(V + "pin_ss2 AS SELECT struct_pack(a := 1) AS s")
    with pytest.raises(Exception) as e:
        con.sql("SELECT s['zz'] AS v FROM pin_ss2")
    assert "element_at" in str(e.value)
    assert e.value.getCondition().startswith("DATATYPE_MISMATCH")
    assert ("struct_subscript", "failed: AnalysisException") in con.last_trace


def test_incomparable_types_raise_binder_error(con):
    con.sql(V + "pin_ic2 AS SELECT * FROM (VALUES (1)) t(i)")
    with pytest.raises(ValueError, match=r"^Binder Error: Cannot compare values"):
        con.sql("SELECT i = DATE '2020-01-01' AS e FROM pin_ic2")
    assert con.last_trace[-1] == ("incomparable_types", "raised")


def test_nested_statement_appends_to_outer_trace(con, caplog):
    with caplog.at_level(logging.DEBUG, logger="duckdb_spark"):
        con.sql("SELECT column_name FROM (DESCRIBE SELECT 1 AS a)")
    assert _statement_entries(con.last_trace) == [
        ("describe", "answered"), ("describe_in_from", "rewrote")]
    assert str(con.last_trace) in caplog.text
