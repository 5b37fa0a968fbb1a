"""The statement steps and error fallbacks `Connection.sql` runs, in order.

A step is `step(con, query)`. It returns the statement text, rewritten or
not, and the next step sees it; any other return value (a `Relation` or
DataFrame, or None for a statement without a result set) answers the
statement.

A fallback is `fallback(con, query, tq, msg)`, tried only after Spark
rejected the translated statement. `query` is the statement as the steps
left it, `tq` its translation ("" when translation itself failed) and
`msg` the text of the original error. It returns Spark-SQL text, a
DataFrame or a `Relation` to try, or None when it does not apply.

Both tables are ordered like DuckDB's parser extensions
(`src/parser/parser.cpp`): each entry is tried in turn and the first
answer wins. The function name is the name `Connection.last_trace`
reports.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from duckdb_spark.sql import dialect
from duckdb_spark.sql.columns_expr import _CLAUSE_END
from duckdb_spark.sql.textcast import TextCastError

_DUCKDB_ERROR = re.compile(r"(Binder|Conversion|Invalid Input|Out of Range) Error")


def is_duckdb_error(e: BaseException) -> bool:
    """Our own DuckDB-phrased errors outrank the Spark error they were
    found under, so a fallback raising one ends the statement."""
    return isinstance(e, TextCastError) or (
        isinstance(e, ValueError) and _DUCKDB_ERROR.match(str(e)) is not None)


def _translate_with(query: str, tq: str, settings: dict) -> str | None:
    """Translate with dialect session settings switched on for this call
    only; None when the settings change nothing."""
    for k, v in settings.items():
        dialect.set_session_setting(k, v)
    try:
        retried = dialect.translate(query)
    finally:
        for k in settings:
            dialect.set_session_setting(k, "")
    return None if retried == tq else retried


_FROM_END = _CLAUSE_END | {"OFFSET"}


def _from_span(query: str) -> tuple[int, int] | None:
    """Character span of the statement's top-level FROM source, or None
    when there is no FROM or it is empty."""
    start = end = -1
    depth = pos = 0
    for t in dialect._tokens(query):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and start < 0 and t.upper() == "FROM":
            start = pos + len(t)
        elif depth == 0 and start >= 0 and t.upper() in _FROM_END:
            end = pos
            break
        pos += len(t)
    end = len(query) if end < 0 else end
    if start < 0 or not query[start:end].strip():
        return None
    return start, end


def _from_schema(con, query: str, span: tuple[int, int]):
    """Schema of the FROM source at `span`, by a `LIMIT 0` probe."""
    src = query[span[0]:span[1]]
    return con.sql(f"SELECT * FROM {src} LIMIT 0").df().schema


def _outside(query: str, span: tuple[int, int], pattern: str) -> bool:
    """Whether `pattern` occurs outside the FROM source at `span`: a probe
    of a source that holds the only occurrences would meet the same
    statement shape again."""
    return re.search(pattern, query[:span[0]] + " " + query[span[1]:]) \
        is not None


def _limit_value(con, expr: str, prefix: str = "") -> float | None:
    """A LIMIT / OFFSET / LIMIT-percent expression evaluated up front:
    DuckDB evaluates them (LIMIT 1.25 → 1 row, LIMIT (SELECT 3)); Spark
    wants foldable integers. None is a NULL value or an empty scalar
    subquery, which the reference reads as "no limit"
    (physical_limit.cpp, physical_limit_percent.cpp:75). `prefix` is a
    WITH clause a scalar subquery may reference."""
    expr = expr.strip()
    if re.match(
        r"(?is)^(sum|count|avg|min|max|first|last|median|"
        r"product|stddev\w*|var\w*)\s*\(", expr,
    ):
        raise ValueError(
            "Binder Error: Aggregate functions are not "
            "supported in the LIMIT clause"
        )
    if re.search(r"(?is)\bover\b", expr):
        raise ValueError(
            "Binder Error: Window functions are not supported "
            "in the LIMIT clause"
        )
    qm = re.fullmatch(r"'([^']*)'(?:\s*::\s*\w+)?", expr)
    if qm:
        expr = qm.group(1)
    expr = re.sub(r"::\s*\w+\s*$", "", expr).strip()
    if re.fullmatch(r"[\d.]+", expr):
        return float(expr)
    return con.sql(
        f"{prefix} SELECT CAST({expr} AS DOUBLE)").df().collect()[0][0]


def _split_top_level(s: str) -> list[str]:
    """Split an expression list on commas outside parens/brackets/quotes
    (so "round(sum(x), 2) AS r, g" → ["round(sum(x), 2) AS r", "g"])."""
    parts, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _parse_path_arg(arg: str) -> str | list[str] | None:
    """A file-reader TVF's path argument: a string literal or a list of
    string literals. None if it's anything else (expression, parameter)."""
    a = arg.strip()
    m = re.fullmatch(r"'((?:[^']|'')*)'", a)
    if m:
        return m.group(1).replace("''", "'")
    if a.startswith("[") and a.endswith("]"):
        out = []
        for p in _split_top_level(a[1:-1]):
            pm = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", p)
            if not pm:
                return None
            out.append(pm.group(1).replace("''", "'"))
        return out
    return None


_INLINABLE_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string",
    "boolean", "date", "timestamp", "timestamp_ntz",
)


def _inlinable_schema(schema) -> bool:
    return all(
        f.dataType.simpleString() in _INLINABLE_TYPES
        or f.dataType.simpleString().startswith("decimal")
        for f in schema.fields
    )


def _sql_lit(v, dt) -> str:
    """Render a driver-side value as a typed SQL literal."""
    import datetime
    import decimal

    ts = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ts})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return f"CAST('NaN' AS {ts})"
        if v in (float("inf"), float("-inf")):
            return f"CAST('{v}' AS {ts})"
        return f"CAST({v!r} AS {ts})"
    if isinstance(v, int):
        return f"CAST({v} AS {ts})"
    if isinstance(v, decimal.Decimal):
        return f"CAST('{v}' AS {ts})"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(v, datetime.datetime):
        return f"CAST('{v.isoformat(sep=' ')}' AS {ts})"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"CAST(unhex('{bytes(v).hex()}') AS BINARY)"
    if isinstance(v, (list, tuple)) and isinstance(dt, _T.ArrayType):
        if not v:
            return f"CAST(array() AS {ts})"
        return "array(" + ", ".join(
            _sql_lit(e, dt.elementType) for e in v) + ")"
    if isinstance(v, dict) and isinstance(dt, _T.MapType):
        if not v:
            return f"CAST(map() AS {ts})"
        return "map(" + ", ".join(
            f"{_sql_lit(k, dt.keyType)}, {_sql_lit(x, dt.valueType)}"
            for k, x in v.items()) + ")"
    if isinstance(dt, _T.StructType) and hasattr(v, "__fields__"):
        return "named_struct(" + ", ".join(
            "'" + f.name.replace("'", "''") + "', "
            + _sql_lit(v[i], f.dataType)
            for i, f in enumerate(dt.fields)) + ")"
    raise ValueError(f"not inlinable: {type(v)}")


def _rewrite_fn_calls(query: str, fname: str, template) -> str:
    """Replace every `fname(args)` call in raw DuckDB SQL text with
    template(argtext) — token/paren-aware (analyzer error messages
    normalize expressions, so error-driven retries can't regex-match the
    original text; this locates the calls structurally)."""
    from duckdb_spark.sql.dialect import _match_paren, _next_code, _tokens

    qt = _tokens(query)
    changed = False
    qi = 0
    while qi < len(qt):
        if qt[qi].lower() == fname:
            p = _next_code(qt, qi + 1)
            if p < len(qt) and qt[p] == "(":
                c = _match_paren(qt, p)
                if c > 0:
                    qt[qi:c + 1] = [template("".join(qt[p + 1:c]))]
                    changed = True
                    qi += 1
                    continue
        qi += 1
    return "".join(qt) if changed else query


def _materialize(df: DataFrame) -> DataFrame:
    """Truncate lineage between recursive-CTE rounds. localCheckpoint is
    the cheap path; Spark's rewriteStatsAndConstraints can throw
    NoSuchElementException checkpointing a union of already-checkpointed
    frames (constraint exprId mismatch) — rebuilding from the JVM RDD
    drops the stale constraints, then checkpoint normally."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:
        df = df.persist()
        df.count()
        return df


# names of the temp views statements register
_seq = itertools.count(1)


# ------------------------------------------------------------------ steps

def prepared_statement(con, query):
    """PREPARE / DEALLOCATE answer; EXECUTE becomes the bound text."""
    handled = con.prepared.handle(query)
    if handled is True:
        return None
    return handled if isinstance(handled, str) else query


def macro_ddl(con, query):
    """Macro / sequence DDL, kept by the Connection's macro registry."""
    return None if con.macros.handle_ddl(query) else query


def macro_expand(con, query):
    return con.macros.expand(query)


def managed_table(con, query):
    """Writable managed tables: CREATE TABLE / INSERT / UPDATE / DELETE
    against external parquet tables (duckdb_spark.managed; reference
    physical_insert.cpp)."""
    handled = con.managed.handle(con, query)
    return query if handled is False else handled


def recursive_view(con, query):
    """CREATE RECURSIVE VIEW v (cols) AS body — sugar for a view over
    WITH RECURSIVE (reference parser/statement/create_statement.cpp);
    materialized at creation via the iterative recursive-CTE loop."""
    m = re.match(
        r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?RECURSIVE\s+VIEW\s+"
        r"([\w\"]+)\s*(?:\(([^)]*)\))?\s*AS\s+(.*?);?\s*$",
        query,
    )
    if not m:
        return query
    name = m.group(1).strip('"')
    cols = f"({m.group(2)})" if m.group(2) else ""
    df = con.sql(
        f"WITH RECURSIVE {name} {cols} AS ({m.group(3)}) "
        f"SELECT * FROM {name}"
    ).df()
    df.createOrReplaceTempView(name)
    return None


def copy_to(con, query):
    """COPY (query) TO 'path' [(FORMAT x, PARTITION_BY (...))] — SQL
    spelling of io/writers.copy_to (reference physical_copy_to_file.cpp);
    returns the row count like the reference's COPY result."""
    m = re.match(
        r"(?is)^\s*COPY\s+(\(.*\)|[\w\".]+)\s+TO\s+'([^']+)'\s*"
        r"(?:\((.*)\))?\s*;?\s*$",
        query,
    )
    if not m:
        return query
    from duckdb_spark.io.writers import copy_to as _copy_to

    src, path, opts = m.group(1), m.group(2), m.group(3) or ""
    df = (con.sql(src[1:-1]).df() if src.startswith("(")
          else con.sql(f"SELECT * FROM {src}").df())
    fm = re.search(r"(?i)\bFORMAT\s+'?(\w+)'?", opts)
    fmt = (fm.group(1) if fm
           else {"csv": "csv", "json": "json", "ndjson": "json"}.get(
               path.rsplit(".", 1)[-1].lower(), "parquet"))
    pm = re.search(r"(?i)\bPARTITION_BY\s*\(([^)]*)\)", opts)
    part = ([c.strip().strip('"') for c in pm.group(1).split(",")]
            if pm else None)
    hm2 = re.search(r"(?i)\bHEADER\s+'?(\w+)'?", opts)
    hdr = (hm2.group(1).lower() in ("1", "true", "on")
           if hm2 else True)
    n = df.count()
    _copy_to(df, path, format=fmt, partition_by=part, header=hdr)
    return con.spark.createDataFrame([(n,)], "Count: bigint")


def copy_from(con, query):
    """COPY <table> FROM 'path' [(opts)] — import side of COPY: load by
    format and INSERT into the managed table; string-rendered nested
    values go through the runtime text-cast fallback."""
    m = re.match(
        r"(?is)^\s*COPY\s+([\w\".]+)\s+FROM\s+'([^']+)'\s*"
        r"(?:\((.*)\))?\s*;?\s*$",
        query,
    )
    if not m:
        return query
    from duckdb_spark.types import spark_type_to_duckdb

    name, path, opts = m.group(1).strip('"'), m.group(2), m.group(3) or ""
    fm = re.search(r"(?i)\bFORMAT\s+'?(\w+)'?", opts)
    # extension sniff sees through compression suffixes
    # (tenk.tsv.gz — pg_lateral.test), and CSV-only options imply
    # CSV like the reference's copy binder does
    base = re.sub(r"(?i)\.(gz|zst|bz2)$", "", path)
    ext = base.rsplit(".", 1)[-1].lower()
    fmt = (fm.group(1).lower() if fm
           else {"csv": "csv", "tsv": "csv", "json": "json",
                 "ndjson": "json"}.get(ext, "parquet"))
    if fm is None and fmt == "parquet" and re.search(
            r"(?i)\b(DELIM|DELIMITER|SEP|HEADER|QUOTE|NULLSTR|"
            r"SKIP|IGNORE_ERRORS)\b", opts):
        fmt = "csv"
    target = con.spark.table(name).schema
    if fmt == "csv":
        from duckdb_spark.io.readers import csv_for_copy_from

        src = csv_for_copy_from(
            con.spark, path, opts,
            [f.name for f in target.fields],
            [spark_type_to_duckdb(f.dataType) for f in target.fields])
    elif fmt == "json":
        src = con.spark.read.json(path)
    else:
        src = con.spark.read.parquet(path)
    view = f"__copy_from_{next(_seq)}"
    src.createOrReplaceTempView(view)
    sel = ", ".join(
        f"CAST(\"{s}\" AS {spark_type_to_duckdb(f.dataType)}) "
        f"AS \"{f.name}\""
        for s, f in zip(src.columns, target.fields)
    )
    n = src.count()
    con.sql(f"INSERT INTO \"{name}\" SELECT {sel} FROM {view}")
    return con.spark.createDataFrame([(n,)], "Count: bigint")


def describe_cte(con, query):
    """DESCRIBE / SUMMARIZE of a CTE in FROM position:
    `WITH c AS (...) FROM (DESCRIBE TABLE c)` (cte_describe.test)."""
    m = re.match(
        r"(?is)^\s*WITH\s+([\w\"]+)\s+AS\s*\((.*)\)\s*FROM\s*\(\s*"
        r"(DESCRIBE|SUMMARIZE)\s+TABLE\s+([\w\"]+)\s*\)\s*;?\s*$",
        query,
    )
    if m and m.group(1).strip('"').lower() == m.group(4).strip('"').lower():
        return f"{m.group(3)} {m.group(2)}"
    return query


def describe_in_from(con, query):
    """DESCRIBE as a general FROM-position source — both a table name and
    a whole sub-SELECT: `SELECT … FROM (DESCRIBE t) …`,
    `… FROM (describe SELECT j: 42)` (struct_different_names.test,
    test_select_alias_prefix_colon.test:10)."""
    if not re.search(r"(?is)\(\s*DESCRIBE\b", query) or \
            re.match(r"(?is)^\s*(DESCRIBE|SUMMARIZE)\b", query):
        return query
    from duckdb_spark.sql.dialect import _is_word, _match_paren, _next_code

    qt = dialect._tokens(query)
    i0 = 0
    changed0 = False
    while i0 < len(qt):
        if qt[i0] == "(":
            j0 = _next_code(qt, i0 + 1)
            if j0 < len(qt) and _is_word(qt[j0], "DESCRIBE"):
                c0 = _match_paren(qt, i0)
                if c0 > 0:
                    inner0 = "".join(qt[j0 + 1:c0]).strip()
                    view = f"__describe_{next(_seq)}"
                    con.sql(f"DESCRIBE {inner0}").df() \
                        .createOrReplaceTempView(view)
                    qt[i0:c0 + 1] = [f" {view} "]
                    changed0 = True
                    continue
        i0 += 1
    return "".join(qt) if changed0 else query


def describe(con, query):
    """DESCRIBE / SUMMARIZE statements (reference bind_describe.cpp /
    bind_summarize.cpp): schema rows / per-column stats."""
    m = re.match(r"(?is)^\s*(DESCRIBE|SUMMARIZE)\s+(.+?);?\s*$", query)
    if not m or re.match(r"(?is)^\s*DESCRIBE\s+(HISTORY|DETAIL)\b", query):
        return query
    kw, rest = m.group(1).upper(), m.group(2).strip()
    rest = re.sub(r"(?is)^TABLE\s+", "", rest)
    if re.match(r"(?is)^(SELECT|WITH|FROM|VALUES)\b", rest):
        df = con.sql(rest).df()
    else:
        df = con.sql(f"SELECT * FROM {rest}").df()
    if kw == "SUMMARIZE":
        from duckdb_spark.operators.sketch import summarize

        return summarize(df)
    from duckdb_spark.types import spark_type_to_duckdb

    rows = [
        (f.name, spark_type_to_duckdb(f.dataType),
         "YES" if f.nullable else "NO", None, None, None)
        for f in df.schema.fields
    ]
    return con.spark.createDataFrame(
        rows,
        "column_name string, column_type string, `null` string, "
        "key string, `default` string, extra string",
    )


def limit_percent_nested(con, query):
    """Nested `LIMIT n%` (subquery / CTE-body position): resolve
    innermost-first by counting the body and folding to a literal LIMIT
    (reference physical_limit_percent.cpp executes the same two-pass
    count; test_cte_materialized.test:147)."""
    if not re.search(r"(?is)\bLIMIT\s+\d+(\.\d+)?\s*(%|\bPERCENT\b)", query):
        return query
    from duckdb_spark.sql.dialect import _is_word as _isw
    from duckdb_spark.sql.dialect import _next_code

    for _ in range(16):  # one nested occurrence folded per pass
        toks = dialect._tokens(query)
        best = None
        opens: list[int] = []
        for idx, t in enumerate(toks):
            if t == "(":
                opens.append(idx)
            elif t == ")":
                if opens:
                    opens.pop()
            elif opens and _isw(t, "LIMIT"):
                j = _next_code(toks, idx + 1)
                k2 = _next_code(toks, j + 1) if j < len(toks) else len(toks)
                if j < len(toks) and \
                        re.fullmatch(r"\d+(\.\d+)?", toks[j]) and \
                        k2 < len(toks) and (
                            toks[k2] == "%" or _isw(toks[k2], "PERCENT")):
                    if best is None or len(opens) > best[0]:
                        best = (len(opens), opens[-1], idx, j, k2)
        if best is None:
            break
        _, open_idx, li, pj, pk = best
        body = "".join(toks[open_idx + 1:li]).strip()
        pct = float(toks[pj])
        if pct < 0 or pct > 100:
            raise ValueError(
                "Out of Range Error: Limit percent out of range, "
                "should be between 0% and 100%")
        nrows = con.sql(body).df().count()
        toks[li:pk + 1] = [f" LIMIT {int(nrows * pct / 100.0)} "]
        query = "".join(toks)
    return query


def limit_percent(con, query):
    """LIMIT n% (reference physical_limit_percent.cpp): no Spark SQL
    spelling — strip it and apply the two-pass relation operator."""
    m = re.match(
        r"(?is)^(.*)\bLIMIT\s+(.+?)\s*(?:%|\bPERCENT\b)"
        r"\s*(?:OFFSET\s+(.+?))?\s*;?\s*$",
        query,
    )
    if not m:
        return query
    df = con.sql(m.group(1)).df()
    pct = _limit_value(con, m.group(2))
    pct = 100.0 if pct is None else pct
    if pct < 0:
        raise ValueError(
            "Out of Range Error: Limit percent out of range, "
            "should be between 0% and 100%"
        )
    # reference physical_limit_percent.cpp:145: the row budget is
    # idx_t(pct/100 * count) over the PRE-offset count; OFFSET then
    # skips within that scan order
    n = df.count()
    k = int(_limit_value(con, m.group(3)) or 0) if m.group(3) else 0
    return df.offset(k).limit(int(n * pct / 100.0))


def create_schema(con, query):
    m = re.match(
        r"(?is)^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w\"]+)\s*;?\s*$", query,
    )
    if not m:
        return query
    name = m.group(2).strip('"').lower()
    if name in dialect.registered_schemas() and not m.group(1):
        raise ValueError(
            f'Catalog Error: Schema with name "{name}" already exists!'
        )
    dialect.register_schema(name)
    return None


def drop_schema(con, query):
    m = re.match(
        r"(?is)^\s*DROP\s+SCHEMA\s+(?:IF\s+EXISTS\s+)?([\w\"]+)"
        r"\s*(CASCADE)?\s*;?\s*$", query,
    )
    if not m:
        return query
    name = m.group(1).strip('"').lower()
    dialect.unregister_schema(name)
    for t in con.spark.catalog.listTables():
        if t.name.lower().startswith(name + "__"):
            try:
                con.spark.catalog.dropTempView(t.name)
            except Exception:
                pass
    return None


def strip_unused_ctes(con, query):
    if re.search(r"(?is)\bWITH\b", query):
        try:
            return dialect.strip_unused_ctes(query)
        except Exception:
            pass
    return query


def string_tables(con, query):
    """DuckDB replacement scans in SQL text: a string literal in table
    position reads the file (`FROM 'x.parquet'`), and a CTE may be
    NAMED by a string, shadowing the file everywhere except inside its
    own definition (reference replacement_scan.cpp;
    cte_with_replacement_scan.test)."""
    if not re.search(r"(?is)\b(FROM|JOIN|WITH)\s*'", query):
        return query
    from duckdb_spark.sql.dialect import (
        _is_word,
        _match_paren,
        _next_code,
        _tokens,
    )

    toks = _tokens(query)
    defs = []  # (literal, def_idx, body_lo, body_hi)
    for i, t in enumerate(toks):
        if not (t.startswith("'") and t.endswith("'") and len(t) > 1):
            continue
        p = i - 1
        while p >= 0 and toks[p].isspace():
            p -= 1
        if p < 0 or not (_is_word(toks[p], "WITH") or toks[p] == ","):
            continue
        j = _next_code(toks, i + 1)
        if j >= len(toks) or not _is_word(toks[j], "AS"):
            continue
        op = _next_code(toks, j + 1)
        if op >= len(toks) or toks[op] != "(":
            continue
        oc = _match_paren(toks, op)
        if oc > 0:
            defs.append((t, i, op, oc))
    names = {d[0] for d in defs}
    readers = {"parquet": "read_parquet", "csv": "read_csv",
               "json": "read_json", "ndjson": "read_json"}
    out = list(toks)
    for i, t in enumerate(out):
        if not (t.startswith("'") and t.endswith("'") and len(t) > 1):
            continue
        if any(d[1] == i for d in defs):
            out[i] = "`" + t[1:-1] + "`"
            continue
        p = i - 1
        while p >= 0 and out[p].isspace():
            p -= 1
        if p < 0 or not (_is_word(out[p], "FROM")
                         or _is_word(out[p], "JOIN") or out[p] == ","):
            continue
        in_own_body = any(d[0] == t and d[2] < i < d[3] for d in defs)
        if t in names and not in_own_body:
            out[i] = "`" + t[1:-1] + "`"
            continue
        ext = t[1:-1].rsplit(".", 1)[-1].lower()
        if ext in readers:
            out[i] = f"{readers[ext]}({t})"
    return "".join(out)


_TVF_NAMES = (
    "duckdb_functions", "duckdb_settings", "duckdb_tables",
    "duckdb_columns", "duckdb_views", "duckdb_types", "duckdb_memory",
    "pragma_table_info", "repeat",
    # file readers in FROM position (reference
    # extension/parquet/parquet_extension.cpp, read_csv.cpp): the
    # Python API (io/readers.py) bound as SQL-text table functions
    "read_parquet", "parquet_scan", "read_csv", "read_csv_auto",
    "read_json", "read_json_auto", "read_json_objects", "read_ndjson",
    "read_text", "read_blob", "sniff_csv", "lttb",
)


def sql_table_functions(con, query):
    """Engine-level table functions in SQL text (`FROM
    duckdb_functions()`, `FROM pragma_table_info('t')`, `FROM
    repeat(v, n)`): compute the DataFrame NOW (catalog state is
    query-time), register a temp view, substitute the call."""
    import duckdb_spark.introspection as I
    from duckdb_spark.operators import tablefn

    def repl(m: re.Match) -> str:
        prefix = m.group(1)
        name = m.group(2).lower()
        args = m.group(3).strip()
        try:
            if name == "pragma_table_info":
                df = I.pragma_table_info(
                    con.spark, args.strip("'\""))
            elif name == "repeat":
                parts = [a.strip() for a in args.split(",")]
                if len(parts) != 2:
                    return m.group(0)  # scalar repeat(str, n)
                vals = con.spark.sql(
                    f"SELECT ({parts[0]}) AS v, "
                    f"CAST(({parts[1]}) AS BIGINT) AS n"
                ).collect()[0]
                if vals["n"] is None or isinstance(vals["v"], str):
                    return m.group(0)  # scalar string repeat
                df = tablefn.repeat(con.spark, vals["v"], int(vals["n"]))
            elif name == "lttb":
                # lttb(table, x, y, n): LTTB downsampling TVF over a
                # named table/view (operators/sketch.py lttb — the
                # beyond-reference pipeline operator surfaced to SQL
                # text; VERDICT r08 item 8)
                parts = _split_top_level(args)
                if len(parts) != 4:
                    return m.group(0)
                from duckdb_spark.operators import sketch

                src = con.sql(f"SELECT * FROM {parts[0].strip()}").df()
                df = sketch.lttb(
                    src, parts[1].strip(), parts[2].strip(),
                    int(parts[3].strip()))
            elif name in (
                "read_parquet", "parquet_scan", "read_csv",
                "read_csv_auto", "read_json", "read_json_auto",
                "read_json_objects", "read_ndjson", "read_text",
                "read_blob", "sniff_csv",
            ):
                from duckdb_spark.io import readers

                parts = _split_top_level(args)
                if not parts:
                    return m.group(0)
                paths = _parse_path_arg(parts[0])
                if paths is None:
                    return m.group(0)
                opts = {}
                for p in parts[1:]:
                    om = re.match(r"(?s)^\s*(\w+)\s*(?::?=)\s*(.*)$", p)
                    if om:
                        opts[om.group(1).lower()] = om.group(2).strip()
                if name in ("read_parquet", "parquet_scan"):
                    df = readers.read_parquet(
                        con.spark, paths,
                        union_by_name=opts.get("union_by_name", "")
                        .lower() == "true",
                    )
                elif name in ("read_csv", "read_csv_auto"):
                    kw = {}
                    if opts.get("header", "").lower() in ("true", "false", "0", "1"):
                        kw["header"] = opts["header"].lower() in ("true", "1")
                    if opts.get("delim") or opts.get("sep"):
                        kw["sep"] = (opts.get("delim") or opts["sep"]).strip("'\"")
                    cm2 = opts.get("columns", "")
                    if cm2.strip().startswith("{"):
                        # columns={'id':'BIGINT','v':'UUID[]'}: the
                        # declared types BIND (nested types parse via
                        # the textcast runtime in readers.read_csv —
                        # string_to_list_cast.test:503)
                        cols2 = {}
                        for pc in cm2.strip()[1:-1].split(","):
                            km2 = re.match(
                                r"(?s)^\s*'([^']+)'\s*:\s*'([^']+)'\s*$",
                                pc)
                            if km2:
                                cols2[km2.group(1)] = km2.group(2)
                        if cols2:
                            kw["columns"] = cols2
                            kw["header"] = kw.get("header", True)
                    df = readers.read_csv(con.spark, paths, **kw)
                elif name == "sniff_csv":
                    # one-row result mirroring the reference's output
                    # columns (src/function/table/sniff_csv.cpp);
                    # Columns renders as its duck text form
                    info = dict(readers.sniff_csv(
                        paths[0] if isinstance(paths, list)
                        else paths))
                    info["Columns"] = str(info.get("Columns"))
                    row = tuple(
                        v if isinstance(v, (int, bool)) or v is None
                        else str(v) for v in info.values())
                    schema = ", ".join(
                        f"{k} boolean" if isinstance(v, bool)
                        else f"{k} bigint" if isinstance(v, int)
                        else f"{k} string"
                        for k, v in info.items())
                    df = con.spark.createDataFrame([row], schema)
                elif name == "read_text":
                    df = readers.read_text(con.spark, paths)
                elif name == "read_blob":
                    df = readers.read_blob(con.spark, paths)
                else:
                    df = readers.read_json(con.spark, paths)
            else:
                df = getattr(I, name)(con.spark)
        except Exception:
            return m.group(0)
        view = f"__tvf_{name}_{next(_seq)}"
        df.createOrReplaceTempView(view)
        return f"{prefix} {view} "

    return re.sub(
        r"(?is)(\bFROM|\bJOIN|,)\s*("
        + "|".join(_TVF_NAMES) + r")\s*\(([^()]*)\)",
        repl,
        query,
    )


def columns_star(con, query):
    """COLUMNS(...) star expressions (reference star_expression.hpp):
    schema-resolved replication of the enclosing list entry."""
    if not re.search(r"(?i)\bCOLUMNS\s*\(", query):
        return query
    from duckdb_spark.sql.columns_expr import expand_columns

    def _src_cols() -> list:
        span = _from_span(query)
        if span is None or not _outside(query, span, r"(?i)\bCOLUMNS\s*\("):
            raise LookupError("no FROM source to probe")
        return [f.name for f in _from_schema(con, query, span).fields]

    try:
        return expand_columns(query, _src_cols)
    except ValueError:
        raise
    except Exception:  # noqa: BLE001 — probe failed; leave untouched
        return query


def _reorder_using_star(con, query: str) -> str | None:
    """`SELECT * FROM a JOIN b USING (k) …` → explicit column list in
    the reference's order (left columns in place, right minus the join
    keys appended; reference bind_joinref.cpp USING/NATURAL binding).
    Returns None when the statement shape is not a plain star over a
    linear USING/NATURAL join chain."""
    from duckdb_spark.sql.dialect import _tokens

    m = re.match(r"(?is)^\s*SELECT\s+\*\s+FROM\s+(.*)$", query)
    if not m:
        return None
    toks = _tokens(m.group(1))
    # split the join chain at top-level JOIN keywords
    items: list[list[str]] = [[]]
    joins: list[dict] = []  # {natural: bool, using: [cols] | None}
    depth = 0
    i = 0
    stop = len(toks)
    while i < stop:
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and re.match(r"^[A-Za-z_]", t):
            up = t.upper()
            if up in ("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
                      "QUALIFY", "WINDOW", "UNION", "EXCEPT",
                      "INTERSECT", "OFFSET"):
                stop = i
                break
            if up in ("NATURAL", "JOIN", "INNER", "LEFT", "RIGHT",
                      "FULL", "OUTER", "CROSS", "SEMI", "ANTI", "ASOF"):
                if up in ("CROSS", "SEMI", "ANTI", "ASOF"):
                    return None
                nat = up == "NATURAL"
                j = i
                while j < stop and (
                    toks[j].isspace()
                    or (re.match(r"^[A-Za-z_]", toks[j])
                        and toks[j].upper() in (
                            "NATURAL", "INNER", "LEFT", "RIGHT", "FULL",
                            "OUTER", "JOIN"))
                ):
                    if toks[j].upper() == "JOIN":
                        break
                    j += 1
                if j >= stop or toks[j].upper() != "JOIN":
                    return None
                joins.append({"natural": nat, "using": None,
                              "kw_end": j})
                items.append([])
                i = j + 1
                continue
            if up == "USING" and joins:
                k = i + 1
                while k < stop and toks[k].isspace():
                    k += 1
                if k < stop and toks[k] == "(":
                    d2 = 0
                    close = -1
                    for q in range(k, stop):
                        if toks[q] == "(":
                            d2 += 1
                        elif toks[q] == ")":
                            d2 -= 1
                            if d2 == 0:
                                close = q
                                break
                    if close > 0:
                        joins[-1]["using"] = [
                            c.strip().strip('"').lower()
                            for c in "".join(toks[k + 1:close]).split(",")
                            if c.strip()]
                        i = close + 1
                        continue
            if up == "ON":
                return None  # mixed ON joins: Spark order already fine
        items[-1].append(t)
        i += 1
    if not joins or any(j["using"] is None and not j["natural"]
                        for j in joins):
        return None
    if len(items) != len(joins) + 1:
        return None
    tail = "".join(toks[stop:])

    def probe(item_toks: list[str]) -> list[str]:
        txt = "".join(item_toks).strip()
        if not txt:
            raise LookupError("empty join item")
        df = con.sql(f"SELECT * FROM {txt} LIMIT 0").df()
        return [f.name for f in df.schema.fields]

    cols = probe(items[0])
    for jn, item in zip(joins, items[1:]):
        rcols = probe(item)
        if jn["natural"]:
            shared = [c for c in cols
                      if c.lower() in {r.lower() for r in rcols}]
            if not shared:
                raise ValueError(
                    "Binder Error: No columns found to join on in "
                    "NATURAL join")
            keys = {c.lower() for c in shared}
        else:
            keys = set(jn["using"])
            for k in keys:
                if sum(1 for c in cols if c.lower() == k) > 1:
                    raise ValueError(
                        f"Binder Error: Ambiguous column reference "
                        f"\"{k}\" in USING clause")
                if sum(1 for c in rcols if c.lower() == k) > 1:
                    raise ValueError(
                        f"Binder Error: Ambiguous column reference "
                        f"\"{k}\" in USING clause")
        cols = cols + [c for c in rcols if c.lower() not in keys]
    low = [c.lower() for c in cols]
    if len(set(low)) != len(low):
        return None  # duplicate output names: can't reference safely
    proj = ", ".join(
        c if re.fullmatch(r"[A-Za-z_]\w*", c)
        else "`" + c.replace("`", "``") + "`" for c in cols)
    return f"SELECT {proj} FROM {m.group(1)}"


def using_star_order(con, query):
    """USING / NATURAL join star order (reference bind_joinref.cpp): the
    join column appears ONCE, in the LEFT table's position; Spark hoists
    using-columns to the front. Rewrite `SELECT *` to the reference's
    explicit column order (schema-probed), and raise the reference's
    ambiguity error for a USING name visible twice."""
    if not re.search(r"(?is)\bUSING\s*\(|\bNATURAL\s+(?:INNER\s+|LEFT\s+"
                     r"|RIGHT\s+|FULL\s+|OUTER\s+)*JOIN\b", query):
        return query
    try:
        rewritten = _reorder_using_star(con, query)
    except ValueError:
        raise
    except Exception:  # noqa: BLE001 — unparsed shape: leave as-is
        rewritten = None
    return rewritten or query


def struct_unnest(con, query):
    """UNNEST of a STRUCT column expands to one column per field
    (reference bind_unnest.cpp struct unnest); Spark's explode only takes
    arrays/maps, but `col.*` is the exact equivalent. The FROM schema
    tells structs from arrays."""
    unnest = r"(?is)\bUNNEST\s*\(\s*[A-Za-z_\"]"
    span = re.search(unnest, query) and _from_span(query)
    if not span or not _outside(query, span, unnest):
        return query
    try:
        schema = _from_schema(con, query, span)
    except Exception:  # noqa: BLE001 — fall through untouched
        return query
    structs = {f.name.lower() for f in schema.fields
               if f.dataType.typeName() == "struct"}

    def _su(mm: re.Match) -> str:
        arg = mm.group(1).strip()
        base = arg.split(".")[-1].strip('"').lower()
        return f"{arg}.*" if base in structs else mm.group(0)

    return re.sub(
        r"(?is)\bUNNEST\s*\(\s*([A-Za-z_][\w.]*|\"[^\"]+\")\s*\)", _su, query)


def positional_ref(con, query):
    """Positional column references `#N` (reference positional_reference
    binder): resolve against the FROM relation's schema at bind time.
    Not for set-op statements — there #N appears in the trailing ORDER BY
    and binds the union OUTPUT (the dialect layer rewrites those to
    ordinals)."""
    if not re.search(r"#\d+", query) or re.search(
        r"(?is)\b(UNION|EXCEPT|INTERSECT)\b", query,
    ):
        return query
    # `#N` binds only the innermost SELECT's own FROM: a subquery scope
    # without a FROM cannot see the outer relation — error, not outer bind
    _stack = [0]
    _next_id = 1
    _info: dict[int, list[bool]] = {0: [False, False]}
    _hash_scopes: list[int] = []
    _parent = {0: 0}
    for _t in dialect._tokens(query):
        if _t == "(":
            _parent[_next_id] = _stack[-1]
            _info[_next_id] = [False, False]
            _stack.append(_next_id)
            _next_id += 1
        elif _t == ")":
            if len(_stack) > 1:
                _stack.pop()
        elif re.match(r"^[A-Za-z_]", _t):
            if _t.upper() == "SELECT":
                _info[_stack[-1]][0] = True
            elif _t.upper() == "FROM":
                _info[_stack[-1]][1] = True
        elif _t == "#":
            _hash_scopes.append(_stack[-1])
    for _sid in _hash_scopes:
        while _sid != 0 and not _info[_sid][0]:
            _sid = _parent[_sid]
        if _info[_sid][0] and not _info[_sid][1]:
            raise ValueError(
                "Binder Error: Positional reference is out of range"
            )
    span = _from_span(query)
    if span is None or not _outside(query, span, r"#\d+"):
        return query
    start, end = span
    try:
        schema = _from_schema(con, query, span)
        cols = [f.name for f in schema.fields]
        if len(set(c.lower() for c in cols)) == len(cols):
            return re.sub(
                r"#(\d+)",
                lambda g: f"`{cols[int(g.group(1)) - 1]}`"
                if 0 < int(g.group(1)) <= len(cols)
                else g.group(0),
                query,
            )
        # duplicate FROM column names (`FROM range(1) a, range(1) b`):
        # name-based rewrite would be ambiguous — publish positional alias
        # columns
        from pyspark.sql import functions as F

        base = con.sql(f"SELECT * FROM {query[start:end]}").df()
        renamed = base.toDF(*[f"__pos_{i + 1}" for i in range(len(cols))])
        lowers = [c.lower() for c in cols]
        aug = renamed.select(
            "*",
            *[F.col(f"__pos_{i + 1}").alias(cols[i])
              for i in range(len(cols))
              if lowers.count(lowers[i]) == 1],
        )
        aug.createOrReplaceTempView("__positional_from")
        query = query[:start] + " __positional_from " + query[end:]
        return re.sub(
            r"#(\d+)",
            lambda g: f"__pos_{g.group(1)}"
            if 0 < int(g.group(1)) <= len(cols)
            else g.group(0),
            query,
        )
    except Exception:  # noqa: BLE001 — probe failed; leave untouched
        return query


def lateral_recursive(con, query):
    """`SELECT … FROM <outer>, LATERAL (WITH RECURSIVE …) [alias]
    [tail]` — the recursion is correlated on outer columns, which no
    Spark shape supports. Driver loop: bind each outer row's columns
    as literals inside the lateral body, run the recursive CTE, and
    union the cross products (reference correlated recursive CTE;
    outer side capped at 1000 rows — these are generator-style
    probes, not fact scans)."""
    if not re.search(r"(?is)\bLATERAL\s*\(\s*WITH\s+RECURSIVE\b", query):
        return query
    from duckdb_spark.sql.dialect import _match_paren, _tokens

    toks = _tokens(query)
    lat = next(
        (k for k, t in enumerate(toks)
         if re.match(r"^[A-Za-z_]", t) and t.upper() == "LATERAL"),
        None,
    )
    if lat is None:
        return query
    op = lat + 1
    while op < len(toks) and toks[op].isspace():
        op += 1
    if op >= len(toks) or toks[op] != "(":
        return query
    oc = _match_paren(toks, op)
    if oc < 0:
        return query
    inner = "".join(toks[op + 1:oc])
    # outer region: top-level FROM … up to the comma before LATERAL
    depth = 0
    fromi = -1
    for k in range(lat):
        t = toks[k]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and re.match(r"^[A-Za-z_]", t) and \
                t.upper() == "FROM":
            fromi = k
    if fromi < 0:
        return query
    comma = -1
    depth = 0
    for k in range(fromi, lat):
        t = toks[k]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif t == "," and depth == 0:
            comma = k
    if comma < 0:
        return query
    sel_start = next(
        (k for k, t in enumerate(toks)
         if re.match(r"^[A-Za-z_]", t) and t.upper() == "SELECT"),
        None,
    )
    if sel_start is None or sel_start > fromi:
        return query
    sel = "".join(toks[sel_start + 1:fromi]).strip()
    outer_src = "".join(toks[fromi + 1:comma]).strip()
    # optional alias (+ column list) after the lateral group
    k = oc + 1
    while k < len(toks) and toks[k].isspace():
        k += 1
    if k < len(toks) and re.match(r"^[A-Za-z_]", toks[k]) and \
            toks[k].upper() == "AS":
        k += 1
        while k < len(toks) and toks[k].isspace():
            k += 1
    inner_cols: list[str] | None = None
    if k < len(toks) and re.match(r"^[A-Za-z_]\w*$", toks[k]) and \
            toks[k].upper() not in ("ORDER", "WHERE", "GROUP", "LIMIT",
                                    "QUALIFY", "HAVING", "UNION"):
        k += 1  # alias name (scope is flat here)
        while k < len(toks) and toks[k].isspace():
            k += 1
        if k < len(toks) and toks[k] == "(":
            cc = _match_paren(toks, k)
            if cc > 0:
                inner_cols = [
                    c.strip() for c in
                    "".join(toks[k + 1:cc]).split(",")
                ]
                k = cc + 1
    tail = "".join(toks[k:]).strip()
    outer_df = con.sql(f"SELECT * FROM {outer_src}").df()
    outer_rows = outer_df.limit(1001).collect()
    if len(outer_rows) > 1000:
        raise ValueError(
            "correlated recursive CTE: outer side exceeds the "
            "1000-row driver-loop cap"
        )
    o_names = outer_df.columns
    o_types = [f.dataType for f in outer_df.schema.fields]
    # Names the lateral body declares itself — recursive-CTE names and
    # column lists, SELECT aliases — shadow same-named outer columns;
    # substituting into them breaks the CTE's own references (ADVICE
    # r07 item 4).
    shadowed: set[str] = set()
    for m in re.finditer(
        r"(?is)\bRECURSIVE\s+([A-Za-z_]\w*)\s*\(([^()]*)\)", inner
    ):
        shadowed.add(m.group(1).lower())
        shadowed.update(
            c.strip().strip('`"').lower()
            for c in m.group(2).split(",") if c.strip()
        )
    shadowed.update(
        m.group(1).lower()
        for m in re.finditer(r"(?is)\bAS\s+([A-Za-z_]\w*)", inner)
    )
    # outer alias (for dot-qualified correlated refs like alias.col)
    oalias = None
    ma = re.search(
        r"(?is)(?:\bAS\s+)?([A-Za-z_]\w*)\s*"
        r"(?:\(\s*[A-Za-z_][\w\s,]*\))?\s*$", outer_src,
    )
    if ma and ma.group(1).upper() not in ("WHERE", "ON", "USING"):
        oalias = ma.group(1)
    combined = []
    res_schema = None
    for row in outer_rows:
        bound = inner
        for nm, val, dt in zip(o_names, row, o_types):
            lit = _sql_lit(val, dt)
            if oalias:
                bound = re.sub(
                    rf"(?is)(?<![\w.]){re.escape(oalias)}\s*\.\s*"
                    rf"{re.escape(nm)}\b(?!\s*\.)",
                    lit.replace("\\", "\\\\"), bound,
                )
            if nm.lower() not in shadowed:
                bound = re.sub(
                    rf"(?is)(?<![\w.]){re.escape(nm)}(?!\s*\()\b(?!\s*\.)",
                    lit.replace("\\", "\\\\"), bound,
                )
        try:
            r = con.sql(bound)
            if r is None:
                return query
            rdf = r.df()
            if inner_cols:
                rdf = rdf.toDF(*(
                    inner_cols + rdf.columns[len(inner_cols):]))
            res_schema = rdf.schema
            rows_i = rdf.collect()
        except Exception:  # noqa: BLE001 — native path reports the error
            return query
        for irow in rows_i:
            combined.append(tuple(row) + tuple(irow))
    if res_schema is None:
        return query
    from pyspark.sql import types as T

    schema = T.StructType(
        list(outer_df.schema.fields) + list(res_schema.fields))
    out_df = con.spark.createDataFrame(combined, schema)
    view = f"__lat_rec_{next(_seq)}"
    out_df.createOrReplaceTempView(view)
    return con.sql(f"SELECT {sel} FROM {view} {tail}")


def _recursive_cte_sql(con, rec: dict):
    """Driver-loop evaluation of the recursive-CTE forms Spark's
    native recursion can't run (UNION-distinct, USING KEY). The
    recursive reference is the WORKING table (last round's rows);
    `recurring.<name>` is the accumulated keyed state (reference
    physical_recursive_cte.cpp / physical_recursive_cte_key_join.cpp).
    Each round localCheckpoints to truncate lineage; the accumulated
    result stays partitioned (SURVEY §2.7 scale notes)."""
    from duckdb_spark.sql.dialect import rename_table_ident

    name, cols, key = rec["name"], rec["cols"], rec["key"]
    internal = f"__rec_{name}"
    recurring = f"__recurring_{name}"

    def _subst(sql: str) -> str:
        # `recurring.name` → the state view, bare `name` → the working
        # view (order matters: the qualified form first)
        sql = re.sub(
            rf"(?is)\brecurring\s*\.\s*{re.escape(name)}\b", recurring, sql
        )
        return rename_table_ident(sql, name, internal)

    from duckdb_spark.sql.dialect import _tokens, _top_level_index

    step_toks = _tokens(rec["step"])
    for kw in ("ORDER", "LIMIT", "OFFSET"):
        ix = _top_level_index(step_toks, 0, len(step_toks), kw)
        if ix >= 0:
            raise ValueError(
                f"Binder Error: {kw} BY is not supported in the "
                f"recursive term of a recursive CTE"
                if kw == "ORDER"
                else f"Binder Error: {kw} is not supported in the "
                     f"recursive term of a recursive CTE"
            )
    # Spark's LogicalRDD.rewriteStatsAndConstraints throws on
    # checkpointed-union constraints (stale exprIds); the loop doesn't
    # benefit from constraint inference — turn it off for the duration
    cp_key = "spark.sql.constraintPropagation.enabled"
    cp_old = con.spark.conf.get(cp_key, "true")
    con.spark.conf.set(cp_key, "false")
    try:
        return _recursive_cte_run(con, rec, _subst, cols)
    finally:
        con.spark.conf.set(cp_key, cp_old)


def _recursive_cte_run(con, rec: dict, _subst, cols):
    name, key = rec["name"], rec["key"]
    internal = f"__rec_{name}"
    recurring = f"__recurring_{name}"
    base_df = con.sql(rec["base"]).df()
    if cols:
        base_df = base_df.toDF(*cols)
    out_cols = base_df.columns
    step_sql = _subst(rec["step"])
    if key:
        acc = _recursive_keyed(
            con, base_df, step_sql, key, out_cols, internal, recurring,
            rec["distinct"],
        )
    else:
        distinct = rec["distinct"]
        # UNION identity applies to the base rows too
        acc = _materialize(base_df.distinct() if distinct else base_df)
        acc_n = acc.count()
        if acc_n <= 2000 and _inlinable_schema(acc.schema):
            # long-thin recursions (1000 rounds of one row) cost a
            # full Spark job per round in the DataFrame loop; inline
            # the working set as VALUES text and iterate driver-side
            fast = _recursive_plain_driver(
                con, acc, step_sql, internal, recurring, distinct
            )
            if fast is not None:
                fast.createOrReplaceTempView(internal)
                try:
                    return con.sql(_subst(rec["tail"]))
                finally:
                    try:
                        con.spark.catalog.dropTempView(recurring)
                    except Exception:
                        pass
        working = acc
        lm = re.search(r"(?is)\bLIMIT\s+(\d+)\b", rec["tail"])
        for _rnd in range(200):
            if lm and _rnd % 16 == 15:
                # unbounded recursion drained through a LIMIT: stop
                # as soon as the tail is satisfied (reference
                # pipelined recursion; checked every 16 rounds)
                acc.createOrReplaceTempView(internal)
                res = con.sql(_subst(rec["tail"]))
                n_lim = int(lm.group(1))
                if res is not None and \
                        res.df().limit(n_lim).count() >= n_lim:
                    try:
                        return res
                    finally:
                        try:
                            con.spark.catalog.dropTempView(recurring)
                        except Exception:  # noqa: BLE001
                            pass
            working.createOrReplaceTempView(internal)
            acc.createOrReplaceTempView(recurring)
            nxt = con.sql(step_sql).df().toDF(*out_cols)
            if distinct:
                # subtract = EXCEPT DISTINCT: dedupe within the round
                # AND against the accumulated set (exceptAll is
                # multiset — duplicate production would survive one
                # removal)
                nxt = _materialize(nxt.subtract(acc))
            else:
                nxt = _materialize(nxt)
            if nxt.isEmpty():
                break
            acc = _materialize(acc.unionByName(nxt))
            working = nxt
        else:
            # unbounded recursion consumed through a LIMIT: if the
            # tail is already satisfied by the accumulated rows,
            # stop producing (reference pipelined recursion stops
            # when the limit operator is full)
            lm = re.search(r"(?is)\bLIMIT\s+(\d+)\b", rec["tail"])
            if lm:
                acc.createOrReplaceTempView(internal)
                res = con.sql(_subst(rec["tail"]))
                n_lim = int(lm.group(1))
                if res is not None and \
                        res.df().limit(n_lim).count() >= n_lim:
                    try:
                        return res
                    finally:
                        try:
                            con.spark.catalog.dropTempView(recurring)
                        except Exception:  # noqa: BLE001
                            pass
            raise RuntimeError(
                "recursive CTE: no fixpoint after 200 rounds"
            )
    acc.createOrReplaceTempView(internal)
    try:
        return con.sql(_subst(rec["tail"]))
    finally:
        for v in (recurring,):
            try:
                con.spark.catalog.dropTempView(v)
            except Exception:
                pass


def _recursive_plain_driver(
    con,
    acc_df: DataFrame,
    step_sql: str,
    internal: str,
    recurring: str,
    distinct: bool = True,
) -> DataFrame | None:
    """Driver-side recursion: the working set is inlined as a VALUES
    temp view each round (no per-round Spark job beyond the step
    itself); UNION rows dedupe in a Python set. Returns the final
    DataFrame, or None to fall back to the distributed loop when the
    frontier outgrows the inline budget."""
    schema = acc_df.schema
    cols = [f.name for f in schema.fields]
    types = [f.dataType for f in schema.fields]
    need_recurring = recurring in step_sql

    def _mkview(name: str, rows) -> None:
        vals = ", ".join(
            "(" + ", ".join(_sql_lit(v, t) for v, t in zip(r, types)) + ")"
            for r in rows
        )
        collist = ", ".join(f"`{c}`" for c in cols)
        con.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {name} AS "
            f"SELECT * FROM (VALUES {vals}) AS __v({collist})"
        )

    rows0 = [tuple(r) for r in acc_df.collect()]
    if distinct:
        seen: set = set(rows0)
        all_rows = list(seen)
        working = list(seen)
    else:
        all_rows = list(rows0)
        working = list(rows0)
    for _ in range(20000):
        if len(working) > 2000 or len(all_rows) > 50000:
            return None
        _mkview(internal, working)
        if need_recurring:
            _mkview(recurring, all_rows)
        nxt = [tuple(r) for r in con.sql(step_sql).df().collect()]
        if distinct:
            fresh = [r for r in dict.fromkeys(nxt) if r not in seen]
            if not fresh:
                break
            seen.update(fresh)
        else:
            fresh = nxt
            if not fresh:
                break
        all_rows.extend(fresh)
        working = fresh
    else:
        raise RuntimeError("recursive CTE: no fixpoint after 20000 rounds")
    # materialize through the same VALUES rendering: collected rows may
    # be wider than the base schema (step-side type promotion) or NULL
    # where the literal-derived base schema says non-nullable
    vals = ", ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, t in zip(r, types)) + ")"
        for r in all_rows
    )
    collist = ", ".join(f"`{c}`" for c in cols)
    return con.spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS __v({collist})"
    )


def _recursive_keyed(
    con,
    base_df: DataFrame,
    step_sql: str,
    key: list[str],
    out_cols: list[str],
    internal: str,
    recurring: str,
    distinct: bool,
) -> DataFrame:
    """USING KEY state loop. Key entries are plain columns or
    per-column aggregates (`USING KEY (a, max(b))`, reference
    physical_recursive_cte_key_join.cpp): the state groups every row
    ever produced by the plain keys; aggregate entries combine, all
    other columns take the latest round's value (replace-by-key)."""
    plain: list[str] = []
    aggs: dict[str, str] = {}  # target col -> full aggregate expr
    for k in key:
        am = re.match(r"(?is)^(.*\))\s+AS\s+([A-Za-z_]\w*)\s*$", k.strip())
        if am:
            # `sum(v) AS v`: explicit target column
            aggs[am.group(2).lower()] = am.group(1).strip()
            continue
        m = re.match(
            r"(?is)^\s*[A-Za-z_]\w*\s*\(\s*([A-Za-z_]\w*)\s*[,)]", k
        )
        if m:
            # `avg(b)` / `arg_min(via, len)`: the first argument names
            # the column the aggregate maintains
            if m.group(1).lower() in aggs:
                raise ValueError(
                    "Binder Error: column references in the USING KEY "
                    "aggregate list must be unique"
                )
            aggs[m.group(1).lower()] = k.strip()
        elif k.lower() not in (p.lower() for p in plain):
            # duplicate plain keys dedupe
            # (recursive_cte_key_aggregation.test:116)
            plain.append(k)
    hist = _materialize(base_df.withColumn("__iter", F.lit(0)))
    hist_name = internal + "__hist"

    def _state(h: DataFrame) -> DataFrame:
        if not aggs and not [c for c in out_cols if c not in plain]:
            return h.drop("__iter")
        parts = []
        for c in out_cols:
            if c in plain:
                continue
            expr = aggs.get(c.lower())
            if expr:
                # ORDER-SENSITIVE aggregates consume the produced rows
                # in INSERTION order (reference keyed-aggregate state
                # appends round by round;
                # recursive_cte_key_aggregation.test:137)
                if expr.endswith(")") and re.match(
                    r"(?is)^\s*(list|array_agg|collect_list|"
                    r"string_agg|group_concat|listagg|first|last)\s*\(",
                    expr,
                ) and not re.search(r"(?is)\bORDER\s+BY\b", expr):
                    expr = expr[:-1] + " ORDER BY __iter)"
                parts.append(f"{expr} AS {c}")
            else:
                parts.append(f"max_by({c}, __iter) AS {c}")
        h.createOrReplaceTempView(hist_name)
        # keys keep their STORED representation: Spark's GROUP BY
        # normalizes -0.0 to 0.0 in the output key, but the reference
        # keyed state retains the first-stored value when an
        # equality-compatible probe differs
        # (recursive_cte_key_probe.test:102)
        key_sel = [f"min_by({k}, __iter) AS {k}" for k in plain]
        sel = ", ".join(key_sel + parts)
        return con.sql(
            f"SELECT {sel} FROM {hist_name} GROUP BY {', '.join(plain)}"
        ).df().select(*out_cols)

    working = base_df
    state = _materialize(_state(hist))
    for it in range(1, 200):
        working.createOrReplaceTempView(internal)
        state.createOrReplaceTempView(recurring)
        nxt = con.sql(step_sql).df().toDF(*out_cols)
        if distinct and not aggs:
            # aggregate entries consume EVERY produced row — a re-
            # produced row still feeds string_agg/list
            # (recursive_cte_key_aggregation.test:128); plain keyed
            # recursion dedupes for termination
            nxt = nxt.exceptAll(hist.drop("__iter")).distinct()
        nxt = _materialize(nxt)
        if nxt.isEmpty():
            return state
        hist = _materialize(hist.unionByName(
            nxt.withColumn("__iter", F.lit(it))
        ))
        new_state = _materialize(_state(hist))
        if (
            new_state.exceptAll(state).isEmpty()
            and state.exceptAll(new_state).isEmpty()
        ):
            return new_state
        state, working = new_state, nxt
    raise RuntimeError("recursive CTE USING KEY: no fixpoint after 200 rounds")


def recursive_cte(con, query):
    # `recurring.<name>` (accumulated-state reference) only exists in the
    # iterative loop — Spark's native recursion can't resolve it
    rec = dialect.split_recursive_cte(
        query,
        include_union_all=bool(re.search(r"(?is)\brecurring\s*\.", query)),
    )
    return query if rec is None else _recursive_cte_sql(con, rec)


_LIM_ALT = (
    r"\(\s*SELECT\b[^;]*?\)|'[^']*'(?:\s*::\s*\w+)?"
    r"|[\d.]+(?:\s*::\s*\w+)?|[A-Za-z_]\w*\s*\([^()]*\)"
)


def limit_expr(con, query):
    """LIMIT/OFFSET with non-integer or subquery expressions, evaluated
    up front."""
    m = re.match(
        rf"(?is)^(.*)\bLIMIT\s+({_LIM_ALT})"
        rf"(?:\s+OFFSET\s+({_LIM_ALT}))?\s*;?\s*$",
        query,
    )
    if not m or re.fullmatch(r"\d+", m.group(2).strip()) or \
            m.group(1).count("(") != m.group(1).count(")"):
        return query

    def _ev(expr: str) -> int | None:
        # scalar subqueries may reference the statement's CTEs
        pre = dialect.split_with_prefix(m.group(1))[0] \
            if expr.strip().startswith("(") else ""
        v = _limit_value(con, expr, pre)
        return None if v is None else int(v)

    df = con.sql(m.group(1)).df()
    if m.group(3):
        off = _ev(m.group(3))
        if off:
            df = df.offset(off)
    lim = _ev(m.group(2))
    return df if lim is None else df.limit(lim)


def offset_expr(con, query):
    """OFFSET-only with a non-literal expression (OFFSET RANDOM(),
    OFFSET (SELECT …)), evaluated up front like LIMIT."""
    m = re.match(rf"(?is)^(.*)\bOFFSET\s+({_LIM_ALT})\s*;?\s*$", query)
    if not m or re.fullmatch(r"\d+", m.group(2).strip()) or \
            m.group(1).count("(") != m.group(1).count(")") or \
            re.search(r"(?is)\bLIMIT\b[^()]*$", m.group(1)):
        return query
    v = _limit_value(con, m.group(2))
    return con.sql(m.group(1)).df().offset(0 if v is None else int(v))


def union_by_name(con, query):
    """Set operations with a BY NAME arm, combined on DataFrames."""
    ubn = dialect.split_union_by_name(query)
    if not ubn:
        return query
    from pyspark.sql import functions as F

    branches, ops, tail = ubn

    def _branch_df(b: str):
        # a parenthesized branch may hold its own UNION BY NAME
        if re.search(r"(?is)\bBY\s+NAME\b", b):
            from duckdb_spark.sql.dialect import _match_paren, _next_code

            bt = dialect._tokens(b)
            k = _next_code(bt, 0)
            while k < len(bt) and bt[k] == "(":
                c = _match_paren(bt, k)
                if c < 0 or _next_code(bt, c + 1) < len(bt):
                    break
                b = "".join(bt[k + 1:c])
                bt = dialect._tokens(b)
                k = _next_code(bt, 0)
            return con.sql(b).df()
        return con.spark.sql(dialect.translate(b))

    df = _branch_df(branches[0])
    for branch, op in zip(branches[1:], ops):
        rhs = _branch_df(branch)
        if op.endswith("BY NAME") and op.startswith("UNION"):
            from duckdb_spark.sql.nestcmp import union_by_name_unified

            df = union_by_name_unified(df, rhs)
            if " ALL" not in op:
                df = df.distinct()
        elif op.endswith("BY NAME"):
            # EXCEPT/INTERSECT BY NAME: align rhs to lhs by name
            rl = {c.lower(): c for c in rhs.columns}
            rhs2 = rhs.select(*[
                rhs[rl[c.lower()]].alias(c) if c.lower() in rl
                else F.lit(None).alias(c) for c in df.columns
            ])
            if op.startswith("EXCEPT"):
                df = df.exceptAll(rhs2) if " ALL" in op \
                    else df.subtract(rhs2)
            else:
                df = df.intersectAll(rhs2) if " ALL" in op \
                    else df.intersect(rhs2)
        elif op == "UNION":
            df = df.union(rhs).distinct()
        elif op == "UNION ALL":
            df = df.union(rhs)
        elif op == "EXCEPT":
            df = df.subtract(rhs)
        elif op == "EXCEPT ALL":
            df = df.exceptAll(rhs)
        elif op == "INTERSECT":
            df = df.intersect(rhs)
        else:  # INTERSECT ALL
            df = df.intersectAll(rhs)
    if tail:
        # DuckDB accepts table-qualified branch columns in the trailing
        # ORDER BY (ORDER BY t1.x after UNION BY NAME); the qualifier is
        # gone on the union output — strip it
        cols = {c.lower() for c in df.columns}
        # …and names from any inner set-op arm resolve to the arm's
        # position (ORDER BY y when branch 1 is
        # `SELECT x … UNION ALL SELECT y …`)
        amap: dict[str, str] = {}
        for b in branches:
            for nm, canon in dialect.setop_alias_map(b).items():
                if nm.lower() not in cols and canon.lower() in cols:
                    amap.setdefault(nm.lower(), canon)

        def _resolve(name: str) -> str | None:
            if name.lower() in cols:
                return name
            return amap.get(name.lower())

        tail = re.sub(
            r"\b[A-Za-z_]\w*\.([A-Za-z_]\w*)\b",
            lambda m: _resolve(m.group(1)) or m.group(0),
            tail,
        )
        if amap:
            tail = re.sub(
                r"\b[A-Za-z_]\w*\b",
                lambda m: amap.get(m.group(0).lower(), m.group(0)),
                tail,
            )
        df.createOrReplaceTempView("__union_by_name")
        df = con.spark.sql(dialect.translate(
            f"SELECT * FROM __union_by_name {tail}"))
    return df


STEPS = (
    prepared_statement, macro_ddl, macro_expand, managed_table,
    recursive_view, copy_to, copy_from, describe_cte, describe_in_from,
    describe, limit_percent_nested, limit_percent, create_schema,
    drop_schema, strip_unused_ctes, string_tables, sql_table_functions,
    columns_star, using_star_order, struct_unnest, positional_ref,
    lateral_recursive, recursive_cte, limit_expr, offset_expr,
    union_by_name,
)


# -------------------------------------------------------------- fallbacks

def struct_subscript(con, query, tq, msg):
    """`s['field']` subscripts are type-ambiguous at translate time (map
    key vs struct field): the struct reading, when the map reading fails
    analysis."""
    if "element_at" in msg and ("UNEXPECTED_INPUT_TYPE" in msg or "MAP" in msg):
        return _translate_with(query, tq, {"__struct_subscript": "1"})
    return None


def runtime_text_cast(con, query, tq, msg):
    """String → LIST/STRUCT/MAP casts of non-literal operands have no
    native Spark cast: the per-target-type parse UDF emission (reference
    string_cast.cpp runtime cast)."""
    if not ((
        "CAST_WITHOUT_SUGGESTION" in msg and re.search(
            r'cannot cast "STRING" to "(ARRAY|MAP|STRUCT)'
            r'|cannot cast "(ARRAY|MAP|STRUCT)[^"]*" to "STRING"', msg)
    ) or (
        # string operand reached the struct→MAP to_json path
        "INVALID_JSON_SCHEMA" in msg and "to_json" in msg
    )):
        return None
    from duckdb_spark.sql.textcast import RUNTIME_CASTS, runtime_cast_fn
    from duckdb_spark.types import duckdb_type_to_spark

    retried = _translate_with(query, tq, {"__text_cast_runtime": "1"})
    if retried is None:
        return None
    done = con._rtcast_registered
    for name, (ducktype, is_try) in list(RUNTIME_CASTS.items()):
        if name not in done:
            con.spark.udf.register(name, runtime_cast_fn(ducktype, is_try),
                                   duckdb_type_to_spark(ducktype))
            done.add(name)
    return retried


def recursive_loop(con, query, tq, msg):
    """Spark's native recursion rejects some shapes (nested WITH in the
    recursive term, multiple self-references, subqueries in the anchor or
    step — internal errors, not typed analysis ones): any failure of a
    WITH RECURSIVE query retries UNION ALL recursion through the
    iterative loop."""
    if "RECURSIVE" in msg or re.search(r"(?i)\bWITH\s+RECURSIVE\b", query):
        rec = dialect.split_recursive_cte(query, include_union_all=True)
        if rec is not None:
            return _recursive_cte_sql(con, rec)
    return None


def decorrelate(con, query, tq, msg):
    """Deep correlation Catalyst won't decorrelate — manual
    flatten_dependent_join (sql/decorrelate.py). Bounded recursion
    (depth 3): nested LATERALs re-enter with the outer key already bound
    to a literal, and each nesting level consumes one slot
    (test_correlated_subquery_cte.test lateral_depth > 0)."""
    if not (
        "UNSUPPORTED_SUBQUERY_EXPRESSION" in msg
        or "INVALID_WHERE_CONDITION" in msg
        or "SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE" in msg
        or "AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL" in msg
        or "CORRELATED_COLUMN_NOT_ALLOWED" in msg
        or "MISSING_GROUP_BY" in msg
        # two-level-deep correlation surfaces as a plain unresolved column
        # (Spark only binds outer refs one level up)
        or ("UNRESOLVED_COLUMN" in msg
            and re.search(r"(?i)\(\s*SELECT\b", query))
        # deferred per-row sequence calls (macros._expand_once leaves
        # correlated-volatile nextval/currval unexpanded for the
        # decorrelator to evaluate per physical row)
        or ("UNRESOLVED_ROUTINE" in msg
            and re.search(r"(?i)`(nextval|currval)`", msg)
            and re.search(r"(?i)\(\s*SELECT\b", query))
        # correlated column under a generator (UNNEST of an outer
        # struct/list — unnest_struct_subquery.test:15)
        or ("UNEXPECTED_INPUT_TYPE" in msg and "outer(" in msg)
    ) or con._decorrelate_depth >= 3:
        return None
    from duckdb_spark.sql.decorrelate import decorrelate_retry

    con._decorrelate_depth += 1
    try:
        return decorrelate_retry(con, query)
    finally:
        con._decorrelate_depth -= 1


def subquery_select_alias(con, query, tq, msg):
    """A SELECT-list alias referenced inside a subquery: the reference
    binds grouping-expression aliases there; Spark doesn't — inline the
    definition into subquery positions
    (test_grouped_correlated_subquery.test:49)."""
    mu = re.search(r"name `(.+?)` cannot be resolved", msg)
    if not (mu and "`" not in mu.group(1) and "UNRESOLVED_COLUMN" in msg
            and re.search(r"(?i)\(\s*SELECT\b", query)):
        return None
    from duckdb_spark.sql.dialect import (
        _collect_select_aliases,
        _next_code as _nc4,
        _prev_code as _pc4,
    )

    toks4 = dialect._tokens(query)
    als = _collect_select_aliases(toks4)
    nm = mu.group(1).lower()
    if nm not in als:
        return None
    stack4: list[bool] = []
    changed4 = False
    for x4, t4 in enumerate(toks4):
        if t4 == "(":
            nn = _nc4(toks4, x4 + 1)
            stack4.append(
                nn < len(toks4)
                and re.match(r"^[A-Za-z_]", toks4[nn]) is not None
                and toks4[nn].upper() in ("SELECT", "WITH"))
        elif t4 == ")":
            if stack4:
                stack4.pop()
        elif re.fullmatch(r"[A-Za-z_]\w*", t4) and \
                t4.lower() == nm and any(stack4):
            p4 = _pc4(toks4, x4 - 1)
            n4 = _nc4(toks4, x4 + 1)
            if (p4 < 0 or toks4[p4] != ".") and \
                    (n4 >= len(toks4) or toks4[n4] != "(") and \
                    not (p4 >= 0
                         and re.match(r"^[A-Za-z_]", toks4[p4])
                         and toks4[p4].upper() == "AS"):
                toks4[x4] = f"({als[nm]})"
                changed4 = True
    return con.sql("".join(toks4)) if changed4 else None


def _setop_orderby_ordinal(con, query: str, failed: str):
    """Rewrite a set-op's trailing `ORDER BY <name>` to an ordinal when
    <name> is a column of ANY branch (reference bind_setop ORDER BY
    binding; test_union_binding.test:193). Returns a Relation or
    None."""
    from duckdb_spark.sql.dialect import (
        _is_word as _isw,
        _next_code as _nc,
        _tokens as _tk,
    )

    toks = _tk(query)
    # last top-level ORDER BY
    depth = 0
    ob = -1
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _isw(t, "ORDER"):
            j = _nc(toks, i + 1)
            if j < len(toks) and _isw(toks[j], "BY"):
                ob = i
    if ob < 0:
        return None
    # set-op branches before the ORDER BY (depth-0 splits)
    branches = []
    depth = 0
    st = 0
    i = 0
    while i < ob:
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and _isw(t, "UNION") or depth == 0 and (
                _isw(t, "EXCEPT") or _isw(t, "INTERSECT")):
            branches.append("".join(toks[st:i]).strip())
            st = i + 1
            j = _nc(toks, i + 1)
            while j < ob and re.match(r"^[A-Za-z_]", toks[j]) and \
                    toks[j].upper() in ("ALL", "BY", "NAME", "DISTINCT"):
                st = j + 1
                j = _nc(toks, j + 1)
            i = st
            continue
        i += 1
    branches.append("".join(toks[st:ob]).strip())
    if len(branches) < 2:
        return None
    parts = failed.split("`.`")
    want = parts[-1].lower()
    qual = parts[0].lower() if len(parts) > 1 else None
    ordinal = None
    for br in branches:
        b = br.strip()
        while b.startswith("(") and b.endswith(")"):
            b = b[1:-1].strip()
        if qual and not re.search(
                rf"(?is)\b{re.escape(qual)}\b", b):
            continue
        try:
            cols = [c.lower() for c in con.sql(b).df().columns]
        except Exception:  # noqa: BLE001 — branch may not run alone
            continue
        if want in cols:
            ordinal = cols.index(want) + 1
            break
    if ordinal is None:
        return None
    # replace ORDER BY items that reference the failed name
    by = _nc(toks, ob + 1)
    k = by + 1
    depth = 0
    changed = False
    while k < len(toks):
        t = toks[k]
        if t == "(":
            depth += 1
        elif t == ")":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and re.match(r"^[A-Za-z_]", t) and \
                t.upper() in ("LIMIT", "OFFSET"):
            break
        if depth == 0 and re.fullmatch(r"[A-Za-z_]\w*", t) and \
                t.lower() == want:
            p0 = k - 1
            while p0 >= 0 and toks[p0].isspace():
                p0 -= 1
            lo = k
            if p0 >= 1 and toks[p0] == "." and \
                    toks[p0 - 1].lower() == (qual or ""):
                lo = p0 - 1
            elif p0 >= 0 and toks[p0] == ".":
                k += 1
                continue
            toks[lo:k + 1] = [str(ordinal)]
            k = lo + 1
            changed = True
            continue
        k += 1
    if not changed:
        return None
    try:
        return con.sql("".join(toks))
    except Exception:  # noqa: BLE001 — keep original error
        return None


def setop_order_ordinal(con, query, tq, msg):
    """ORDER BY over a set operation binds against ANY branch's column
    names (reference bind_setop); Spark only exposes the first branch's
    names — rewrite the item to its ordinal
    (test_union_binding.test:193)."""
    mu = re.search(r"name `(.+?)` cannot be resolved", msg)
    if mu and "UNRESOLVED_COLUMN" in msg and re.search(
            r"(?is)\b(UNION|EXCEPT|INTERSECT)\b", query):
        return _setop_orderby_ordinal(con, query, mu.group(1))
    return None


def string_index(con, query, tq, msg):
    """Chained indexing that bottoms out on a VARCHAR: `b[1][1]` is DuckDB
    string indexing — one character, '' out of range
    (list_updates_varchar.test:20)."""
    if not ("UNEXPECTED_INPUT_TYPE" in msg and "element_at" in msg
            and '"STRING"' in msg):
        return None
    em8 = re.search(
        r'Cannot resolve "((?:try_)?element_at\(.*, -?\d+\))" '
        r"due to", msg)
    im8 = em8 and re.match(
        r"(?s)^(?:try_)?element_at\((.*),\s*(-?\d+)\)$", em8.group(1))
    if not im8:
        return None
    inner8, idx8 = im8.groups()
    # the message normalizes try_element_at to element_at — accept either
    # spelling in the query text
    pat_inner = r"\s*".join(
        re.escape(t) for t in dialect._tokens(inner8) if not t.isspace())
    pat8 = (rf"(?:try_)?element_at\(\s*{pat_inner}"
            rf"\s*,\s*{idx8}\s*\)")
    tq8, n8 = re.subn(pat8, f"substr({inner8}, {idx8}, 1)", tq, count=1)
    return tq8 if n8 else None


def _variant_retry(con, tq: str, msg: str, depth: int = 0):
    """Apply ONE variant-shape fix implied by a Spark analysis error
    and re-run; recurse on the next error (fixes compose — a mixed
    variant array AND a variant equality in one statement:
    test_variant_filter.test:54). Returns a DataFrame or None."""
    if depth > 3:
        return None
    from duckdb_spark.sql.dialect import (
        _split_top_args as _sta9,
        _tokens as _tk9,
    )

    def _wspat(text: str) -> str:
        # the message strips quotes from literals AND struct field
        # names ('2' → 2, named_struct('a', …) → named_struct(a, …))
        return r"(?i)(" + r"\s*".join(
            (r"'?" + re.escape(t) + r"'?")
            if re.fullmatch(r"\d+(\.\d+)?|[A-Za-z_]\w*", t)
            else re.escape(t)
            for t in _tk9(text) if not t.isspace()) + r")"

    new_tq = None
    em9 = re.search(r'Cannot resolve "(array\(.*\))" due to', msg) \
        if "DATA_DIFF_TYPES" in msg else None
    if em9 and "VARIANT" in msg:
        # array literal mixing ::VARIANT elements with scalars:
        # lift every element to variant
        m9 = re.search(_wspat(em9.group(1)), tq)
        if m9:
            matched = m9.group(1)
            inner9 = matched[matched.find("(") + 1:-1]
            parts9 = ["".join(p) if isinstance(p, list) else p
                      for p in _sta9(_tk9(inner9))]
            repl9 = "array(" + ", ".join(
                p.strip() if "VARIANT" in p.upper()
                else f"try_cast({p.strip()} as variant)"
                for p in parts9) + ")"
            new_tq = tq[:m9.start(1)] + repl9 + tq[m9.end(1):]
    if new_tq is None and "CAST_WITHOUT_SUGGESTION" in msg and \
            "VARIANT" in msg:
        # struct/array → VARIANT cast Spark refuses: go through JSON
        emc = re.search(r'Cannot resolve "((?:TRY_)?CAST\(.* AS '
                        r'VARIANT\))" due to', msg)
        if emc:
            mc = re.search(_wspat(emc.group(1)), tq)
            if mc:
                matched = mc.group(1)
                body = matched[matched.find("(") + 1:]
                body = re.sub(r"(?is)\s+AS\s+VARIANT\s*\)\s*$", "",
                              body)
                new_tq = (tq[:mc.start(1)]
                          + f"parse_json(to_json({body}))"
                          + tq[mc.end(1):])
    if new_tq is None and "BINARY_OP_DIFF_TYPES" in msg and \
            "VARIANT" in msg:
        # variant equality: total type-first order via canonical JSON
        em = re.search(r'Cannot resolve "\((.*?) (=|!=|<>) (.*?)\)" '
                       r"due to", msg)
        if em:
            lhs, op0, rhs = em.groups()
            for cand in (f"{lhs} {op0} {rhs}",
                         f"{lhs} {'==' if op0 == '=' else op0} {rhs}"):
                m0 = re.search(_wspat(cand), tq)
                if m0:
                    # rebuild operands from the MATCHED query text —
                    # the message strips quotes from field names, so
                    # interpolating msg text would unresolve them
                    mt = _tk9(m0.group(1))
                    d1 = 0
                    lhs_t = rhs_t = None
                    for ix1, t1 in enumerate(mt):
                        if t1 == "(":
                            d1 += 1
                        elif t1 == ")":
                            d1 -= 1
                        elif d1 == 0 and t1 in ("=", "==", "!=",
                                                "<>", "!", "<"):
                            j1 = ix1 + 1
                            # the tokenizer may split ==, != and <>
                            if j1 < len(mt) and t1 in ("=", "!", "<") \
                                    and mt[j1] in ("=", ">"):
                                j1 += 1
                            elif t1 in ("!", "<"):
                                continue  # bare ! or <: not our op
                            lhs_t = "".join(mt[:ix1]).strip()
                            rhs_t = "".join(mt[j1:]).strip()
                            break
                    if lhs_t is None:
                        break
                    eq = (f"(to_json(try_cast({lhs_t} as variant)) "
                          f"<=> to_json(try_cast({rhs_t} as "
                          f"variant)))")
                    repl = eq if op0 == "=" else f"(NOT {eq})"
                    new_tq = tq[:m0.start(1)] + repl + tq[m0.end(1):]
                    break
    if new_tq is None:
        return None
    try:
        df = con.spark.sql(new_tq)
        df.schema  # force analysis
        return df
    except Exception as e2:  # noqa: BLE001 — try the next fix
        return _variant_retry(con, new_tq, str(e2), depth + 1)


def variant_shape(con, query, tq, msg):
    """VARIANT operands that Spark won't mix with typed values."""
    if "VARIANT" in msg and (
            "DATA_DIFF_TYPES" in msg
            or "BINARY_OP_DIFF_TYPES" in msg
            or "CAST_WITHOUT_SUGGESTION" in msg):
        r9 = _variant_retry(con, tq, msg)
        if r9 is not None:
            return r9
    return None


def null_interval_setop(con, query, tq, msg):
    """`NULL::INTERVAL` lands on Spark's CalendarIntervalType, which won't
    unify with the day-time/year-month interval of the other set-op
    branch (test_any_value.test:84) — retype the typeless NULL to the
    branch's flavor."""
    if not ("INCOMPATIBLE_COLUMN_TYPE" in msg and "INTERVAL" in msg) or \
            not re.search(r"(?i)CAST\s*\(\s*NULL\s+AS\s+INTERVAL\s*\)", tq):
        return None
    unit6 = "YEAR TO MONTH" if "YEAR TO MONTH" in msg else "DAY TO SECOND"
    return re.sub(r"(?i)CAST\s*\(\s*NULL\s+AS\s+INTERVAL\s*\)",
                  f"CAST(NULL AS INTERVAL {unit6})", tq)


def time_interval_arith(con, query, tq, msg):
    """TIME carrier (µs-of-day BIGINT) ± INTERVAL: add the interval's
    micros and wrap within the day (reference time + interval
    arithmetic, interval.cpp; DuckDB has no legal bare BIGINT ± INTERVAL,
    so this shape can only come from the TIME emulation)."""
    if not (("UNEXPECTED_INPUT_TYPE" in msg or "BINARY_OP_DIFF_TYPES" in msg)
            and '"BIGINT"' in msg and "INTERVAL" in msg):
        return None
    from duckdb_spark.sql.dialect import _match_paren as _mp
    from duckdb_spark.sql.dialect import _next_code as _nc

    _tk = dialect._tokens
    toks3 = _tk(tq)
    changed3 = False
    k3 = 0
    while k3 < len(toks3):
        if toks3[k3] not in ("+", "-"):
            k3 += 1
            continue
        nx3 = _nc(toks3, k3 + 1)
        if nx3 < len(toks3) and toks3[nx3] == "(":
            # parenthesized interval expression, e.g. the translated forms
            # (INTERVAL '01' HOUR * range) or ((range) * INTERVAL '1' HOUR)
            c3 = _mp(toks3, nx3)
            if not (c3 > 0 and any(
                re.match(r"^[A-Za-z_]", t0) and t0.upper() == "INTERVAL"
                for t0 in toks3[nx3 + 1:c3]
            )):
                k3 += 1
                continue
            j3 = c3
        elif not (nx3 < len(toks3)
                  and re.match(r"^[A-Za-z_]", toks3[nx3])
                  and toks3[nx3].upper() == "INTERVAL"):
            k3 += 1
            continue
        else:
            # interval expr extends to the unit word (or a paren group +
            # unit): INTERVAL <n|(e)> <UNIT>
            j3 = _nc(toks3, nx3 + 1)
            if j3 < len(toks3) and toks3[j3] == "(":
                c3 = _mp(toks3, j3)
                j3 = _nc(toks3, c3 + 1) if c3 > 0 else j3
            elif j3 < len(toks3):
                j3 = _nc(toks3, j3 + 1)
            if not (j3 < len(toks3) and re.match(r"^[A-Za-z_']", toks3[j3])):
                k3 += 1
                continue
        iv = "".join(toks3[nx3:j3 + 1])
        sign = toks3[k3]
        ivm = (f"unix_micros(CAST('1970-01-01 00:00:00' AS "
               f"TIMESTAMP) + ({iv}))")
        repl3 = _tk(f"{sign} {ivm}, 86400000000) ")
        toks3[k3:j3 + 1] = repl3
        # wrap the LHS in pmod(: walk left one balanced unit
        ls3 = k3 - 1
        depth3 = 0
        while ls3 >= 0:
            t3 = toks3[ls3]
            if t3.isspace():
                ls3 -= 1
                continue
            if t3 == ")":
                depth3 += 1
            elif t3 == "(":
                if depth3 == 0:
                    break
                depth3 -= 1
            elif depth3 == 0 and (
                t3 == "," or (re.match(r"^[A-Za-z_]", t3) and t3.upper() in (
                    "SELECT", "WHERE", "AND", "OR", "WHEN",
                    "THEN", "ELSE", "BY", "FROM",
                ))
            ):
                break
            ls3 -= 1
        toks3[ls3 + 1:ls3 + 1] = [" ", "pmod", "(", " "]
        changed3 = True
        # continue past everything just inserted (the ivm text contains a
        # '+' the scan must not re-match)
        k3 += len(repl3) + 4
    return "".join(toks3) if changed3 else None


def join_lateral_keyword(con, query, tq, msg):
    """DuckDB allows NATURAL/OUTER JOIN LATERAL; Spark's parser rejects the
    combination. An uncorrelated lateral works without the keyword; a
    correlated one then fails analysis loudly (UNRESOLVED_COLUMN)
    instead of silently."""
    if "INCOMPATIBLE_JOIN_TYPES" in msg and re.search(
            r"(?is)\bJOIN\s+LATERAL\b", query):
        return dialect.translate(
            re.sub(r"(?is)\b(JOIN)\s+LATERAL\b", r"\1", query))
    return None


def window_alias(con, query, tq, msg):
    """DuckDB allows SELECT-list aliases inside window expressions; Spark
    doesn't: aliases inlined into window specs (fallback-only: columns
    must win over aliases when both resolve)."""
    if "LATERAL_COLUMN_ALIAS_IN_WINDOW" in msg:
        return _translate_with(query, tq, {"__window_alias": "1"})
    return None


def boolean_filter(con, query, tq, msg):
    """DuckDB implicitly coerces numerics to boolean in WHERE / HAVING /
    ON (x != 0); Spark refuses — every WHERE/HAVING/ON body wrapped in
    CAST(... AS BOOLEAN), the same nonzero semantics
    (test_exists_union_by_name.test:8)."""
    if "FILTER_NOT_BOOLEAN" not in msg and \
            "JOIN_CONDITION_IS_NOT_BOOLEAN" not in msg:
        return None
    qt = dialect._tokens(query)
    changed2 = False
    i2 = 0
    _stop = {
        "GROUP", "ORDER", "HAVING", "LIMIT", "WINDOW",
        "QUALIFY", "UNION", "EXCEPT", "INTERSECT", "WHERE",
        "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
        "OFFSET", "RETURNING",
    }
    while i2 < len(qt):
        t0 = qt[i2]
        if re.match(r"^[A-Za-z_]", t0) and t0.upper() in ("WHERE", "HAVING", "ON"):
            depth2 = 0
            end2 = len(qt)
            k2 = i2 + 1
            while k2 < len(qt):
                t2 = qt[k2]
                if t2 == "(":
                    depth2 += 1
                elif t2 == ")":
                    if depth2 == 0:
                        end2 = k2
                        break
                    depth2 -= 1
                elif t2 == ";" or (
                    depth2 == 0
                    and re.match(r"^[A-Za-z_]", t2)
                    and t2.upper() in _stop
                ):
                    end2 = k2
                    break
                k2 += 1
            body2 = "".join(qt[i2 + 1:end2]).strip()
            if body2:
                qt[i2 + 1:end2] = [f" CAST(({body2}) AS BOOLEAN) "]
                changed2 = True
        i2 += 1
    return dialect.translate("".join(qt)) if changed2 else None


def window_over_rollup(con, query, tq, msg):
    """Window functions over ROLLUP/CUBE output: Spark's analyzer refuses
    grouping columns as window inputs under grouping sets — evaluate the
    grouped query first, the windows over its result
    (test_streaming_window.test:654)."""
    if not ("MISSING_AGGREGATION" in msg and re.search(
        r"(?i)\b(ROLLUP|CUBE|GROUPING\s+SETS)\b", query
    ) and re.search(r"(?i)\bOVER\b", query)):
        return None
    cl = dialect._split_clauses(query)
    if not (cl.get("SELECT") and cl.get("GROUP")):
        return None
    items = dialect._split_top_args(dialect._tokens(re.sub(
        r"(?is)^\s*SELECT\s+", "", cl["SELECT"].strip())))
    inner_items, outer_items = [], []
    gi2 = 0
    any_win = False
    for it in items:
        it = it.strip()
        if not it:
            continue
        if re.search(r"(?i)\bOVER\b", it):
            outer_items.append(it)
            any_win = True
            continue
        am3 = re.search(r"(?is)\s+AS\s+([A-Za-z_]\w*)\s*$", it)
        if am3:
            inner_items.append(it)
            outer_items.append(am3.group(1))
        elif re.fullmatch(r"[A-Za-z_]\w*", it):
            inner_items.append(it)
            outer_items.append(it)
        else:
            inner_items.append(f"{it} AS __ru{gi2}")
            outer_items.append(f"__ru{gi2}")
            gi2 += 1
    if not (any_win and inner_items):
        return None
    inner_sql = (
        "SELECT " + ", ".join(inner_items) + " "
        + "".join(cl.get(k3, "") for k3 in
                  ("FROM", "WHERE", "GROUP", "HAVING")))
    tail3 = "".join(cl.get(k3, "") for k3 in ("ORDER", "LIMIT", "OFFSET"))
    new_q = (f"SELECT {', '.join(outer_items)} "
             f"FROM ({inner_sql}) __ru {tail3}")
    return dialect.translate(new_q) if new_q != query else None


def concat_struct_order(con, query, tq, msg):
    """concat/array ops over struct arrays whose FIELD ORDER differs:
    DuckDB reorders by name (struct_different_names.test:52); Spark's
    concat wants identical types. Later args rebuilt to the first
    argument's field order."""
    if not ("DATA_DIFF_TYPES" in msg and re.search(r'"concat\(', msg)
            and "STRUCT" in msg.upper()):
        return None
    cm0 = re.search(r'"concat\(([^"]+)\)"', msg)
    tm0 = re.findall(r'"ARRAY<STRUCT<([^>]*)>>"', msg)
    if not (cm0 and len(tm0) >= 2):
        return None
    argnames = [a.strip() for a in cm0.group(1).split(",")]
    fieldsets = [
        [f.split(":")[0].strip().strip("`") for f in t.split(",")]
        for t in tm0
    ]
    canon = fieldsets[0]
    if not (all(sorted(x) == sorted(canon) for x in fieldsets)
            and len(argnames) == len(fieldsets)):
        return None
    reordered = [argnames[0]] + [
        a if fieldsets[k + 1] == canon else (
            f"transform({a}, __se -> named_struct("
            + ", ".join(f"'{f}', __se.{f}" for f in canon)
            + "))")
        for k, a in enumerate(argnames[1:])
    ]
    pat = re.compile(
        r"(?i)(?<![A-Za-z_])concat\(\s*"
        + r"\s*,\s*".join(re.escape(a) for a in argnames)
        + r"\s*\)")
    new_q = pat.sub("concat(" + ", ".join(reordered) + ")", tq)
    return new_q if new_q != tq else None


_STRUCT_ELEMENT_AT = re.compile(r'"(?:try_)?element_at\(([^",]+), (\d+)\)"')


def positional_struct_subscript(con, query, tq, msg):
    """Numeric subscript into an (unnamed) STRUCT: DuckDB's s[N] reads
    tuple field N; Spark's element_at only takes arrays/maps
    (struct_projection_pushdown_unnamed.test:9). The analyzer names the
    offending call — rewrite it to the positional field reference and
    re-run; nested subscripts resolve one per round."""
    if not ("UNEXPECTED_INPUT_TYPE" in msg and "STRUCT" in msg.upper()):
        return None
    cur_q, cur_em, err = tq, _STRUCT_ELEMENT_AT.search(msg), None
    for _round in range(5):
        if cur_em is None:
            break
        base, idx = cur_em.group(1), int(cur_em.group(2))
        # the analyzer prints dotted paths unparenthesized while the
        # translated text may carry parens around the head
        # ((x).col2.payload) — accept both spellings
        head, dot, rest = base.partition(".")
        new_q = cur_q
        for b in [base] + ([f"({head}){dot}{rest}"] if dot else []):
            pat = re.compile(
                r"(?<![A-Za-z_])(?:try_)?element_at\(\s*" + re.escape(b)
                + r"\s*,\s*" + str(idx) + r"\s*\)")
            new_q = pat.sub(f"({b}).col{idx}", new_q)
        if new_q == cur_q:
            break
        try:
            return con.spark.sql(new_q)
        except Exception as e2:  # noqa: BLE001 — next round
            m2, err = str(e2), e2
            cur_q, cur_em = new_q, (
                _STRUCT_ELEMENT_AT.search(m2)
                if "UNEXPECTED_INPUT_TYPE" in m2 and "STRUCT" in m2.upper()
                else None)
    if err is not None:
        raise err
    return None


def numeric_if(con, query, tq, msg):
    """IF with a numeric condition (DuckDB coerces nonzero → true;
    test_streaming_window.test:492)."""
    if not ("UNEXPECTED_INPUT_TYPE" in msg and '"BOOLEAN"' in msg
            and re.search(r"\bIF\(", msg)):
        return None
    from duckdb_spark.sql.dialect import _split_top_args

    def _ifb(argstr: str) -> str:
        parts = _split_top_args(dialect._tokens(argstr))
        if len(parts) == 3:
            return (f"if(CAST(({parts[0].strip()}) AS BOOLEAN)"
                    f", {parts[1].strip()}, {parts[2].strip()})")
        return f"if({argstr})"

    new_q = _rewrite_fn_calls(query, "if", _ifb)
    return dialect.translate(new_q) if new_q != query else None


def alias_in_aggregate(con, query, tq, msg):
    """DuckDB lets a select alias be referenced inside an aggregate
    (`SELECT i%2 AS k, SUM(k) ... GROUP BY k`); Spark's lateral column
    aliases stop at aggregate functions. Substitute the alias definition
    for every standalone reference (test_group_by_alias.test:70)."""
    lam = re.search(
        r"LATERAL_COLUMN_ALIAS_IN_AGGREGATE_FUNC.*?"
        r"lateral column alias `(\w+)`", msg, re.S)
    if not lam:
        return None
    from duckdb_spark.sql.dialect import (
        _is_word,
        _next_code,
        _prev_code,
        _split_top_args,
        _top_level_index,
    )

    al = lam.group(1)
    qt = dialect._tokens(query)
    si = _top_level_index(qt, 0, len(qt), "SELECT")
    fi = _top_level_index(qt, si + 1, len(qt), "FROM") if si >= 0 else -1
    defn = None
    if 0 <= si < fi:
        for item in _split_top_args(qt[si + 1:fi]):
            am2 = re.search(rf"(?is)\s+AS\s+{al}\s*$", item)
            if am2:
                defn = item[:am2.start()].strip()
                break
    if defn is None:
        return None
    k2 = 0
    changed2 = False
    while k2 < len(qt):
        t2 = qt[k2]
        if re.match(r"^[A-Za-z_`\"]", t2) and \
                t2.strip('`"').lower() == al.lower():
            pv2 = _prev_code(qt, k2 - 1)
            nx2 = _next_code(qt, k2 + 1)
            if pv2 >= 0 and (qt[pv2] == "." or _is_word(qt[pv2], "AS")):
                k2 += 1
                continue
            if nx2 < len(qt) and qt[nx2] in ("(", "."):
                k2 += 1
                continue
            qt[k2] = f"({defn})"
            changed2 = True
        k2 += 1
    return dialect.translate("".join(qt)) if changed2 else None


def sum_boolean(con, query, tq, msg):
    """DuckDB sums BOOLEANs (count of TRUE, hugeint); Spark rejects them:
    the offending sum argument cast to INT — the failing expression text
    comes from the analyzer error."""
    bm = re.search(
        r'Cannot resolve "sum\((.+?)\)" due to data type mismatch', msg)
    if not (bm and '"BOOLEAN"' in msg):
        return None
    arg = re.escape(bm.group(1)).replace(r"\ ", r"\s*")
    new_q = re.sub(rf"(?is)\bsum\s*\(\s*{arg}\s*\)",
                   f"sum(CAST({bm.group(1)} AS INT))", query)
    return dialect.translate(new_q) if new_q != query else None


def avg_temporal(con, query, tq, msg):
    """DuckDB averages DATE/TIMESTAMP values (returns timestamp); Spark
    rejects them: through epoch micros. Output type follows the input:
    DATE / TIMESTAMP (our NTZ) average to a tz-naive timestamp,
    TIMESTAMPTZ (Spark "TIMESTAMP") keeps the instant type and renders
    with the +00 offset (test_avg.test:127-145)."""
    am = re.search(
        r'Cannot resolve "avg\((.+?)\)" due to data type mismatch', msg)
    if not (am and ('"DATE"' in msg or '"TIMESTAMP"' in msg
                    or '"TIMESTAMP_NTZ"' in msg)):
        return None
    arg = re.escape(am.group(1)).replace(r"\ ", r"\s*")
    ntz_out = '"TIMESTAMP"' not in msg

    def _avg_repl(x: str) -> str:
        inner = (f"timestamp_micros(CAST(avg(unix_micros("
                 f"CAST(({x}) AS TIMESTAMP_LTZ))) AS BIGINT))")
        return f"CAST({inner} AS TIMESTAMP_NTZ)" if ntz_out else inner

    new_q = re.sub(rf"(?is)\bavg\s*\(\s*{arg}\s*\)",
                   _avg_repl(am.group(1)).replace("\\", "\\\\"), query)
    if new_q == query and len(re.findall(r"(?is)\bavg\s*\(", query)) == 1:
        # the analyzer's spelling differs from the query text (ts::DATE vs
        # CAST(ts AS DATE)): with a single avg call there is no ambiguity
        new_q = _rewrite_fn_calls(query, "avg", _avg_repl)
    return dialect.translate(new_q) if new_q != query else None


def interval_avg_sum(con, query, tq, msg):
    """avg/sum over the INTERVAL struct emulation: componentwise with the
    reference's downward carry (interval.cpp AVG — fractional months
    spill to days, fractional days to micros)."""
    avm = re.search(
        r'Cannot resolve "(avg|sum)\((.+?)\)" due to data type mismatch', msg)
    if not (avm and re.search(r'STRUCT<months', msg)):
        return None
    fn0, a = avm.group(1), avm.group(2)
    dm0 = re.match(r"(?is)^\s*DISTINCT\s+(.*)$", a)
    base_arg = dm0.group(1).strip() if dm0 else a.strip()
    new_q = query
    if fn0.lower() == "avg":
        # DISTINCT spelling folds the distinct struct set; both spellings
        # of this argument rewrite in one pass
        cs = f"collect_set(({base_arg}))"
        nn = f"size({cs})"
        tm = f"aggregate({cs}, 0L, (__a, __e) -> __a + __e.months)"
        td = f"aggregate({cs}, 0L, (__a, __e) -> __a + __e.days)"
        tu = f"aggregate({cs}, 0L, (__a, __e) -> __a + __e.micros)"
        mm = f"({tm} div {nn})"
        rem_m = f"({tm} - {mm} * {nn})"
        d_num = f"({td} + {rem_m} * 30)"
        dd = f"({d_num} div {nn})"
        rem_d = f"({d_num} - {dd} * {nn})"
        uu = f"(({tu} + {rem_d} * 86400000000L) div {nn})"
        repl = (f"named_struct('months', cast({mm} as int), "
                f"'days', cast({dd} as int), 'micros', {uu})")
        arg0 = re.escape(base_arg).replace(r"\ ", r"\s*")
        new_q = re.sub(rf"(?is)\b{fn0}\s*\(\s*DISTINCT\s+{arg0}\s*\)",
                       repl, new_q)
    arg = re.escape(base_arg).replace(r"\ ", r"\s*")
    a = base_arg
    n_ = f"count(({a}).months)"
    tm = f"sum(({a}).months)"
    td = f"sum(({a}).days)"
    tu = f"sum(({a}).micros)"
    if fn0.lower() == "sum":
        repl = (f"named_struct('months', cast({tm} as int), "
                f"'days', cast({td} as int), "
                f"'micros', cast({tu} as bigint))")
    else:
        mm = f"cast({tm} as bigint) div {n_}"
        rem_m = f"(cast({tm} as bigint) - ({mm}) * {n_})"
        d_num = f"(cast({td} as bigint) + {rem_m} * 30)"
        dd = f"({d_num} div {n_})"
        rem_d = f"({d_num} - ({dd}) * {n_})"
        uu = f"((cast({tu} as bigint) + {rem_d} * 86400000000L) div {n_})"
        repl = (f"named_struct('months', cast({mm} as int), "
                f"'days', cast({dd} as int), 'micros', {uu})")
    new_q = re.sub(rf"(?is)\b{fn0}\s*\(\s*{arg}\s*\)", repl, new_q)
    return dialect.translate(new_q) if new_q != query else None


def sum_overflow(con, query, tq, msg):
    """SUM over BIGINT overflows int64 where the reference promotes to
    HUGEINT — through DECIMAL(38,0)."""
    if not ("ARITHMETIC_OVERFLOW" in msg and "long overflow" in msg
            and re.search(r"(?is)\bsum\s*\(", query)):
        return None

    def _dec(a: str) -> str:
        if re.match(r"(?is)^\s*DISTINCT\b", a):
            return "sum(DISTINCT cast({} as decimal(38,0)))".format(
                re.sub(r"(?is)^\s*DISTINCT\s+", "", a))
        return f"sum(cast({a} as decimal(38,0)))"

    new_q = _rewrite_fn_calls(query, "sum", _dec)
    return dialect.translate(new_q) if new_q != query else None


def bit_aggregate(con, query, tq, msg):
    """bit_and/bit_or/bit_xor over BIT (binary-backed '0'/'1' emulation,
    SURVEY §1.2): positionwise bitwise agg via base-2 conv to BIGINT and
    back (≤64 bits)."""
    bitm = re.search(
        r'Cannot resolve "(bit_and|bit_or|bit_xor)\((.+?)\)" due '
        r"to data type mismatch", msg)
    if not (bitm and '"BINARY"' in msg):
        return None
    fn = bitm.group(1)
    new_q = _rewrite_fn_calls(
        query, fn,
        lambda a: (
            f"lpad(conv(CAST({fn}(CAST(conv(CAST(({a}) AS "
            f"STRING), 2, 10) AS BIGINT)) AS BIGINT), 10, 2), "
            f"CAST(max(length(CAST(({a}) AS STRING))) AS INT), '0')"
        ),
    )
    return dialect.translate(new_q) if new_q != query else None


def bit_count(con, query, tq, msg):
    """bit_count over the BIT emulation (binary/string of '0'/'1'): count
    the set positions textually."""
    bcm = re.search(
        r'Cannot resolve "bit_count\((.+?)\)" due to data type mismatch', msg)
    if not (bcm and ('"BINARY"' in msg or '"STRING"' in msg)):
        return None
    new_q = _rewrite_fn_calls(
        query, "bit_count",
        lambda a: (f"CAST(length(regexp_replace(CAST(({a}) AS "
                   f"STRING), '0', '')) AS INT)"),
    )
    return dialect.translate(new_q) if new_q != query else None


def lttb_timestamp(con, query, tq, msg):
    """lttb over TIMESTAMP x keys: the numeric axis goes through epoch
    micros (plain CAST(ts AS DOUBLE) fails analysis). Through sql() so
    further fallbacks still compose."""
    if "AS DOUBLE" in msg and ("TIMESTAMP" in msg or "INTERVAL" in msg) \
            and re.search(r"(?i)\blttb\s*\(", query):
        return con.sql(re.sub(r"(?i)\blttb\s*\(", "lttb_ts(", query))
    return None


def list_length(con, query, tq, msg):
    """len()/length() over LIST values (reference: len works on lists and
    strings) → size()."""
    lnm = re.search(r'Cannot resolve "(len|length)\(', msg)
    if not (lnm and '"ARRAY' in msg):
        return None
    new_q = _rewrite_fn_calls(query, lnm.group(1), lambda a: f"size({a})")
    return dialect.translate(new_q) if new_q != query else None


def median_orderable(con, query, tq, msg):
    """median over non-numeric orderable values (LIST/STRUCT/…): the
    reference takes the discrete lower-middle element (reference
    quantile_disc 0.5 fallback). Temporal median interpolates on the
    epoch scale and yields a timestamp (reference quantile_cont over
    temporal types); instant-typed input keeps the instant type."""
    if not re.search(
            r'Cannot resolve "median\((.+?)\)" due to data type mismatch', msg):
        return None
    if re.search(r'"(DATE|TIMESTAMP)', msg):
        instant = bool(re.search(r'"TIMESTAMP"', msg))

        def _tmed(a: str) -> str:
            # to_timestamp avoids the dialect's TIMESTAMP → TIMESTAMP_NTZ
            # cast remap (unix_micros needs the instant type; session TZ
            # is UTC)
            core = (f"timestamp_micros(cast(percentile("
                    f"unix_micros(to_timestamp(({a}))), 0.5) as bigint))")
            return core if instant else f"cast({core} as timestamp_ntz)"
        new_q = _rewrite_fn_calls(query, "median", _tmed)
    else:
        new_q = _rewrite_fn_calls(
            query, "median",
            lambda a: (
                f"element_at(array_sort(collect_list({a})), "
                f"greatest(1, CAST(ceil(count(({a})) * 0.5) AS INT)))"
            ),
        )
    return dialect.translate(new_q) if new_q != query else None


def range_lateral(con, query, tq, msg):
    """Correlated range()/generate_series() args: the LATERAL VIEW
    explode(sequence) form."""
    if "NON_FOLDABLE_ARGUMENT" in msg and re.search(
            r"`(range|generate_series)`|`(start|end|step)`", msg):
        return _translate_with(query, tq, {"__range_lateral": "1"})
    return None


def derived_alias_padding(con, query, tq, msg):
    """A derived-table column alias list shorter than the subquery's
    output keeps the original names for the missing columns (reference
    binder); Spark wants all or none."""
    if "ASSIGNMENT_ARITY_MISMATCH" not in msg:
        return None
    new_q = dialect.pad_derived_aliases(query, con.spark)
    return dialect.translate(new_q) if new_q != query else None


def setop_string_literal(con, query, tq, msg):
    """A set-op branch that is one string literal coerces to the sibling
    branch's nested column type (reference UNION casts)."""
    if "INCOMPATIBLE_COLUMN_TYPE" not in msg:
        return None
    new_q = dialect.coerce_setop_string_literals(query, con.spark)
    return dialect.translate(new_q) if new_q != query else None


def select_alias(con, query, tq, msg):
    """DuckDB resolves SELECT-list aliases in WHERE/HAVING/QUALIFY; Spark
    doesn't: the definitions inlined there."""
    if "UNRESOLVED_COLUMN" in msg:
        return _translate_with(query, tq, {"__select_alias": "1"})
    return None


def select_alias_only(con, query, tq, msg):
    """One specific unresolved name that IS a select alias: substituted
    query-wide (lateral aliases inside select-list subqueries / GROUP BY
    — test_grouped_correlated_subquery.test)."""
    nm = "UNRESOLVED_COLUMN" in msg and \
        re.search(r"with name `([A-Za-z_]\w*)` cannot", msg)
    if nm:
        return _translate_with(query, tq, {"__select_alias": "1",
                                           "__select_alias_only": nm.group(1)})
    return None


def setop_order_refs(con, query, tq, msg):
    """Set-op ORDER BY naming another branch's output, a table-qualified
    first-branch column or a branch's select expression: rewritten to
    the first branch's names or to ordinals."""
    if "UNRESOLVED_COLUMN" not in msg:
        return None
    retried = dialect._rewrite_setop_order_refs(query)
    return dialect.translate(retried) if retried != query else None


def implicit_lateral(con, query, tq, msg):
    """DuckDB binds comma-joined FROM subqueries laterally without the
    LATERAL keyword; Spark needs it spelled (lateral_large_lists.test)."""
    if "UNRESOLVED_COLUMN" not in msg:
        return None
    retried = dialect.insert_implicit_lateral(query)
    return dialect.translate(retried) if retried != query else None


def bare_table_in_order(con, query, tq, msg):
    """A bare TABLE reference in ORDER BY is the row value
    (test_outer_joins_recursive_cte.test `ORDER BY p, t`)."""
    nm2 = "UNRESOLVED_COLUMN" in msg and \
        re.search(r"name `([A-Za-z_]\w*)` cannot", msg)
    if not nm2:
        return None
    tbl2 = nm2.group(1)
    try:
        cols2 = con.spark.table(tbl2).columns
    except Exception:  # noqa: BLE001 — not a table name
        return None
    if not cols2:
        return None
    repl2 = (f"{tbl2}.`{cols2[0]}`" if len(cols2) == 1
             else "struct(" + ", ".join(
                 f"{tbl2}.`{c}`" for c in cols2) + ")")
    new_tq = dialect.replace_bare_table_ref_in_order(tq, tbl2, repl2)
    return new_tq if new_tq != tq else None


def _diff_types(msg: str) -> tuple[str, str]:
    tm = re.search(r'"\(?([A-Z_][A-Z_<> ()0-9,]*)"\s+and\s+"'
                   r'([A-Z_][A-Z_<> ()0-9,]*)\)?"', msg)
    return (tm.group(1), tm.group(2)) if tm else ("?", "?")


def natural_join_runtime_cast(con, query, tq, msg):
    """DuckDB binds a NATURAL join over incomparable shared columns by
    inserting a RUNTIME cast — the join succeeds on empty inputs and
    raises per-row otherwise (natural_join.test:260). Emulated with a
    deferred raise_error join condition; Spark only evaluates it when a
    row pair reaches the predicate."""
    if "BINARY_OP_DIFF_TYPES" not in msg:
        return None
    nat = re.search(
        r"(?i)\bNATURAL\s+((?:LEFT|RIGHT|FULL|INNER)?\s*"
        r"(?:OUTER)?\s*JOIN)\s+"
        r"([A-Za-z_][\w.]*(?:\s+(?:AS\s+)?[A-Za-z_]\w*)?)",
        query,
    )
    if not nat:
        return None
    types = _diff_types(msg)
    err = (f"Conversion Error: Unimplemented type for cast "
           f"({types[0]} -> {types[1]})")
    return dialect.translate(
        query[:nat.start()]
        + f"{nat.group(1)} {nat.group(2)} ON coalesce("
        + f"cast(raise_error('{err}') as boolean), true)"
        + query[nat.end():])


def variant_equality(con, query, tq, msg):
    """VARIANT equality uses a total, TYPE-FIRST order (reference
    variant_comparator; test_variant_filter.test:9): different type
    ranks are simply not equal. Compares the canonical JSON of both
    sides as variants — a schema difference shows in the rendering."""
    if "BINARY_OP_DIFF_TYPES" not in msg or "VARIANT" not in _diff_types(msg):
        return None
    em = re.search(r'Cannot resolve "\((.*?) (=|!=|<>) (.*?)\)" due to', msg)
    if not em:
        return None
    lhs, op0, rhs = em.groups()
    eq = (f"(to_json(try_cast(({lhs}) as variant)) <=> "
          f"to_json(try_cast(({rhs}) as variant)))")
    repl = eq if op0 == "=" else f"(NOT {eq})"
    for cand in (f"{lhs} {op0} {rhs}",
                 f"{lhs} {'==' if op0 == '=' else op0} {rhs}"):
        # whitespace-insensitive match: Spark message text normalizes
        # ", " spacing
        pat = r"\s*".join(
            re.escape(t) for t in dialect._tokens(cand) if not t.isspace())
        new_tq, nsub = re.subn(pat, repl, tq, count=1)
        if nsub:
            return new_tq
    return None


def incomparable_types(con, query, tq, msg):
    """Explicit comparisons of incomparable types: DuckDB folds the
    constant side at bind time and raises a Conversion/Binder error —
    surface a message carrying both DuckDB phrasings."""
    if "BINARY_OP_DIFF_TYPES" not in msg:
        return None
    types = _diff_types(msg)
    raise ValueError(
        f"Binder Error: Cannot compare values of type "
        f"{types[0]} and type {types[1]} (Conversion Error: "
        f"Unimplemented type for cast ({types[0]} -> "
        f"{types[1]})): {msg[:300]}"
    ) from None


FALLBACKS = (
    struct_subscript, runtime_text_cast, recursive_loop, decorrelate,
    subquery_select_alias, setop_order_ordinal, string_index, variant_shape,
    null_interval_setop, time_interval_arith, join_lateral_keyword,
    window_alias, boolean_filter, window_over_rollup, concat_struct_order,
    positional_struct_subscript, numeric_if, alias_in_aggregate, sum_boolean,
    avg_temporal, interval_avg_sum, sum_overflow, bit_aggregate, bit_count,
    lttb_timestamp, list_length, median_orderable, range_lateral,
    derived_alias_padding, setop_string_literal, select_alias,
    select_alias_only, setop_order_refs, implicit_lateral,
    bare_table_in_order, natural_join_runtime_cast, variant_equality,
    incomparable_types,
)
