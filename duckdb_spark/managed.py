"""Writable managed tables for `Connection.sql` DML (reference
`src/execution/operator/persistent/physical_insert.cpp`,
`physical_delete.cpp`, `physical_update.cpp`).

Spark-idiomatic storage — a managed table is an *external parquet table*
registered in the session catalog at an explicit /tmp location:

- **CREATE TABLE** registers the schema (`spark.catalog.createTable`);
  an empty directory is a valid 0-row table because the schema lives in
  the catalog.
- **INSERT INTO** passes through to Catalyst's native `InsertIntoTable`
  over the external parquet source — executor-parallel file appends, no
  driver-side row handling; this is the 100 TB path.
- **UPDATE / DELETE** are copy-on-write: survivors (or updated rows) are
  written to a fresh version directory and the table is re-pointed —
  Delta/Iceberg semantics without the transaction log (single-writer
  sessions; MVCC is documented out of scope, SURVEY §2.10). The rewrite
  is a distributed scan→filter/project→write, never a collect.

The sqllogictest harness keeps its own driver-side row store
(`sqllogic.SLSession`) because its tables are tiny and its statements run
thousands of times; this module is the scale path for real users.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark import state
from duckdb_spark.io.readers import open_parquet

_CREATE_RE = re.compile(
    r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?TABLE\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.\"]+)\s*(.*?)\s*;?\s*$"
)
_DROP_RE = re.compile(
    r"(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.\"]+)\s*;?\s*$"
)
_INSERT_RE = re.compile(
    r"(?is)^\s*INSERT\s+INTO\s+([\w.\"]+)\s*(\([^)]*\))?\s*(.*?)\s*;?\s*$"
)
_DELETE_RE = re.compile(
    r"(?is)^\s*DELETE\s+FROM\s+([\w.\"]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b|RETURNING\b|USING\b)(\w+))?"
    r"\s*(.*?)\s*;?\s*$"
)
_UPDATE_RE = re.compile(
    r"(?is)^\s*UPDATE\s+([\w.\"]+)(?:\s+(?:AS\s+)?(?!SET\b)(\w+))?"
    r"\s+SET\s+(.*?)\s*;?\s*$"
)
_TRUNCATE_RE = re.compile(
    r"(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.\"]+)\s*;?\s*$"
)
_MERGE_RE = re.compile(
    r"(?is)^\s*MERGE\s+INTO\s+([\w.\"]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"USING\s+(.+?)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.+?)\s*"
    r"((?:WHEN\s+(?:NOT\s+)?MATCHED\b.*?)+)\s*;?\s*$"
)
_WHEN_RE = re.compile(
    r"(?is)WHEN\s+(NOT\s+)?MATCHED\s*(?:AND\s+(.+?))?\s*THEN\s+"
    r"(UPDATE\s+SET\s+.+?|DELETE|INSERT\s*(?:\*|\([^)]*\)\s*VALUES\s*\(.+?\)"
    r"|VALUES\s*\(.+?\))?)\s*(?=WHEN\s+(?:NOT\s+)?MATCHED|$)"
)


def _flat(name: str) -> str:
    return name.strip().strip('"').split(".")[-1].lower()


def _scan_top_level(body: str):
    """Yield (index, char, depth, in_string) for each char, tracking paren
    depth and quoted regions ('' strings with doubled-quote escapes, ""
    identifiers). Top level = depth 0 and not inside a quote."""
    depth = 0
    quote = None  # None | "'" | '"'
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if quote:
            if ch == quote:
                if i + 1 < n and body[i + 1] == quote:  # escaped '' / ""
                    yield i, ch, depth, True
                    yield i + 1, body[i + 1], depth, True
                    i += 2
                    continue
                quote = None
                yield i, ch, depth, True
                i += 1
                continue
            yield i, ch, depth, True
            i += 1
            continue
        if ch in ("'", '"'):
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        yield i, ch, depth, False
        i += 1


def _split_coldefs(body: str) -> list[str]:
    """Split a column-definition list on top-level commas (quote-aware)."""
    # line comments inside column lists (struct_projection_pushdown_
    # optimizer_bug.test annotates every column with `-- N`)
    body = re.sub(r"--[^\n]*", "", body)
    parts, cur = [], []
    for _, ch, depth, in_str in _scan_top_level(body):
        if ch == "," and depth == 0 and not in_str:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur and "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def _find_top_keyword(body: str, keyword: str) -> int:
    """Index of the first top-level, word-bounded, case-insensitive
    occurrence of `keyword` outside strings/parens; -1 if none. Guards
    against WHERE/RETURNING inside string literals or subqueries
    (ADVICE r06: UPDATE t SET note = 'see where clause')."""
    kw = keyword.lower()
    klen = len(kw)
    lower = body.lower()
    for i, ch, depth, in_str in _scan_top_level(body):
        if depth != 0 or in_str:
            continue
        if lower.startswith(kw, i):
            before_ok = i == 0 or not (body[i - 1].isalnum()
                                       or body[i - 1] == "_")
            j = i + klen
            after_ok = j >= len(body) or not (body[j].isalnum()
                                              or body[j] == "_")
            if before_ok and after_ok:
                return i
    return -1


def _split_clauses(body: str, keywords: list[str]):
    """Split `body` into a head plus {keyword: text} for each top-level
    keyword, in the order given (each keyword's text runs to the next
    found keyword). Keywords must appear in order if at all."""
    found = []
    pos = 0
    for kw in keywords:
        idx = _find_top_keyword(body[pos:], kw)
        if idx >= 0:
            found.append((kw, pos + idx))
            pos = pos + idx + len(kw)
    out = {}
    head_end = found[0][1] if found else len(body)
    out["__head"] = body[:head_end].strip()
    for k, (kw, start) in enumerate(found):
        end = found[k + 1][1] if k + 1 < len(found) else len(body)
        out[kw] = body[start + len(kw):end].strip()
    return out


def _bind_values_types(src_sql: str, dtypes: list) -> str:
    """Wrap every bare VALUES element in a CAST to its target column type
    so literal-consensus coercion never overrides the table schema."""
    from duckdb_spark.sql.dialect import (
        _split_arg_spans,
        _tokens,
        _values_row_ranges,
    )

    toks = _tokens(src_sql)
    edits = []  # (lo, hi, replacement) token spans, collected then applied
    for (rlo, rhi) in _values_row_ranges(toks):
        spans = _split_arg_spans(toks, rlo + 1, rhi)
        if len(spans) != len(dtypes):
            raise ValueError("VALUES row arity != insert column count")
        for (elo, ehi), dt in zip(spans, dtypes):
            text = "".join(toks[elo:ehi]).strip()
            if not text or text.upper() == "DEFAULT":
                continue
            from pyspark.sql import types as _T2

            if isinstance(dt, _T2.StructType):
                skeys = re.findall(
                    r"[{,(]\s*['\"]?([A-Za-z_]\w*)['\"]?\s*:(?!:)", text)
                if skeys and not re.match(r"(?is)^\s*row\s*\(", text):
                    tnames = {f2.name.lower() for f2 in dt.fields}
                    if not any(k2.lower() in tnames for k2 in skeys):
                        # reference struct_cast.cpp binder
                        # (struct_different_names.test:23)
                        raise ValueError(
                            "Binder Error: STRUCT to STRUCT cast must "
                            "have at least one matching member")
            if dt.simpleString() == "binary" and \
                    re.fullmatch(r"(?s)'(?:[^']|'')*'", text):
                # duck BLOB text literal: \xHH escapes are raw bytes that
                # Spark's literal parser would eat (test_blob.test:12)
                from duckdb_spark.sql.dialect import duck_blob_hex

                edits.append(
                    (elo, ehi, f" X'{duck_blob_hex(text[1:-1])}' "))
                continue
            edits.append(
                (elo, ehi, f" CAST(({text}) AS {dt.simpleString()}) "))
    for lo, hi, repl in sorted(edits, reverse=True):
        toks[lo:hi] = [repl]
    return "".join(toks)


def mark_columns(spark, table: str, coldefs: list[tuple[str, str]]) -> None:
    """Record which `(column, DuckDB type)` definitions of `table` are TIME,
    TIMETZ or an enum (BIGINT / string carriers in Spark, so the Spark
    schema can't tell), replacing the table's earlier marks."""
    from duckdb_spark.sql.dialect import expand_type_aliases, lookup_enum_members

    st, key = state.of(spark), table.lower()
    for marks in (st.time_cols, st.timetz_cols, st.enum_cols):
        marks.pop(key, None)
    for cname, ctype in coldefs:
        col, ty = cname.strip('"').lower(), expand_type_aliases(ctype).strip().upper()
        if ty in ("TIME", "TIME WITHOUT TIME ZONE"):
            st.time_cols.setdefault(key, set()).add(col)
        if ty in ("TIMETZ", "TIME WITH TIME ZONE"):
            st.timetz_cols.setdefault(key, set()).add(col)
        members = lookup_enum_members(ctype)
        if members:
            st.enum_cols.setdefault(key, {})[col] = members


class ManagedTables:
    """Per-connection registry of external-parquet writable tables."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.base = tempfile.mkdtemp(prefix="duckdb_spark_tables_")
        # name -> (schema, current version int)
        self.tables: dict[str, tuple] = {}

    # -- storage ----------------------------------------------------------

    def _loc(self, name: str, version: int) -> str:
        return os.path.join(self.base, name, f"v{version}")

    def _point(self, name: str, schema, version: int) -> None:
        """(Re-)register `name` as an external parquet table at vN."""
        loc = self._loc(name, version)
        os.makedirs(loc, exist_ok=True)
        self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        self.spark.catalog.createTable(
            name, path=loc, source="parquet", schema=schema
        )
        self.tables[name] = (schema, version)

    def _rewrite(self, name: str, df: DataFrame) -> None:
        """Copy-on-write: write `df` to the next version dir, re-point."""
        schema, version = self.tables[name]
        df.write.mode("overwrite").parquet(self._loc(name, version + 1))
        self._point(name, schema, version + 1)

    def df(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- statement handlers ------------------------------------------------

    def handle(self, con, query: str):
        """Try to execute `query` as managed-table DDL/DML. Returns
        False when the statement is not ours; a Relation/None when done."""
        from duckdb_spark.relation import Relation

        m = _CREATE_RE.match(query)
        if m and (m.group(4) or "").strip():
            return self._create(con, m)
        m = _DROP_RE.match(query)
        if m:
            name = _flat(m.group(2))
            if name not in self.tables:
                # Not ours — even with IF EXISTS, fall through so plain
                # Spark catalog tables / temp views still get dropped
                # (ADVICE r06: returning None here silently no-opped them).
                return False
            self.spark.sql(f"DROP TABLE IF EXISTS `{name}`")
            del self.tables[name]
            mark_columns(self.spark, name, [])
            return None
        m = _TRUNCATE_RE.match(query)
        if m and _flat(m.group(1)) in self.tables:
            name = _flat(m.group(1))
            schema, version = self.tables[name]
            self._point(name, schema, version + 1)
            return None
        m = _INSERT_RE.match(query)
        if m and _flat(m.group(1)) in self.tables:
            return self._insert(con, m)
        m = _DELETE_RE.match(query)
        if m and _flat(m.group(1)) in self.tables:
            return self._delete(con, m)
        m = _UPDATE_RE.match(query)
        if m and _flat(m.group(1)) in self.tables:
            return self._update(con, m)
        m = _MERGE_RE.match(query)
        if m and _flat(m.group(1)) in self.tables:
            return self._merge(con, m)
        return False

    def _merge(self, con, m: re.Match):
        """MERGE INTO target USING source ON cond WHEN ... — post-image via
        operators/dml.merge_into's three-branch plan (anti ∪ updated ∪
        inserts; one shuffle on the join keys), then a copy-on-write
        rewrite. Reference src/execution/operator/persistent/
        physical_merge_into.cpp."""
        from duckdb_spark.sql.dialect import translate

        name = _flat(m.group(1))
        t_alias = m.group(2) or name
        schema, _ = self.tables[name]
        src_sql = m.group(3).strip()
        s_alias = m.group(4) or "__src"
        if src_sql.startswith("("):
            src = con.sql(src_sql[1:src_sql.rfind(")")]).df()
        else:
            src = self.spark.table(_flat(src_sql))
        cond = m.group(5)
        tcols = [f.name for f in schema.fields]

        t = self.spark.table(name).alias(t_alias)
        s = src.alias(s_alias)
        on = F.expr(cond)
        matched = t.join(s, on, "inner")
        unmatched = t.join(s, on, "left_anti").select(
            *[F.col(c) for c in tcols])
        inserts_src = s.join(t, on, "left_anti")

        # First-match-wins per row (reference physical_merge_into.cpp): tag
        # every matched row with the index of the first WHEN MATCHED clause
        # whose condition holds (NULL = untouched passthrough), then derive
        # each clause's output AND the affected-row count from the tagged
        # frame — one join execution, no per-clause re-joins (ADVICE r06).
        matched_clauses = []  # (wcond | None, action)
        insert_clause = None
        for w in _WHEN_RE.finditer(m.group(6)):
            is_not, wcond, action = bool(w.group(1)), w.group(2), w.group(3)
            if not is_not:
                matched_clauses.append((wcond, action))
            else:
                insert_clause = (wcond, action)

        matched_out = None
        n_matched = 0
        if matched_clauses:
            tag = None
            for i, (wcond, _) in enumerate(matched_clauses):
                cond = (F.coalesce(F.expr(wcond), F.lit(False)) if wcond
                        else F.lit(True))
                tag = F.when(cond, F.lit(i)) if tag is None \
                    else tag.when(cond, F.lit(i))
            tagged = matched.withColumn("__clause", tag).persist()
            n_matched = tagged.filter(F.col("__clause").isNotNull()).count()
            branches = [tagged.filter(F.col("__clause").isNull()).select(
                *[F.col(f"{t_alias}.{c}").alias(c) for c in tcols])]
            for i, (_, action) in enumerate(matched_clauses):
                rows = tagged.filter(F.col("__clause") == i)
                if re.match(r"(?is)^DELETE$", action.strip()):
                    continue  # consumed: emit nothing
                sets = {}
                body = re.sub(r"(?is)^UPDATE\s+SET\s+", "", action.strip())
                for part in _split_coldefs(body):
                    sm = re.match(r'(?s)^\s*("([^"]+)"|\w+)\s*=\s*(.*)$',
                                  part)
                    sets[(sm.group(2) or sm.group(1)).lower()] = \
                        sm.group(3).strip()
                branches.append(rows.select(*[
                    (F.expr(sets[c.lower()]) if c.lower() in sets
                     else F.col(f"{t_alias}.{c}")).cast(
                         dict(t.dtypes)[c]).alias(c)
                    for c in tcols
                ]))
            matched_out = branches[0]
            for b in branches[1:]:
                matched_out = matched_out.unionByName(b)

        insert_out = None
        if insert_clause is not None:
            wcond, action = insert_clause
            src_rows = (inserts_src.filter(F.coalesce(
                F.expr(wcond), F.lit(False))) if wcond else inserts_src)
            act = action.strip() if action else "INSERT *"
            vm = re.match(
                r"(?is)^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.+)\)$",
                act)
            if vm:
                cols = ([c.strip().strip('"') for c in
                         vm.group(1).split(",")] if vm.group(1)
                        else tcols)
                vals = _split_coldefs(vm.group(2))
                vmap = dict(zip([c.lower() for c in cols], vals))
                insert_out = src_rows.select(*[
                    (F.expr(vmap[c.lower()]) if c.lower() in vmap
                     else F.lit(None)).cast(dict(t.dtypes)[c]).alias(c)
                    for c in tcols
                ])
            else:  # INSERT *
                insert_out = src_rows.select(*[
                    (F.col(c) if c in src_rows.columns
                     else F.lit(None)).cast(dict(t.dtypes)[c]).alias(c)
                    for c in tcols
                ])
        if matched_out is None:
            matched_out = matched.select(
                *[F.col(f"{t_alias}.{c}").alias(c) for c in tcols])
        out = unmatched.unionByName(matched_out)
        n_affected = n_matched
        if insert_out is not None:
            insert_out = insert_out.persist()
            n_affected += insert_out.count()
            out = out.unionByName(insert_out)
        self._rewrite(name, out)
        if insert_out is not None:
            insert_out.unpersist()
        if matched_clauses:
            tagged.unpersist()
        return self._count(n_affected)

    def _create(self, con, m: re.Match):
        replace, if_not_exists = bool(m.group(1)), bool(m.group(2))
        name, body = _flat(m.group(3)), m.group(4).strip()
        if name in self.tables:
            if if_not_exists:
                return None
            if not replace:
                raise ValueError(
                    f'Catalog Error: Table with name "{name}" already exists!'
                )
        as_m = re.match(r"(?is)^(?:\([^()]*\)\s*)?AS\s+(.*)$", body)
        if as_m:  # CTAS: evaluate through the dialect layer, then write v0
            df = con.sql(as_m.group(1)).df()
            loc = self._loc(name, 0)
            df.write.mode("overwrite").parquet(loc)
            self._point(name, open_parquet(self.spark, loc).schema, 0)
            return None
        if not body.startswith("("):
            return False
        from pyspark.sql import types as T

        from duckdb_spark.sql.dialect import expand_type_aliases
        from duckdb_spark.types import duckdb_type_to_spark

        inner = body[1:body.rfind(")")]
        fields = []
        coldefs = []
        for coldef in _split_coldefs(inner):
            if re.match(r"(?i)^(primary|unique|check|foreign|constraint)\b",
                        coldef):
                continue
            mm = re.match(r'(?s)^("([^"]+)"|\S+)\s+(.*)$', coldef)
            if mm is None:
                raise ValueError(f"unparseable column def {coldef!r}")
            cname = mm.group(2) or mm.group(1)
            ctype = re.sub(
                r"(?i)\s+(primary\s+key|not\s+null|unique|default\b.*"
                r"|check\s*\(.*|collate\s+\S+)",
                "", mm.group(3)).strip()
            coldefs.append((cname, ctype))
            fields.append(T.StructField(
                cname, duckdb_type_to_spark(expand_type_aliases(ctype))
            ))
        mark_columns(self.spark, name, coldefs)
        self._point(name, T.StructType(fields), 0)
        return None

    def _insert(self, con, m: re.Match):
        from duckdb_spark.relation import Relation

        name = _flat(m.group(1))
        schema, _ = self.tables[name]
        cols = (
            [c.strip().strip('"') for c in m.group(2)[1:-1].split(",")]
            if m.group(2) else [f.name for f in schema.fields]
        )
        src_sql = m.group(3).strip()
        ret = None
        ridx = _find_top_keyword(src_sql, "RETURNING")
        if ridx >= 0:
            ret = src_sql[ridx + len("RETURNING"):].rstrip("; \t\n").strip()
            src_sql = src_sql[:ridx].strip()
        st = state.of(self.spark)
        tcols = st.time_cols.get(name.lower(), set())
        tzcols = st.timetz_cols.get(name.lower(), set())
        has_time_cols = bool(tcols or tzcols)
        if src_sql.upper().startswith("VALUES") and has_time_cols:
            # TIME columns carry BIGINT µs but VALUES feed text
            # ('12:11:49.5'): consensus typing keeps the strings so the
            # aligned select below can parse them (test_mode.test:146)
            src = con.sql("SELECT * FROM (" + src_sql + "\n)").df()
        elif src_sql.upper().startswith("VALUES"):
            # bind VALUES elements to the TARGET column types (reference
            # binder/statement/bind_insert.cpp: insert VALUES lists bind
            # against the table schema, not by literal consensus — e.g.
            # `VALUES (1, 0), ('infinity', 9)` into a VARCHAR column keeps
            # '1' and 'infinity', never doubles)
            try:
                bound = _bind_values_types(
                    src_sql,
                    [schema[c].dataType for c in cols])
                src = con.sql("SELECT * FROM (" + bound + "\n)").df()
            except Exception as e:  # noqa: BLE001 — consensus fallback
                if "Conversion Error" in str(e) or \
                        "Binder Error" in str(e):
                    raise  # invalid literal for the target type
                src = con.sql("SELECT * FROM (" + src_sql + "\n)").df()
        else:
            src = con.sql(src_sql).df()
        if len(src.columns) != len(cols):
            raise ValueError(
                "Binder Error: INSERT column count mismatch"
            )
        # expression-derived source column names (dots, parens) break
        # name-based resolution — normalize positionally first
        src = src.toDF(*[f"__src{ci}" for ci in range(len(src.columns))])
        by_name = dict(zip(cols, src.columns))
        src_types = {f.name: f.dataType for f in src.schema.fields}

        def _bind(f):
            if f.name not in by_name:
                return F.lit(None).cast(f.dataType)
            c = by_name[f.name]
            if f.name.lower() in tzcols and \
                    src_types[c].simpleString() == "string":
                # TIMETZ column fed text: parse onto the packed carrier
                from duckdb_spark.sql.dialect import _timetz_parse_sql

                return F.expr(_timetz_parse_sql(f"`{c}`"))
            if f.name.lower() in tcols and \
                    src_types[c].simpleString() == "string":
                # TIME column fed text ('12:11:49.5'): parse to
                # µs-since-midnight (types.py TIME emulation;
                # test_mode.test:146)
                q = f"`{c}`"
                return F.expr(
                    f"CASE WHEN {q} IS NULL THEN CAST(NULL AS BIGINT) ELSE "
                    f"CAST(split({q}, ':')[0] AS BIGINT) * 3600000000 + "
                    f"CAST(split({q}, ':')[1] AS BIGINT) * 60000000 + "
                    f"CAST(round(CAST(split({q}, ':')[2] AS DOUBLE) "
                    f"* 1000000) AS BIGINT) END")
            # df[name] indexing — expression-derived column names would
            # break F.col's dotted parsing (list_join.test:11)
            return src[c].cast(f.dataType)

        aligned = src.select(*[
            _bind(f).alias(f.name) for f in schema.fields
        ])
        # Materialize the count (and RETURNING rows) BEFORE the append:
        # `aligned` is a lazy plan that may read the target table itself
        # (INSERT INTO t SELECT ... FROM t), so evaluating it after the
        # write would re-scan the newly appended files (ADVICE r06).
        aligned = aligned.persist()
        n = aligned.count()
        ret_rows = ret_schema = None
        if ret:
            from duckdb_spark.sql.dialect import translate

            aligned.createOrReplaceTempView("__managed_returning")
            r = self.spark.sql(translate(
                f"SELECT {ret} FROM __managed_returning"))
            ret_rows, ret_schema = r.collect(), r.schema
        # Native executor-parallel file append — never a collect.
        aligned.write.mode("append").insertInto(name)
        aligned.unpersist()
        self.spark.catalog.refreshTable(name)
        if ret:
            return Relation(self.spark.createDataFrame(ret_rows, ret_schema))
        return self._count(n)

    def _delete(self, con, m: re.Match):
        from duckdb_spark.relation import Relation
        from duckdb_spark.sql.dialect import translate

        name = _flat(m.group(1))
        src = f"{name} AS {m.group(2)}" if m.group(2) else name
        cl = _split_clauses(m.group(3) or "", ["WHERE", "RETURNING"])
        where, ret = cl.get("WHERE"), cl.get("RETURNING")
        before = self.spark.table(name).count()
        if where:
            # route through con.sql: a correlated subquery in the WHERE
            # needs the decorrelation retries (test_delete_subquery.test)
            keep = con.sql(
                f"SELECT * FROM {src} "
                f"WHERE NOT COALESCE(({where}), FALSE)").df()
            removed = None
            if ret:
                removed = con.sql(
                    f"SELECT {ret} FROM {src} "
                    f"WHERE COALESCE(({where}), FALSE)").df().collect()
            self._rewrite(name, keep)
            after = self.spark.table(name).count()
            if ret:
                return Relation(self.spark.createDataFrame(
                    removed, self.spark.sql(translate(
                        f"SELECT {ret} FROM {src}")).schema))
            return self._count(before - after)
        schema, version = self.tables[name]
        self._point(name, schema, version + 1)
        return self._count(before)

    def _update(self, con, m: re.Match):
        from duckdb_spark.relation import Relation
        from duckdb_spark.sql.dialect import translate

        name = _flat(m.group(1))
        src = f"{name} AS {m.group(2)}" if m.group(2) else name
        schema, _ = self.tables[name]
        cl = _split_clauses(m.group(3), ["WHERE", "RETURNING"])
        set_body, where, ret = cl["__head"], cl.get("WHERE"), cl.get("RETURNING")
        sets = {}
        for part in _split_coldefs(set_body):
            sm = re.match(r'(?s)^\s*("([^"]+)"|\w+)\s*=\s*(.*)$', part)
            if not sm:
                raise ValueError(f"unparseable SET clause {part!r}")
            sets[(sm.group(2) or sm.group(1)).lower()] = sm.group(3).strip()
        cond = where or "TRUE"
        proj = ", ".join(
            f"CASE WHEN COALESCE(({cond}), FALSE) THEN ({sets[f.name.lower()]}) "
            f"ELSE `{f.name}` END AS `{f.name}`"
            if f.name.lower() in sets else f"`{f.name}`"
            for f in schema.fields
        )
        # con.sql: correlated subqueries in SET/WHERE take the
        # decorrelation retries (test_update_subquery.test)
        updated = con.sql(f"SELECT {proj} FROM {src}").df()
        n = con.sql(
            f"SELECT COUNT(*) FROM {src} "
            f"WHERE COALESCE(({cond}), FALSE)").df().collect()[0][0]
        ret_rows = None
        if ret:
            ret_rows = con.sql(
                f"SELECT {ret} FROM (SELECT {proj} FROM {src} "
                f"WHERE COALESCE(({cond}), FALSE))").df().collect()
        self._rewrite(name, updated.select(*[f.name for f in schema.fields])
                      .selectExpr(*[
                          f"CAST(`{f.name}` AS {f.dataType.simpleString()}) "
                          f"AS `{f.name}`" for f in schema.fields]))
        if ret:
            from duckdb_spark.relation import Relation as R

            return R(self.spark.createDataFrame(
                ret_rows, self.spark.sql(translate(
                    f"SELECT {ret} FROM {name} WHERE 1=0")).schema))
        return self._count(n)

    def _count(self, n: int):
        from duckdb_spark.relation import Relation

        return Relation(self.spark.createDataFrame([(n,)], "Count: bigint"))
