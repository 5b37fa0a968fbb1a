"""File readers with DuckDB-flavored option names.

Reference surface:
- `read_csv` / `read_csv_auto` with the 5-phase dialect sniffer
  (`src/function/table/read_csv.cpp`, `src/execution/operator/csv_scanner/
  sniffer/csv_sniffer.hpp:74-84`) → `spark.read.csv` with inferSchema plus a
  light Python-side dialect sniffer (`sniff_csv`) mirroring
  `src/function/table/sniff_csv.cpp`'s output columns.
- `read_parquet` (`extension/parquet/parquet_reader.cpp`): row-group pruning,
  bloom filters and column pruning are native to Spark's vectorized parquet
  source; `file_row_number` maps to the `_metadata.row_index` hidden column.
- `read_json` / `read_json_auto` (`extension/json/json_functions/
  read_json.cpp`) → `spark.read.json` (NDJSON default, `multiLine` for
  array-of-objects files).

All readers return lazy DataFrames — scans stay distributed and pushdown
applies (check `.explain` → PushedFilters).

Every parquet open in the engine goes through `open_parquet`. Like
DuckDB's reader, it reads the schema from a footer itself, on the driver,
and hands it to Spark, so opening a local file or directory runs no Spark
job; Spark's own schema inference runs one per open.

`read_parquet`, `read_csv` and `read_json` keep what they read in the
session's scan cache (`SessionState.scans`), like DuckDB's
`ParquetFileMetadataCache`: a second read of unchanged local files returns
the same DataFrame without opening them again.
"""

from __future__ import annotations

import csv as _csv
import glob as _glob
import hashlib
import io as _io
import json
import os
import re
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark import state

# held while an entry is stored or its view registered, so a view never
# ends up holding an entry that another thread has replaced
_VIEWS = threading.Lock()

# DuckDB read_csv option name → Spark DataFrameReader option name.
_CSV_OPTION_MAP = {
    "delim": "sep",
    "sep": "sep",
    "quote": "quote",
    "escape": "escape",
    "header": "header",
    "skip": "skipRows",
    "comment": "comment",
    "nullstr": "nullValue",
    "null_padding": None,  # Spark pads missing trailing columns natively
    "dateformat": "dateFormat",
    "timestampformat": "timestampFormat",
    "compression": "compression",
    "ignore_errors": None,  # → mode=DROPMALFORMED
    "encoding": "encoding",
    "sample_size": "samplingRatio",
    "all_varchar": None,  # → inferSchema=False
    "names": None,
    "columns": None,
}


def _resolve(path: str | list[str]) -> list[str] | None:
    """The local names `path` stands for, made absolute against Python's
    current directory: globs expand the way DuckDB's do (`**` recurses).
    None if a path has a scheme other than `file:` or names nothing."""
    names = []
    for p in [path] if isinstance(path, str) else path:
        url = urlparse(p)
        if url.scheme == "file":
            p = url.path
        elif url.scheme:
            return None
        found = (sorted(_glob.glob(p, recursive=True)) if _glob.has_magic(p)
                 else [p] if os.path.exists(p) else [])
        if not found:
            return None
        names += [os.path.abspath(n) for n in found]
    return names


def _fingerprint(names: list[str]) -> tuple | None:
    """The sorted (path, inode, size, mtime_ns) of every file among
    `names`, directories walked; None if there is none."""
    files = []
    for name in names:
        if os.path.isdir(name):
            files += [os.path.join(d, f) for d, _, fs in os.walk(name) for f in fs]
        elif os.path.isfile(name):
            files.append(name)
    try:
        stats = [(f, os.stat(f)) for f in set(files)]
    except OSError:  # gone since the listing
        return None
    return tuple(sorted((f, st.st_ino, st.st_size, st.st_mtime_ns)
                        for f, st in stats)) or None


def _cached(spark: SparkSession, reader: str, path, options: dict, read) -> DataFrame:
    """`read(paths)` over the local names `path` resolves to, or the
    DataFrame it gave for the same reader, paths and options while the
    files had the fingerprint they have now. A changed fingerprint reads
    again and replaces the entry. A path that resolves to no local file
    is read as written, every time, so Spark reports it."""
    names = _resolve(path)
    fp = _fingerprint(names) if names else None
    if fp is None:
        return read(path)
    scans = state.of(spark).scans
    key = (reader, repr(path), repr(sorted(options.items())))
    hit = scans.get(key)
    if hit is not None and hit.fingerprint == fp:
        return hit.df
    df = read(names)
    with _VIEWS:  # a thread that read the same files first wins
        hit = scans.get(key)
        if hit is None or hit.fingerprint != fp:
            hit = scans[key] = state.Scan(fp, df)
    return hit.df


def scan_view(spark: SparkSession, df: DataFrame) -> str | None:
    """The temp view of the cached scan `df`, registered the first time
    it is asked for; None if `df` is not a cached scan. The name comes
    from the entry's key, so a replaced entry takes over its view."""
    with _VIEWS:
        for key, scan in state.of(spark).scans.items():
            if scan.df is df:
                view = f"__tvf_scan_{hashlib.sha1(repr(key).encode()).hexdigest()[:16]}"
                if not scan.registered:
                    df.createOrReplaceTempView(view)
                    scan.registered = True
                return view
    return None


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """DuckDB `read_csv_auto` semantics: sniff dialect + infer types by
    default; explicit options override the sniffer.

    Defaults diverge from Spark's: RFC4180 `""` quote-doubling (DuckDB's
    escape default, reference csv_reader_options.cpp) and multiLine for
    quoted embedded newlines (test_thread_count.test's bigram CSV). Note
    multiLine disables intra-file split parallelism — at 100-TB scale
    pass `multiline=False` (or convert to parquet) for splittable scans;
    DuckDB's boundary-detecting parallel CSV scanner has no Spark
    equivalent."""
    return _cached(spark, "csv", path, options,
                   lambda paths: _read_csv(spark, paths, **options))


def _read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    spark_opts: dict[str, str] = {"header": "true", "inferSchema": "true",
                                  "escape": '"', "multiLine": "true"}
    schema = options.pop("schema", None)
    names = options.pop("names", None) or options.pop("columns", None)
    if options.pop("all_varchar", False):
        spark_opts["inferSchema"] = "false"
    if options.pop("ignore_errors", False):
        spark_opts["mode"] = "DROPMALFORMED"
    for k, v in options.items():
        mapped = _CSV_OPTION_MAP.get(k, k)
        if mapped:
            spark_opts[mapped] = str(v) if not isinstance(v, bool) else str(v).lower()
    reader = spark.read.options(**spark_opts)
    if schema is not None:
        reader = reader.schema(schema)
        reader = reader.option("inferSchema", "false")
    df = reader.csv(path)
    if names:
        df = df.toDF(*names)
        if isinstance(names, dict):
            # columns={'v': 'UUID[]'}: the declared types BIND — nested
            # types parse through the textcast runtime so malformed text
            # errors like the reference's child cast
            # (cast/string_to_list_cast.test:503)
            from pyspark.sql import functions as F
            from pyspark.sql import types as T

            from duckdb_spark.sql.textcast import (
                register_runtime_cast,
                runtime_cast_name,
            )
            from duckdb_spark.types import duckdb_type_to_spark

            sel = []
            for cn, dty in names.items():
                st = duckdb_type_to_spark(dty)
                if isinstance(st, (T.ArrayType, T.StructType, T.MapType)) \
                        and isinstance(df.schema[cn].dataType, T.StringType):
                    fn = runtime_cast_name(dty, False)
                    register_runtime_cast(spark, fn)
                    sel.append(F.expr(f"{fn}(`{cn}`)").alias(cn))
                else:
                    sel.append(F.col(cn).cast(st).alias(cn))
            df = df.select(*sel)
    return df


def _sniff_type(values: list[str]) -> str:
    """Type-detection phase of the sniffer (reference csv_sniffer.hpp
    phase 3/4: type detection + refinement over the sample): try the type
    ladder BOOLEAN → BIGINT → DOUBLE → DATE → TIMESTAMP → VARCHAR on every
    sampled value."""
    import re as _re

    vals = [v for v in values if v not in ("", None)]
    if not vals:
        return "VARCHAR"
    if all(v.lower() in ("true", "false") for v in vals):
        return "BOOLEAN"
    if all(_re.fullmatch(r"[+-]?\d+", v) for v in vals):
        return "BIGINT"
    if all(_re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", v) for v in vals):
        return "DOUBLE"
    if all(_re.fullmatch(r"\d{4}-\d{2}-\d{2}", v) for v in vals):
        return "DATE"
    if all(_re.fullmatch(r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?", v) for v in vals):
        return "TIMESTAMP"
    return "VARCHAR"


def sniff_csv(path: str, sample_bytes: int = 64 * 1024) -> dict:
    """Mirror of DuckDB's `sniff_csv()` table function — full output-column
    set (`src/function/table/sniff_csv.cpp`): Delimiter, Quote, Escape,
    NewLineDelimiter, SkipRows, HasHeader, Columns (with sniffed types),
    DateFormat, TimestampFormat, UserArguments, Prompt. Driver-side (reads
    one file head) — sniffing is inherently a small-sample operation in
    the reference too."""
    files = sorted(_glob.glob(path)) or [path]
    with open(files[0], "rb") as fh:
        raw = fh.read(sample_bytes)
    newline = "\r\n" if b"\r\n" in raw else "\n"
    sample = raw.decode("utf-8", errors="replace")
    # skip-rows detection: leading lines that don't match the dominant
    # column count (phase 1 of the reference sniffer searches dialect +
    # skip jointly; a consistency scan approximates it on clean data)
    try:
        dialect = _csv.Sniffer().sniff(sample, delimiters=",;|\t")
        has_header = _csv.Sniffer().has_header(sample)
    except _csv.Error:
        dialect, has_header = None, True
    delim = dialect.delimiter if dialect else ","
    quote = dialect.quotechar if dialect else '"'
    rows = list(_csv.reader(_io.StringIO(sample), delimiter=delim, quotechar=quote))
    if not rows:
        return {"Delimiter": delim, "Quote": quote, "Escape": quote,
                "NewLineDelimiter": newline, "SkipRows": 0, "HasHeader": False,
                "Columns": [], "DateFormat": None, "TimestampFormat": None,
                "UserArguments": None, "Prompt": None}
    from collections import Counter

    ncols = Counter(len(r) for r in rows).most_common(1)[0][0]
    skip = 0
    while skip < len(rows) - 1 and len(rows[skip]) != ncols:
        skip += 1
    body = rows[skip:]
    header_row = body[0] if body else []
    data = body[1:] if has_header else body
    names = (
        header_row if has_header else [f"column{i:02d}" for i in range(ncols)]
    )
    cols = []
    for i in range(ncols):
        sampled = [r[i] for r in data[:100] if len(r) > i]
        cols.append({"name": names[i] if i < len(names) else f"column{i:02d}",
                     "type": _sniff_type(sampled)})
    date_fmt = "%Y-%m-%d" if any(c["type"] == "DATE" for c in cols) else None
    ts_fmt = (
        "%Y-%m-%d %H:%M:%S" if any(c["type"] == "TIMESTAMP" for c in cols) else None
    )
    col_spec = ", ".join(f"'{c['name']}': '{c['type']}'" for c in cols)
    prompt = (
        f"FROM read_csv('{files[0]}', auto_detect=false, delim='{delim}', "
        f"quote='{quote}', escape='{quote}', new_line='{newline}', skip={skip}, "
        f"header={str(bool(has_header)).lower()}, columns={{{col_spec}}});"
    )
    return {
        "Delimiter": delim,
        "Quote": quote,
        "Escape": quote,
        "NewLineDelimiter": newline,
        "SkipRows": skip,
        "HasHeader": bool(has_header),
        "Columns": cols,
        "DateFormat": date_fmt,
        "TimestampFormat": ts_fmt,
        "UserArguments": None,
        "Prompt": prompt,
    }


def read_csv_with_rejects(
    spark: SparkSession, path: str, schema: str, **options
):
    """CSV scan with a rejects table (reference
    src/execution/operator/persistent/csv_rejects_table.cpp: the
    store_rejects/rejects_table options collect unparseable lines instead
    of failing the scan). Spark-side: PERMISSIVE mode with a corrupt-record
    column; returns (clean_df, rejects_df) where rejects carries the
    DuckDB rejects-table shape (file, line content as csv_line, error)."""
    corrupt = "__rejects"
    reader = (
        spark.read.options(
            header=str(options.pop("header", True)).lower(),
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt,
        )
        .schema(schema + f", {corrupt} STRING")
    )
    for k, v in options.items():
        mapped = _CSV_OPTION_MAP.get(k, k)
        if mapped:
            reader = reader.option(mapped, str(v) if not isinstance(v, bool) else str(v).lower())
    from pyspark.sql import functions as F

    # capture the file name BEFORE caching (input_file_name() has no file
    # context once rows come from the cache); one scan serves both outputs
    df = reader.csv(path).withColumn("__file", F.input_file_name()).cache()
    clean = df.filter(F.col(corrupt).isNull()).drop(corrupt, "__file")
    rejects = df.filter(F.col(corrupt).isNotNull()).select(
        F.col("__file").alias("file"),
        F.col(corrupt).alias("csv_line"),
        F.lit("CAST: could not parse line against schema").alias("error"),
    )
    return clean, rejects


# parquet summary files, which Spark's inference prefers in this order
_SUMMARIES = ("_common_metadata", "_metadata")
# DataFrameReader options that change which files Spark lists
_LISTING_OPTIONS = frozenset(("basepath", "pathglobfilter", "recursivefilelookup",
                              "modifiedbefore", "modifiedafter"))


def _spark_lists(name: str) -> bool:
    """Whether Spark's file listing keeps a file or directory of this name
    (`InMemoryFileIndex.shouldFilterOutPathName`, negated)."""
    return (name.startswith(_SUMMARIES)
            or not ((name.startswith("_") and "=" not in name)
                    or name.startswith(".") or name.endswith("._COPYING_")))


def _schema_file(paths: list[str]) -> str | None:
    """The file whose footer Spark's schema inference reads for `paths`
    (`ParquetUtils.inferSchema` without merging): over the files Spark
    lists, sorted by path, the first `_common_metadata`, else the first
    `_metadata`, else the first data file. None when Spark would read
    something else: a non-local or relative path, a glob, a hive-partitioned
    directory (partition discovery sets those columns' types), or nothing."""
    files = []
    for p in paths:
        if urlparse(p).scheme or not os.path.isabs(p) or _glob.has_magic(p) \
                or any(c in p for c in "{}\\"):
            return None
        if os.path.isdir(p):
            # without partition columns Spark reads only the directory's
            # own files (`InMemoryFileIndex.allFiles`)
            for d, subdirs, fs in os.walk(p):
                subdirs[:] = [s for s in subdirs if _spark_lists(s)]
                listed = [os.path.join(d, f) for f in fs if _spark_lists(f)]
                if d == p:
                    files += listed
                elif listed and "=" in os.path.relpath(d, p):
                    return None
        elif os.path.isfile(p) and _spark_lists(os.path.basename(p)):
            files.append(p)
    files.sort()
    names = [os.path.basename(f) for f in files]
    for summary in _SUMMARIES:
        if summary in names:
            return files[names.index(summary)]
    data = [f for f, name in zip(files, names) if name not in _SUMMARIES]
    return data[0] if data else None


def _footer_schema(spark: SparkSession, path: str):
    """The schema Spark infers from the parquet footer of the local file
    `path`, and the top-level columns of it the footer types
    TIMESTAMP(NANOS) that Spark reads as bigint (`nanosAsLong`): name →
    isAdjustedToUTC. The footer is read and converted by Spark's own
    `ParquetFileFormat.readSchemaFromFooter` and
    `ParquetToSparkSchemaConverter` under the session's conf, over py4j.
    (None, {}) when the file is not on Spark's local file system or its
    footer cannot be read; Spark's inference then reports the problem
    itself."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException
    from pyspark.sql.types import LongType, StructType

    jvm, jsession = spark._jvm, spark._jsparkSession
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    try:
        conf = jsession.sessionState().newHadoopConf()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        if jpath.getFileSystem(conf).getScheme() != "file":
            return None, {}
        footer = pq.ParquetFooterReader.readFooter(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(jpath, conf),
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        converter = pq.ParquetToSparkSchemaConverter(jsession.sessionState().conf())
        schema = pq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(jpath, footer), converter)
        schema = StructType.fromJson(json.loads(schema.json()))
        nanos = {}
        if any(f.dataType == LongType() for f in schema.fields):
            text = footer.getFileMetaData().getSchema().toString()
            nanos = {m[1]: m[2] == "true" for m in _NANOS_FIELD.finditer(text)
                     if m[1] in schema.names and schema[m[1]].dataType == LongType()}
    except (Py4JError, PySparkException):
        return None, {}
    return schema, nanos


# a top-level field of a parquet MessageType's text
_NANOS_FIELD = re.compile(
    r"(?m)^  (?:required|optional) int64 (.+) \(TIMESTAMP\(NANOS,(true|false)\)\);$")


def _open(spark: SparkSession, path: str | list[str], options: dict):
    """`open_parquet`'s DataFrame and the footer's nanosecond timestamp
    columns (`_footer_schema`); none when Spark infers the schema."""
    paths = [path] if isinstance(path, str) else list(path)
    reader = spark.read.options(**options)
    opts = {k.lower(): str(v).lower() for k, v in options.items()}
    merge = opts.get("mergeschema") or spark.conf.get("spark.sql.parquet.mergeSchema")
    nanos = {}
    if merge != "true" and _LISTING_OPTIONS.isdisjoint(opts):
        f = _schema_file(paths)
        schema, nanos = _footer_schema(spark, f) if f else (None, {})
        if schema is not None:
            reader = reader.schema(schema)
    return reader.parquet(*paths), nanos


def open_parquet(spark: SparkSession, path: str | list[str], **options) -> DataFrame:
    """`spark.read.options(**options).parquet(*paths)` with the schema
    Spark would infer, read from the footer Spark would pick, so the open
    runs no Spark job. A schema-merging read (`mergeSchema`), a read whose
    file listing options change what Spark lists, and paths
    `_schema_file` cannot pick a file for pass no schema: that is Spark's
    own inference, one job."""
    return _open(spark, path, options)[0]


def _as_written(path: str | list[str]) -> list[tuple[str, str]]:
    """(absolute prefix, prefix as written) for each local path or glob
    of `path`: a file maps to itself; a directory, or the directory part
    of a glob before its first wildcard, maps to itself with a trailing
    `/`. DuckDB's `filename` is each match as the glob gave it."""
    pairs = []
    for p in [path] if isinstance(path, str) else path:
        url = urlparse(p)
        p = url.path if url.scheme == "file" else p
        if _glob.has_magic(p):
            parts = p.split("/")
            i = next(i for i, part in enumerate(parts) if _glob.has_magic(part))
            written = "/".join(parts[:i]) + "/" if i else ""
            pairs.append((os.path.join(os.path.abspath(written or "."), ""), written))
        elif os.path.isdir(p):
            pairs.append((os.path.join(os.path.abspath(p), ""), os.path.join(p, "")))
        else:
            pairs.append((os.path.abspath(p), p))
    return pairs


def _filename(path: str | list[str]):
    """DuckDB's `filename` column for a scan of `path`: Spark's
    `_metadata.file_path` as a local path, each match under the prefix
    it was written with."""
    # keep a literal `+` through url_decode
    local = F.url_decode(F.replace(F.regexp_replace(
        "_metadata.file_path", "^file:(//)?", ""), F.lit("+"), F.lit("%2B")))
    name = local
    for absolute, written in reversed(_as_written(path)):
        if absolute == written:
            continue
        if absolute.endswith("/"):
            name = F.when(local.startswith(absolute), F.concat(
                F.lit(written), local.substr(len(absolute) + 1, 1 << 30))).otherwise(name)
        else:
            name = F.when(local == absolute, F.lit(written)).otherwise(name)
    return name.alias("filename")


def read_parquet(spark: SparkSession, path: str | list[str],
                 file_row_number: bool = False, filename: bool = False,
                 union_by_name: bool = False, **options) -> DataFrame:
    """`file_row_number` and `filename` append DuckDB's columns of those
    names, in that order; `filename` is the local path as written, a
    glob's match as the glob gave it (relative to the current directory
    for a relative glob), not Spark's `file:` URI. A TIMESTAMP(NANOS)
    column of a footer-schema read is a µs timestamp, as DuckDB's reader
    makes it a timestamp, not the bigint Spark reads under `nanosAsLong`."""
    def read(paths) -> DataFrame:
        df, nanos = _open(spark, paths, dict(
            options, **({"mergeSchema": "true"} if union_by_name else {})))
        extra = []
        if file_row_number:
            extra.append(F.col("_metadata.row_index").alias("file_row_number"))
        if filename:
            extra.append(_filename(path))
        df = df.select("*", *extra) if extra else df
        if not nanos:
            return df
        # TIMESTAMP(NANOS) truncated to µs, as Spark types TIMESTAMP(MICROS):
        # `timestamp` when adjusted to UTC, else `timestamp_ntz`
        return df.withColumns({c: F.expr(
            f"timestamp_micros(`{c.replace('`', '``')}` div 1000)" if utc else
            f"timestampadd(MICROSECOND, `{c.replace('`', '``')}` div 1000, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00')") for c, utc in nanos.items()})

    return _cached(spark, "parquet", path,
                   dict(options, file_row_number=file_row_number,
                        filename=filename, union_by_name=union_by_name), read)


def read_json(spark: SparkSession, path: str, format: str = "auto", **options) -> DataFrame:
    def read(paths) -> DataFrame:
        reader = spark.read.options(**options)
        if format == "array":
            # DuckDB auto-detects top-level-array JSON; Spark needs multiLine.
            reader = reader.option("multiLine", "true")
        return reader.json(paths)  # Spark accepts str or list here natively

    return _cached(spark, "json", path, dict(options, format=format), read)


def read_duckdb(spark: SparkSession, db_path: str, table: str) -> DataFrame:
    """Read a table out of a .duckdb database file (reference
    src/function/table/read_duckdb.cpp / ATTACH): open read-only through
    the duckdb client, stream Arrow batches, hand to Spark. The file is a
    single-machine artifact, so the driver-side read is inherent —
    downstream transformations are distributed as usual."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        arrow_table = con.execute(f'SELECT * FROM "{table}"').arrow()
    finally:
        con.close()
    return spark.createDataFrame(arrow_table.to_pandas())


def read_blob(spark: SparkSession, path: str) -> DataFrame:
    """DuckDB read_blob(pattern) → (filename, content BLOB, size, last_modified)
    via Spark's binaryFile source (reference src/function/table/read_file.cpp
    schema). Distributed: each file is a task-side read, glob/dir patterns
    fan out across executors; content column is pruned when unused."""
    df = spark.read.format("binaryFile").load(path)
    return df.select(
        F.col("path").alias("filename"),
        F.col("content"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("last_modified"),
    )


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """DuckDB read_text(pattern): read_blob with UTF-8 decoded content.
    decode() is JVM-side; invalid UTF-8 raises, matching the reference's
    "could not be decoded" error path."""
    blob = read_blob(spark, path)
    return blob.withColumn("content", F.decode(F.col("content"), "UTF-8"))


def read_file(spark: SparkSession, path: str) -> DataFrame:
    """Alias surface: reference registers read_text/read_blob from
    read_file.cpp; read_file behaves as read_blob."""
    return read_blob(spark, path)


def csv_for_copy_from(spark, path: str, opts: str, target_names,
                      target_ducktypes=None):
    """CSV source for COPY <table> FROM: DuckDB auto-detects the header
    row (reference read_csv auto_detect). Emulate: read headerless, and
    promote the first row to a header when it matches the target column
    names OR fails a DuckDB TRY_CAST probe against the target types
    (cast/string_to_list_cast.test writes one file with the default
    expression-name header and one with HEADER 0)."""
    import re as _re

    dm = _re.search(
        r"(?i)\b(?:DELIMITER|DELIM|SEP|SEPARATOR)\s+'((?:[^']|'')*)'", opts)
    sep = dm.group(1).replace("''", "'") if dm else ","
    # DuckDB unescapes \t/\n/\r in COPY delimiter options (pg_lateral.test
    # reads tenk.tsv.gz with DELIMITER '\t')
    sep = sep.replace("\\t", "\t").replace("\\n", "\n").replace("\\r", "\r")
    rd = spark.read.option("sep", sep)
    hm = _re.search(r"(?i)\bHEADER\s+'?(\w+)'?", opts)
    if hm:
        hdr = hm.group(1).lower() in ("1", "true", "on")
        return rd.option("header", str(hdr).lower()).csv(path)
    df = rd.option("header", "false").csv(path)
    first = df.limit(1).collect()
    is_header = False
    if first:
        tl = [str(t).lower() for t in target_names]
        vals = list(first[0])
        if [str(v).lower() for v in vals] == tl[:len(vals)]:
            is_header = True
        elif target_ducktypes:
            try:
                import duckdb as _dk

                con = _dk.connect()
                for v, dt in zip(vals, target_ducktypes):
                    if v is None or _re.match(r"(?i)^\s*(varchar|string|"
                                              r"text)", dt):
                        continue
                    probe = con.execute(
                        f"SELECT TRY_CAST(? AS {dt})", [str(v)]
                    ).fetchone()[0]
                    if probe is None:
                        is_header = True
                        break
                con.close()
            except Exception:  # noqa: BLE001 — keep headerless reading
                pass
    if is_header:
        return rd.option("header", "true").csv(path)
    return df
