"""Native Python UDTF registration: SQL-callable table-in/table-out.

Reference: src/execution/operator/projection/physical_tableinout_function.cpp
(a table function invoked in FROM producing rows per input row). Spark 4's
Python UDTF is the 1:1 surface: a class with eval(*args) yielding rows,
registered into the session catalog so SQL text can do
`SELECT * FROM fn(...)` — including the lateral-join form
`FROM t, LATERAL fn(t.col)` that matches the reference's table-in/out
operator (rows produced per input row).

Arrow-optimized when spark.sql.execution.pythonUDTF.arrow.enabled is on
(set in duckdb_spark.session).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf as _udtf

from duckdb_spark import state


def register_udtf(spark: SparkSession, name: str, cls=None, *, returnType: str):
    """Register `cls` (a plain Python class with eval(self, *args) yielding
    tuples) as a SQL-callable UDTF. Usable as a decorator:

        @register_udtf(spark, "split_words", returnType="word string, pos int")
        class SplitWords:
            def eval(self, text: str):
                for i, w in enumerate((text or "").split()):
                    yield (w, i)

        conn.sql("SELECT * FROM split_words('a b c')")
    """
    def _register(c):
        fn = _udtf(c, returnType=returnType)
        spark.udtf.register(name, fn)
        return c

    if cls is None:
        return _register
    return _register(cls)


# ----------------------------------------------------------- built-ins
# The reference exposes generate_series/range as table-in/out physical
# operators; our versions are Column/range-backed (queries/analytics.py).
# These built-ins cover the *custom* table-in/out surface a pipeline needs.


class _SplitText:
    """tokenize(text) → one row per whitespace token with its position."""

    def eval(self, text: str):  # noqa: D102
        for i, tok in enumerate((text or "").split()):
            yield (tok, i)


class _NgramRows:
    """ngrams(text, n) → one row per character n-gram."""

    def eval(self, text: str, n: int):  # noqa: D102
        s = text or ""
        n = max(1, int(n or 1))
        for i in range(max(0, len(s) - n + 1)):
            yield (s[i : i + n], i)


def register_builtin_udtfs(spark: SparkSession) -> None:
    """Install the built-in table-in/out functions into the session, once
    per session (`SessionState.udfs`)."""
    udfs = state.of(spark).udfs
    if "tokenize_rows" not in udfs:
        register_udtf(spark, "tokenize_rows", _SplitText, returnType="token string, pos int")
        register_udtf(spark, "ngram_rows", _NgramRows, returnType="gram string, pos int")
        udfs.update(("tokenize_rows", "ngram_rows"))
