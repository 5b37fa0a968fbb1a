"""Engine state: one `SessionState` per SparkSession.

A SparkSession owns the temp views our tables live in, which makes it our
DuckDB Database: the settings, types, schemas and column marks DuckDB
keeps in its catalog live on the session's `SessionState`, found with
`of(spark)` and dropped with the session.

`dialect.translate` takes no session, so `Connection.sql` points the
current context at its session's state on entry (`activate`); translate
reads it with `current()`, which never calls into the JVM. A context no
Connection has activated reads an empty state of its own.
"""

from __future__ import annotations

import contextlib
import contextvars
import dataclasses
from dataclasses import dataclass, field


@dataclass(eq=False)
class SessionState:
    # DuckDB settings (`SET name = value`): lowercase name → lowercase value
    settings: dict[str, str] = field(default_factory=dict)
    # CREATE TYPE aliases (reference create_type_info.cpp): lowercase
    # qualified name → DuckDB type text with nested aliases expanded
    types: dict[str, str] = field(default_factory=dict)
    # CREATE TYPE … AS ENUM member lists, in declaration order (enums
    # compare and sort by member position, reference enum_type.cpp)
    enums: dict[str, list[str]] = field(default_factory=dict)
    # member lists the `__dkenumN` markers of translated text index
    enum_marks: list[list[str]] = field(default_factory=list)
    # CREATE SCHEMA names: `s.t` flattens to the `s__t` temp view
    schemas: set[str] = field(default_factory=set)
    # managed-table columns declared TIME / TIMETZ / with an enum type
    # (their Spark types alone can't tell): table → columns (lowercase)
    time_cols: dict[str, set[str]] = field(default_factory=dict)
    timetz_cols: dict[str, set[str]] = field(default_factory=dict)
    enum_cols: dict[str, dict[str, list[str]]] = field(default_factory=dict)
    # Python UDF and UDTF names registered on the session (register_udf)
    udfs: set[str] = field(default_factory=set)
    # sf_dir tables a Connection bound on first mention (catalog.bind):
    # name → (path, the session catalog's view as bound)
    binds: dict[str, tuple[str, object]] = field(default_factory=dict)
    # file scans (io.readers): (reader, paths, options) → Scan
    scans: dict[tuple[str, str, str], Scan] = field(default_factory=dict)
    # the Connection registered query texts run through (queries.run_text)
    connection: object = None

    def reset(self) -> None:
        """Forget the DuckDB catalog: settings, types, schemas and column
        marks. UDFs, bound tables and scan views stay registered on the
        session, so their records stay too, and so does the connection."""
        for f in dataclasses.fields(self):
            if f.name not in ("udfs", "binds", "scans", "connection"):
                getattr(self, f.name).clear()


@dataclass(eq=False)
class Scan:
    """One cached file scan: the DataFrame read while the files had
    `fingerprint`, and whether SQL text's temp view of it is registered."""
    fingerprint: tuple
    df: object
    registered: bool = False


def of(spark) -> SessionState:
    """The state of `spark`, created on first use and dropped with it. It
    lives on the session object, so the cached DataFrames in `scans`,
    which point back at their session, do not keep the session alive."""
    st = vars(spark).get("_duckdb_spark_state")
    if st is None:
        st = vars(spark).setdefault("_duckdb_spark_state", SessionState())
    return st


@dataclass(frozen=True)
class _Active:
    spark: object
    state: SessionState
    # per-call translate flags (`flags`), never stored on the state
    flags: dict[str, str] = field(default_factory=dict)
    # the `Connection.last_trace` of the statement being run (`tracing`)
    trace: list | None = None


_ACTIVE: contextvars.ContextVar[_Active] = contextvars.ContextVar("duckdb_spark_active")


def activate(spark) -> None:
    """Point the current context at `spark` and its state."""
    a = _ACTIVE.get(None)
    if a is None or a.spark is not spark:
        _ACTIVE.set(_Active(spark, of(spark)))


def _active() -> _Active:
    a = _ACTIVE.get(None)
    if a is None:
        a = _Active(None, SessionState())
        _ACTIVE.set(a)
    return a


def current() -> SessionState:
    return _active().state


def active_spark():
    """The session `activate` pointed this context at, or None."""
    return _active().spark


@contextlib.contextmanager
def flags(**values: str):
    """Switch translate flags on for the enclosed calls only: they ride on
    the pointer, so no other context ever sees them."""
    a = _active()
    token = _ACTIVE.set(dataclasses.replace(a, flags={**a.flags, **values}))
    try:
        yield
    finally:
        _ACTIVE.reset(token)


@contextlib.contextmanager
def tracing(trace: list):
    """Let the enclosed translate calls append what fired to `trace`."""
    token = _ACTIVE.set(dataclasses.replace(_active(), trace=trace))
    try:
        yield
    finally:
        _ACTIVE.reset(token)


def trace() -> list | None:
    """The list `tracing` points at, or None outside it."""
    return _active().trace


def flag(name: str) -> str:
    """A flag switched on by an enclosing `flags`, or ""."""
    return _active().flags.get(name, "")


def register_udf(spark, name: str, fn, return_type) -> None:
    """Register the Python UDF `name` on `spark`, once per session. Two
    threads racing here both register the same function, which is
    harmless, so there is no lock."""
    udfs = of(spark).udfs
    if name not in udfs:
        spark.udf.register(name, fn, return_type)
        udfs.add(name)
