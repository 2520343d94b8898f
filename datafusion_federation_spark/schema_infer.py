"""Plan-level output-schema inference (the DFSchema analog).

The reference wraps EVERY VirtualExecutionPlan in a SchemaCastScanExec
built from the claimed logical plan's own DFSchema
(datafusion-federation/src/sql/mod.rs:143-161), so federated results
always come back in the types the plan declares — regardless of how
weakly the remote engine types its wire results (SQLite affinity,
empty result sets, stringly CSV engines).

DataFusion gets that schema from its expression type-propagation rules.
Our Spark-first analog delegates the propagation to Catalyst itself:
compile the claimed sub-plan against EMPTY local DataFrames bearing each
scan's registered schema, and read the analyzed output ``StructType``.
This is analysis-only — no Spark job runs on an empty frame until an
action is called, and we never call one — yet it yields exact Spark
semantics for the whole expression surface with zero hand-written type
rules.

Analysis costs tens of milliseconds, so results are cached per SQL
provider under the claimed plan's SHAPE (:func:`shape_key`), not its
SQL text: a parameterized dashboard query re-run with fresh literals
infers once. The shape replaces every literal in a schema-inert
position with a typed marker — ``Filter`` predicates (WHERE/HAVING,
subqueries inside them included), ``Join`` conditions and
``Limit.fetch``/``skip`` — because those positions select rows but never
shape the output. The marker keeps exactly what fixes the literal's
Spark type (Python type, int32 vs int64 range, Decimal precision and
scale, null), so a literal that would coerce differently still gets its
own entry. Literals anywhere else stay verbatim: a SELECT-list constant,
an aggregate or window argument, ``round(x, 2)``'s scale, a
``named_struct`` field name or a ``from_json`` schema can each change
an output type or column name. Every scan contributes its registered
schema, so re-registering a table after remote DDL yields a new key —
stale schemas are never served and no invalidation hook is needed.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import decimal
from contextlib import contextmanager
from typing import Any, Optional

from .expressions import _UNBOUND, IntervalLit, Lit, Placeholder, SparkCol
from .plans.nodes import RemoteQueryNode, Scan

#: (applicationId, cache_key) -> StructType, or None when analysis
#: failed, oldest first. The caller's key (a provider token plus
#: :func:`shape_key`) fully determines the outcome, so repeated claims
#: of one query shape skip the Catalyst analysis round-trips entirely —
#: including a shape Catalyst cannot analyse (a remote-only function).
#: Hits move to the end; at the cap the least recently used entry goes.
_CACHE: dict = {}
_CACHE_MAX = 1024


def infer_plan_schema(spark, plan, cache_key: Optional[str] = None
                      ) -> Optional[Any]:
    """Best-effort output schema of a plan. Returns a pyspark StructType,
    or None when inference is impossible (a scan with no registered
    schema, or a construct the local compiler refuses). ``cache_key``
    must determine the outcome (see :func:`shape_key`); a failure is
    cached like a schema. None infers uncached."""
    if cache_key is not None:
        # applicationId, not id(spark): a torn-down session's address can
        # be reused by a new allocation, which would serve stale schemas
        try:
            app = spark.sparkContext.applicationId
        except Exception:
            app = id(spark)
        full_key = (app, cache_key)
    else:
        full_key = None
    if full_key in _CACHE:
        schema = _CACHE.pop(full_key)
        _CACHE[full_key] = schema
        return schema
    try:
        with _quiet_analysis_errors(spark):
            schema = _ShellCompiler(spark).compile(plan).schema
    except Exception:
        schema = None
    if full_key is not None:
        while len(_CACHE) >= _CACHE_MAX:
            _CACHE.pop(next(iter(_CACHE)), None)
        _CACHE[full_key] = schema
    return schema


class _Unkeyable(Exception):
    """A plan holds an object the shape key cannot describe."""


#: plan node type name -> fields whose literals cannot shape the output
_INERT_FIELDS = {
    "Filter": ("predicate",),
    "Aggregate": ("having",),
    "Join": ("condition",),
    "Limit": ("fetch", "skip"),
}

_SCALARS = (str, int, float, bool, type(None), decimal.Decimal, _dt.date,
            bytes)


def shape_key(plan) -> Optional[str]:
    """Literal-insensitive text key of a plan's output-schema inputs
    (see the module docstring), or None when the plan holds an object
    the key cannot describe faithfully (a pre-built Spark Column, say)
    — such plans are inferred uncached."""
    out: list = []
    try:
        _shape(plan, False, out)
    except _Unkeyable:
        return None
    return "".join(out)


def _literal_marker(v) -> str:
    """What fixes a schema-inert literal's Spark type, and nothing
    else. Any other value (an int past int64, a non-finite decimal, a
    list) stays verbatim."""
    t = type(v)
    if t is int:
        if -2 ** 31 <= v < 2 ** 31:
            return "?i32"
        if -2 ** 63 <= v < 2 ** 63:
            return "?i64"
    elif t is decimal.Decimal and v.is_finite():
        _, digits, exp = v.as_tuple()
        scale = -exp
        # java.math.BigDecimal precision/scale, widened the way
        # Spark's DecimalType.fromDecimal widens 0.05 to (2, 2)
        return f"?dec({max(len(digits), scale)},{scale})"
    elif t is _dt.datetime:
        return "?ts" if v.tzinfo is None else "?tstz"
    elif v is None or t in (str, float, bool, _dt.date, bytes):
        return f"?{t.__name__}"
    return f"{t.__name__}:{v!r}"


def _shape(x, inert: bool, out: list) -> None:
    """Append ``x``'s key text to ``out``; ``inert`` is set below a
    schema-inert plan field, where literal VALUES become markers (names,
    operators and every other field stay verbatim)."""
    if isinstance(x, _SCALARS):
        out.append(f"{type(x).__name__}:{x!r}")
    elif isinstance(x, (list, tuple)):
        out.append("[")
        for item in x:
            _shape(item, inert, out)
            out.append(",")
        out.append("]")
    elif isinstance(x, Placeholder) and x.value is _UNBOUND:
        out.append(f"${x.name!r}")          # renders as the marker itself
    elif isinstance(x, (Lit, Placeholder)) and inert:
        out.append(_literal_marker(x.value))
    elif isinstance(x, IntervalLit) and inert:
        out.append(f"?interval_{x.unit}")    # the unit alone fixes the type
    elif isinstance(x, Scan):
        h = x.table
        ref = (tuple(h.remote.ref.parts), h.remote.ref.args) \
            if h.remote is not None else None
        out.append(f"Scan({h.local_name!r},{ref!r},{x.projection!r},")
        _schema_shape(h.schema, out)
        out.append(")")
    elif isinstance(x, RemoteQueryNode):
        # the shell compiler reads a nested claim's schema, nothing else
        out.append("Remote(")
        _schema_shape(x.schema, out)
        out.append(")")
    elif isinstance(x, SparkCol) or not dataclasses.is_dataclass(x):
        raise _Unkeyable(type(x).__name__)
    else:
        name = type(x).__name__
        inert_fields = _INERT_FIELDS.get(name, ())
        out.append(name)
        out.append("(")
        for f in dataclasses.fields(x):
            v = getattr(x, f.name)
            if f.name in inert_fields:
                if isinstance(v, _SCALARS):     # Limit.fetch / skip
                    out.append(_literal_marker(v))
                else:
                    _shape(v, True, out)
            else:
                _shape(v, inert, out)
            out.append(",")
        out.append(")")


def _schema_shape(schema, out: list) -> None:
    """A schema as the shell compiler consumes it: field names and
    type strings (empty_dataframe builds its frame from exactly
    these)."""
    if schema is None:
        out.append("None")
        return
    out.append(repr([(f.name, f.dataType.simpleString())
                     for f in schema.fields]))


@contextmanager
def _quiet_analysis_errors(spark):
    """Silence PySpark's query-context error loggers for the duration
    of a probe whose failure is EXPECTED (remote-only functions like
    DuckDB's string_split fail Catalyst analysis by design; the caller
    returns None and the query proceeds federated). PySpark 4 logs
    every captured AnalysisException as a full ERROR-level JSON stack
    trace through the plain-Python loggers below
    (pyspark/errors/exceptions/base.py:_log_exception) — an operational
    page magnet when it fires on a healthy path at scale."""
    import logging

    names = ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    # create THROUGH PySpark's factory: a plain logging.getLogger here
    # would REGISTER these names as stdlib Loggers first, and the
    # stdlib manager hands back the existing instance forever after —
    # PySpark's later kwarg-style calls (log.error(..., file=...))
    # then TypeError and MASK the real AnalysisException (review r5,
    # reproduced: every analysis error after one probe surfaced as
    # "Logger._log() got an unexpected keyword argument 'file'")
    try:
        from pyspark.logger import PySparkLogger
        loggers = [PySparkLogger.getLogger(n) for n in names]
    except ImportError:  # pragma: no cover - older pyspark
        loggers = [logging.getLogger(n) for n in names]
    prev = [lg.level for lg in loggers]
    for lg in loggers:
        lg.setLevel(logging.CRITICAL)
    try:
        yield
    finally:
        for lg, lv in zip(loggers, prev):
            lg.setLevel(lv)


def _shell_schema(handle, spark):
    """Schema for a scan leaf: the registered one, else the file
    footer for local tables, read in the handle's OWN format (review
    r7: this was the one fallback_path reader not updated for ORC —
    a degraded-registration ORC table would have been footer-read as
    parquet here). Memoized on the handle."""
    if handle.schema is not None:
        return handle.schema
    if handle.fallback_path is not None:
        handle.schema = (spark.read
                         .format(getattr(handle, "fallback_format",
                                         "parquet"))
                         .load(handle.fallback_path).schema)
        return handle.schema
    raise ValueError(f"no schema registered for {handle.local_name!r}")


class _ShellCompiler:
    """Compiler façade that substitutes every leaf with an empty
    DataFrame of the leaf's declared schema, then reuses the real
    Compiler for everything above the leaves (so inference and
    execution can never diverge on operator semantics)."""

    def __init__(self, spark):
        from .compiler import Compiler

        class _Shell(Compiler):
            def _c(inner, p):  # noqa: N805 - nested subclass
                from .plans.nodes import RemoteQueryNode, Scan
                if isinstance(p, Scan):
                    from .sources.provider import empty_dataframe
                    schema = _shell_schema(p.table, inner.spark)
                    df = empty_dataframe(inner.spark, schema)
                    if p.projection:
                        df = df.select(*p.projection)
                    return df.alias(p.table.local_name)
                if isinstance(p, RemoteQueryNode):
                    if p.schema is None:
                        raise ValueError(
                            "nested federated node without schema")
                    from .sources.provider import empty_dataframe
                    return empty_dataframe(inner.spark, p.schema)
                return super()._c(p)

        self._compiler = _Shell(spark, runtime_join_filters=False)

    def compile(self, plan):
        return self._compiler.compile(plan)
