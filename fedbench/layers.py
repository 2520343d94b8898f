"""Which program functions the traced run wraps, and the per-layer
metrics computed from the spans and counts they record.

Every binding patched here is the one the caller looks up at call time:
``engine`` holds its own ``federate`` and ``compiler`` its own
``cast_dataframe`` (both imported by name at module load), while
``parse_sql``, ``infer_plan_schema`` and ``arrow_to_spark`` are looked
up on their defining module on every call.
"""

from __future__ import annotations

from collections import Counter

#: span name -> per-layer self-time metric
SELF_TIME = {
    "engine.sql": "engine.sql_s",
    "engine.insert_into": "engine.sql_s",
    "sqlfront.parse": "sqlfront.parse_s",
    "federation.federate": "federation.federate_s",
    "federation.claim": "federation.federate_s",
    "unparser.plan_to_sql": "unparser.plan_to_sql_s",
    "schema_infer.infer": "schema_infer.infer_s",
    "sources.execute": "sources.execute_s",
    "sources.arrow_to_spark": "sources.arrow_to_spark_s",
    "sources.insert": "sources.insert_s",
    "schema_cast.cast": "schema_cast.cast_s",
    "compiler.compile": "compiler.compile_s",
    "operators.quality": "operators.quality_s",
    "operators.exact_dedup": "operators.exact_dedup_s",
    "operators.near_dedup": "operators.near_dedup_s",
    "operators.verify": "operators.near_dedup_s",
    "operators.enrich": "operators.enrich_s",
    "bench.action": "bench.action_s",
    "bench.op": "bench.other_s",
    "trace.bookkeeping": "trace.bookkeeping_s",
}


class LayerCounts:
    """Counts taken at the wrapped boundaries, plus the DataFrames each
    curation stage received and returned (counted after the run)."""

    def __init__(self):
        self.n = Counter()
        self.stage_frames: dict = {}


def install(tracer) -> LayerCounts:
    from datafusion_federation_spark import (
        compiler, engine, federation, schema_infer, sqlfront, unparser)
    from datafusion_federation_spark.operators import dedup, text
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    from datafusion_federation_spark.sources import provider

    acc = LayerCounts()
    n = acc.n

    def federated(rec, args, kwargs, out, state):
        if tracer.parent_name(rec) == "federation.federate":
            return          # a subquery's own federate(): counted by its root
        for node in walk_plan(out):
            if isinstance(node, RemoteQueryNode):
                pushed = sum(1 for _ in walk_plan(node.plan))
                n["plan_nodes"] += pushed
                n["pushed_nodes"] += pushed
            else:
                n["plan_nodes"] += 1

    def unparsed(rec, args, kwargs, out, state):
        if tracer.parent_name(rec) != "unparser.plan_to_sql":
            n["sql_bytes"] += len(out)

    def infer_hit(args, kwargs):
        key = kwargs.get("cache_key", args[2] if len(args) > 2 else None)
        cache = getattr(schema_infer, "_CACHE", {})
        return (key is not None
                and (args[0].sparkContext.applicationId, key) in cache)

    def inferred(rec, args, kwargs, out, hit):
        n["infer_calls"] += 1
        n["infer_hits"] += int(hit)

    def shipped(rec, args, kwargs, out, state):
        n["remote_rows"] += args[1].num_rows
        n["remote_bytes"] += args[1].nbytes

    def inserted(rec, args, kwargs, out, state):
        n["rows_inserted"] += out or 0

    def stash(stage):
        def after(rec, args, kwargs, out, state):
            acc.stage_frames.setdefault(stage, (args[0], out))
        return after

    tracer.patch(engine.FederationEngine, "sql", "engine.sql")
    tracer.patch(engine.FederationEngine, "insert_into", "engine.insert_into")
    tracer.patch(sqlfront, "parse_sql", "sqlfront.parse")
    tracer.patch(engine, "federate", "federation.federate", after=federated)
    tracer.patch(federation, "federate", "federation.federate",
                 after=federated)
    tracer.patch(provider.SQLProvider, "claim", "federation.claim")
    tracer.patch(unparser.Unparser, "plan_to_sql", "unparser.plan_to_sql",
                 after=unparsed)
    tracer.patch(schema_infer, "infer_plan_schema", "schema_infer.infer",
                 before=infer_hit, after=inferred)
    for cls in (provider.DuckDBExecutor, provider.SQLiteExecutor):
        tracer.patch(cls, "execute", "sources.execute")
        tracer.patch(cls, "execute_statement", "sources.insert",
                     after=inserted)
    tracer.patch(provider.DuckDBExecutor, "insert", "sources.insert",
                 after=inserted)
    tracer.patch(provider, "arrow_to_spark", "sources.arrow_to_spark",
                 after=shipped)
    tracer.patch(compiler, "cast_dataframe", "schema_cast.cast")
    # schema inference compiles through a Compiler subclass: that work
    # belongs to schema_infer, not to the compiler layer
    tracer.patch(compiler.Compiler, "compile", "compiler.compile",
                 when=lambda args: type(args[0]) is compiler.Compiler)
    tracer.patch(text, "quality_score", "operators.quality",
                 after=stash("quality"))
    tracer.patch(dedup, "exact_dedup", "operators.exact_dedup",
                 after=stash("exact_dedup"))
    tracer.patch(dedup, "minhash_dedup_pairs", "operators.near_dedup",
                 after=stash("near_dedup"))
    tracer.patch(dedup, "verify_candidates", "operators.verify",
                 after=lambda rec, args, kwargs, out, state:
                 acc.stage_frames.setdefault("verify", (args[1], out)))
    tracer.patch(text, "language_id", "operators.enrich",
                 after=stash("enrich"))
    return acc


def operator_rows(acc: LayerCounts) -> dict:
    """Rows into and out of each curation stage on the first traced pass,
    and near-dedup precision (verified pairs / LSH candidate pairs).
    Counting runs extra Spark jobs, so call it after the Spark counters
    are read."""
    f = acc.stage_frames
    out = dict.fromkeys(
        ("operators.quality.rows_in", "operators.exact_dedup.rows_in",
         "operators.exact_dedup.rows_out", "operators.near_dedup.rows_out",
         "operators.near_dedup.precision"), 0)
    if not f:
        return out
    from pyspark.sql import functions as F
    out["operators.quality.rows_in"] = f["quality"][0].count()
    out["operators.exact_dedup.rows_in"] = f["exact_dedup"][0].count()
    out["operators.exact_dedup.rows_out"] = f["exact_dedup"][1].count()
    out["operators.near_dedup.rows_out"] = f["enrich"][0].count()
    cand, verified = f["verify"]
    n_cand = cand.select("id_a", "id_b").distinct().count()
    out["operators.near_dedup.precision"] = (
        verified.select(F.col("id_a")).count() / n_cand if n_cand else 0.0)
    return out


def per_layer(tracer, acc: LayerCounts, n_traced: int) -> dict:
    """Per-operation means over the traced operations."""
    k = max(n_traced, 1)
    out = {m: 0.0 for m in SELF_TIME.values()}
    for name, secs in tracer.self_times().items():
        if name in SELF_TIME:
            out[SELF_TIME[name]] += secs / k
    calls = tracer.counts()
    n = acc.n
    out.update({
        "federation.claims_per_query": calls.get("federation.claim", 0) / k,
        "federation.pushdown_share":
            n["pushed_nodes"] / n["plan_nodes"] if n["plan_nodes"] else 0.0,
        "unparser.sql_bytes_per_query": n["sql_bytes"] / k,
        "schema_infer.calls": n["infer_calls"] / k,
        "schema_infer.hit_ratio":
            n["infer_hits"] / n["infer_calls"] if n["infer_calls"] else 0.0,
        "sources.remote_rows": n["remote_rows"] / k,
        "sources.remote_bytes": n["remote_bytes"] / k,
        "sources.rows_inserted": n["rows_inserted"] / k,
    })
    return out
