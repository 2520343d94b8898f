"""Federation benchmark: one workload per run, one JSON result line.

    python3 fedbench/run.py --workload fed_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of the repository. ``--workload all``
runs the three workloads one after another and prints one result line
each. Scratch output (generated tables and corpus, Spark local dirs,
written parquet, trace JSON) goes to ``.fedbench_out/`` in the checkout.

With ``--trace 0`` the result carries the end-to-end metrics, measured
with no wrapper installed. With ``--trace 1`` it carries the per-layer
metrics: span wrappers are installed around the program's layer
functions, and operations alternate between recorded and passed
through, so the run also measures its own tracing overhead. Lines before the
result line print every metric by name and unit, including the
workload-specific ones that are not part of the result line.
The exit code is non-zero if any result is wrong or an operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".fedbench_out")
#: engine set-ups per run; ``setup_s`` reports their median
SETUP_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _tables(gen) -> dict:
    """The generated database, written once per checkout."""
    final = os.path.join(OUT, f"tables-{gen.TABLE_SEED}")
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen.write_tables(tmp)
        os.rename(tmp, final)
    return {name: os.path.join(final, f"{name}.parquet")
            for name in gen.TABLE_ROWS.keys() | {"lineitem"}}


def _executor_totals(executors) -> tuple:
    queries = elapsed = 0.0
    for ex in executors:
        m = ex.metrics()
        queries += m.get("queries", 0)
        elapsed += m.get("elapsed_s", 0.0)
    return queries, elapsed


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 max_ops: int | None = None) -> tuple:
    """Run one workload; return the result object and Spark's counters
    over the measured operations. ``max_ops`` runs exactly that many
    operations instead of stopping at ``seconds``."""
    from fedbench import gen, harness, layers
    from fedbench.trace import Tracer
    from fedbench.workloads import WORKLOADS

    work = os.path.join(OUT, name)
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    wl = WORKLOADS[name](_tables(gen), work, seed)
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = harness.start_spark(OUT)
    session_s = time.perf_counter() - t0
    setups = []
    for rep in range(SETUP_REPS):
        if rep:
            wl.close()
        t0 = time.perf_counter()
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    tracer = Tracer()
    t0 = time.perf_counter()
    for op in wl.warmup:
        wl.run(op, tracer)
    warmup_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(setups) + warmup_s

    acc = layers.install(tracer) if trace else None
    marks = harness.spark_marks(spark)
    q0, e0 = _executor_totals(wl.executors())
    lat, done, failed, rows = [], [], 0, 0
    traced_lat, plain_lat = [], []
    pick, recorded = random.Random(seed), set()
    ops = wl.ops[:max_ops] if max_ops else wl.ops
    start = time.perf_counter()
    for i, op in enumerate(ops):
        if (max_ops is None and i % wl.cycle == 0
                and time.perf_counter() - start >= seconds):
            break
        # half the operations are recorded, interleaved with the rest:
        # a seeded half of each even-length cycle's slots, else every
        # other operation
        if i % wl.cycle == 0 and wl.cycle % 2 == 0:
            slots = list(range(wl.cycle))
            pick.shuffle(slots)
            recorded = set(slots[:wl.cycle // 2])
        tracer.active = trace and (i % wl.cycle in recorded
                                   if wl.cycle % 2 == 0 else i % 2 == 0)
        tracer.trace_id = i
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op"):
                out, n_rows = wl.run(op, tracer)
        except Exception:   # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        dt = time.perf_counter() - t0
        lat.append((op.kind, dt))
        (traced_lat if tracer.active else plain_lat).append(dt)
        done.append((op, out))
        if tracer.active:
            rows += n_rows
    wall = time.perf_counter() - start
    tracer.active = False
    attempted = len(lat) + failed

    counters = harness.spark_counters(spark, marks)
    q1, e1 = _executor_totals(wl.executors())
    t0 = time.perf_counter()
    wrong = wl.verify(done)
    verify_s = time.perf_counter() - t0
    for op in wrong:
        print(f"WRONG RESULT [{op.kind}/{op.template}]: {op.sql}",
              file=sys.stderr)
    failed += len(wrong)
    py_rss, jvm_rss = harness.peak_rss_mb(spark)

    n_ops = max(len(lat), 1)
    times = [t for _, t in lat]
    reads = [t for k, t in lat if k in ("read", "pass")]
    writes = [t for k, t in lat if k not in ("read", "pass")]
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(times) if times else 0.0, "s"),
        "ops_per_s": (len(times) / sum(times) if times else 0.0, "1/s"),
        "peak_rss_mb": (py_rss + jvm_rss, "MB"),
    }
    extra = {
        "session_start_s": (session_s, "s"),
        "engine_setup_s": (statistics.median(setups), "s"),
        "warmup_s": (warmup_s, "s"),
        "ops": (len(times), "count"),
        "inputs_s": (inputs_s, "s"),
        "verify_s": (verify_s, "s"),
        "python_peak_rss_mb": (py_rss, "MB"),
        "jvm_peak_rss_mb": (jvm_rss, "MB"),
        "failed_ratio": (failed / max(attempted, 1), "ratio"),
    }
    if name == "llm_curation":
        extra["docs_per_s"] = (len(wl.corpus.ids) * len(reads) / sum(reads)
                               if reads else 0.0, "1/s")
        extra["corpus_docs"] = (len(wl.corpus.ids), "count")
    else:
        extra["query_latency_p50_s"] = (
            statistics.median(reads) if reads else 0.0, "s")
        q = harness.tail_percentile(len(reads))
        if q is not None:
            extra[f"query_latency_p{q}_s"] = (
                harness.percentile(reads, q), "s")
        extra["queries_per_s"] = (
            len(reads) / sum(reads) if reads else 0.0, "1/s")
    if writes:
        extra["write_latency_p50_s"] = (statistics.median(writes), "s")
        written = sum(out for op, out in done if op.kind != "read")
        extra["rows_written_per_s"] = (written / sum(writes), "1/s")
    spark_metrics = {f"spark.{k}": (v / n_ops, "count/op" if k in (
        "jobs", "stages", "tasks") else ("s/op" if k.endswith("_s")
                                         else "bytes/op"))
        for k, v in counters.items()}
    spark_metrics["spark.executor_busy_share"] = (
        counters["executor_run_s"] / (wall * harness.cores()), "ratio")

    if trace:
        n_tr = max(len(traced_lat), 1)
        per = layers.per_layer(tracer, acc, len(traced_lat))
        per["sources.remote_queries"] = (q1 - q0) / n_ops
        per["sources.remote_exec_s"] = (e1 - e0) / n_ops
        per["sources.rows_shipped_per_result_row"] = (
            per["sources.remote_rows"] / (rows / n_tr) if rows else 0.0)
        tr_p50 = statistics.median(traced_lat) if traced_lat else 0.0
        pl_p50 = statistics.median(plain_lat) if plain_lat else tr_p50
        per["trace.latency_p50_s"] = tr_p50
        per["trace.overhead_s"] = tr_p50 - pl_p50
        per.update(layers.operator_rows(acc))
        metrics = {k: (v, _unit(k)) for k, v in per.items()}
        metrics.update(spark_metrics)
        tracer.dump(os.path.join(OUT, f"trace-{name}-{seed}.json"))
        tracer.restore()
    else:
        extra.update(spark_metrics)

    wl.close()
    spark.stop()
    for k, (v, unit) in {**metrics, **extra}.items():
        print(f"# {name} {k} = {v:.6g} {unit}")
    result = {"correct": not wrong and failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, counters


def _unit(metric: str) -> str:
    if metric.startswith("trace.") and not metric.endswith("bookkeeping_s"):
        return "s"
    if metric.endswith("_s"):
        return "s/op"
    if metric.endswith(("_share", "_ratio", ".precision")):
        return "ratio"
    if metric.endswith(("_bytes", "bytes_per_query")):
        return "bytes/op"
    return "count" if metric.startswith("operators.") else "count/op"


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import datafusion_federation_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from fedbench.workloads import WORKLOADS
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload!r}; have {list(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    # Python and JVM temp files stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from fedbench.harness import stop_jvm
    ok = True
    try:
        for name in names:
            res, _ = run_workload(name, args.seed, args.seconds,
                                  bool(args.trace))
            ok = ok and res["correct"]
            print(json.dumps(res), flush=True)
    finally:
        stop_jvm()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
