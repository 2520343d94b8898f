"""Tests of the benchmark itself:

    python3 -m pytest fedbench -q

Inputs must be byte-identical for a seed, the correctness checks must
catch wrong answers, and Spark's counters must repeat exactly for a
fixed seed and operation count.
"""

from __future__ import annotations

import io
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from fedbench import gen, harness  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared(kind: str) -> dict:
    """BENCHMARK.json's ``end_to_end`` or ``per_layer`` metrics: name ->
    unit."""
    import json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _reported(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_tables_are_byte_identical_for_the_table_seed():
    a, b = gen.table_arrays(), gen.table_arrays()
    for name in a:
        assert _parquet_bytes(a[name]) == _parquet_bytes(b[name]), name


@pytest.mark.parametrize("stream", [gen.interactive_stream, gen.etl_stream])
def test_query_streams_repeat_per_seed_and_differ_across_seeds(stream):
    assert stream(7, 300) == stream(7, 300)
    assert [o.sql for o in stream(7, 300)] != [o.sql for o in stream(8, 300)]


def test_corpus_is_byte_identical_per_seed():
    a, b = gen.make_corpus(7, 500), gen.make_corpus(7, 500)
    assert _parquet_bytes(a.table()) == _parquet_bytes(b.table())
    assert a.expected_survivors == b.expected_survivors
    assert _parquet_bytes(a.table()) != _parquet_bytes(
        gen.make_corpus(8, 500).table())


def test_interactive_stream_mix():
    ops = gen.interactive_stream(3, 2000)
    texts = [o.sql for o in ops]
    repeats = sum(1 for i, t in enumerate(texts) if t in texts[:i])
    assert 0.15 < repeats / len(ops) < 0.3
    assert {o.template for o in ops} == set(gen.INTERACTIVE_TEMPLATES)


def test_etl_stream_mix():
    ops = gen.etl_stream(3, 2000)
    writes = [o for o in ops if o.kind != "read"]
    assert 0.2 < len(writes) / len(ops) < 0.3
    assert len({o.batch for o in writes}) == len(writes)


def test_corpus_ground_truth():
    c = gen.make_corpus(11, 1000)
    n = len(c.ids)
    assert n == 1000 and sorted(c.ids) == list(range(1, n + 1))
    assert len(c.junk) == int(n * gen.JUNK_SHARE)
    assert len(c.planted_dups) == int(n * gen.EXACT_DUP_SHARE) + int(
        n * gen.NEAR_DUP_SHARE)
    assert not (c.expected_survivors & (c.planted_dups | c.junk))
    text = dict(zip(c.ids, c.texts))
    survivors = {text[i] for i in c.expected_survivors}
    trimmed = {t.rsplit(" ", 1)[0] for t in survivors}
    # every planted duplicate repeats a survivor, or one of the two is
    # the other plus one appended word
    for i in c.planted_dups:
        t = text[i]
        assert (t in survivors or t in trimmed
                or t.rsplit(" ", 1)[0] in survivors)


def test_result_hash_ignores_order_and_decimal_scale_only():
    from decimal import Decimal
    rows = [("a", 1, Decimal("2.50")), ("b", None, Decimal("1.00"))]
    assert harness.result_hash(rows) == harness.result_hash(
        [("b", None, Decimal("1")), ("a", 1, Decimal("2.5"))])
    assert harness.result_hash(rows) != harness.result_hash(
        [("a", 1, Decimal("2.51")), ("b", None, Decimal("1.00"))])
    assert harness.result_hash(rows) != harness.result_hash(rows[:1])


def test_percentiles():
    vals = list(range(1, 201))
    assert harness.percentile(vals, 50) == 100
    assert harness.percentile(vals, 95) == 190
    assert harness.tail_percentile(200) == 95
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(99) == 80
    assert harness.tail_percentile(49) is None


def test_tracer_self_time_and_restore():
    import time
    import types
    from fedbench.trace import Tracer

    mod = types.SimpleNamespace(
        inner=lambda: time.sleep(0.02),
        outer=lambda: (time.sleep(0.01), mod.inner()))
    orig = mod.inner
    t = Tracer()
    t.patch(mod, "inner", "inner")
    t.patch(mod, "outer", "outer")
    mod.outer()                        # inactive: nothing recorded
    assert t.spans == []
    t.active = True
    mod.outer()
    self_t = t.self_times()
    assert 0.015 < self_t["inner"] < 0.2
    assert 0.005 < self_t["outer"] < 0.015 + 0.05
    assert t.spans[1]["parent"] == t.spans[0]["id"]
    t.restore()
    assert mod.inner is orig


# -- end to end: these start Spark ------------------------------------------

@pytest.fixture(scope="module")
def run_workload():
    from fedbench.run import OUT, run_workload
    os.makedirs(OUT, exist_ok=True)
    return run_workload


@pytest.mark.parametrize("name,ops", [("fed_interactive", 6), ("fed_etl", 4),
                                      ("llm_curation", 1)])
def test_spark_counters_repeat_exactly(run_workload, name, ops):
    first, c1 = run_workload(name, 5, 0, trace=False, max_ops=ops)
    second, c2 = run_workload(name, 5, 0, trace=False, max_ops=ops)
    assert first["correct"] and second["correct"]
    assert _reported(first) == _declared("end_to_end")
    for k in ("jobs", "stages", "tasks"):
        assert c1[k] == c2[k], k
    if name == "fed_interactive":
        assert c1["stages"] == 0        # the whole query runs remotely
    else:
        assert c1["stages"] > 0


def test_wrong_curation_output_is_caught(run_workload, monkeypatch):
    from fedbench import workloads
    real = workloads.LlmCuration.verify

    def drop_one(self, done):
        # a document the ground truth says must go, found in the output
        self.corpus.expected_survivors = set(
            list(self.corpus.expected_survivors)[1:])
        return real(self, done)

    monkeypatch.setattr(workloads.LlmCuration, "verify", drop_one)
    res, _ = run_workload("llm_curation", 5, 0, trace=False, max_ops=1)
    assert not res["correct"] and res["failed"] == 1


def test_traced_run_reports_layers(run_workload):
    res, _ = run_workload("fed_interactive", 5, 0, trace=True, max_ops=4)
    assert _reported(res) == _declared("per_layer")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["federation.claims_per_query"] == 1
    assert m["federation.pushdown_share"] == 1
    assert m["schema_infer.calls"] >= 1
    assert m["spark.stages"] == 0
    assert m["operators.near_dedup_s"] == 0
