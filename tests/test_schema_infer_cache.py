"""Inferred-schema cache keyed on the claimed plan's shape.

A claimed sub-plan's output schema is inferred once per SHAPE: literals
in schema-inert positions (WHERE/HAVING, join conditions, LIMIT) become
typed markers, everything else stays verbatim, and every scan adds its
registered schema. These tests pin which literal changes share an entry,
which must not, that re-registering a table after remote DDL never
serves the old schema, and that the cache evicts one entry at a time.
"""

from __future__ import annotations

import datetime
import decimal

import pytest

from datafusion_federation_spark import schema_infer
from datafusion_federation_spark.expressions import (
    Alias, BinaryOp, Col, Func, Lit, Placeholder, SparkCol, agg, col,
)
from datafusion_federation_spark.plans.nodes import (
    Filter, Limit, Project, RemoteQueryNode, Scan,
)
from datafusion_federation_spark.schema_infer import shape_key
from datafusion_federation_spark.sources.table import (
    RemoteTable, TableHandle,
)

T_ROWS = [(1, 2, 0.25, "1.50", "x", "1995-01-03"),
          (1, 5, 0.75, "2.25", "y", "1996-07-01"),
          (2, 7, 0.55, "3.10", "x", "1997-02-11"),
          (3, 9, 0.10, "0.40", "z", "1998-05-30")]


# ---------------------------------------------------------------------------
# pure shape-key rules (no Spark)
# ---------------------------------------------------------------------------

def _handle(**cols):
    from pyspark.sql import types as T
    schema = T.StructType([T.StructField(n, t) for n, t in
                           (cols or {"a": T.LongType(),
                                     "b": T.LongType()}).items()])
    return TableHandle(local_name="t", provider=None,
                       remote=RemoteTable.named("t", schema=schema),
                       schema=schema)


def _key(pred=None, proj=None, fetch=None, handle=None):
    p = Scan(handle or _handle())
    if pred is not None:
        p = Filter(p, pred)
    p = Project(p, proj or [Col("a")])
    if fetch is not None:
        p = Limit(p, fetch)
    return shape_key(p)


def test_inert_literals_become_typed_markers():
    gt = lambda v: BinaryOp(">", Col("b"), Lit(v))  # noqa: E731
    assert _key(gt(1)) == _key(gt(99)) == _key(gt(-2 ** 31))
    assert _key(gt("a")) == _key(gt("zz"))
    assert _key(gt(datetime.date(1995, 1, 1))) == \
        _key(gt(datetime.date(1998, 7, 2)))
    assert _key(gt(0.5)) == _key(gt(0.55))          # both double
    assert _key(fetch=10) == _key(fetch=100)
    # what fixes the Spark type stays in the key
    assert _key(gt(1)) != _key(gt(2 ** 31))          # int vs bigint
    assert _key(gt(1)) != _key(gt(1.0))
    assert _key(gt(True)) != _key(gt(1))
    assert _key(gt(None)) != _key(gt(1))
    assert _key(gt(decimal.Decimal("0.5"))) != \
        _key(gt(decimal.Decimal("0.55")))            # (1,1) vs (2,2)
    assert _key(gt(decimal.Decimal("0.05"))) == \
        _key(gt(decimal.Decimal("0.15")))            # both (2,2)
    # names and operators are never markers
    assert _key(gt(1)) != _key(BinaryOp("<", Col("b"), Lit(1)))
    assert _key(gt(1)) != _key(BinaryOp(">", Col("a"), Lit(1)))


def test_join_condition_and_subquery_literals_are_inert():
    from datafusion_federation_spark.expressions import InSubquery
    from datafusion_federation_spark.plans.nodes import Join

    def join_key(v):
        on = BinaryOp("AND", BinaryOp("=", Col("a", "l"), Col("a", "r")),
                      BinaryOp(">", Col("b", "r"), Lit(v)))
        return shape_key(Join(Scan(_handle()), Scan(_handle()), "inner",
                              on))

    assert join_key(3) == join_key(40) != join_key("3")

    def sub_key(v):
        sub = Project(Filter(Scan(_handle()),
                             BinaryOp("<", Col("b"), Lit(v))),
                      [Alias(Func("round", [Col("b"), Lit(v)]), "r")])
        return _key(InSubquery(Col("a"), sub))

    assert sub_key(1) == sub_key(2)


def test_output_shaping_literals_stay_verbatim():
    r = lambda n: [Alias(Func("round", [Col("b"), Lit(n)]), "r")]  # noqa
    assert _key(proj=r(1)) != _key(proj=r(2))
    assert _key(proj=[Alias(Lit(1), "c")]) != \
        _key(proj=[Alias(Lit(2), "c")])
    # an unaliased bound parameter is named after its marker
    assert _key(proj=[Lit(5)]) != _key(proj=[Placeholder("$1", 5)])
    assert _key(BinaryOp(">", Col("b"), Placeholder("$1", 5))) == \
        _key(BinaryOp(">", Col("b"), Lit(7))) != \
        _key(BinaryOp(">", Col("b"), Placeholder("$1")))


def test_key_includes_registered_schema():
    from pyspark.sql import types as T
    assert _key(handle=_handle()) == _key(handle=_handle())
    assert _key(handle=_handle()) != _key(handle=_handle(
        a=T.StringType(), b=T.DecimalType(21, 1)))


def test_unkeyable_plan_is_inferred_uncached():
    assert _key(proj=[SparkCol(None, "c")]) is None


# ---------------------------------------------------------------------------
# the cache on real claims
# ---------------------------------------------------------------------------

@pytest.fixture()
def remote(spark, monkeypatch):
    """Engine over one DuckDB table ``t`` and an empty, private cache
    that counts shell analyses."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)

    ex = DuckDBExecutor(name="duckdb_shape", compute_context="shape")
    ex.conn.execute(
        "CREATE TABLE t (a BIGINT, b BIGINT, x DOUBLE, "
        "d DECIMAL(12,2), s VARCHAR, dt DATE)")
    ex.conn.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", T_ROWS)
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "t")
    monkeypatch.setattr(schema_infer, "_CACHE", {})
    analyses = []
    real = schema_infer._ShellCompiler

    class Counting(real):
        def compile(self, plan):
            analyses.append(plan)
            return super().compile(plan)

    monkeypatch.setattr(schema_infer, "_ShellCompiler", Counting)
    return eng, ex, prov, analyses


def _claim(eng, sql):
    from datafusion_federation_spark.federation import federate
    node = federate(eng.sql_plan(sql).plan)
    assert isinstance(node, RemoteQueryNode)
    return node


def test_fresh_where_and_limit_literals_share_one_entry(remote):
    eng, _, _, analyses = remote
    a = _claim(eng, "SELECT a, SUM(b) AS s FROM t WHERE b > 1 "
                    "AND dt >= DATE '1995-06-01' GROUP BY a "
                    "HAVING SUM(b) > 3 ORDER BY a LIMIT 10")
    assert len(schema_infer._CACHE) == 1 and len(analyses) == 1
    b = _claim(eng, "SELECT a, SUM(b) AS s FROM t WHERE b > 7 "
                    "AND dt >= DATE '1997-01-01' GROUP BY a "
                    "HAVING SUM(b) > 0 ORDER BY a LIMIT 50")
    assert len(schema_infer._CACHE) == 1
    assert len(analyses) == 1, "the second claim must run no analysis"
    assert a.sql != b.sql, "the remote SQL still carries each literal"
    assert a.schema == b.schema


def test_select_list_literal_keys_separately(remote):
    eng, _, _, _ = remote
    one = _claim(eng, "SELECT a, ROUND(d, 1) AS r FROM t WHERE b > 1")
    two = _claim(eng, "SELECT a, ROUND(d, 2) AS r FROM t WHERE b > 1")
    assert len(schema_infer._CACHE) == 2
    assert one.schema["r"].dataType.scale == 1
    assert two.schema["r"].dataType.scale == 2
    for node in (one, two):
        assert node.schema == schema_infer.infer_plan_schema(
            eng.spark, node.plan)


def test_where_literal_of_another_spark_type_keys_separately(remote):
    eng, _, _, _ = remote
    _claim(eng, "SELECT a FROM t WHERE b > 5")
    _claim(eng, "SELECT a FROM t WHERE b > 5000000000")     # bigint
    assert len(schema_infer._CACHE) == 2
    from datafusion_federation_spark.federation import federate
    for v in ("0.5", "0.55"):      # decimal(1,1) vs decimal(2,2)
        federate(eng.table("t")
                 .filter(BinaryOp(">", col("d"), Lit(decimal.Decimal(v))))
                 .select(col("a")).plan)
    assert len(schema_infer._CACHE) == 4


KEYED = [
    "SELECT a, SUM(b) AS s FROM t WHERE b > {i} GROUP BY a",
    "SELECT s, COUNT(*) AS n FROM t WHERE dt < DATE '199{i}-06-01' "
    "GROUP BY s",
    "SELECT a, x FROM t WHERE s = 'x' ORDER BY x DESC LIMIT {i}",
    "SELECT a, ROUND(d, {i}) AS r FROM t WHERE x > 0.{i}",
    "SELECT a, b FROM t WHERE b > 5000000000 OR b < {i}",
]


def test_keyed_results_match_uncached_path(remote, monkeypatch):
    eng, _, _, _ = remote
    texts = [q.format(i=i) for q in KEYED for i in (1, 2, 5)]

    def run(q):
        df = eng.sql(q)
        return df.schema, sorted(df.collect())

    shared = [run(q) for q in texts]
    assert len(schema_infer._CACHE) < len(texts)
    for q, got in zip(texts, shared):
        monkeypatch.setattr(schema_infer, "_CACHE", {})
        assert got == run(q), q


def test_reregistered_table_never_serves_stale_schema(spark, monkeypatch):
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import (
        DuckDBExecutor, SQLProvider)
    monkeypatch.setattr(schema_infer, "_CACHE", {})
    ex = DuckDBExecutor(name="duckdb_ddl", compute_context="ddl")
    ex.conn.execute("CREATE TABLE t (a BIGINT, b BIGINT)")
    ex.conn.execute("INSERT INTO t VALUES (1, 2), (1, 5), (2, 7)")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "t")
    q = "SELECT a, SUM(b) AS s FROM t WHERE b > 1 GROUP BY a"
    df = eng.sql(q)
    assert df.schema.simpleString() == "struct<a:bigint,s:bigint>"
    assert sorted(df.collect()) == [(1, 7), (2, 7)]
    # remote DDL changes the table's types; re-register, same SQL
    ex.conn.execute("DROP TABLE t")
    ex.conn.execute("CREATE TABLE t (a VARCHAR, b DECIMAL(21,1))")
    ex.conn.execute("INSERT INTO t VALUES ('p', 2.5), ('p', 5), "
                    "('q', 7.5), ('q', 0.5)")
    eng.register_remote(prov, "t")
    df = eng.sql(q)
    assert df.schema.simpleString() == "struct<a:string,s:decimal(31,1)>"
    assert sorted(df.collect()) == [("p", decimal.Decimal("7.5")),
                                    ("q", decimal.Decimal("7.5"))]


def test_cap_evicts_oldest_entry_not_all(spark, monkeypatch):
    from datafusion_federation_spark.plans.nodes import OneRow
    monkeypatch.setattr(schema_infer, "_CACHE", {})
    monkeypatch.setattr(schema_infer, "_CACHE_MAX", 3)
    plan = Project(OneRow(), [Alias(Lit(1), "c")])
    app = spark.sparkContext.applicationId

    def infer(k):
        assert schema_infer.infer_plan_schema(spark, plan, f"k{k}")

    for k in range(5):
        infer(k)
    assert list(schema_infer._CACHE) == [(app, f"k{k}") for k in (2, 3, 4)]
    infer(2)            # a hit refreshes k2, so k3 is now the oldest
    infer(5)
    assert list(schema_infer._CACHE) == [(app, f"k{k}") for k in (4, 2, 5)]


def test_builder_agg_plan_claims_with_shape_key(remote):
    # the builder API claims through the same key
    eng, _, _, analyses = remote
    from datafusion_federation_spark.federation import federate
    for v in (1, 4):
        b = (eng.table("t").filter(BinaryOp(">", col("b"), Lit(v)))
             .group_by("a").agg(Alias(agg("count", col("b")), "n")))
        federate(b.plan)
    assert len(analyses) == 1


def test_failed_inference_is_cached(remote):
    # string_split is DuckDB-only: Catalyst cannot analyse the claimed
    # plan, and the query still runs whole on the remote
    eng, _, _, analyses = remote
    q = "SELECT a, string_split(s, 'x') AS p FROM t WHERE b > {}"
    for v in (1, 4):
        assert sorted(len(r.p) for r in eng.sql(q.format(v)).collect())
    assert len(analyses) == 1
    assert list(schema_infer._CACHE.values()) == [None]
