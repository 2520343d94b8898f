"""The three workloads. Each is a closed loop with one client.

A workload generates its inputs from the seed when constructed, builds
the engine on a Spark session (``setup``: registrations, remote loads,
for ``fed_interactive`` one query), is warmed up on its ``warmup`` operations, runs one
operation at a time (``run``), and checks every result afterwards
(``verify``). The
program under test sees only the generated SQL text or corpus file.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

from . import gen
from .harness import cores, result_hash

#: Operations generated per run; the time limit ends a run long before.
#: A run stops at the first whole ``cycle`` of operations past its time.
#: ``warmup`` operations (from ``gen.WARMUP_SEED``) run once after the
#: repeated set-ups, before timing starts: latency falls by a quarter over
#: the JVM's first 10-20 s of queries as its JIT compiles.
MAX_OPS = 5000


class _Oracle:
    """A separate DuckDB loaded from the parquet files: the reference
    answer for any SQL text, memoized per text."""

    def __init__(self, paths: dict):
        self.conn = duckdb.connect()
        self.conn.execute(f"SET threads = {cores()}")
        for name, path in paths.items():
            self.conn.execute(f"CREATE TABLE {name} AS "
                              f"SELECT * FROM read_parquet('{path}')")
        self._hashes: dict = {}

    def hash(self, sql: str) -> str:
        if sql not in self._hashes:
            self._hashes[sql] = result_hash(self.conn.execute(sql).fetchall())
        return self._hashes[sql]

    def close(self) -> None:
        self.conn.close()


def _load_duckdb(executor, paths: dict, names) -> None:
    executor.conn.execute(f"SET threads = {cores()}")
    for name in names:
        executor.conn.execute(f"CREATE TABLE {name} AS "
                              f"SELECT * FROM read_parquet('{paths[name]}')")


class FedInteractive:
    """Dashboard-style SQL, every table on one DuckDB remote, so each
    query pushes down whole."""

    name = "fed_interactive"
    cycle = len(gen.INTERACTIVE_CYCLE)
    SETUP_SQL = ("SELECT r_name, COUNT(*) AS n FROM region "
                 "JOIN nation ON r_regionkey = n_regionkey GROUP BY r_name")

    def __init__(self, tables: dict, work_dir: str, seed: int):
        self.paths = tables
        self.ops = gen.interactive_stream(seed, MAX_OPS)
        self.warmup = gen.interactive_stream(gen.WARMUP_SEED,
                                             2 * self.cycle)

    def setup(self, spark) -> None:
        from datafusion_federation_spark import (
            DuckDBExecutor, FederationEngine, SQLProvider)
        self.remote = DuckDBExecutor(name="warehouse")
        _load_duckdb(self.remote, self.paths, self.paths)
        self.engine = FederationEngine(spark)
        provider = SQLProvider(self.remote)
        for name in self.paths:
            self.engine.register_remote(provider, name)
        self.engine.sql(self.SETUP_SQL).collect()

    def executors(self):
        return [self.remote]

    def run(self, op, tracer):
        df = self.engine.sql(op.sql)
        with tracer.span("bench.action"):
            rows = df.collect()
        return rows, len(rows)

    def verify(self, done) -> list:
        oracle = _Oracle(self.paths)
        bad = [op for op, rows in done
               if result_hash(rows) != oracle.hash(op.sql)]
        oracle.close()
        return bad

    def close(self) -> None:
        self.remote.conn.close()


class FedEtl:
    """Local parquet ``lineitem`` joined to filtered subtrees on DuckDB
    (orders, customer) and SQLite (supplier, nation), plus write-back to
    DuckDB both through Spark (``insert_into``) and wholly remote
    (``INSERT INTO ... SELECT``)."""

    name = "fed_etl"
    cycle = len(gen.ETL_CYCLE)
    def __init__(self, tables: dict, work_dir: str, seed: int):
        self.paths = {k: v for k, v in tables.items()
                      if k in ("lineitem", "orders", "customer",
                               "supplier", "nation")}
        self.ops = gen.etl_stream(seed, MAX_OPS)
        # warm-up writes use batch ids the measured stream never reaches
        self.warmup = gen.etl_stream(gen.WARMUP_SEED, self.cycle,
                                     first_batch=MAX_OPS + 1)
        # sqlite3 stores no Decimal: money enters SQLite as REAL
        self._ref_rows = {
            name: [tuple(float(v) if isinstance(v, Decimal) else v
                         for v in row.values())
                   for row in pq.read_table(self.paths[name]).to_pylist()]
            for name in ("supplier", "nation")}

    def setup(self, spark) -> None:
        from datafusion_federation_spark import (
            DuckDBExecutor, FederationEngine, SQLiteExecutor, SQLProvider)
        self.oltp = DuckDBExecutor(name="oltp")
        _load_duckdb(self.oltp, self.paths, ("orders", "customer"))
        for ddl in gen.ETL_TARGET_DDL.values():
            self.oltp.conn.execute(ddl)
        self.ref = SQLiteExecutor(name="ref")
        self.ref.load_rows(
            "supplier", "CREATE TABLE supplier (s_suppkey INTEGER, "
            "s_name TEXT, s_nationkey INTEGER, s_acctbal REAL)",
            self._ref_rows["supplier"])
        self.ref.load_rows(
            "nation", "CREATE TABLE nation (n_nationkey INTEGER, "
            "n_name TEXT, n_regionkey INTEGER)", self._ref_rows["nation"])
        self.engine = FederationEngine(spark)
        self.engine.register_local_parquet("lineitem", self.paths["lineitem"])
        oltp, ref = SQLProvider(self.oltp), SQLProvider(self.ref)
        for name in ("orders", "customer", *gen.ETL_TARGET_DDL):
            self.engine.register_remote(oltp, name)
        for name in ("supplier", "nation"):
            self.engine.register_remote(ref, name)

    def executors(self):
        return [self.oltp, self.ref]

    def run(self, op, tracer):
        if op.kind == "read":
            df = self.engine.sql(op.sql)
            with tracer.span("bench.action"):
                rows = df.collect()
            return rows, len(rows)
        if op.kind == "insert_into":
            n = self.engine.insert_into(op.target, self.engine.sql(op.sql))
        else:
            n = self.engine.sql(op.sql)
        return n, n

    def verify(self, done) -> list:
        oracle = _Oracle(self.paths)
        bad = []
        for op, out in done:
            if op.kind == "read":
                ok = result_hash(out) == oracle.hash(op.sql)
            else:
                source = op.sql
                if op.kind == "remote_insert":
                    source = op.sql[len(f"INSERT INTO {op.target} "):]
                back = self.oltp.conn.execute(
                    f"SELECT * FROM {op.target} WHERE batch_id = ?",
                    [op.batch]).fetchall()
                ok = (len(back) == out
                      and result_hash(back) == oracle.hash(source))
            if not ok:
                bad.append(op)
        oracle.close()
        return bad

    def close(self) -> None:
        self.oltp.conn.close()
        self.ref.conn.close()


class LlmCuration:
    """The corpus-preparation pipeline over a seeded corpus, its result
    written as parquet. No federation layer takes part."""

    name = "llm_curation"
    cycle = 1

    def __init__(self, tables: dict, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.corpus = gen.make_corpus(seed)
        self.corpus_path = os.path.join(work_dir, "corpus.parquet")
        pq.write_table(self.corpus.table(), self.corpus_path)
        warmup_path = os.path.join(work_dir, "warmup.parquet")
        pq.write_table(gen.make_corpus(gen.WARMUP_SEED, 200).table(),
                       warmup_path)
        self.ops = [gen.Op("pass", "corpus", self.corpus_path)
                    for _ in range(MAX_OPS)]
        self.warmup = [gen.Op("pass", "warmup", warmup_path)]
        self.passes = 0

    def _pass(self, path: str, out: str, tracer):
        from datafusion_federation_spark.operators.pipeline import (
            prepare_training_corpus)
        result = prepare_training_corpus(self.spark.read.parquet(path))
        with tracer.span("bench.action"):
            result.write.mode("overwrite").parquet(out)

    def setup(self, spark) -> None:
        self.spark = spark
        spark.read.parquet(self.corpus_path).schema

    def executors(self):
        return []

    def run(self, op, tracer):
        self.passes += 1
        out = os.path.join(self.work_dir, f"pass-{self.passes}")
        self._pass(op.sql, out, tracer)
        return out, len(self.corpus.ids)

    def verify(self, done) -> list:
        c = self.corpus
        want = {i: c.tokens[i] for i in c.expected_survivors}
        bad = []
        for op, out in done:
            got = pq.read_table(out, columns=["doc_id", "n_tokens",
                                              "lang_pred"]).to_pylist()
            ids = {r["doc_id"] for r in got}
            # equality covers: planted duplicates and junk removed, no
            # unique document lost, output ids a subset of input ids
            if (ids != set(want) or len(got) != len(ids)
                    or any(r["n_tokens"] != want[r["doc_id"]]
                           or r["lang_pred"] != "en" for r in got)):
                bad.append(op)
        return bad

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (FedInteractive, FedEtl, LlmCuration)}
