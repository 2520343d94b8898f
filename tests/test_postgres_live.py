"""Live PostgreSQL transport (r13) — the postgres dialect executed on
a REAL PostgreSQL 15 server (ephemeral cluster on a Unix socket,
libpq over ctypes; no pip, no JDBC jar). This closes the r10-r12
standing gap: every SQL shape the repo emits for postgres — federated
query pushdown, the pushed TABLESAMPLE predicate (incl. the r13
boolean CASE render), write-back DML, subquery DML, param binding —
now runs against the actual engine.
"""

import os

import duckdb
import pytest

from datafusion_federation_spark.sources.postgres import (
    ephemeral_postgres_available)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA",
                          "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not ephemeral_postgres_available(),
    reason="no PostgreSQL server environment in this sandbox")


@pytest.fixture(scope="module")
def pg():
    from datafusion_federation_spark.sources.postgres import (
        EphemeralPostgres)
    server = EphemeralPostgres(port=54411)
    yield server
    server.stop()


def _load_parquet(ex, table, path, cols=None):
    from datafusion_federation_spark.sources.postgres import (
        load_parquet_into_postgres)
    load_parquet_into_postgres(ex, table, path, cols)


@pytest.fixture(scope="module")
def pg_engine(spark, pg):
    """FederationEngine with region+nation living in live PostgreSQL."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider
    ex = pg.executor(name="pg_live", compute_context="pg:fixture", schema_ns="fixture")
    _load_parquet(ex, "region", f"{TESTDATA}/region.parquet")
    _load_parquet(ex, "nation", f"{TESTDATA}/nation.parquet")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "region")
    eng.register_remote(prov, "nation")
    return eng, ex, prov


def test_pg_federated_join_agg_collapses_and_matches(pg_engine):
    """Happy path: join+agg over two PG tables collapses to ONE
    RemoteQueryNode and the live result equals DuckDB on the same
    parquet."""
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, walk_plan)
    eng, ex, prov = pg_engine
    q = ("SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations "
         "FROM region JOIN nation ON n_regionkey = r_regionkey "
         "GROUP BY r_name ORDER BY r_name")
    fed = federate(eng.sql_plan(q).plan)
    rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    assert len(rq) == 1
    got = [tuple(r) for r in eng.execute(fed).collect()]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT r_name, CAST(COUNT(*) AS BIGINT) FROM "
        f"read_parquet('{TESTDATA}/region.parquet') r JOIN "
        f"read_parquet('{TESTDATA}/nation.parquet') n "
        f"ON n_regionkey = r_regionkey GROUP BY r_name "
        f"ORDER BY r_name").fetchall()
    assert got == want


def test_pg_surface_queries_match_duckdb(pg_engine):
    """A spread of the §2C surface executed LIVE on PostgreSQL: window
    functions, grouping sets, set ops, correlated EXISTS, IN-subquery,
    LIMIT/OFFSET, CASE/LIKE/BETWEEN — each must hash-match DuckDB over
    the same parquet."""
    eng, ex, prov = pg_engine
    con = duckdb.connect()
    con.execute(f"CREATE VIEW region AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/region.parquet')")
    con.execute(f"CREATE VIEW nation AS SELECT * FROM "
                f"read_parquet('{TESTDATA}/nation.parquet')")
    queries = [
        ("SELECT n_regionkey, n_name, "
         "CAST(RANK() OVER (PARTITION BY n_regionkey "
         "ORDER BY n_name) AS BIGINT) AS rk "
         "FROM nation ORDER BY n_regionkey, rk, n_name"),
        ("SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n "
         "FROM nation GROUP BY ROLLUP (n_regionkey) "
         "ORDER BY n_regionkey NULLS FIRST"),
        ("SELECT n_name FROM nation WHERE n_regionkey = 0 UNION ALL "
         "SELECT r_name FROM region ORDER BY n_name"),
        ("SELECT r_name FROM region r WHERE EXISTS "
         "(SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey "
         "AND n.n_name LIKE 'A%') ORDER BY r_name"),
        ("SELECT n_name FROM nation WHERE n_regionkey IN "
         "(SELECT r_regionkey FROM region WHERE r_name < 'B') "
         "ORDER BY n_name"),
        ("SELECT n_name FROM nation ORDER BY n_name "
         "LIMIT 7 OFFSET 3"),
        ("SELECT n_name, CASE WHEN n_regionkey BETWEEN 1 AND 2 "
         "THEN 'mid' ELSE 'edge' END AS bucket FROM nation "
         "WHERE n_name LIKE '%A%' ORDER BY n_name"),
        # r13 widening: grouping sets, INTERSECT/EXCEPT, window
        # frames, ANY/ALL, NOT IN 3VL, named WINDOW, scalar subquery
        ("SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n "
         "FROM nation GROUP BY GROUPING SETS ((n_regionkey), ()) "
         "ORDER BY n_regionkey NULLS FIRST"),
        ("SELECT n_regionkey FROM nation INTERSECT "
         "SELECT r_regionkey FROM region WHERE r_regionkey < 3 "
         "ORDER BY n_regionkey"),
        ("SELECT r_regionkey FROM region EXCEPT "
         "SELECT n_regionkey FROM nation WHERE n_regionkey < 4 "
         "ORDER BY r_regionkey"),
        ("SELECT n_name, CAST(SUM(n_regionkey) OVER "
         "(ORDER BY n_name ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) "
         "AS BIGINT) AS s FROM nation ORDER BY n_name"),
        ("SELECT n_name FROM nation WHERE n_regionkey = ANY "
         "(SELECT r_regionkey FROM region WHERE r_name LIKE 'A%') "
         "ORDER BY n_name"),
        ("SELECT n_name FROM nation WHERE n_regionkey NOT IN "
         "(SELECT r_regionkey FROM region WHERE r_regionkey >= 2) "
         "ORDER BY n_name"),
        ("SELECT n_name, CAST(RANK() OVER w AS BIGINT) AS rk "
         "FROM nation WINDOW w AS (PARTITION BY n_regionkey "
         "ORDER BY n_name) ORDER BY n_name"),
        ("SELECT r_name FROM region WHERE r_regionkey < "
         "(SELECT CAST(AVG(n_regionkey) AS DOUBLE) FROM nation) "
         "ORDER BY r_name"),
    ]
    for q in queries:
        got = [tuple(r) for r in eng.sql(q).collect()]
        want = con.execute(q).fetchall()
        assert got == want, f"diverged on live PG: {q}"
    con.close()


def test_pg_pushed_tablesample_with_boolean_key(spark, pg):
    """The r13 flagship: a boolean-keyed TABLESAMPLE pushed into LIVE
    PostgreSQL selects exactly the rows the local lowering and the
    hashlib prediction select — the CASE render ('true'/'false',
    NULL -> sentinel) is what makes the key engine-stable."""
    import hashlib

    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, TableSample, walk_plan)
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = pg.executor(name="pg_samp", compute_context="pg:sample", schema_ns="samp")
    ex.execute_statement(None,
                         "CREATE TABLE flags (k BIGINT, flag BOOLEAN)")
    rows = [(i, [True, False, None][i % 3]) for i in range(120)]
    vals = ", ".join(
        f"({k}, {'NULL' if f is None else str(f).upper()})"
        for k, f in rows)
    ex.execute_statement(None, f"INSERT INTO flags VALUES {vals}")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "flags")
    q = ("SELECT k, flag FROM flags TABLESAMPLE BERNOULLI(50) "
         "REPEATABLE (7) ORDER BY k")
    fed = federate(eng.sql_plan(q).plan)
    assert not [x for x in walk_plan(fed) if isinstance(x, TableSample)]
    rq = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    assert len(rq) == 1 and "CASE WHEN" in rq[0].sql
    got = [(r[0], r[1]) for r in eng.execute(fed).collect()]

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    def included(k, flag):
        fs = "N" if flag is None else md5("true" if flag else "false")
        return md5(f"7|{md5(str(k))}{fs}")[:4] < "8000"

    want = [r for r in rows if included(*r)]
    assert 0 < len(want) < 120
    assert got == want
    # and the LOCAL lowering of the same data agrees row-for-row
    eng2 = FederationEngine(spark)
    eng2.register_local_df("flags", spark.createDataFrame(
        rows, "k bigint, flag boolean"))
    assert got == [(r[0], r[1]) for r in eng2.sql(q).collect()]


def test_pg_writeback_insert_delete_update_ctas(spark, pg):
    """The whole r12/r13 write-back surface on LIVE PostgreSQL:
    INSERT..SELECT, INSERT..VALUES, param DML, same-provider subquery
    DELETE, UPDATE, CTAS — every statement executes in the engine
    (metrics pin) and the final state matches a DuckDB recompute."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = pg.executor(name="pg_wb", compute_context="pg:writeback", schema_ns="wb")
    _load_parquet(ex, "nation", f"{TESTDATA}/nation.parquet")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "nation")
    # CTAS wholly in-engine
    n = eng.sql("CREATE TABLE nat_copy AS "
                "SELECT n_nationkey, n_name, n_regionkey FROM nation")
    assert n == 25
    # INSERT ... VALUES and param-bound DELETE
    assert eng.sql("INSERT INTO nat_copy VALUES (97, 'ATLANTIS', 9), "
                   "(98, 'LEMURIA', 9)") == 2
    assert eng.sql("DELETE FROM nat_copy WHERE n_regionkey = :r",
                   params={"r": 9}) == 2
    # same-provider subquery DELETE (ships verbatim)
    deleted = eng.sql(
        "DELETE FROM nat_copy WHERE n_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 0)")
    assert deleted == 5
    assert "IN (" in ex.metrics()["last_sql"]
    # UPDATE with expression assignment
    assert eng.sql("UPDATE nat_copy SET n_regionkey = n_regionkey + 10 "
                   "WHERE n_regionkey = 1") == 5
    got = [tuple(r) for r in eng.sql(
        "SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM nat_copy GROUP BY n_regionkey "
        "ORDER BY n_regionkey").collect()]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT CASE WHEN n_regionkey = 1 THEN 11 ELSE n_regionkey "
        f"END AS rk, CAST(COUNT(*) AS BIGINT) FROM "
        f"read_parquet('{TESTDATA}/nation.parquet') "
        f"WHERE n_regionkey <> 0 GROUP BY rk ORDER BY rk").fetchall()
    assert got == want
    con.close()


def test_pg_mixed_plan_and_catalog(spark, pg):
    """Mixed local+PG plan: only the PG subtree federates; catalog
    discovery + schema introspection come from information_schema /
    result OIDs."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.federation import federate
    from datafusion_federation_spark.plans.nodes import (
        RemoteQueryNode, Scan, walk_plan)
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = pg.executor(name="pg_mix", compute_context="pg:mixed", schema_ns="mix")
    _load_parquet(ex, "region", f"{TESTDATA}/region.parquet")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    assert "region" in ex.table_names()
    eng.discover(prov)
    sch = eng.catalog.table("region").schema
    assert [f.name for f in sch.fields][:2] == ["r_regionkey", "r_name"]
    eng.register_local_parquet("nation", f"{TESTDATA}/nation.parquet")
    q = ("SELECT r.r_name, n.n_name FROM region r "
         "JOIN nation n ON n.n_regionkey = r.r_regionkey "
         "WHERE r.r_regionkey < 2 ORDER BY r_name, n_name")
    fed = federate(eng.sql_plan(q).plan)
    rqs = [x for x in walk_plan(fed) if isinstance(x, RemoteQueryNode)]
    scans = [x for x in walk_plan(fed) if isinstance(x, Scan)]
    assert len(rqs) == 1 and len(scans) == 1   # PG side claims, local stays
    assert "r_regionkey" in rqs[0].sql         # filter pushed into PG SQL
    got = [tuple(r) for r in eng.execute(fed).collect()]
    con = duckdb.connect()
    want = con.execute(
        f"SELECT r.r_name, n.n_name FROM "
        f"read_parquet('{TESTDATA}/region.parquet') r JOIN "
        f"read_parquet('{TESTDATA}/nation.parquet') n "
        f"ON n.n_regionkey = r.r_regionkey WHERE r.r_regionkey < 2 "
        f"ORDER BY r_name, n_name").fetchall()
    assert got == want
    con.close()


def test_pg_insert_passthrough_and_types(spark, pg):
    """DataFrame INSERT passthrough (batched literal rendering) and
    the OID type round-trip: bool/date/timestamp/float/bytea survive
    into Spark with the expected schema cast."""
    import datetime as dt

    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = pg.executor(name="pg_ty", compute_context="pg:types", schema_ns="ty")
    ex.execute_statement(
        None, "CREATE TABLE typed (k BIGINT, ok BOOLEAN, d DATE, "
              "ts TIMESTAMP, x DOUBLE PRECISION, raw BYTEA)")
    eng = FederationEngine(spark)
    prov = SQLProvider(ex)
    eng.register_remote(prov, "typed")
    df = spark.createDataFrame(
        [(1, True, dt.date(2020, 1, 2),
          dt.datetime(2020, 1, 2, 3, 4, 5), 1.5, bytearray(b"\x01a")),
         (2, None, None, None, None, None)],
        "k bigint, ok boolean, d date, ts timestamp, x double, "
        "raw binary")
    assert ex.insert(spark, df, "typed") == 2
    got = sorted((tuple(r) for r in eng.sql(
        "SELECT k, ok, d, ts, x FROM typed").collect()))
    assert got == [
        (1, True, dt.date(2020, 1, 2),
         dt.datetime(2020, 1, 2, 3, 4, 5), 1.5),
        (2, None, None, None, None)]
    raw = eng.sql("SELECT raw FROM typed WHERE k = 1").collect()[0][0]
    assert bytes(raw) == b"\x01a"


def test_pg_numeric_aggregate_casts(spark, pg):
    """PostgreSQL SUM(bigint) returns arbitrary-precision NUMERIC
    (text on the wire) — the expected-schema cast coerces it to the
    plan's Spark type instead of leaking strings."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.provider import SQLProvider

    ex = pg.executor(name="pg_num", compute_context="pg:numeric", schema_ns="num")
    _load_parquet(ex, "nation", f"{TESTDATA}/nation.parquet")
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "nation")
    got = [tuple(r) for r in eng.sql(
        "SELECT n_regionkey, CAST(SUM(n_nationkey) AS BIGINT) AS s "
        "FROM nation GROUP BY n_regionkey "
        "ORDER BY n_regionkey").collect()]
    assert all(isinstance(s, int) for _, s in got)
    con = duckdb.connect()
    want = con.execute(
        f"SELECT n_regionkey, CAST(SUM(n_nationkey) AS BIGINT) FROM "
        f"read_parquet('{TESTDATA}/nation.parquet') "
        f"GROUP BY n_regionkey ORDER BY n_regionkey").fetchall()
    assert got == want
    con.close()


def test_pg_statistics_estimate_and_errors(spark, pg):
    """EXPLAIN-based statistics() returns a planner estimate (flagged
    estimate -> 2x margin applies at the broadcast comparison); engine
    errors surface the PostgreSQL message, not a silent fallback."""
    from datafusion_federation_spark.sources.provider import SQLProvider
    ex = pg.executor(name="pg_st", compute_context="pg:stats", schema_ns="st")
    ex.execute_statement(None, "CREATE TABLE st (k INT)")
    ex.execute_statement(None,
                         "INSERT INTO st SELECT generate_series(1, 50)")
    ex.execute_statement(None, "ANALYZE st")
    est = ex.statistics("SELECT * FROM st")
    assert est is not None and 25 <= est <= 100
    assert ex.statistics_is_estimate is True
    assert SQLProvider(ex) is not None
    with pytest.raises(RuntimeError, match="PostgreSQL error"):
        ex.execute_statement(None, "SELECT * FROM no_such_table_xyz")


def test_pg_partitioned_read_equals_single_stream(spark, pg):
    """Distributed slice read (per-task libpq connections, server-side
    cursors): N-slice union must equal the single-stream read exactly,
    including NULL split keys (pinned to slice 0, never dropped) and
    NUMERIC columns (text on the wire on both read paths)."""
    from datafusion_federation_spark.sources.postgres import (
        read_postgres_partitioned)
    ex = pg.executor(name="pg_part", compute_context="pg:part",
                     schema_ns="part")
    ex.execute_statement(
        None, "CREATE TABLE big (k BIGINT, grp TEXT, amt NUMERIC)")
    ex.execute_statement(
        None, "INSERT INTO big SELECT i, 'g' || (i % 7), i * 1.5 "
              "FROM generate_series(0, 999) AS s(i)")
    ex.execute_statement(
        None, "INSERT INTO big VALUES (NULL, 'nullkey', NULL)")
    conninfo = ex.conninfo
    sql = 'SELECT k, grp, amt FROM "part".big'
    df = read_postgres_partitioned(spark, conninfo, sql, "k",
                                   n_slices=4, batch_rows=128)
    assert df.rdd.getNumPartitions() == 4
    got = sorted(((r[0], r[1], None if r[2] is None else float(r[2]))
                  for r in df.collect()), key=repr)
    single = pg.executor(name="pg_part1", compute_context="pg:part1",
                         schema_ns="part")
    want = sorted(((r[0], r[1], None if r[2] is None else float(r[2]))
                   for r in single.execute(spark, sql).collect()),
                  key=repr)
    assert len(got) == 1001
    assert got == want
    assert sum(1 for r in got if r[0] is None) == 1
    # LIMIT / ORDER BY degrade to ONE slice (re-execution soundness)
    for q in (sql + " ORDER BY k", sql + " LIMIT 10"):
        assert read_postgres_partitioned(
            spark, conninfo, q, "k", n_slices=4) \
            .rdd.getNumPartitions() == 1
    # absent split_col degrades too
    assert read_postgres_partitioned(
        spark, conninfo, 'SELECT grp FROM "part".big', "k",
        n_slices=4).rdd.getNumPartitions() == 1


def test_pg_partitioned_executor_through_engine(spark, pg):
    """PartitionedPostgresExecutor federates like any provider: the
    claimed SQL runs as N task-side slices and equals the
    driver-side executor's rows."""
    from datafusion_federation_spark.engine import FederationEngine
    from datafusion_federation_spark.sources.postgres import (
        PartitionedPostgresExecutor)
    from datafusion_federation_spark.sources.provider import SQLProvider
    base = pg.executor(name="pg_pe0", compute_context="pg:pe",
                       schema_ns="pe")
    _load_parquet(base, "customer", f"{TESTDATA}/customer.parquet")
    ex = PartitionedPostgresExecutor(
        base.conninfo, split_col="c_custkey", name="pg_pe",
        compute_context="pg:pe", schema_ns="pe", n_slices=4)
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(ex), "customer")
    df = eng.sql("SELECT c_custkey, c_name FROM customer "
                 "WHERE c_custkey <= 100")
    got = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    want = con.execute(
        f"SELECT c_custkey, c_name FROM "
        f"read_parquet('{TESTDATA}/customer.parquet') "
        f"WHERE c_custkey <= 100 ORDER BY c_custkey").fetchall()
    assert got == [tuple(r) for r in want]
    con.close()
