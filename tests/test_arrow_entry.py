"""Remote results enter Spark one way: as Arrow.

SQLite cursor columns become Arrow arrays (untypeable columns ship as
strings), PostgreSQL reads its one OID table on both read paths, and the
DuckDB and PostgreSQL partitioned reads share one slice reader with one
set of soundness rules. Also pins the DuckDB row-count cache bound and
the SELECT-* shell predicate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from datafusion_federation_spark.sources import provider
from datafusion_federation_spark.sources.partitioned import (
    read_duckdb_partitioned)
from datafusion_federation_spark.sources.postgres import (
    ephemeral_postgres_available)
from datafusion_federation_spark.sources.provider import (
    DuckDBExecutor, SQLiteExecutor, SQLProvider)


# ---------------------------------------------------------------------------
# SQLite through Arrow
# ---------------------------------------------------------------------------

@pytest.fixture()
def mixed(spark):
    """SQLite table whose ``v`` holds an int, a text and a real (no
    declared type), and whose ``z`` is all NULL."""
    from datafusion_federation_spark.engine import FederationEngine
    lite = SQLiteExecutor(name="lite_mixed", compute_context="mixed")
    lite.load_rows("m", "CREATE TABLE m (k INTEGER, v, z INTEGER)",
                   [(1, 7, None), (2, "x", None), (3, 2.5, None)])
    eng = FederationEngine(spark)
    eng.register_remote(SQLProvider(lite), "m")
    return eng, lite


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_sqlite_mixed_and_null_columns_ship_as_strings(spark, mixed):
    _, lite = mixed
    df = lite.execute(spark, "SELECT k, v, z FROM m ORDER BY k")
    assert _types(df) == [("k", T.LongType()), ("v", T.StringType()),
                          ("z", T.StringType())]
    assert [tuple(r) for r in df.collect()] == [
        (1, "7", None), (2, "x", None), (3, "2.5", None)]


def test_sqlite_mixed_and_null_columns_get_declared_types(mixed):
    eng, _ = mixed
    df = eng.sql("SELECT k, v, z FROM m WHERE k > 0")
    assert _types(df) == [("k", T.LongType()), ("v", T.StringType()),
                          ("z", T.LongType())]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "7", None), (2, "x", None), (3, "2.5", None)]


def test_sqlite_zero_rows_with_expected_schema(spark, mixed):
    _, lite = mixed
    want = T.StructType([T.StructField("k", T.LongType()),
                         T.StructField("z", T.LongType())])
    df = lite.execute(spark, "SELECT k, z FROM m WHERE k > 99", want)
    assert df.schema == want and df.count() == 0


def test_sqlite_zero_rows_without_expected_schema(spark, mixed):
    eng, lite = mixed
    # the executor alone can only name the columns
    df = lite.execute(spark, "SELECT k, z FROM m WHERE k > 99")
    assert _types(df) == [("k", T.StringType()), ("z", T.StringType())]
    assert df.count() == 0
    # a claim that carries no schema: the compiler infers the declared
    # types before the read
    from datafusion_federation_spark.federation import federate
    node = federate(eng.sql_plan(
        "SELECT k, z FROM m WHERE k > 99").plan)
    node.schema = None
    out = eng.compiler.compile(node)
    assert _types(out) == [("k", T.LongType()), ("z", T.LongType())]
    assert out.count() == 0


# ---------------------------------------------------------------------------
# the shared slice reader, on DuckDB
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dbfile(tmp_path_factory):
    import duckdb
    path = str(tmp_path_factory.mktemp("slices") / "s.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE TABLE t AS SELECT i AS k, i % 3 AS g "
                "FROM range(200) r(i)")
    # int64 values past 2**53 next to a NULL in the same batch
    con.execute("CREATE TABLE big (k BIGINT, v BIGINT)")
    con.execute("INSERT INTO big VALUES (1, 4611686018427387905), "
                "(2, NULL), (3, -9223372036854775807)")
    con.close()
    return path


@pytest.mark.parametrize("n", [0, -1])
def test_slice_reader_rejects_fewer_than_one_slice(spark, dbfile, n):
    with pytest.raises(ValueError, match="n_slices"):
        read_duckdb_partitioned(spark, dbfile, "SELECT k FROM t", "k",
                                n_slices=n)


@pytest.mark.parametrize("sql,split_col", [
    ("SELECT k FROM t LIMIT 50", "k"),
    ("SELECT k FROM t ORDER BY k", "k"),
    ("SELECT g FROM t", "k"),              # split_col absent
])
def test_slice_reader_degrades_to_one_slice(spark, dbfile, sql,
                                            split_col):
    df = read_duckdb_partitioned(spark, dbfile, sql, split_col,
                                 n_slices=4)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == (50 if "LIMIT" in sql else 200)


def test_slice_reader_slices_when_sound(spark, dbfile):
    df = read_duckdb_partitioned(spark, dbfile, "SELECT k, g FROM t",
                                 "k", n_slices=4)
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r.k for r in df.collect()) == list(range(200))


def test_slice_reader_keeps_int64_exact_next_to_nulls(spark, dbfile):
    df = read_duckdb_partitioned(spark, dbfile, "SELECT k, v FROM big",
                                 "k", n_slices=1)
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, 4611686018427387905), (2, None), (3, -9223372036854775807)]


# ---------------------------------------------------------------------------
# PostgreSQL: one OID table on both read paths (live server)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not ephemeral_postgres_available(),
                    reason="no PostgreSQL server environment")
def test_pg_partitioned_and_single_stream_share_raw_schema(spark):
    from datafusion_federation_spark.sources.postgres import (
        EphemeralPostgres, read_postgres_partitioned)
    pg = EphemeralPostgres(port=54417)
    try:
        ex = pg.executor(name="pg_raw", compute_context="pg:raw")
        ex.execute_statement(
            None, "CREATE TABLE ty (k BIGINT, s SMALLINT, i INT, "
                  "r REAL, x DOUBLE PRECISION, ok BOOLEAN, d DATE, "
                  "ts TIMESTAMP, tz TIMESTAMPTZ, raw BYTEA, "
                  "amt NUMERIC, txt TEXT, j JSON)")
        ex.execute_statement(
            None, "INSERT INTO ty VALUES (1, 2, 3, 1.5, 2.5, true, "
                  "'2020-01-02', '2020-01-02 03:04:05', "
                  "'2020-01-02 03:04:05+00', '\\x0102', "
                  "12345678901234567890.123456789012, 'a', '{\"a\": 1}'), "
                  "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, "
                  "NULL, NULL, NULL, NULL, NULL)")
        sql = "SELECT * FROM ty"
        single = ex.execute(spark, sql)
        part = read_postgres_partitioned(spark, ex.conninfo, sql, "k",
                                         n_slices=2)
        assert part.schema == single.schema
        assert dict(_types(single))["amt"] == T.StringType()
        assert sorted(part.collect(), key=repr) == \
            sorted(single.collect(), key=repr)
        # NUMERIC travels as text, losslessly, and tables declare it
        amt = [r.amt for r in single.collect() if r.amt is not None]
        assert amt == ["12345678901234567890.123456789012"]
        declared = {f.name: f.dataType
                    for f in ex.get_table_schema(spark, "ty").fields}
        assert declared["amt"] == T.DecimalType(38, 9)
        assert declared["s"] == T.ShortType()
        assert declared["j"] == T.StringType()
        # a naive TIMESTAMP is session-local wall time on both paths
        tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            q = "SELECT k, ts FROM ty WHERE k = 1"
            assert ex.execute(spark, q).collect() == \
                read_postgres_partitioned(spark, ex.conninfo, q, "k",
                                          n_slices=2).collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)
    finally:
        pg.stop()


# ---------------------------------------------------------------------------
# DuckDBExecutor row-count cache
# ---------------------------------------------------------------------------

def test_row_cache_is_bounded(monkeypatch):
    monkeypatch.setattr(provider, "arrow_to_spark",
                        lambda spark, arrow, schema=None: None)
    ex = DuckDBExecutor(name="duck_rows", compute_context="rows")
    for i in range(2000):
        ex.execute(None, f"SELECT * FROM range({i % 7}) WHERE {i} >= 0")
    assert len(ex._row_cache) <= provider._ROW_CACHE_MAX
    newest = f"SELECT * FROM range({1999 % 7}) WHERE 1999 >= 0"
    assert ex.statistics(newest) == 1999 % 7
    assert ex.statistics("SELECT * FROM range(0) WHERE 0 >= 0") is None


def test_row_cache_evicts_least_recently_used(monkeypatch):
    monkeypatch.setattr(provider, "arrow_to_spark",
                        lambda spark, arrow, schema=None: None)
    monkeypatch.setattr(provider, "_ROW_CACHE_MAX", 2)
    ex = DuckDBExecutor(name="duck_lru", compute_context="lru")
    ex.execute(None, "SELECT 1")
    ex.execute(None, "SELECT 2")
    assert ex.statistics("SELECT 1") == 1      # a hit refreshes it
    ex.execute(None, "SELECT 3")
    assert ex.statistics("SELECT 2") is None
    assert ex.statistics("SELECT 1") == ex.statistics("SELECT 3") == 1


# ---------------------------------------------------------------------------
# the SELECT-* shell wrap_projection builds
# ---------------------------------------------------------------------------

def test_is_star_shell():
    from datafusion_federation_spark.expressions import Col, Star
    from datafusion_federation_spark.federation import (
        is_star_shell, wrap_projection)
    from datafusion_federation_spark.plans.nodes import (
        Filter, OneRow, Project)
    base = Filter(OneRow(), Col("a"))
    assert is_star_shell(wrap_projection(base))
    assert not is_star_shell(base)
    assert not is_star_shell(Project(base, [Star(table="t")]))
    assert not is_star_shell(Project(base, [Star(exclude=("a",))]))
    assert not is_star_shell(Project(base, [Star(), Col("a")]))
