"""Seeded input generators for the federation benchmark.

Three kinds of input, all pure functions of their seed:

* ``write_tables`` — a TPC-H-shaped database (region, nation, supplier,
  customer, orders, lineitem) as parquet files. It uses the fixed
  ``TABLE_SEED``: the tables are the benchmark's database, the per-run
  seed varies what is asked of it.
* ``interactive_stream`` / ``etl_stream`` — the SQL texts a client sends.
* ``make_corpus`` — a document corpus with planted exact and near
  duplicates plus junk documents, and the ground truth the curation
  pipeline must reproduce.

Nothing here imports Spark or the program under test.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240601
#: Seed of the warm-up operations every run executes before timing.
WARMUP_SEED = -1

#: Row counts of the generated database (TPC-H scale factor ~0.1).
TABLE_ROWS = {"region": 5, "nation": 25, "supplier": 1_000,
              "customer": 15_000, "orders": 150_000}
LINES_PER_ORDER = (1, 7)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
           "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
           "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
           "UNITED KINGDOM", "UNITED STATES"]
DATE_LO = dt.date(1992, 1, 1)
DATE_DAYS = 2400                     # orders span 1992-01-01 .. 1998-07-28


MONEY = pa.decimal128(12, 2)


def _decimal(cents: np.ndarray) -> pa.Array:
    """DECIMAL(12,2) array from integer cents. Money is exact decimal, as
    in TPC-H, so every engine computes the same sums digit for digit."""
    cents = cents.astype(np.int64)
    words = np.empty((len(cents), 2), dtype="<i8")
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(MONEY, len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def _money(rng, lo, hi, n):
    return _decimal(rng.integers(int(lo * 100), int(hi * 100) + 1, n))


def table_arrays(seed: int = TABLE_SEED) -> dict:
    """The database as ``{table: pyarrow.Table}``."""
    rng = np.random.default_rng(seed)
    n_supp, n_cust, n_ord = (TABLE_ROWS["supplier"], TABLE_ROWS["customer"],
                             TABLE_ROWS["orders"])
    epoch = np.datetime64(DATE_LO.isoformat(), "D")
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int64()),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int64()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64())})
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int64),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust)})
    o_date = epoch + rng.integers(0, DATE_DAYS, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(o_date, pa.date32()),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(LINES_PER_ORDER[0], LINES_PER_ORDER[1] + 1, n_ord)
    n_line = int(lines.sum())
    l_order = np.repeat(orders.column("o_orderkey").to_numpy(), lines)
    l_no = (np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int64)
    qty = rng.integers(1, 51, n_line)
    ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_line)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_linenumber": l_no,
        "l_suppkey": rng.integers(1, n_supp + 1, n_line, dtype=np.int64),
        "l_quantity": _decimal(qty * 100),
        "l_extendedprice": _decimal(qty * rng.integers(90_000, 210_000,
                                                       n_line)),
        "l_discount": _decimal(rng.integers(0, 11, n_line)),
        "l_tax": _decimal(rng.integers(0, 9, n_line)),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_line)],
        "l_shipmode": np.array(SHIPMODES)[rng.integers(0, 7, n_line)],
        "l_shipdate": pa.array(ship, pa.date32())})
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "orders": orders, "lineitem": lineitem}


def write_tables(directory: str, seed: int = TABLE_SEED) -> dict:
    """Write every table as ``<directory>/<name>.parquet``; return
    ``{name: path}``."""
    paths = {}
    for name, tbl in table_arrays(seed).items():
        paths[name] = f"{directory}/{name}.parquet"
        pq.write_table(tbl, paths[name])
    return paths


# ---------------------------------------------------------------------------
# query streams
# ---------------------------------------------------------------------------

def _day(rng: random.Random, lo: int = 0, hi: int = DATE_DAYS) -> str:
    return (DATE_LO + dt.timedelta(days=rng.randrange(lo, hi))).isoformat()


def _window(rng: random.Random, min_days: int, max_days: int):
    span = rng.randrange(min_days, max_days)
    start = rng.randrange(0, DATE_DAYS - span)
    return ((DATE_LO + dt.timedelta(days=start)).isoformat(),
            (DATE_LO + dt.timedelta(days=start + span)).isoformat())


def _t_join_agg(r):
    d1, d2 = _window(r, 60, 900)
    return ("SELECT c_mktsegment, COUNT(*) AS n, SUM(o_totalprice) AS total "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            f"WHERE o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}' "
            "GROUP BY c_mktsegment")


def _t_filtered_agg(r):
    lo = r.randrange(0, 6) / 100.0
    return ("SELECT l_returnflag, l_shipmode, SUM(l_quantity) AS qty, "
            "SUM(l_extendedprice) AS base_price, MAX(l_tax) AS max_tax, "
            "COUNT(*) AS n "
            f"FROM lineitem WHERE l_shipdate <= DATE '{_day(r, 300)}' "
            f"AND l_discount BETWEEN {lo:.2f} AND {lo + 0.04:.2f} "
            "GROUP BY l_returnflag, l_shipmode")


def _t_top_k(r):
    return ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
            f"WHERE o_orderpriority = '{r.choice(PRIORITIES)}' "
            f"AND o_orderdate >= DATE '{_day(r, 0, 2000)}' "
            "ORDER BY o_totalprice DESC, o_orderkey "
            f"LIMIT {r.choice([10, 20, 50, 100])}")


def _t_join4(r):
    d1, d2 = _window(r, 60, 400)
    return ("SELECT n_name, "
            "SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "COUNT(*) AS n FROM customer "
            "JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON l_orderkey = o_orderkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_mktsegment = '{r.choice(SEGMENTS)}' "
            f"AND o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}' "
            "GROUP BY n_name")


def _t_window_top_n(r):
    return ("SELECT c_nationkey, c_custkey, c_acctbal, rn FROM ("
            "SELECT c_nationkey, c_custkey, c_acctbal, ROW_NUMBER() OVER "
            "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) "
            "AS rn FROM customer "
            f"WHERE c_mktsegment = '{r.choice(SEGMENTS)}' "
            f"AND c_acctbal > {r.randrange(-900, 5000)}) t "
            f"WHERE rn <= {r.randrange(2, 8)}")


def _t_grouping_sets(r):
    return ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
            "SUM(o_totalprice) AS total FROM orders "
            f"WHERE o_orderdate < DATE '{_day(r, 200)}' "
            "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), "
            "(o_orderstatus), ())")


#: fed_interactive template mix: (name, weight, builder).
INTERACTIVE_TEMPLATES = {
    "join_agg": _t_join_agg, "filtered_agg": _t_filtered_agg,
    "top_k": _t_top_k, "join4": _t_join4,
    "window_top_n": _t_window_top_n, "grouping_sets": _t_grouping_sets,
}
#: fed_interactive repeats this 20-query cycle of templates (join_agg,
#: filtered_agg, top_k 20% each; join4, window_top_n 15%; grouping_sets
#: 10%). Every fifth query exactly repeats an earlier text of its
#: template (dashboard refresh: 20% repeats). The seed draws the literals
#: and which earlier text repeats. A run measures whole cycles, so every
#: run sees the same mix.
INTERACTIVE_CYCLE = ["join_agg", "filtered_agg", "top_k", "join4",
                     "window_top_n", "grouping_sets", "join_agg",
                     "filtered_agg", "top_k", "join4", "window_top_n",
                     "join_agg", "filtered_agg", "top_k", "join4",
                     "window_top_n", "grouping_sets", "join_agg",
                     "filtered_agg", "top_k"]
REPEAT_EVERY = 5


@dataclass
class Op:
    """One client operation: ``kind`` is ``read``, ``insert_into``
    (Spark computes, the engine appends to a remote table) or
    ``remote_insert`` (INSERT ... SELECT run wholly on the remote)."""
    kind: str
    template: str
    sql: str
    batch: int = 0
    target: str = ""


def interactive_stream(seed: int, n: int) -> list[Op]:
    r = random.Random(seed)
    ops: list[Op] = []
    for i in range(n):
        name = INTERACTIVE_CYCLE[i % len(INTERACTIVE_CYCLE)]
        earlier = [o for o in ops if o.template == name]
        if i % REPEAT_EVERY == REPEAT_EVERY - 1 and earlier:
            ops.append(r.choice(earlier))
        else:
            ops.append(Op("read", name, INTERACTIVE_TEMPLATES[name](r)))
    return ops


# -- fed_etl: lineitem is local parquet; orders/customer on DuckDB;
#    supplier/nation on SQLite ----------------------------------------------

def _oc_subquery(r, with_segment: bool):
    """Filtered orders(+customer) subtree that runs on DuckDB. The date
    window sets how many remote rows ship into Spark (10^4..10^5)."""
    d1, d2 = _window(r, 400, 1500) if with_segment else _window(r, 150, 900)
    if with_segment:
        return ("(SELECT o_orderkey, o_orderpriority, c_nationkey "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE o_orderdate >= DATE '{d1}' "
                f"AND o_orderdate < DATE '{d2}' "
                f"AND c_mktsegment IN ('{r.choice(SEGMENTS)}', "
                f"'{r.choice(SEGMENTS)}')) oc")
    return ("(SELECT o_orderkey, o_orderpriority FROM orders "
            f"WHERE o_orderdate >= DATE '{d1}' AND o_orderdate < DATE '{d2}' "
            f"AND o_totalprice > {r.randrange(1000, 100000)}) oc")


_SN = ("(SELECT s_suppkey, s_nationkey, n_name FROM supplier "
       "JOIN nation ON s_nationkey = n_nationkey) sn")


def _e_nation_revenue(r):
    return ("SELECT n_name, COUNT(*) AS n, "
            "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM lineitem JOIN {_oc_subquery(r, True)} "
            "ON l_orderkey = oc.o_orderkey "
            f"JOIN {_SN} ON l_suppkey = sn.s_suppkey GROUP BY n_name")


def _e_priority_shipmode(r):
    return ("SELECT o_orderpriority, l_shipmode, COUNT(*) AS n, "
            "SUM(l_quantity) AS qty FROM lineitem "
            f"JOIN {_oc_subquery(r, False)} ON l_orderkey = oc.o_orderkey "
            "GROUP BY o_orderpriority, l_shipmode")


def _e_local_supplier(r):
    return ("SELECT n_name, "
            "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
            f"FROM lineitem JOIN {_oc_subquery(r, True)} "
            "ON l_orderkey = oc.o_orderkey "
            f"JOIN {_SN} ON l_suppkey = sn.s_suppkey "
            "AND oc.c_nationkey = sn.s_nationkey GROUP BY n_name")


ETL_READS = [("nation_revenue", _e_nation_revenue),
             ("priority_shipmode", _e_priority_shipmode),
             ("local_supplier", _e_local_supplier)]
#: fed_etl operations repeat this cycle: three reads, then a write that
#: alternates between ``insert_into`` and ``remote_insert`` (75% reads,
#: 25% writes). The seed draws the literals.
ETL_CYCLE = ["nation_revenue", "priority_shipmode", "local_supplier",
             "write"]
ETL_INSERT_TARGET = "etl_nation_revenue"
ETL_REMOTE_TARGET = "etl_segment_summary"
ETL_TARGET_DDL = {
    ETL_INSERT_TARGET: "CREATE TABLE etl_nation_revenue (batch_id BIGINT, "
                       "n_name VARCHAR, n BIGINT, revenue DECIMAL(24, 4))",
    ETL_REMOTE_TARGET: "CREATE TABLE etl_segment_summary (batch_id BIGINT, "
                       "c_mktsegment VARCHAR, n BIGINT, total DECIMAL(22, 2))",
}


def etl_stream(seed: int, n: int, first_batch: int = 1) -> list[Op]:
    """``n`` operations; operation i writes (if it does) batch id
    ``first_batch + i``."""
    r = random.Random(seed)
    reads = dict(ETL_READS)
    ops = []
    for i in range(n):
        batch = first_batch + i
        kind = ETL_CYCLE[i % len(ETL_CYCLE)]
        if kind == "write":
            kind = ("insert_into", "remote_insert")[
                i // len(ETL_CYCLE) % 2]
        if kind in reads:
            ops.append(Op("read", kind, reads[kind](r)))
        elif kind == "insert_into":
            body = _e_nation_revenue(r).replace(
                "SELECT n_name,", f"SELECT {batch} AS batch_id, n_name,", 1)
            ops.append(Op(kind, "nation_revenue", body, batch,
                          ETL_INSERT_TARGET))
        else:
            d1, d2 = _window(r, 100, 1200)
            body = (f"SELECT {batch} AS batch_id, c_mktsegment, "
                    "COUNT(*) AS n, SUM(o_totalprice) AS total FROM orders "
                    "JOIN customer ON o_custkey = c_custkey "
                    f"WHERE o_orderdate >= DATE '{d1}' "
                    f"AND o_orderdate < DATE '{d2}' GROUP BY c_mktsegment")
            ops.append(Op(kind, "segment_summary",
                          f"INSERT INTO {ETL_REMOTE_TARGET} {body}", batch,
                          ETL_REMOTE_TARGET))
    return ops


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

#: Corpus shape: documents per corpus file, tokens per document, and the
#: shares of planted exact duplicates, near duplicates and junk.
CORPUS_DOCS = 1500
DOC_TOKENS = (40, 160)
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
JUNK_SHARE = 0.05
#: English stopwords the quality scorer and language detector count.
_STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def _vocab(r: random.Random, n: int = 6000) -> list[str]:
    words = set()
    while len(words) < n:
        k = r.randrange(2, 5)
        words.add("".join(r.choice(_CONSONANTS) + r.choice(_VOWELS)
                          for _ in range(k)))
    return sorted(words)


@dataclass
class Corpus:
    ids: list = field(default_factory=list)
    texts: list = field(default_factory=list)
    #: ids the pipeline must keep, and the planted ids it must drop
    expected_survivors: set = field(default_factory=set)
    planted_dups: set = field(default_factory=set)
    junk: set = field(default_factory=set)
    tokens: dict = field(default_factory=dict)

    def table(self) -> pa.Table:
        return pa.table({"doc_id": pa.array(self.ids, pa.int64()),
                         "text": pa.array(self.texts, pa.string())})


def make_corpus(seed: int, n_docs: int = CORPUS_DOCS) -> Corpus:
    """Unique documents plus planted duplicates, in shuffled id order.

    A near duplicate is its source with one extra word appended, so its
    3-word-shingle Jaccard to the source is (n-2)/(n-1) >= 0.97 for
    n >= 40 tokens: far above the pipeline's 0.85 threshold, and found
    by the 32-hash/8-band MinHash LSH with probability > 1 - 1e-7. Junk
    documents are short, punctuation-heavy and stopword-free, so the
    quality gate drops them. Every duplicate cluster must leave exactly
    one survivor: the member with the smallest id."""
    r = random.Random(seed)
    vocab = _vocab(r)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_junk = int(n_docs * JUNK_SHARE)
    n_unique = n_docs - n_exact - n_near - n_junk
    docs = []          # (text, cluster or None, is_junk)
    for c in range(n_unique):
        n = r.randrange(DOC_TOKENS[0], DOC_TOKENS[1] + 1)
        words = [r.choice(_STOP) if r.random() < 0.3 else r.choice(vocab)
                 for _ in range(n)]
        docs.append((" ".join(words), c, False))
    sources = r.sample(range(n_unique), n_exact + n_near)
    for c in sources[:n_exact]:
        docs.append((docs[c][0], c, False))
    for c in sources[n_exact:]:
        docs.append((docs[c][0] + " " + r.choice(vocab), c, False))
    for _ in range(n_junk):
        words = [r.choice(["#$%", "!!", "@@@", "&*", "%%"]) + r.choice(vocab)
                 for _ in range(r.randrange(3, 9))]
        docs.append((" ".join(words), None, True))
    order = list(range(len(docs)))
    r.shuffle(order)
    corpus = Corpus()
    best: dict = {}
    for new_id, i in enumerate(order, start=1):
        text, cluster, junk = docs[i]
        corpus.ids.append(new_id)
        corpus.texts.append(text)
        corpus.tokens[new_id] = len(text.split())
        if junk:
            corpus.junk.add(new_id)
        elif best.get(cluster, new_id + 1) > new_id:
            best[cluster] = new_id
    corpus.expected_survivors = set(best.values())
    corpus.planted_dups = (set(corpus.ids) - corpus.expected_survivors
                           - corpus.junk)
    return corpus
