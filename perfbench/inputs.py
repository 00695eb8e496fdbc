"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical Parquet files and the same statement stream. Nothing in this
module imports Spark; the program under test only ever sees the files.

Key ranges are disjoint per entity (customers, orders, parts, suppliers,
nations, regions), so a vid names one vertex of one tag and a write to a
customer vid touches nothing else.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H row counts at scale factor SF. Statement and superstep times are
# mostly launch- and plan-bound: at sf0.1 the same ops took 10-25% longer
# on 4 cores, while input writing and the reference checks grew fivefold.
# The smaller size leaves room in a run for an untimed warm-up cycle.
SF = 0.02
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDER = int(1_500_000 * SF)
N_NATION = 25
N_REGION = 5

CUST0 = 1_000_000
ORDER0 = 2_000_000
PART0 = 3_000_000
SUPP0 = 4_000_000
REGION0 = 100
NEW_CUST0 = 1_900_000          # vids the write stream inserts

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

# the deep graph: 100 paths of 24 nodes with sparse seeded shortcuts, so
# BFS from a path's head needs about 23 levels and connected components
# must follow long label chains. Its depth and the BFS hop cap are sized so
# the counted per-level loops fit the run's time budget: a 36-level BFS
# took 116 s and 367 jobs on 4 cores.
DEEP_CHAINS = 300
DEEP_LEN = 8
DEEP_GROUP = 3
DEEP_SHORTCUT_P = 0.05

_EPOCH_1992 = np.datetime64("1992-01-01", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, table), so adding a table never
    shifts the draws of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span_days):
    return _EPOCH_1992 + rng.integers(0, span_days, n).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """A TPC-H-shaped star schema at ``SF`` row counts."""
    r = _rng(seed, "tpch")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(N_REGION) + REGION0, pa.int32()),
        "r_name": [f"REGION_{i}" for i in range(N_REGION)]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array(np.arange(N_NATION) % N_REGION + REGION0,
                                pa.int32())})
    ck = np.arange(N_CUSTOMER, dtype=np.int64) + CUST0
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(r.integers(0, N_NATION, N_CUSTOMER),
                                pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(N_SUPPLIER, dtype=np.int64) + SUPP0
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(r.integers(0, N_NATION, N_SUPPLIER),
                                pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64) + PART0
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"part {k}" for k in pk],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, N_PART)],
        "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), N_PART)],
        "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _money(r, 900.0, 2100.0, N_PART)})
    ok = np.arange(N_ORDER, dtype=np.int64) + ORDER0
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(0, N_CUSTOMER, N_ORDER) + CUST0,
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDER)],
        "o_totalprice": _money(r, 1000.0, 500000.0, N_ORDER),
        "o_orderdate": _days(r, N_ORDER, 2400),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, N_ORDER)]})
    lines = r.integers(1, 8, N_ORDER)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, N_PART, n_li) + PART0,
        "l_suppkey": r.integers(0, N_SUPPLIER, n_li) + SUPP0,
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, n_li, 2500)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def deep_edges(seed: int) -> pa.Table:
    """Directed edges (src, dst) of the deep graph: ``DEEP_CHAINS`` chains of
    ``DEEP_LEN`` nodes, each group of ``DEEP_GROUP`` consecutive chains
    joined tail to head into one long path, plus seeded forward shortcuts
    that skip one node with probability ``DEEP_SHORTCUT_P``."""
    r = _rng(seed, "deep")
    ids = np.arange(DEEP_CHAINS * DEEP_LEN, dtype=np.int64).reshape(
        DEEP_CHAINS, DEEP_LEN) + 1
    src = [ids[:, :-1].ravel()]
    dst = [ids[:, 1:].ravel()]
    cut = r.random((DEEP_CHAINS, DEEP_LEN - 2)) < DEEP_SHORTCUT_P
    src.append(ids[:, :-2][cut])
    dst.append(ids[:, 2:][cut])
    joined = np.arange(DEEP_CHAINS - 1)
    joined = joined[(joined + 1) % DEEP_GROUP != 0]
    src.append(ids[joined, -1])
    dst.append(ids[joined + 1, 0])
    e = np.unique(np.stack([np.concatenate(src), np.concatenate(dst)]),
                  axis=1)
    return pa.table({"_src": e[0], "_dst": e[1],
                     "_rank": np.zeros(e.shape[1], dtype=np.int64)})


def write_tables(tables: dict[str, pa.Table], root: str) -> None:
    for name, t in tables.items():
        _write(t, os.path.join(root, f"{name}.parquet"))


@dataclass(frozen=True)
class Stmt:
    """One statement of the interactive stream: its template, whether it
    writes, the nGQL text, and the parameters the checker replays."""
    template: str
    write: bool
    text: str
    params: tuple


READ_TEMPLATES = ("lookup", "fetch", "var_join", "go_where_pipe",
                  "match_2hop")
WRITE_TEMPLATES = ("insert", "delete")


def _vids(vs) -> str:
    return ", ".join(str(int(v)) for v in vs)


def read_stmt(template: str, r: np.random.Generator) -> Stmt:
    nk = int(r.integers(0, N_NATION))
    price = float(r.choice([100000.0, 200000.0, 300000.0, 400000.0]))
    vids = tuple(int(v) for v in
                 np.sort(r.choice(N_CUSTOMER, 8, replace=False)) + CUST0)
    if template == "lookup":
        bal = float(r.choice([0.0, 2500.0, 5000.0, 7500.0]))
        return Stmt(template, False,
                    f"LOOKUP ON customer WHERE customer.c_nationkey == {nk} "
                    f"AND customer.c_acctbal > {bal} "
                    "YIELD id(vertex) AS vid, customer.c_acctbal AS bal",
                    (nk, bal))
    if template == "go_where_pipe":
        k = int(r.integers(3, 10))
        low = price / 4
        return Stmt(template, False,
                    f"GO FROM {_vids(vids)} OVER placed "
                    f"WHERE placed.o_totalprice > {low} "
                    "YIELD src(edge) AS c, placed.o_totalprice AS p "
                    "| GROUP BY $-.c YIELD $-.c AS c, count(*) AS n, "
                    "max($-.p) AS top "
                    f"| ORDER BY $-.n DESC, $-.c | LIMIT {k}",
                    (vids, low, k))
    if template == "match_2hop":
        size = int(r.integers(30, 48))
        return Stmt(template, False,
                    "MATCH (c:customer)-[:placed]->(o:order)"
                    "-[:contains]->(p:part) "
                    f"WHERE c.customer.c_nationkey == {nk} "
                    f"AND p.part.p_size > {size} "
                    "RETURN p.part.p_brand AS brand, count(*) AS n "
                    "ORDER BY brand", (nk, size))
    if template == "fetch":
        return Stmt(template, False,
                    f"FETCH PROP ON customer {_vids(vids)} "
                    "YIELD id(vertex) AS vid, customer.c_name AS name, "
                    "customer.c_acctbal AS bal", (vids,))
    if template == "var_join":
        mod = int(r.integers(40, 80))
        return Stmt(template, False,
                    f"$a = LOOKUP ON customer WHERE customer.vid % {mod} == 0 "
                    "YIELD id(vertex) AS cid, customer.c_acctbal AS bal; "
                    "$b = GO FROM $a.cid OVER placed WHERE "
                    f"placed.o_totalprice > {price} "
                    "YIELD src(edge) AS ckey, dst(edge) AS okey; "
                    "YIELD $a.cid AS cid, $a.bal AS bal, $b.okey AS okey "
                    "FROM $a INNER JOIN $b ON $a.cid == $b.ckey",
                    (mod, price))
    raise ValueError(template)


class _Customers:
    """The customer vids that still carry the customer tag, so DELETE
    always names a live vertex and no statement fails by design."""

    def __init__(self, r: np.random.Generator):
        self.r = r
        self.gone: set[int] = set()

    def live(self) -> int:
        while True:
            v = int(self.r.integers(0, N_CUSTOMER)) + CUST0
            if v not in self.gone:
                return v


def write_stmt(template: str, r: np.random.Generator, n: int,
               cust: _Customers) -> Stmt:
    """A write script; each of its statements commits. ``n`` numbers the
    write within its stream, so inserted vids are fresh and distinct."""
    bal = round(float(r.uniform(-999, 9999)), 2)
    if template == "insert":
        vid = NEW_CUST0 + 2 * n
        nk = int(r.integers(0, N_NATION))
        seg = SEGMENTS[int(r.integers(0, 5))]
        order = int(r.integers(0, N_ORDER)) + ORDER0
        price = round(float(r.uniform(1000, 500000)), 2)
        date = str(_EPOCH_1992 + np.timedelta64(int(r.integers(0, 2400)),
                                                "D"))[:10]
        return Stmt(template, True,
                    "INSERT VERTEX customer(vid, c_name, c_nationkey, "
                    f"c_acctbal, c_mktsegment) VALUES {vid}:({vid}, "
                    f'"New#{vid}", {nk}, {bal}, "{seg}"); '
                    "INSERT EDGE placed(o_totalprice, o_orderdate) VALUES "
                    f'{vid}->{order}:({price}, datetime("{date}T00:00:00"))',
                    (vid, f"New#{vid}", nk, bal, seg, order, price, date))
    if template == "delete":
        gone = cust.live()
        cust.gone.add(gone)
        return Stmt(template, True, f"DELETE VERTEX {gone} WITH EDGE",
                    (gone,))
    raise ValueError(template)


# One cycle: every template once in a fixed order, 5 reads and 2 writes.
# The order is fixed so that each run times the same sequence; the
# DELETE ... WITH EDGE sits mid-cycle, so the reads after it pay for the
# lineage it adds.
CYCLE = ("lookup", "fetch", "var_join", "delete", "go_where_pipe",
         "match_2hop", "insert")
CYCLE_LEN = len(CYCLE)


def statement_stream(seed: int, cycles: int) -> list[Stmt]:
    """``cycles`` cycles of ``CYCLE_LEN`` statements with seeded
    parameters."""
    r = _rng(seed, "stream")
    cust = _Customers(r)
    out: list[Stmt] = []
    for _ in range(cycles):
        for t in CYCLE:
            out.append(write_stmt(t, r, len(out), cust) if t in
                       WRITE_TEMPLATES else read_stmt(t, r))
    return out
