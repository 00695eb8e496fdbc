"""Reference results computed without the program under test.

Front-end reads are replayed as SQL against a DuckDB mirror of the
interactive workload's tables, with the acknowledged writes applied in
stream order. Graph operators are recomputed with networkx or plain Python
over the same Parquet inputs. :func:`same_rows` compares expected rows
with what the program returned.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import networkx as nx
import numpy as np
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, Decimal):
        return round(float(v), 6)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def same_rows(got, want) -> bool:
    """Multiset equality of rows, floats compared to 6 decimals."""
    g = Counter(tuple(_norm(x) for x in row) for row in got)
    w = Counter(tuple(_norm(x) for x in row) for row in want)
    return g == w


# ---------------------------------------------------------------------------
# interactive workload: DuckDB mirror of the graph overlay
# ---------------------------------------------------------------------------

class NgqlMirror:
    """The overlay's tables in DuckDB: ``customer`` and ``placed`` start
    from the pristine path-backed copies and follow the acknowledged
    writes; ``ord``, ``part`` and ``contains`` are read-only."""

    def __init__(self, tpch_dir: str, pristine_dir: str):
        self.db = duckdb.connect()
        q = self.db.execute
        q(f"CREATE TABLE customer AS SELECT * FROM "
          f"read_parquet('{pristine_dir}/customer/*.parquet')")
        q(f"CREATE TABLE placed AS SELECT * FROM "
          f"read_parquet('{pristine_dir}/placed/*.parquet')")
        q(f"CREATE TABLE ord AS SELECT o_orderkey AS _vid FROM "
          f"read_parquet('{tpch_dir}/orders.parquet')")
        q(f"CREATE TABLE part AS SELECT p_partkey AS _vid, p_brand, p_size "
          f"FROM read_parquet('{tpch_dir}/part.parquet')")
        q(f"CREATE TABLE contains AS SELECT l_orderkey AS _src, "
          f"l_partkey AS _dst FROM read_parquet('{tpch_dir}/lineitem.parquet')")

    def rows(self, sql: str, *args) -> list[tuple]:
        return self.db.execute(sql, list(args)).fetchall()

    def read(self, template: str, p: tuple) -> list[tuple]:
        if template == "lookup":
            return self.rows("SELECT _vid, c_acctbal FROM customer "
                             "WHERE c_nationkey = ? AND c_acctbal > ?", *p)
        if template == "go_where_pipe":
            vids, low, k = p
            return self.rows(
                "SELECT _src, count(*) AS n, max(o_totalprice) FROM placed "
                "WHERE list_contains(?, _src) AND o_totalprice > ? "
                "GROUP BY _src ORDER BY n DESC, _src LIMIT ?",
                list(vids), low, k)
        if template == "match_2hop":
            return self.rows(
                "SELECT p.p_brand, count(*) FROM customer c "
                "JOIN placed e ON e._src = c._vid JOIN ord o ON o._vid = e._dst "
                "JOIN contains l ON l._src = o._vid "
                "JOIN part p ON p._vid = l._dst "
                "WHERE c.c_nationkey = ? AND p.p_size > ? GROUP BY p.p_brand",
                *p)
        if template == "fetch":
            return self.rows("SELECT _vid, c_name, c_acctbal FROM customer "
                             "WHERE list_contains(?, _vid)", list(p[0]))
        if template == "var_join":
            mod, price = p
            return self.rows(
                "WITH a AS (SELECT _vid AS cid, c_acctbal AS bal FROM customer "
                "WHERE vid % ? = 0) "
                "SELECT a.cid, a.bal, e._dst FROM a JOIN placed e "
                "ON e._src = a.cid WHERE e.o_totalprice > ?", mod, price)
        raise ValueError(template)

    def write(self, template: str, p: tuple) -> None:
        q = self.db.execute
        if template == "insert":
            vid, name, nk, bal, seg, order, price, date = p
            q("DELETE FROM customer WHERE _vid = ?", [vid])
            q("INSERT INTO customer (_vid, vid, c_name, c_nationkey, "
              "c_acctbal, c_mktsegment) VALUES (?, ?, ?, ?, ?, ?)",
              [vid, vid, name, nk, bal, seg])
            q("DELETE FROM placed WHERE _src = ? AND _dst = ? AND _rank = 0",
              [vid, order])
            q("INSERT INTO placed (_src, _dst, _rank, o_totalprice, "
              "o_orderdate) VALUES (?, ?, 0, ?, CAST(? AS TIMESTAMP))",
              [vid, order, price, date])
        elif template == "delete":
            gone, = p
            q("DELETE FROM customer WHERE _vid = ?", [gone])
            q("DELETE FROM placed WHERE _src = ? OR _dst = ?", [gone, gone])
        else:
            raise ValueError(template)

    def table_matches(self, name: str, path: str) -> bool:
        """The table on disk equals the mirror, as a multiset of rows."""
        diff = self.rows(
            f"SELECT count(*) FROM ((SELECT * FROM {name} EXCEPT ALL "
            f"SELECT * FROM read_parquet('{path}/*.parquet')) UNION ALL "
            f"(SELECT * FROM read_parquet('{path}/*.parquet') EXCEPT ALL "
            f"SELECT * FROM {name}))")
        return diff[0][0] == 0


# ---------------------------------------------------------------------------
# iterative workload: graph algorithms recomputed in Python
# ---------------------------------------------------------------------------

def edge_pairs(path: str, src: str = "_src", dst: str = "_dst"
               ) -> list[tuple[int, int]]:
    t = pq.read_table(path, columns=[src, dst])
    return list(zip(t[src].to_pylist(), t[dst].to_pylist()))


def bfs_dists(pairs, roots, max_hops: int) -> list[tuple]:
    """(root, vid, dist) for every vid first reached at 1..max_hops."""
    g = nx.DiGraph()
    g.add_edges_from(pairs)
    out = []
    for r in set(roots):
        if r not in g:
            continue
        for v, d in nx.single_source_shortest_path_length(
                g, r, cutoff=max_hops).items():
            if d > 0:
                out.append((r, v, d))
    return out


def components(pairs) -> list[tuple]:
    """(node, min member of its undirected component)."""
    g = nx.Graph()
    g.add_edges_from(pairs)
    out = []
    for comp in nx.connected_components(g):
        m = min(comp)
        out.extend((v, m) for v in comp)
    return out


def pagerank(pairs, iterations: int, damping: float = 0.85) -> list[tuple]:
    """The operator's recurrence: rank' = (1-d) + d * sum(rank/outdeg) over
    distinct pairs, each contribution rounded to 15 decimals before the
    sum, dangling vertices keeping only the base term."""
    e = sorted(set(pairs))
    nodes = {v for p in e for v in p}
    outdeg = Counter(a for a, _ in e)
    q = Decimal(10) ** -15
    rank = {v: 1.0 for v in nodes}
    for _ in range(iterations):
        s: dict[int, Decimal] = {}
        for a, b in e:
            c = Decimal(rank[a] / outdeg[a]).quantize(q, ROUND_HALF_UP)
            s[b] = s.get(b, Decimal(0)) + c
        rank = {v: (1.0 - damping) + damping * float(s.get(v, 0))
                for v in nodes}
    return list(rank.items())


def k_core(pairs, k: int) -> list[tuple]:
    """(vid, degree inside the core) of the k-core of the undirected
    simple graph, peeled to a fixpoint."""
    a = np.array(pairs, dtype=np.int64)
    a = a[a[:, 0] != a[:, 1]]
    a = np.unique(np.sort(a, axis=1), axis=0)
    while len(a):
        ids, deg = np.unique(a.ravel(), return_counts=True)
        weak = ids[deg < k]
        if not len(weak):
            return list(zip(ids.tolist(), deg.tolist()))
        a = a[~np.isin(a[:, 0], weak) & ~np.isin(a[:, 1], weak)]
    return []


def bfs_depth(pairs, roots) -> int:
    """Levels a BFS from ``roots`` needs before its frontier empties."""
    g = nx.DiGraph()
    g.add_edges_from(pairs)
    return max((max(nx.single_source_shortest_path_length(g, r).values())
                for r in roots if r in g), default=0)


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
