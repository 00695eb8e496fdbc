"""The benchmark's workloads, driven through the library's public entry
points: ``plans.execute`` / ``plans.parse``, ``operators.*``,
``pipeline.*``, ``catalog.load_tables`` / ``catalog.tpch_space`` and
``GraphSpace``.

A workload writes its seeded inputs (untimed), loads its catalog on a
session (the timed set-up), and hands out ops. An op builds a DataFrame
through one layer of the program (``call``) and is then run to completion
the way a caller would, by collecting its rows. Each op carries its own
reference check, run on those rows after the timed phase.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import inputs as I


@dataclass
class Op:
    template: str
    kind: str                       # "read", "write" or "op"
    layer: str                      # "executor", "operators" or "pipeline"
    call: Callable                  # () -> DataFrame
    text: str | None = None         # nGQL text, parsed apart when traced
    params: tuple = ()
    expect: Callable | None = None  # rows -> bool
    payload_bytes: int = 0


def _same(want: Callable) -> Callable:
    return lambda rows: checks.same_rows(rows, want())


def _copy_dir(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "inputs", self.name)

    def prepare(self) -> dict:
        """Write the seeded inputs once per seed; returns their description
        (row counts, depth, mix)."""
        marker = os.path.join(self.data, "seed")
        done = None
        if os.path.exists(marker):
            with open(marker) as f:
                done = f.read()
        if done != str(self.seed):
            shutil.rmtree(self.data, ignore_errors=True)
            os.makedirs(self.data)
            self.generate()
            with open(marker, "w") as f:
                f.write(str(self.seed))
        return self.describe()

    def generate(self) -> None:
        raise NotImplementedError

    def describe(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        """Catalog / space load on ``spark``: the timed part of set-up."""
        raise NotImplementedError

    def warmup(self) -> list[Op]:
        """Untimed ops run before the timed phase: the first cycle, so
        every template pays its first-use cost (JIT, code generation,
        first commit) outside the timing. Its outputs are checked too."""
        return self.cycle(0)

    def cycle(self, i: int) -> list[Op]:
        """The ``i``-th cycle of ops; every cycle holds every template.
        Cycle 0 is the warm-up; timed cycles start at 1."""
        raise NotImplementedError

    def final_checks(self, records) -> list[str]:
        """Checks over the whole timed phase; returns failure messages and
        marks the failed records."""
        return []


# ---------------------------------------------------------------------------
# ngql_interactive
# ---------------------------------------------------------------------------

class NgqlInteractive(Workload):
    name = "ngql_interactive"
    why = ("statement time is parse, py4j plan build and job launch, not "
           "data; writes beside reads show lineage and commit costs")

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.tpch = os.path.join(self.data, "tpch")
        self.pristine = os.path.join(self.data, "pristine")
        self.live = os.path.join(work, "run", self.name)
        self.space = None
        self._stream: list[I.Stmt] = []

    def generate(self) -> None:
        t = I.tpch_tables(self.seed)
        I.write_tables(t, self.tpch)
        c, o = t["customer"], t["orders"]
        ck = c["c_custkey"]
        customer = pa.table({
            "_vid": ck, "vid": ck, "c_name": c["c_name"],
            "c_nationkey": c["c_nationkey"], "c_acctbal": c["c_acctbal"],
            "c_mktsegment": c["c_mktsegment"]})
        placed = pa.table({
            "_src": o["o_custkey"], "_dst": o["o_orderkey"],
            "_rank": pa.array(np.zeros(len(o), dtype=np.int64)),
            "o_totalprice": o["o_totalprice"],
            "o_orderdate": o["o_orderdate"]})
        for name, tab in (("customer", customer), ("placed", placed)):
            os.makedirs(os.path.join(self.pristine, name))
            pq.write_table(tab, os.path.join(self.pristine, name,
                                             "part-0.parquet"))

    def describe(self) -> dict:
        return {"graph": f"TPC-H overlay at sf{I.SF}",
                "rows": {"customer": I.N_CUSTOMER, "orders": I.N_ORDER,
                         "part": I.N_PART,
                         "lineitem": pq.read_metadata(os.path.join(
                             self.tpch, "lineitem.parquet")).num_rows},
                "path_backed": ["customer", "placed"],
                "statements_per_cycle": I.CYCLE_LEN,
                "write_share": len(I.WRITE_TEMPLATES) / I.CYCLE_LEN,
                "client": "one closed-loop thread"}

    def prepare(self) -> dict:
        """Inputs, then a fresh copy of the path-backed tables: every run
        starts from the same state."""
        out = super().prepare()
        for name in ("customer", "placed"):
            _copy_dir(os.path.join(self.pristine, name),
                      os.path.join(self.live, name))
        return out

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F
        from nebula_spark.catalog import (DST, RANK, SRC, VID, GraphSpace,
                                          load_tables)
        t = load_tables(spark, self.tpch, ("orders", "part", "lineitem"))
        sp = GraphSpace(spark, "ngql_interactive")
        sp.create_tag("customer", path=os.path.join(self.live, "customer"))
        sp.create_edge("placed", path=os.path.join(self.live, "placed"))
        sp.create_tag("order", df=t["orders"].select(
            F.col("o_orderkey").alias(VID), F.col("o_orderkey").alias("vid"),
            "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"))
        sp.create_tag("part", df=t["part"].select(
            F.col("p_partkey").alias(VID), F.col("p_partkey").alias("vid"),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
        sp.create_edge("contains", df=t["lineitem"].select(
            F.col("l_orderkey").alias(SRC), F.col("l_partkey").alias(DST),
            F.col("l_linenumber").cast("long").alias(RANK), "l_quantity",
            "l_extendedprice", "l_discount", "l_shipdate"))
        # schema of the path-backed tables: one footer read each
        sp.tag("customer").schema
        sp.edge("placed").schema
        self.space = sp

    def _op(self, s: I.Stmt) -> Op:
        from nebula_spark.plans import execute
        return Op(s.template, "write" if s.write else "read", "executor",
                  lambda: execute(self.space, s.text), s.text,
                  s.params, payload_bytes=len(s.text.encode()))

    def cycle(self, i: int) -> list[Op]:
        while len(self._stream) < (i + 1) * I.CYCLE_LEN:
            self._stream = I.statement_stream(self.seed,
                                              len(self._stream)
                                              // I.CYCLE_LEN + 4)
        return [self._op(s) for s in
                self._stream[i * I.CYCLE_LEN:(i + 1) * I.CYCLE_LEN]]

    def final_checks(self, records) -> list[str]:
        """Replay the stream on a DuckDB mirror: each read is compared
        with the mirror's state at its place in the stream, each
        acknowledged write is applied, and the path-backed tables on disk
        are compared with the mirror at the end."""
        m = checks.NgqlMirror(self.tpch, self.pristine)
        bad = []
        for r in records:
            if r.op.kind == "write":
                if r.ok:
                    m.write(r.op.template, r.op.params)
                continue
            if r.ok and not checks.same_rows(
                    r.rows, m.read(r.op.template, r.op.params)):
                r.ok = False
                bad.append(f"{r.op.template}: wrong result for "
                           f"{r.op.params}")
        for name in ("customer", "placed"):
            if not m.table_matches(name, os.path.join(self.live, name)):
                for r in records:
                    if r.op.kind == "write" and r.ok:
                        r.ok = False
                bad.append(f"{name}: table on disk differs from the "
                           "replayed writes")
        return bad


# ---------------------------------------------------------------------------
# graph_iterative
# ---------------------------------------------------------------------------

DEEP_HOPS = 4


class GraphIterative(Workload):
    name = "graph_iterative"
    why = ("superstep cost is many small jobs inside the operator call; "
           "a wide shallow graph and a deep narrow one vary superstep "
           "count against frontier width")

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.tpch = os.path.join(self.data, "tpch")
        self.deep = os.path.join(self.data, "deep")
        self.r = I._rng(seed, "graph_params")
        self._pairs: dict[str, list] = {}

    def generate(self) -> None:
        I.write_tables(I.tpch_tables(self.seed), self.tpch)
        I.write_tables({"link": I.deep_edges(self.seed)}, self.deep)

    def pairs(self, name: str) -> list:
        """Edge lists for the reference checks, read from the inputs."""
        if name not in self._pairs:
            if name == "cnr":
                c = pq.read_table(os.path.join(self.tpch, "customer.parquet"))
                n = pq.read_table(os.path.join(self.tpch, "nation.parquet"))
                self._pairs[name] = (
                    list(zip(c["c_custkey"].to_pylist(),
                             c["c_nationkey"].to_pylist()))
                    + list(zip(n["n_nationkey"].to_pylist(),
                               n["n_regionkey"].to_pylist())))
            elif name == "contains":
                self._pairs[name] = checks.edge_pairs(
                    os.path.join(self.tpch, "lineitem.parquet"),
                    "l_orderkey", "l_partkey")
            else:
                self._pairs[name] = checks.edge_pairs(
                    os.path.join(self.deep, "link.parquet"))
        return self._pairs[name]

    def describe(self) -> dict:
        heads = [1 + i * I.DEEP_LEN for i in range(I.DEEP_CHAINS)]
        return {"shallow": f"TPC-H overlay at sf{I.SF}: "
                           "customer->nation->region and order->part",
                "rows": {"customer": I.N_CUSTOMER, "orders": I.N_ORDER,
                         "part": I.N_PART,
                         "lineitem": len(self.pairs("contains"))},
                "deep": {"paths": I.DEEP_CHAINS // I.DEEP_GROUP,
                         "path_length": I.DEEP_LEN * I.DEEP_GROUP,
                         "edges": len(self.pairs("deep")),
                         "bfs_levels_from_heads":
                             checks.bfs_depth(self.pairs("deep"), heads),
                         "max_hops": DEEP_HOPS}}

    def setup(self, spark) -> None:
        from nebula_spark.catalog import GraphSpace, tpch_space
        sp = tpch_space(spark, self.tpch)
        self.cnr = sp.edge("located_in").unionByName(sp.edge("member_of"))
        self.contains = sp.edge("contains")
        self.customers = sp.tag("customer")
        deep = GraphSpace(spark, "deep")
        deep.create_edge("link", path=os.path.join(self.deep, "link.parquet"))
        self.link = deep.edge("link")
        self.spark = spark

    # -- op builders -------------------------------------------------------
    def _bfs_shallow(self, mod: int, rem: int) -> Op:
        from pyspark.sql import functions as F
        from nebula_spark.catalog import VID
        from nebula_spark.operators import bfs_shortest_paths
        roots = [k for k in range(I.CUST0, I.CUST0 + I.N_CUSTOMER)
                 if k % mod == rem]
        return Op("bfs_shallow", "op", "operators",
                  lambda: bfs_shortest_paths(
                      self.cnr, self.customers.filter(
                          F.col(VID) % mod == rem).select(VID), max_hops=3),
                  params=(mod, rem),
                  expect=_same(lambda: checks.bfs_dists(self.pairs("cnr"),
                                                        roots, 3)))

    def _pagerank(self, iters: int) -> Op:
        from nebula_spark.operators.algo import pagerank

        def ok(rows):
            want = dict(checks.pagerank(self.pairs("cnr"), iters))
            got = {r[0]: r[1] for r in rows}
            return got.keys() == want.keys() and all(
                checks.close(got[k], want[k]) for k in want)
        return Op("pagerank", "op", "operators",
                  lambda: pagerank(self.cnr, iterations=iters),
                  params=(iters,), expect=ok)

    def _k_core(self, k: int, mod: int) -> Op:
        from pyspark.sql import functions as F
        from nebula_spark.catalog import SRC
        from nebula_spark.operators.algo import k_core
        return Op("k_core", "op", "operators",
                  lambda: k_core(self.contains.filter(F.col(SRC) % mod == 0),
                                 k), params=(k, mod),
                  expect=_same(lambda: checks.k_core(
                      [p for p in self.pairs("contains") if p[0] % mod == 0],
                      k)))

    def _bfs_deep(self, heads: list[int], hops: int) -> Op:
        from nebula_spark.catalog import VID
        from nebula_spark.operators import bfs_shortest_paths
        return Op("bfs_deep", "op", "operators",
                  lambda: bfs_shortest_paths(
                      self.link, self.spark.createDataFrame(
                          [(h,) for h in heads], f"{VID} long"),
                      max_hops=hops), params=(heads, hops),
                  expect=_same(lambda: checks.bfs_dists(self.pairs("deep"),
                                                        heads, hops)))

    def _cc(self) -> Op:
        from nebula_spark.pipeline import connected_components
        return Op("connected_components", "op", "pipeline",
                  lambda: connected_components(self.link, "_src", "_dst"),
                  expect=_same(lambda: checks.components(self.pairs("deep"))))

    def _head(self) -> int:
        return 1 + int(self.r.integers(0, I.DEEP_CHAINS)) * I.DEEP_LEN

    def cycle(self, i: int) -> list[Op]:
        """Every template once, in a fixed order, with seeded
        parameters."""
        r = self.r
        return [self._bfs_shallow(int(r.integers(400, 800)),
                                  int(r.integers(0, 400))),
                self._pagerank(2), self._k_core(3, 4),
                self._bfs_deep(sorted({self._head() for _ in range(3)}),
                               DEEP_HOPS),
                self._cc()]


WORKLOADS = {w.name: w for w in (NgqlInteractive, GraphIterative)}
