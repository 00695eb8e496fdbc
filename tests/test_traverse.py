"""Traversal operator tests on the nba-style fixture (graph semantics the
reference's TCK corpus exercises: cycles, parallel edges, edge-uniqueness)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nebula_spark.operators import (
    bfs_shortest_paths, get_edges, get_neighbors, go, k_hop_subgraph,
)
from nebula_spark.operators.paths import all_paths
from nebula_spark.operators.traverse import traverse


def test_get_neighbors_out(nba):
    start = nba["like"].sparkSession.createDataFrame([("p1",)], ["_vid"])
    hop = get_neighbors(start, nba["like"])
    rows = {(r["_src"], r["_dst"]) for r in hop.collect()}
    assert rows == {("p1", "p2"), ("p1", "p3")}


def test_get_neighbors_in_and_both(nba):
    spark = nba["like"].sparkSession
    start = spark.createDataFrame([("p1",)], ["_vid"])
    rows_in = {(r["_src"], r["_dst"]) for r in
               get_neighbors(start, nba["like"], "in").collect()}
    assert rows_in == {("p1", "p2")}  # p2 likes p1 (reversed orientation)
    both = get_neighbors(start, nba["like"], "both").collect()
    assert len(both) == 3


def test_get_neighbors_edge_filter_and_limit(nba):
    spark = nba["like"].sparkSession
    start = spark.createDataFrame([("p1",), ("p3",)], ["_vid"])
    hop = get_neighbors(start, nba["like"],
                        edge_filter=F.col("likeness") >= 90)
    assert {(r["_src"], r["_dst"]) for r in hop.collect()} == {
        ("p1", "p2"), ("p1", "p3"), ("p3", "p3")}
    hop1 = get_neighbors(start, nba["like"], limit_per_vertex=1,
                         order_per_vertex=[F.desc("likeness"), "_dst"])
    got = {(r["_src"], r["_dst"]) for r in hop1.collect()}
    assert got == {("p1", "p2"), ("p3", "p3")}


def test_go_two_steps(nba):
    spark = nba["like"].sparkSession
    start = spark.createDataFrame([("p1",)], ["_vid"])
    out = go(nba["like"], start, min_steps=2, max_steps=2)
    # frontier after step1 = {p2,p3}; step2 edges: p2->p1,p2->p4,p3->p3,p3->p5
    assert {(r["_src"], r["_dst"]) for r in out.collect()} == {
        ("p2", "p1"), ("p2", "p4"), ("p3", "p3"), ("p3", "p5")}


def test_go_1_to_2_accumulates(nba):
    spark = nba["like"].sparkSession
    start = spark.createDataFrame([("p1",)], ["_vid"])
    out = go(nba["like"], start, min_steps=1, max_steps=2)
    assert out.count() == 6
    assert set(out.select("step").distinct().toPandas()["step"]) == {1, 2}


def test_traverse_edge_uniqueness(nba):
    spark = nba["like"].sparkSession
    start = spark.createDataFrame([("p1",)], ["_vid"])
    t = traverse(nba["like"], start, 1, 3)
    paths = t.collect()
    # no path may contain the same (s,d,r,t) twice
    for row in paths:
        ids = [(p.s, p.d, p.r, p.t) for p in row.path]
        assert len(ids) == len(set(ids))
    # p1->p2->p1->p2 is forbidden (reuses p1->p2) but p1->p2->p1->p3 is fine
    three = [tuple((p.s, p.d) for p in row.path)
             for row in paths if row.hops == 3]
    assert (("p1", "p2"), ("p2", "p1"), ("p1", "p3")) in three
    assert (("p1", "p2"), ("p2", "p1"), ("p1", "p2")) not in three


def test_traverse_parallel_edges_distinct(nba):
    spark = nba["serve"].sparkSession
    start = spark.createDataFrame([("p1",)], ["_vid"])
    t = traverse(nba["serve"], start, 1, 1)
    # two parallel p1->t1 edges (rank 0 and 1) are distinct paths
    assert t.count() == 2


def test_get_edges(nba):
    spark = nba["serve"].sparkSession
    keys = spark.createDataFrame([("p1", "t1", 1)], ["_src", "_dst", "_rank"])
    got = get_edges(keys, nba["serve"]).collect()
    assert len(got) == 1 and got[0].start_year == 2016


def test_bfs_shortest_paths(nba):
    spark = nba["like"].sparkSession
    src = spark.createDataFrame([("p1",)], ["_vid"])
    d = bfs_shortest_paths(nba["like"], src, max_hops=5)
    dist = {r["_dst"]: r.dist for r in d.collect()}
    assert dist == {"p2": 1, "p3": 1, "p4": 2, "p5": 2}


def test_all_paths_and_noloop(nba):
    spark = nba["like"].sparkSession
    src = spark.createDataFrame([("p1",)], ["_vid"])
    dst = spark.createDataFrame([("p5",)], ["_vid"])
    ap = all_paths(nba["like"], src, dst, max_hops=3)
    # p1->p3->p5 and p1->p3->p3->p5 (self-loop allowed: edge-unique only)
    assert ap.count() == 2
    nl = all_paths(nba["like"], src, spark.createDataFrame([("p3",)], ["_vid"]),
                   max_hops=3, noloop=True)
    assert nl.count() == 1  # p1->p3 only (p1->p2->p1->p3 repeats p1)


def test_k_hop_subgraph(nba):
    spark = nba["like"].sparkSession
    seeds = spark.createDataFrame([("p1",)], ["_vid"])
    verts, edges = k_hop_subgraph(nba["like"], seeds, steps=1, direction="out")
    assert {r["_vid"] for r in verts.collect()} == {"p1", "p2", "p3"}
    # step1 edges from p1 + closing edges among visited
    got = {(r["_src"], r["_dst"], r["_dir"]) for r in edges.collect()}
    assert ("p1", "p2", 1) in got and ("p1", "p3", 1) in got


def test_pagerank_chain(spark):
    # a->b->c, 1 iteration: b gets 0.15+0.85*1, c same (r0=1 everywhere),
    # a is dangling-source → base 0.15
    from nebula_spark.operators.algo import pagerank
    e = spark.createDataFrame([("a", "b", 0), ("b", "c", 0)],
                              "_src string, _dst string, _rank long")
    r = {x.vid: round(x.rank, 6) for x in pagerank(e, iterations=1).collect()}
    assert r == {"a": 0.15, "b": 1.0, "c": 1.0}
    r2 = {x.vid: round(x.rank, 6)
          for x in pagerank(e, iterations=2).collect()}
    # iter2: b <- a's 0.15 → 0.15+0.85*0.15; c <- b's 1.0 → 1.0
    assert r2 == {"a": 0.15, "b": 0.2775, "c": 1.0}


def test_weighted_shortest_paths(spark):
    """Bellman-Ford BSP vs hand-computed distances: the cheap long way
    round (1->2->3 cost 3) must beat the direct edge (cost 10); parallel
    edges keep the min weight; unreachable nodes absent."""
    import pytest

    from nebula_spark.operators.paths import weighted_shortest_paths

    e = spark.createDataFrame(
        [(1, 3, 0, 10.0), (1, 2, 0, 1.0), (2, 3, 0, 2.0), (3, 4, 0, 1.0),
         (1, 2, 1, 5.0),          # parallel edge, worse weight
         (5, 6, 0, 1.0)],         # disconnected from 1
        "_src long, _dst long, _rank long, weight double")
    src = spark.createDataFrame([(1,)], ["_vid"])
    got = {(r["_src"], r["_dst"]): r.dist
           for r in weighted_shortest_paths(e, src).collect()}
    assert got == {(1, 1): 0.0, (1, 2): 1.0, (1, 3): 3.0, (1, 4): 4.0}

    # targets restriction + BOTH direction
    t = spark.createDataFrame([(3,)], ["_vid"])
    got2 = {(r["_src"], r["_dst"]): r.dist
            for r in weighted_shortest_paths(e, src, targets=t,
                                             direction="both").collect()}
    assert got2 == {(1, 3): 3.0}

    with pytest.raises(ValueError, match="non-negative"):
        neg = spark.createDataFrame([(1, 2, 0, -1.0)],
                                    "_src long, _dst long, _rank long, weight double")
        weighted_shortest_paths(neg, src).collect()
