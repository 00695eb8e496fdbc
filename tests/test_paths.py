"""Frontier searches against plain Python on fixed graphs (default lane).

``operators/paths.py`` runs every search on one level step per frontier
kind, with one round driver for the two meet-in-the-middle searches.
Every frontier search except the weighted one — BFS distances and
minimal paths, both meet-in-the-middle sides, GET SUBGRAPH, MATCH var-len
expansion and GO's counted range — pulls one counted level loop
(``traverse._counted_levels``).
These tests pin each public search at a shallow depth (2) and a deeper
one (5), and the loop's searches at their edge depths too, in every
direction, against a Python BFS over a graph made of small components
that carry the edge cases: a 2-cycle, a self-loop, parallel edges, a
root that closes at two levels (a self-loop beside parallel edges), a
diamond and a 6-edge chain. Every frontier dies before 5 levels. The
hypothesis versions of the path parities run in the full lane
(``test_property.py``).
"""

from __future__ import annotations

from collections import Counter

import pytest

from nebula_spark.catalog import VID
from nebula_spark.operators import go, k_hop_subgraph
from nebula_spark.operators import paths as P
from nebula_spark.operators.traverse import traverse
from nebula_spark.session import local_frame

EDGES = [
    ("a0", "a1", 0), ("a1", "a0", 0),                       # 2-cycle
    ("b0", "b0", 0), ("b0", "b1", 0),                       # self-loop
    ("c0", "c1", 0), ("c0", "c1", 1), ("c1", "c2", 0),      # parallel
    # BOTH closes f0 at level 1 (the loop) and again at level 2 (the
    # parallel pair); only the level-1 closures may come back
    ("f0", "f0", 0), ("f0", "f1", 0), ("f0", "f1", 1),
    ("d0", "d1", 0), ("d0", "d2", 0), ("d1", "d3", 0),      # diamond
    ("d2", "d3", 0),
] + [(f"e{i}", f"e{i + 1}", 0) for i in range(6)]          # 6-chain
ROOTS = ["a0", "b0", "c0", "d0", "d3", "e2", "f0"]
TARGETS = ["a0", "b0", "c1", "c2", "d0", "d3", "e0", "e5", "f0"]


# JVM-local frames: a Python-list frame would run Python workers on
# every scan, which dominates the run time of these tiny searches
def _frame(spark, vids):
    return local_frame(spark, [(v,) for v in vids], "_vid string")


def _edges(spark, rows=EDGES):
    return local_frame(spark, rows, "_src string, _dst string, _rank long")


def _hops(direction, loops_once=True):
    """Oriented adjacency entries: (from, to, hop struct as the engine
    records it, direction-normalized edge identity). BOTH yields a
    self-loop once (``self_loop_once=True``) unless ``loops_once`` is
    False."""
    out = []
    for s, d, r in EDGES:
        if direction in ("out", "both"):
            out.append((s, d, (s, d, r, 1), (s, d, r)))
        if direction == "in" or (direction == "both"
                                 and (s != d or not loops_once)):
            out.append((d, s, (d, s, r, -1), (s, d, r)))
    return out


def _py_dists(direction, max_hops, root_visited=True):
    """Vertex BFS: {(root, vid): hops} for 1 <= hops <= max_hops."""
    adj: dict = {}
    for a, b, _, _ in _hops(direction):
        adj.setdefault(a, []).append(b)
    out = {}
    for root in ROOTS:
        seen = {root} if root_visited else set()
        frontier = [root]
        for level in range(1, max_hops + 1):
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in seen:
                        seen.add(w)
                        out[(root, w)] = level
                        nxt.append(w)
            frontier = nxt
    return out


def _py_min_paths(direction, max_hops):
    """Level-pruned minimal paths, {(root, end): [path]}: a path extends
    only from a first-reached vertex, never over an edge it already holds.
    Out/in leave the root unvisited, so (s, s) is its shortest closed
    walk; BOTH pre-visits the root and reports closures of minimal
    frontier paths at the first level a root closes."""
    adj: dict = {}
    for a, b, hop, key in _hops(direction):
        adj.setdefault(a, []).append((b, hop, key))
    out: dict = {}
    for root in ROOTS:
        visited = {root} if direction == "both" else set()
        frontier = [(root, ())]
        for _ in range(max_hops):
            closed = (root, root) in out
            reached: dict = {}
            for end, path in frontier:
                used = {k for _, k in path}
                for w, hop, key in adj.get(end, ()):
                    if key in used:
                        continue
                    step = path + ((hop, key),)
                    if direction == "both" and w == root:
                        if not closed:
                            out.setdefault((root, root), []).append(step)
                    elif w not in visited:
                        reached.setdefault(w, []).append(step)
            visited |= reached.keys()
            for w, ps in reached.items():
                out[(root, w)] = ps
            frontier = [(w, p) for w, ps in reached.items() for p in ps]
    return {k: [tuple(h for h, _ in p) for p in ps] for k, ps in out.items()}


def _py_subgraph(direction, steps):
    """The reference's subgraph rounds from ROOTS: ({vid: level},
    {(edge, step)}). Round k collects every edge out of the level k-1
    frontier; a closing round after the last collects the final
    frontier's edges back into the subgraph."""
    hops = _hops(direction, loops_once=False)
    level = dict.fromkeys(ROOTS, 0)
    frontier, rows = set(ROOTS), set()
    for step in range(1, steps + 1):
        out = [(b, h) for a, b, h, _ in hops if a in frontier]
        rows |= {(h, step) for _, h in out}
        frontier = {b for b, _ in out if b not in level}
        level.update(dict.fromkeys(frontier, step))
    rows |= {(h, steps + 1) for a, b, h, _ in hops
             if a in frontier and b in level}
    return level, rows


def _py_walks(direction, min_hops, max_hops):
    """Edge-unique walks from ROOTS of min_hops..max_hops hops (None:
    no cap), as a Counter of (start, end, hops, path)."""
    adj: dict = {}
    for a, b, hop, key in _hops(direction):
        adj.setdefault(a, []).append((b, hop, key))
    out: Counter = Counter()
    walks, hops = [(r, r, ()) for r in ROOTS], 0
    while walks and (max_hops is None or hops <= max_hops):
        if hops >= min_hops:
            out.update((s, e, hops, tuple(h for h, _ in p))
                       for s, e, p in walks)
        hops += 1
        walks = [(s, w, p + ((hop, key),)) for s, e, p in walks
                 for w, hop, key in adj.get(e, ())
                 if key not in {k for _, k in p}]
    return out


def _py_go(direction, steps, track_origin):
    """GO 1 TO ``steps`` STEPS from ROOTS: a Counter of (origin, edge,
    step); the frontier is a set of (origin, vid), origin None unless
    tracked."""
    hops = _hops(direction, loops_once=False)
    frontier = {(r if track_origin else None, r) for r in ROOTS}
    out: Counter = Counter()
    for step in range(1, steps + 1):
        rows = [(o, h, step) for o, v in frontier
                for a, _, h, _ in hops if a == v]
        out.update(rows)
        frontier = {(o, h[1]) for o, h, _ in rows}
    return out


def _check_subgraph(spark, direction, steps):
    # a duplicate edge row must collapse into its edge
    edges = _edges(spark, EDGES + [EDGES[6]])
    verts, collected = k_hop_subgraph(edges, _frame(spark, ROOTS), steps,
                                      direction=direction)
    level, rows = _py_subgraph(direction, steps)
    assert {r[VID]: r.step for r in verts.collect()} == level
    assert Counter(((r["_src"], r["_dst"], r["_rank"], r["_dir"]), r.step)
                   for r in collected.collect()) == Counter(rows)


def _check_walks(spark, direction, min_hops, max_hops):
    out = traverse(_edges(spark), _frame(spark, ROOTS), min_hops, max_hops,
                   direction, self_loop_once=True)
    assert Counter(_path_key(r) for r in out.collect()) \
        == _py_walks(direction, min_hops, max_hops)


def _path_key(r):
    return (r.start_vid, r.end_vid, r.hops,
            tuple((h.s, h.d, h.r, h.t) for h in r.path))


def _check_paths(rows, want, mode):
    if mode == "all":
        assert Counter(_path_key(r) for r in rows) == Counter(
            (s, e, len(p), p) for (s, e), ps in want.items() for p in ps)
        return
    got = {(r.start_vid, r.end_vid): _path_key(r)[3] for r in rows}
    assert len(got) == len(rows)                 # one row per pair
    assert got.keys() == want.keys()
    assert all(p in want[k] for k, p in got.items())


@pytest.mark.parametrize("max_hops", [2, 5])
@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_paths_match_python_bfs(spark, direction, max_hops):
    edges = _edges(spark)
    roots, targets = _frame(spark, ROOTS), _frame(spark, TARGETS)

    def dists(df):
        return {(r["_src"], r["_dst"]): r.dist for r in df.collect()}

    assert dists(P.bfs_shortest_paths(edges, roots, max_hops=max_hops,
                                      direction=direction)) \
        == _py_dists(direction, max_hops)
    if direction != "both":
        assert dists(P.bfs_shortest_paths(
            edges, roots, max_hops=max_hops, direction=direction,
            root_cycles=True)) \
            == _py_dists(direction, max_hops, root_visited=False)
    assert dists(P.bidir_distances(edges, roots, targets, max_hops,
                                   direction)) \
        == {k: v for k, v in _py_dists(direction, max_hops).items()
            if k[1] in TARGETS}

    want = _py_min_paths(direction, max_hops)
    for mode in ("all", "single"):
        _check_paths(P.bfs_min_paths(edges, roots, max_hops, direction,
                                     mode=mode, self_loop_once=True)
                     .collect(), want, mode)
    # one mode per depth keeps the module inside the default lane's budget
    mode = "single" if max_hops == 2 else "all"
    _check_paths(P.bidir_min_paths(edges, roots, targets, max_hops,
                                   direction, mode=mode,
                                   self_loop_once=True).collect(),
                 {k: v for k, v in want.items() if k[1] in TARGETS}, mode)
    _check_subgraph(spark, direction, max_hops)
    _check_walks(spark, direction, 1, max_hops)


@pytest.mark.parametrize("direction", ["out", "in", "both"])
def test_level_loop_edge_depths_match_python(spark, direction):
    """The level loop at the depths the test above skips: a subgraph of 0
    and 1 steps, var-len ranges from 0 hops and with no upper bound, and
    GO over its lazy head (1 step, and 1 TO 2) and its counted range."""
    for steps in (0, 1):
        _check_subgraph(spark, direction, steps)
    _check_walks(spark, direction, 0, 3)
    _check_walks(spark, direction, 1, None)
    for steps in (1, 2, 3, 5):
        for track in (False, True):
            out = go(_edges(spark), _frame(spark, ROOTS), 1, steps,
                     direction, track_origin=track)
            got = Counter((r["_origin"] if track else None,
                           (r["_src"], r["_dst"], r["_rank"], r["_dir"]),
                           r.step) for r in out.collect())
            assert got == _py_go(direction, steps, track), (steps, track)


def test_zero_hops_return_empty_typed_frames(spark):
    edges = _edges(spark)
    roots, targets = _frame(spark, ROOTS), _frame(spark, TARGETS)
    dist_cols = ["_src", "_dst", "dist"]
    path_cols = ["start_vid", "end_vid", "hops", "path"]
    calls = [
        (P.bfs_shortest_paths(edges, roots, max_hops=0), dist_cols),
        (P.bfs_shortest_paths(edges, roots, max_hops=0, root_cycles=True),
         dist_cols),
        (P.bidir_distances(edges, roots, targets, 0), dist_cols),
        (P.all_paths(edges, roots, targets, 0), path_cols),
    ] + [(P.bfs_min_paths(edges, roots, 0, direction=d), path_cols)
         for d in ("out", "both")] \
      + [(P.bidir_min_paths(edges, roots, targets, 0, direction=d),
          path_cols) for d in ("out", "both")]
    for df, cols in calls:
        assert df.columns == cols
        assert df.collect() == []


def test_zero_step_shortest_path_match_returns_no_rows(spark, nba):
    # AllShortestPaths.feature "zero step": no rows, whether the
    # statement reads the path or only its length (the length-only route)
    from nebula_spark.catalog import GraphSpace
    from nebula_spark.plans import execute
    sp = GraphSpace(spark, "t_zero_step")
    for name in ("player", "team"):
        sp.create_tag(name, df=nba[name])
    for name in ("like", "serve"):
        sp.create_edge(name, df=nba[name])
    q = ('MATCH p = shortestPath((a:player{name:"Tim"})-[e:like*0]->(b)) '
         "RETURN ")
    assert execute(sp, q + "length(p)").collect() == []
    assert execute(sp, q + "p").collect() == []


def test_both_closures_stop_on_empty_frontier(spark, monkeypatch):
    # two parallel edges v0->v1: level 1 reaches v1 twice, level 2 closes
    # both walks back at the pre-visited root and leaves no frontier. The
    # closures must not count as frontier rows, or level 3 would
    # checkpoint an empty frontier. The counts are read where the shared
    # level loop looks checkpoint_count up.
    from nebula_spark.operators import traverse as T
    counts: list[int] = []
    real_count = T.checkpoint_count

    def count(df):
        out, n = real_count(df)
        counts.append(n)
        return out, n

    monkeypatch.setattr(T, "checkpoint_count", count)
    edges = _edges(spark, [("v0", "v1", 0), ("v0", "v1", 1)])
    out = P.bfs_min_paths(edges, _frame(spark, ["v0"]), 5,
                          direction="both")
    assert sorted((r.start_vid, r.end_vid, r.hops) for r in out.collect()) \
        == [("v0", "v0", 2)] * 2 + [("v0", "v1", 1)] * 2
    assert counts == [1, 2, 0]          # seed, level 1, level 2: stop
