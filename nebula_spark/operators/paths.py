"""Path finding: FIND SHORTEST / ALL / NOLOOP PATH (SURVEY.md §2.3).

Reference executors: ``src/graph/executor/algo/BFSShortestPathExecutor.cpp``
(1-283), ``MultiShortestPathExecutor.cpp`` (1-404), ``AllPathsExecutor.cpp``
(1-764); MATCH shortestPath via ``SingleShortestPath.cpp:214-265`` (bidir
meet-in-the-middle). All are single-node BFS over RPC-fetched adjacency,
and the shortest-path ones share one expansion — a GetNeighbors hop plus a
visited map — differing only in what they keep.

Spark-first: level-synchronous multi-source BFS — the frontier is a
DataFrame keyed (root, vid); a hop is one join against the edge table; the
visited set is a DataFrame anti-joined each level. This is the Pregel
pattern expressed in DataFrame ops, scales with the cluster, and (unlike the
reference) handles all (src,dst) pairs in one run instead of per-pair RPCs.

One level step per frontier kind serves every search here:
:func:`_id_step` advances ``(root, vid)`` pairs (the distance searches
and GET SUBGRAPH), :func:`_path_step` advances ``(root, end_vid, path)``
rows (the minimal-path searches) through the path hop it shares with
MATCH var-len expansion (``traverse._path_hop``; the seed, path type and
output shaping are shared too, so ``traverse()`` is the unpruned twin of
:func:`bfs_min_paths`). Every level search runs on the shared level loop
(``traverse._counted_levels``): the seed and every level go through
:func:`~nebula_spark.operators.traverse.checkpoint_count`, so each
frontier is materialized once, its size comes free off that job (the
empty-frontier stop and the broadcast probe), and the visited set is a
plain union of those checkpointed pieces. :func:`bfs_shortest_paths`
and :func:`bfs_min_paths` pull the loop to its end; the two
meet-in-the-middle searches pull one loop per side, in turn, from one
round driver (:func:`_meet_rounds`), and keep only their meet and final
reduction. :func:`weighted_shortest_paths` runs on the vertex-state
superstep loop (``traverse._vertex_rounds``) instead: its state is the
whole tentative-distance set, not a level, and what it counts is the rows
whose distance improved.

The loop's lazy head (``lazy_levels``, used by GO and MATCH var-len) is
not used here: every search here anti-joins each level against a visited
set built from the levels before it, so a lazy level would re-run its
whole chain in every later level's plan and again in the result. Under
AQE only a plan with no ``localCheckpoint`` at all stays lazy, so a head
can only start at the seed, never resume after a counted level (a traced
3-hop search with lazy checkpoints ran 15 jobs, counted 11).

The loop-invariant edge frame is persisted once per call and unpersisted
on exit, except in :func:`bfs_shortest_paths`, which checkpoints it for
its row count: with that count bounding every level's shuffled rows, its
level jobs run at the width the data calls for
(:func:`~nebula_spark.operators.traverse.sized_superstep`).
"""

from __future__ import annotations

from functools import reduce
from itertools import chain

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nebula_spark.catalog import DST, SRC, VID
from nebula_spark.operators.traverse import (
    BROADCAST_FRONTIER_ROWS, _broadcast_small, _counted_levels, _edge_key,
    _path_hop, _path_rows, _path_seed, _path_struct_type, _prep_oriented,
    _vertex_rounds, checkpoint_count, oriented, traverse,
)

_DIR_FLIP = {"out": "in", "in": "out", "both": "both"}


# path rows are wide: a path frontier broadcasts below 1/8 the threshold
_PATH_BROADCAST_ROWS = BROADCAST_FRONTIER_ROWS // 8


def _id_step(f: DataFrame, e: DataFrame, visited: DataFrame,
             keys: tuple[str, ...] = ("root",)) -> DataFrame:
    """One level of a ``(*keys, vid)`` frontier ``f`` (broadcast-probed by
    the caller): the ``(*keys, vid)`` pairs first reached one hop on."""
    return (f.join(e, f[VID] == e[SRC], "inner")
            .select(*keys, F.col(DST).alias(VID)).distinct()
            .join(visited, [*keys, VID], "left_anti"))


def _path_step(f: DataFrame, e: DataFrame, levels: list[DataFrame],
               mode: str, etype_order: list | None,
               seed_visited: bool = True) -> DataFrame:
    """The next level of a path search from frontier ``f``: the paths of
    :func:`_path_hop` to pairs no level reached (the seed counts only when
    ``seed_visited``), one per pair under ``mode="single"``."""
    seen = [lv.select("root", "end_vid").distinct() for lv in levels[1:]]
    if seed_visited:
        seen.insert(0, levels[0].select("root", "end_vid"))
    nxt = _path_hop(f, e)
    if seen:
        nxt = nxt.join(reduce(DataFrame.unionByName, seen),
                       ["root", "end_vid"], "left_anti")
    if mode == "single":
        nxt = _pick_single(nxt, ["root", "end_vid"], etype_order)
    return nxt


def bfs_shortest_paths(edges: DataFrame, sources: DataFrame,
                       targets: DataFrame | None = None, max_hops: int = 10,
                       direction: str = "out",
                       edge_filter: Column | None = None,
                       root_cycles: bool = False) -> DataFrame:
    """Multi-source BFS shortest distances: (src, dst, dist).

    FIND SHORTEST PATH parity at the distance level: for every source vid,
    the minimum hop count to every reachable vid (≤ ``max_hops``), optionally
    restricted to a target set. Level-synchronous: a vid enters the result at
    the level it is first reached — per-root visited set enforces minimality.

    ``root_cycles=True`` does not pre-visit the root, so ``(s, s)`` is
    reported at its shortest closed-walk length. The rows are then exactly
    the ``(start, end, hops)`` set of :func:`bfs_min_paths`
    ``mode="single"`` without any path struct — the MATCH ``shortestPath``
    route for statements that read only ``length(p)``. A single-mode path
    search keeps one row per pair at its first-reached level, which is what
    the per-level ``distinct`` keeps here; its edge-uniqueness filter is
    vacuous on surviving rows in a fixed direction (a path repeating a
    directed edge would have to re-reach a visited vertex, or re-leave the
    root, whose onward targets were reached two levels earlier).
    ``direction="both"`` is rejected with it: BOTH-mode closures depend on
    the frontier's edge lists (see :func:`bfs_min_paths`).

    Scale: visited/frontier are (root, vid) pairs — worst case |V|² for
    all-pairs, so callers pick source sets, exactly like the reference's
    FROM/TO clauses. It runs on the counted level loop
    (``traverse._counted_levels``): termination and the broadcast probe
    ride each level's checkpoint job, with no per-level stage.
    """
    if root_cycles and direction == "both":
        raise ValueError("bfs_shortest_paths does not support root_cycles "
                         "with direction='both'")
    e = oriented(edges, direction)
    if edge_filter is not None:
        e = e.filter(edge_filter)
    e = e.select(SRC, DST)
    n_edges = 0

    def step(frontier: DataFrame, levels: list[DataFrame]) -> DataFrame:
        nonlocal e, n_edges
        if len(levels) == 1:
            # every level joins the edge set, so it is checkpointed once
            # (never without roots: no step runs), and its count bounds
            # what a level shuffles. Not deduped: that would be its own
            # shuffle job, and the level's (root, dst) distinct already
            # drops the hops parallel edges repeat.
            e, n_edges = checkpoint_count(e)
        seen = [lv.select("root", VID)
                for lv in (levels[1:] if root_cycles else levels)]
        visited = reduce(DataFrame.unionByName, seen) if seen \
            else levels[0].limit(0)
        return _id_step(frontier, e, visited) \
            .withColumn("dist", F.lit(len(levels)))

    def shuffle_rows(counts: list[int]) -> int:
        # the hop output (a root's frontier vids are distinct, so at
        # most n_edges per root; this also covers the edge side of a
        # non-broadcast join) plus the visited side of the anti-join.
        # The visited count alone would not bound an expanding frontier.
        return min(counts[0], counts[-1]) * n_edges \
            + sum(counts[1:] if root_cycles else counts)

    roots = sources.select(F.col(VID).alias("root")).distinct()
    levels, _ = zip(*_counted_levels(roots.withColumn(VID, F.col("root")),
                                     step, max_hops,
                                     shuffle_rows=shuffle_rows))
    results = reduce(DataFrame.unionByName, levels[1:]) if len(levels) > 1 \
        else levels[0].limit(0).withColumn("dist", F.lit(0))
    out = results.select(F.col("root").alias(SRC), F.col(VID).alias(DST),
                         F.col("dist"))
    if targets is not None:
        out = out.join(F.broadcast(targets.select(F.col(VID).alias(DST))
                                   .distinct()), DST, "left_semi")
    return out


def _single_tie_key(etype_order):
    """Deterministic single-shortest tie-break mirroring the reference's
    per-vertex edge-key scan order: HIGHER EdgeType first and, within a
    type, the reverse entry before the forward one —
    SingleShorestPath.feature:66 pins teammate@R over like for Tim→Tony
    under BOTH, :186 pins teammate@F over like@F under OUT. Encoded
    hop-wise as -2·type_id + (forward ? 1 : 0), compared ascending."""
    if not etype_order:
        return F.col("path").cast("string")
    m = F.create_map(*[x for i, n in enumerate(etype_order)
                       for x in (F.lit(n), F.lit(i + 1))])
    return F.transform(
        F.col("path"),
        lambda h: F.lit(-2) * m[h["et"]]
        + F.when(h["t"] > 0, F.lit(1)).otherwise(F.lit(0)))


def _shortest(df: DataFrame, keys: list[str]) -> DataFrame:
    """The rows of ``df`` at the fewest ``hops`` of their ``keys`` group."""
    w = Window.partitionBy(*keys)
    return (df.withColumn("_min", F.min("hops").over(w))
            .filter(F.col("hops") == F.col("_min")).drop("_min"))


def _pick_single(df: DataFrame, keys: list[str],
                 etype_order: list | None) -> DataFrame:
    """``mode="single"``: one deterministic path per ``keys`` group — the
    lowest :func:`_single_tie_key`, then the greatest serialized path."""
    w = (Window.partitionBy(*keys)
         .orderBy(_single_tie_key(etype_order),
                  F.col("path").cast("string").desc()))
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def bfs_min_paths(edges: DataFrame, sources: DataFrame, max_hops: int,
                  direction: str = "out", mode: str = "all",
                  min_hops: int = 1,
                  edge_filter: Column | None = None,
                  self_loop_once: bool = False,
                  etype_order: list | None = None) -> DataFrame:
    """Level-pruned BFS returning only MINIMAL-length paths per (start, end)
    pair — the MATCH ``shortestPath()``/``allShortestPaths()`` plan when the
    var-len segment carries no intermediate-hop predicates.

    Reference: ``SingleShortestPath.cpp:214-265`` does BFS with
    level-pruning, never full path enumeration; the enumerate-then-prune
    fallback in ``plans/executor.py`` remains only for predicate-bearing
    segments. Why it matters at scale: enumeration is exponential in hop
    count while the answer is linear — for ``*1..6`` on a 100× graph BFS is
    the only survivable plan.

    Level-synchronous: a (root, vid) pair enters the result exactly at the
    level it is first reached (per-root visited set), so every emitted path
    is minimal and, being minimal, never repeats a vertex — openCypher
    relationship-uniqueness holds for free, no per-path membership filter.

    ``mode="all"`` keeps every tied-minimal path (allShortestPaths) —
    correct because every shortest path's length-L prefix is itself a
    shortest path to its penultimate vertex, so expanding only minimal
    frontier paths loses nothing. ``mode="single"`` keeps one deterministic
    representative per pair (greedy per-level lexicographic-min of the
    serialized edge list — any single shortest path is valid per
    openCypher; this also bounds the frontier at one path per reached
    vid, the scale point). ``min_hops`` must be 0 or 1: with a
    higher lower bound a minimal *qualifying* walk may revisit vertices,
    which level-pruning cannot represent — callers route those to the
    enumerate fallback.

    Direction semantics differ for the *root-cycle* pairs ``(s, s)`` only:

    - ``out``/``in``: the root is NOT pre-visited when ``min_hops >= 1``,
      so ``(s, s)`` is reported at its shortest ≥1-hop closed-walk length.
      This is sound because a directed shortest path to the penultimate
      vertex can only contain the closing edge by passing through the
      root, which would embed a shorter closed walk — induction gives
      parity with enumerate-then-prune (pinned by the hypothesis test in
      tests/test_property.py).
    - ``both``: the minimal-prefix invariant BREAKS for root cycles
      (triangle v0−v1−v2 with all three edges: the 3-cycle's prefix
      v0→v1→v2 is level-pruned because v2 is reached directly, and the
      direct path cannot close — it would re-use the same underlying edge
      reversed). The REFERENCE has the same artifact: its level-pruned
      BFS never extends a pruned path, so such cycles are NOT reported
      (AllShortestPaths.feature:578 pins count 1062 — Yao Ming's
      serve/serve/like triangle is invisible). So in BOTH mode the root
      IS pre-visited and the ``(s, s)`` rows are the closures of minimal
      frontier paths — reference-exact, and still free of the enumerate
      fallback's exponential plan. They are the hops back to the root from
      every level the loop stepped from, kept at each root's first closing
      level; they stay lazy, so the result re-runs one hop per level when
      it is collected.

    It runs on the counted level loop (``traverse._counted_levels``).

    Output schema matches :func:`~nebula_spark.operators.traverse.traverse`:
    ``(start_vid, end_vid, hops, path)`` with path an array of edge structs
    ``(s, d, r, t, et)``.
    """
    if min_hops > 1:
        raise ValueError("bfs_min_paths requires min_hops <= 1; route "
                         "higher lower bounds to the enumerate fallback")
    e = _prep_oriented(edges, direction, edge_filter, self_loop_once)
    seed = _path_seed(sources, _path_struct_type(e))
    # per-root visited set (the minimality invariant): a vid joins it at
    # its first-reached level. The root is pre-visited only in BOTH
    # direction or with min_hops=0 (see the docstring for why).
    seed_visited = min_hops == 0 or direction == "both"
    e = e.persist()
    try:
        levels, counts = zip(*_counted_levels(
            seed, lambda f, lvs: _path_step(f, e, lvs, mode, etype_order,
                                            seed_visited),
            max_hops, broadcast_rows=_PATH_BROADCAST_ROWS))
    finally:
        e.unpersist()
    if direction != "both" or min_hops < 1 or len(levels) == 1:
        return _path_rows(levels, min_hops)
    # BOTH-direction root closures: the hops back to the root from every
    # level the loop stepped from (all but the last; zip stops there),
    # kept at each root's first closing level — the reference's rule
    # (SingleShortestPath.cpp never extends a pruned path), not an exact
    # cycle search (see the docstring). One hop per level: one hop over a
    # union of the levels made Spark 4.1's union constraint rewrite fail
    # at collect in bidir_min_paths (NoSuchElementException "key not
    # found: root#…").
    hits = [_path_hop(_broadcast_small(lv, n, _PATH_BROADCAST_ROWS), e)
            .filter(F.col("end_vid") == F.col("root"))
            .select(F.col("root").alias("start_vid"), "end_vid",
                    F.lit(hops + 1).alias("hops"), "path")
            for hops, (lv, n) in enumerate(zip(levels, counts[:-1]))]
    cyc = _shortest(reduce(DataFrame.unionByName, hits), ["start_vid"])
    if mode == "single":
        cyc = _pick_single(cyc, ["start_vid"], etype_order)
    return _path_rows(levels, min_hops, cyc)


def _flip_path(col: Column) -> Column:
    """A root→m half-path re-expressed as the m→root leg of a full path:
    reverse the edge order and swap each edge's traversal orientation
    ((s,d,t) → (d,s,-t)), so the flipped structs are exactly what
    :func:`traverse` would have recorded walking the other way."""
    return F.reverse(F.transform(col, lambda x: F.struct(
        x["d"].alias("s"), x["s"].alias("d"), x["r"].alias("r"),
        (-x["t"]).alias("t"), x["et"].alias("et"))))


def _edges_unique(col: Column) -> Column:
    """openCypher relationship-uniqueness over a whole path column:
    no underlying edge (:func:`_edge_key`) twice."""
    return F.size(F.array_distinct(F.transform(col, _edge_key))) \
        == F.size(col)


def _bidir_search(sources: DataFrame, targets: DataFrame, direction: str,
                  orient, seed_cols: dict, step, max_hops: int, meet,
                  pair_cols: list[str], broadcast_rows: int | None = None):
    """A meet-in-the-middle search: two uncapped counted level loops
    (:func:`_counted_levels`), from the sources over ``orient(direction)``
    and from the targets over the flipped direction (each edge frame
    persisted for the call), seeded by their ``root`` column plus
    ``seed_cols`` and run by ``step(frontier, edges, levels)``, pulled in
    turn by :func:`_meet_rounds`. Returns the meets, the roots on both
    sides (``diag``) and their count."""
    fwd = orient(direction).persist()
    bwd = fwd if direction == "both" \
        else orient(_DIR_FLIP[direction]).persist()
    try:
        sides, seeds = [], []
        for vids, e in ((sources, fwd), (targets, bwd)):
            levels = _counted_levels(
                vids.select(F.col(VID).alias("root")).distinct()
                .withColumns(seed_cols),
                lambda f, lvs, e=e: step(f, e, lvs), None, broadcast_rows)
            seeds.append(next(levels))        # sources' seed job first
            sides.append(chain(seeds[-1:], levels))
        (lseed, n_src), (rseed, n_tgt) = seeds
        diag = lseed.select("root").join(rseed.select("root"), "root",
                                         "left_semi")
        n_diag = diag.count()
        return _meet_rounds(*sides, n_src * n_tgt - n_diag, max_hops, meet,
                            pair_cols), diag, n_diag
    finally:
        fwd.unpersist()
        bwd.unpersist()


def _meet_rounds(left, right, total_pairs: int, max_hops: int, meet,
                 pair_cols: list[str]) -> list[DataFrame]:
    """The round driver of a meet-in-the-middle search: pulls the two
    sides' counted level loops ``left``/``right`` (seed first) in turn
    and returns every meet frame in order. ``meet(lf, rf, total)`` joins
    two frontiers into combos of ``total`` hops keyed by ``pair_cols``.
    Round r pulls a left level and meets at 2r−1, then pulls a right
    level and meets at 2r. The search stops on an empty side (no unseen
    pair can remain — a deeper pair's canonical meet would have to be
    first-reached at the depth that just came back empty), after the last
    round, or once every one of ``total_pairs`` has met."""
    (lfront, _), (rfront, n_r) = next(left), next(right)
    meets: list[DataFrame] = []
    resolved: DataFrame | None = None
    n_resolved = 0
    rounds = (max_hops + 1) // 2
    for r in range(1, rounds + 1):
        # an exhausted side (an empty seed) reads as an empty level
        lfront, n_l = next(left, (lfront, 0))
        if n_l == 0:
            break
        round_meets = [meet(lfront, rfront, 2 * r - 1)]
        if 2 * r <= max_hops:
            rfront, n_r = next(right, (rfront, 0))
            if n_r:
                round_meets.append(meet(lfront, rfront, 2 * r))
        meets.extend(round_meets)
        # the probe's only effect is breaking out of LATER rounds — in
        # the final round it is a guaranteed-wasted job
        if n_r == 0 or r == rounds:
            break
        # all-pairs-resolved probe: a pair's minimal combos all appear
        # in the round it first meets, so once every pair has met there
        # is nothing left to find
        newp = reduce(DataFrame.unionByName,
                      [m.select(*pair_cols) for m in round_meets]).distinct()
        if resolved is not None:
            newp = newp.join(resolved, pair_cols, "left_anti")
        newp, n_new = checkpoint_count(newp)
        n_resolved += n_new
        # the lazy cut keeps the growing union out of the next probe's
        # plan. Kept by an A/B (distances / paths to 6 hops over 7,500
        # random edges, 9 runs each, same jobs either way): median
        # 5.50 / 5.32 s with it, 6.07 / 5.62 s without.
        resolved = newp if resolved is None else \
            resolved.unionByName(newp).localCheckpoint(eager=False)
        if n_resolved >= total_pairs:
            break
    return meets


def bidir_min_paths(edges: DataFrame, sources: DataFrame, targets: DataFrame,
                    max_hops: int, direction: str = "out",
                    mode: str = "all", min_hops: int = 1,
                    edge_filter: Column | None = None,
                    self_loop_once: bool = False,
                    etype_order: list | None = None) -> DataFrame:
    """Meet-in-the-middle minimal paths for (source, target) pairs — the
    MATCH ``shortestPath()`` plan when the end of the pattern is bound or
    tag-constrained, and the engine analog of the reference's conjunct
    executors (``SingleShortestPath.cpp:214-265`` odd/even meeting,
    ``MultiShortestPathExecutor.cpp``, ``BatchShortestPath.cpp``).

    Two level-pruned BFS frontiers expand alternately — forward from the
    sources along ``direction``, backward from the targets along the
    reversed direction — and after each half-step the two *frontiers*
    (first-reach rows only) are joined on the meeting vertex. Round r
    checks totals 2r−1 (left depth r × right depth r−1) and 2r (left r ×
    right r). Why frontier×frontier meets suffice and are final:

    - A pair at true distance L first meets at round ⌈L/2⌉ (any meet at an
      earlier round would witness a shorter walk), and at that round the
      canonical split — prefix of length ⌈L/2⌉, suffix ⌊L/2⌋, both
      necessarily minimal half-paths and therefore both present in their
      frontiers — produces *every* minimal path of that pair exactly once
      (the split point of each path is unique).
    - Later rounds can only produce strictly longer combos for that pair;
      the final per-pair min-prune discards them.
    - At minimal total, every combo of minimal halves is automatically a
      simple path (a vertex repeat would allow a shortcut, contradicting
      L being the walk distance), so relationship-uniqueness holds by
      construction; the explicit cross-half filter is belt-and-braces.

    Scale: frontier size grows with b^(L/2) instead of b^L — the reason
    the reference searches from both ends — and the search stops as soon
    as every (source, target) pair has resolved, probed per round against
    \\|S\\|·\\|T\\|. Root-cycle pairs (s in both sets) are excluded from the
    vertex meets (the half-paths from one side alone can't see a cycle's
    non-minimal prefix) and routed to the closure rule of
    :func:`bfs_min_paths`; ``min_hops=0`` adds their zero-length rows
    instead.

    Output schema matches :func:`bfs_min_paths`:
    ``(start_vid, end_vid, hops, path)``.
    """
    if min_hops > 1:
        raise ValueError("bidir_min_paths requires min_hops <= 1; route "
                         "higher lower bounds to the enumerate fallback")
    def orient(d):
        return _prep_oriented(edges, d, edge_filter, self_loop_once)

    path_type = _path_struct_type(orient(direction))

    def step(front, e, levels):
        return _path_step(front, e, levels, mode, etype_order)

    def zero_length(roots):
        return roots.select(F.col("root").alias("start_vid"),
                            F.col("root").alias("end_vid"),
                            F.lit(0).alias("hops"),
                            F.array().cast(path_type).alias("path"))

    def meet(lf, rf, total):
        l = lf.select(F.col("root").alias("start_vid"),
                      F.col("end_vid").alias("_m"),
                      F.col("path").alias("_lp"))
        r = rf.select(F.col("root").alias("_eroot"),
                      F.col("end_vid").alias("_m"),
                      _flip_path(F.col("path")).alias("_rp"))
        return (l.join(r, "_m")
                .filter(F.col("start_vid") != F.col("_eroot"))
                .select("start_vid", F.col("_eroot").alias("end_vid"),
                        F.lit(total).alias("hops"),
                        F.concat("_lp", "_rp").alias("path")))

    combos, diag, n_diag = _bidir_search(
        sources, targets, direction, orient,
        {"end_vid": F.col("root"), "path": F.array().cast(path_type)}, step,
        max_hops, meet, ["start_vid", "end_vid"], _PATH_BROADCAST_ROWS)
    parts: list[DataFrame] = []
    if combos:
        out = _shortest(reduce(DataFrame.unionByName, combos)
                        .filter(_edges_unique(F.col("path"))),
                        ["start_vid", "end_vid"])
        if mode == "single":
            out = _pick_single(out, ["start_vid", "end_vid"], etype_order)
        parts.append(out)
    if n_diag and min_hops == 0:
        parts.append(zero_length(diag))
    elif n_diag and max_hops >= 1:
        # reference-artifact closures: re-run the level-pruned BFS from
        # the (few) diagonal roots and keep the (s, s) rows — same
        # closure rule as bfs_min_paths
        cyc_all = bfs_min_paths(
            edges, diag.select(F.col("root").alias(VID)), max_hops,
            direction=direction, mode=mode, min_hops=1,
            edge_filter=edge_filter, self_loop_once=self_loop_once,
            etype_order=etype_order)
        parts.append(cyc_all.filter(F.col("start_vid") == F.col("end_vid")))
    return reduce(DataFrame.unionByName, parts) if parts \
        else zero_length(diag.limit(0))


def bidir_distances(edges: DataFrame, sources: DataFrame, targets: DataFrame,
                    max_hops: int, direction: str = "out",
                    edge_filter: Column | None = None) -> DataFrame:
    """FIND SHORTEST PATH distance form, meeting in the middle:
    ``(src, dst, dist)`` with dist = min hop count in [1, max_hops], for
    src in ``sources``, dst in ``targets``, src ≠ dst — the semantics of
    :func:`bfs_shortest_paths` with a target set, at half the search
    depth (frontier b^(L/2) instead of b^L; the reference's
    ``MultiShortestPathExecutor.cpp`` / ``BatchShortestPath.cpp`` shape).

    Correctness follows the same round argument as
    :func:`bidir_min_paths`: round r joins the two first-reach frontiers
    at totals 2r−1 and 2r; a pair at distance L first meets at round
    ⌈L/2⌉ via its canonical split, so min-over-observed-totals per pair is
    the true distance. The search stops when every pair has resolved or a
    frontier empties (:func:`_meet_rounds`).
    """
    def orient(d):
        return _prep_oriented(edges, d, edge_filter, False) \
            .select(SRC, DST).distinct()

    def step(front, e, levels):
        return _id_step(front, e, reduce(DataFrame.unionByName, levels))

    def meet(lf, rf, total):
        l = lf.select(F.col("root").alias(SRC), F.col(VID).alias("_m"))
        r = rf.select(F.col("root").alias(DST), F.col(VID).alias("_m"))
        return (l.join(r, "_m")
                .filter(F.col(SRC) != F.col(DST))
                .select(SRC, DST, F.lit(total).alias("dist"))
                .distinct())

    meets, diag, _ = _bidir_search(sources, targets, direction, orient,
                                   {VID: F.col("root")}, step, max_hops,
                                   meet, [SRC, DST])
    if not meets:
        return diag.limit(0).select(F.col("root").alias(SRC),
                                    F.col("root").alias(DST),
                                    F.lit(0).alias("dist"))
    return (reduce(DataFrame.unionByName, meets).groupBy(SRC, DST)
            .agg(F.min("dist").alias("dist")))


def weighted_shortest_paths(edges: DataFrame, sources: DataFrame,
                            weight_col: str = "weight",
                            targets: DataFrame | None = None,
                            direction: str = "out",
                            edge_filter: Column | None = None) -> DataFrame:
    """Weighted single-source (multi-root) shortest distances:
    ``(src, dst, dist)`` with dist = min total edge weight.

    The reference parses a WEIGHT clause but never implemented it
    (``src/parser/TraverseSentences.h:419-426`` carries the flag; executors
    are hop-count only) — this is the SURVEY §2.3 design note realized:
    Bellman-Ford in BSP form with frontier restriction, the standard
    bucketless delta-stepping degeneration that suits a shuffle engine.

    The state, ``(root, vid, dist, _imp)``, is every tentative distance
    on the counted vertex loop (``traverse._vertex_rounds``), active
    where ``_imp``: the distance improved last round. A round relaxes
    only those rows — one join against the edges plus one min-aggregate
    keyed on (root, vid), both map-side combinable. The loop ends once
    no distance improves, after at most |V|−1 rounds, so distances are
    exact. Edges with a NULL weight or endpoint are dropped, as
    ``pagerank`` drops NULL endpoints (a NULL source never joins the
    frontier). Negative weights are rejected: with them Bellman-Ford
    needs exactly |V|−1 rounds plus a negative-cycle check, which a
    caller doing that analysis should run explicitly.
    """
    e = oriented(edges, direction)
    if edge_filter is not None:
        e = e.filter(edge_filter)
    e = e.filter(F.col(weight_col).isNotNull() & F.col(DST).isNotNull())
    neg = e.filter(F.col(weight_col) < 0).limit(1).count()
    if neg:
        raise ValueError("weighted_shortest_paths requires non-negative "
                         "edge weights")
    e = (e.groupBy(SRC, DST)                 # parallel edges: keep min
         .agg(F.min(weight_col).alias("_w")).persist())

    def relax(state: DataFrame, n: int) -> DataFrame:
        f = _broadcast_small(state.filter(F.col("_imp")), n)
        cand = (f.join(e, f[VID] == e[SRC], "inner")
                .select("root", F.col(DST).alias(VID),
                        (F.col("dist") + F.col("_w")).alias("dist"),
                        F.lit(False).alias("_old_row")))
        # a conditional min beside the overall min: `_prev` is the prior
        # tentative distance (NULL when newly reached), so `_imp` needs
        # no (root, vid)-keyed join against the previous state
        merged = (state.select("root", VID, "dist",
                               F.lit(True).alias("_old_row"))
                  .unionByName(cand))
        agg = (merged.groupBy("root", VID)
               .agg(F.min("dist").alias("dist"),
                    F.min(F.when(F.col("_old_row"), F.col("dist")))
                    .alias("_prev")))
        return agg.select("root", VID, "dist",
                          (F.col("_prev").isNull()
                           | (F.col("dist") < F.col("_prev"))).alias("_imp"))

    seed = (sources.select(F.col(VID).alias("root")).distinct()
            .withColumn(VID, F.col("root"))
            .withColumn("dist", F.lit(0.0))
            .withColumn("_imp", F.lit(True)))
    try:
        state = _vertex_rounds(seed, relax, F.col("_imp"))
    finally:
        e.unpersist()
    out = state.select(F.col("root").alias(SRC), F.col(VID).alias(DST),
                       "dist")
    if targets is not None:
        out = out.join(F.broadcast(targets.select(F.col(VID).alias(DST))
                                   .distinct()), DST, "left_semi")
    return out


def all_paths(edges: DataFrame, sources: DataFrame, targets: DataFrame,
              max_hops: int, direction: str = "out", noloop: bool = False,
              edge_filter: Column | None = None) -> DataFrame:
    """FIND ALL PATH / NOLOOP PATH: enumerate edge-unique walks
    source→target of length 1..max_hops, meeting in the middle.

    Reference: ``AllPathsExecutor.h:16-21`` — "expand from left and right
    at the same time" with a ``conjunctPath`` middle join
    (``AllPathsExecutor.cpp:282``); loops allowed unless NOLOOP, which
    forbids repeated *vertices*.

    Shape: the left half enumerates ALL edge-unique walks from the
    sources to depth ⌈L/2⌉ (:func:`traverse`, every intermediate depth
    kept), the right half from the targets over the REVERSED direction to
    depth ⌊L/2⌋; the conjunct joins on the meeting vertex under the
    canonical-split constraint ``len_l − len_r ∈ {0, 1}`` and re-checks
    edge uniqueness across the halves.

    Why exact, each path exactly once: a walk of length t splits uniquely
    at position ⌈t/2⌉; both halves of that split are edge-unique walks
    within their depth bounds, so the join reconstructs the walk from
    exactly one (left, right) row pair. Conversely every joined combo
    that passes the cross-half uniqueness filter IS an edge-unique
    source→target walk of length ≤ L. (Pinned against the one-sided
    enumeration by a hypothesis test.)

    Why it matters at scale: one-sided enumeration materializes every
    ≤L-hop walk from the sources regardless of target — b^L rows for the
    whole reachable set. Both-ends expansion is 2·b^(L/2) rows plus a
    meeting-vertex equi-join; with few targets deep in a large graph that
    is the difference between a runnable plan and an exponential one —
    the reason the reference conjuncts.

    Returns (start_vid, end_vid, hops, path).
    """
    left_depth = (max_hops + 1) // 2
    right_depth = max_hops // 2
    lw = traverse(edges, sources, min_hops=0, max_hops=left_depth,
                  direction=direction, edge_filter=edge_filter)
    rw = traverse(edges, targets, min_hops=0, max_hops=right_depth,
                  direction=_DIR_FLIP[direction], edge_filter=edge_filter)
    l = lw.select("start_vid", F.col("end_vid").alias("_m"),
                  F.col("hops").alias("_lh"), F.col("path").alias("_lp"))
    r = rw.select(F.col("start_vid").alias("_rroot"),
                  F.col("end_vid").alias("_m"),
                  F.col("hops").alias("_rh"),
                  _flip_path(F.col("path")).alias("_rp"))
    t = (l.join(r, "_m")
         .filter(((F.col("_lh") == F.col("_rh"))
                  | (F.col("_lh") == F.col("_rh") + 1))
                 & (F.col("_lh") + F.col("_rh") >= 1))
         .select("start_vid", F.col("_rroot").alias("end_vid"),
                 (F.col("_lh") + F.col("_rh")).alias("hops"),
                 F.concat("_lp", "_rp").alias("path"))
         .filter(_edges_unique(F.col("path"))))
    if noloop:
        # no repeated vertex: all step dsts distinct and != start
        t = t.filter(
            (F.size(F.array_distinct(F.transform("path", lambda p: p["d"])))
             == F.size("path"))
            & ~F.array_contains(F.transform("path", lambda p: p["d"]),
                                F.col("start_vid")))
    return t
