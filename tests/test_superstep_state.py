"""Counted superstep loops: checkpointed visited state and observed-width
shuffles.

A counted level loop seeds its frontier with one checkpoint job and keeps
its visited set as a union of checkpointed pieces, so no level re-derives
the seed from its source. The tests run each loop from a Python-list
``createDataFrame`` source (the source that used to be re-evaluated every
level), check that the source is computed once and compare the rows with
plain Python. The counted BFS, whose levels run at an observed width,
also bounds the jobs it launches and the count its widths come from.
"""

from __future__ import annotations

from collections import deque
from contextlib import contextmanager

import pytest

from nebula_spark.catalog import VID

# a 20-node chain (deep enough that a 6-hop search never runs dry), a
# shortcut and a parallel edge, and a separate 5-node cycle
EDGES = ([(i, i + 1) for i in range(20)] + [(2, 7), (2, 7), (3, 1)]
         + [(30 + i, 30 + (i + 1) % 5) for i in range(5)])


def _edges(spark, edges=EDGES):
    return spark.createDataFrame([(s, d, 0) for s, d in edges],
                                 "_src long, _dst long, _rank long")


def _sources(spark, vids):
    return spark.createDataFrame([(v,) for v in vids], f"{VID} long")


def _counted_sources(spark, vids):
    """Source frame whose rows bump an accumulator each time they are
    computed, so a test sees whether a loop re-derives its seed."""
    from pyspark.sql import functions as F
    reads = spark.sparkContext.accumulator(0)

    def read(v):
        reads.add(1)
        return v

    src = _sources(spark, vids)
    return src.select(F.udf(read, "long")(VID).alias(VID)), reads


def _bfs(roots, max_hops, root_visited=True, edges=EDGES):
    """Plain-Python level BFS: {(root, vid): dist} for 1 <= dist."""
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    out = {}
    for r in roots:
        seen = {r} if root_visited else set()
        q = deque([(r, 0)])
        while q:
            v, k = q.popleft()
            if k == max_hops:
                continue
            for w in adj.get(v, ()):
                if w not in seen:
                    seen.add(w)
                    out[(r, w)] = k + 1
                    q.append((w, k + 1))
    return out


@contextmanager
def _job_ids(spark, group):
    """Collect the ids of every Spark job the block launches. The blocks
    below wrap only the operator call: the jobs it runs before returning
    its lazy result. That is the seed checkpoint (its distinct's shuffle
    stage runs as a job of its own under AQE), plus at most two jobs per
    level (the frontier broadcast and the level's checkpoint)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store trails the actions; drain the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _check_counted_bfs(spark, hops):
    from nebula_spark.operators import bfs_shortest_paths
    edges, (src, reads) = _edges(spark), _counted_sources(spark, [0, 5, 30])
    with _job_ids(spark, f"superstep-bfs-{hops}") as jobs:
        out = bfs_shortest_paths(edges, src, max_hops=hops)
    rows = out.collect()
    got = {(r._src, r._dst): r.dist for r in rows}
    assert got == _bfs([0, 5, 30], hops)
    assert reads.value == 3, reads.value     # the seed is computed once
    # + 1: the edge checkpoint, whose count bounds each level's width
    assert len(jobs) <= 2 * hops + 3, len(jobs)


def test_counted_bfs_jobs_bounded_and_exact(spark):
    _check_counted_bfs(spark, 6)


# shallow searches take the same counted loop as deep ones
@pytest.mark.parametrize("hops", [2, 3])
def test_counted_bfs_shallow_jobs_bounded_and_exact(spark, hops):
    _check_counted_bfs(spark, hops)


def test_counted_bfs_empty_sources_runs_no_level(spark):
    from nebula_spark.operators import bfs_shortest_paths
    with _job_ids(spark, "superstep-bfs-empty") as jobs:
        out = bfs_shortest_paths(_edges(spark), _sources(spark, []),
                                 max_hops=6)
    # the seed checkpoint is the only job: its count (0) ends the loop
    assert len(jobs) <= 1, len(jobs)
    assert out.collect() == []


def test_counted_root_cycle_bfs_reads_seed_once_and_exact(spark):
    from nebula_spark.operators import bfs_shortest_paths
    hops = 5
    edges, (src, reads) = _edges(spark), _counted_sources(spark, [0, 30])
    out = bfs_shortest_paths(edges, src, max_hops=hops, root_cycles=True)
    got = {(r._src, r._dst): r.dist for r in out.collect()}
    # the root is not pre-visited: (30, 30) surfaces as its 5-cycle
    assert got == _bfs([0, 30], hops, root_visited=False)
    assert reads.value == 2, reads.value


def test_subgraph_reads_seed_once_and_exact(spark):
    from nebula_spark.operators import k_hop_subgraph
    steps = 4
    edges, (src, reads) = _edges(spark), _counted_sources(spark, [0])
    verts, _ = k_hop_subgraph(edges, src, steps=steps, direction="out")
    got = {(r[VID], r.step) for r in verts.collect()}
    want = {(v, k) for (_, v), k in _bfs([0], steps).items()} | {(0, 0)}
    assert got == want
    assert reads.value == 1, reads.value


def _checkpoint_jobs(spark, jobs):
    """The jobs among ``jobs`` that materialize a ``localCheckpoint`` (their
    result stage carries its call site); the others are the AQE query
    stages (shuffles, broadcasts) of the plans being checkpointed."""
    tracker = spark.sparkContext.statusTracker()
    return [j for j in jobs
            if tracker.getStageInfo(max(tracker.getJobInfo(j).stageIds))
            .name.startswith("localCheckpoint")]


def test_level_loop_lazy_head_starts_no_job(spark):
    """The level loop's lazy head: GO to 2 steps, MATCH to 1 hop and ALL
    PATH to 2 hops each build one plan and start no job. A longer range
    has no head: every level is counted with one checkpoint job, and
    nothing else checkpoints."""
    from nebula_spark.operators import all_paths, go
    from nebula_spark.operators.traverse import traverse
    from nebula_spark.session import local_frame

    # JVM-local frames, as in test_paths.py: a Python-list frame runs
    # Python workers on every scan of every level
    edges = local_frame(spark, [(s, d, 0) for s, d in EDGES],
                        "_src long, _dst long, _rank long")

    def src(vids):
        return local_frame(spark, [(v,) for v in vids], f"{VID} long")

    roots = src([0, 5, 30])
    # (name, call, checkpoint jobs): frontiers 0..max_steps-1 feed GO's
    # hops, and the head holds two of them
    calls = [(f"go-{lo}-{hi}", lambda lo=lo, hi=hi: go(edges, roots, lo, hi),
              hi if hi > 2 else 0)
             for lo, hi in ((1, 1), (2, 2), (1, 2), (1, 5))]
    calls += [(f"match-{lo}-{hi}",
               lambda lo=lo, hi=hi: traverse(edges, roots, lo, hi),
               hi + 1 if hi > 1 else 0) for lo, hi in ((0, 1), (1, 5))]
    # ALL PATH to 2 hops: two traversals of 0..1 hops, one per end
    calls.append(("all-paths-2",
                  lambda: all_paths(edges, roots, src([3, 33]), 2), 0))
    for name, fn, levels in calls:
        with _job_ids(spark, f"lazy-head-{name}") as jobs:
            fn()
        assert len(_checkpoint_jobs(spark, jobs)) == levels, (name, jobs)
        if not levels:
            assert jobs == [], name


def test_go_counted_seed_is_broadcast_by_size(spark, monkeypatch):
    """Only GO's lazy head broadcasts the seed unconditionally. A range of
    3 or more steps counts the seed and broadcasts it only when it has at
    most BROADCAST_FRONTIER_ROWS rows, so a large piped input is never
    forced into a broadcast."""
    from nebula_spark.operators import go
    from nebula_spark.operators import traverse

    edges = _edges(spark, EDGES)
    roots = _sources(spark, [0, 5, 30])

    def broadcasts(steps):
        plan = go(edges, roots, 1, steps)._jdf.queryExecution().analyzed()
        return "strategy=broadcast" in plan.toString()

    assert broadcasts(2) and broadcasts(3)
    monkeypatch.setattr(traverse, "BROADCAST_FRONTIER_ROWS", 2)
    assert broadcasts(2)            # the head's seed is caller-bounded
    assert not broadcasts(3)


def test_sized_superstep_scopes_width_and_aqe(spark):
    from nebula_spark.operators.traverse import sized_superstep
    conf = spark.conf
    before = (conf.get("spark.sql.shuffle.partitions"),
              conf.get("spark.sql.adaptive.enabled"))
    conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with sized_superstep(spark, 10) as p:
            assert p == 1
            assert conf.get("spark.sql.shuffle.partitions") == "1"
            assert conf.get("spark.sql.adaptive.enabled") == "false"
        with sized_superstep(spark, 13_000_000) as p:     # 2M rows a task
            assert p == 7
            assert conf.get("spark.sql.shuffle.partitions") == "7"
            assert conf.get("spark.sql.adaptive.enabled") == before[1]
        with sized_superstep(spark, 10**12) as p:         # session cap
            assert p == 8
        assert conf.get("spark.sql.shuffle.partitions") == "8"
        assert conf.get("spark.sql.adaptive.enabled") == before[1]
    finally:
        conf.set("spark.sql.shuffle.partitions", before[0])


def test_counted_bfs_level_width_bounds_shuffled_rows(spark, monkeypatch):
    """A level is sized by a count that bounds the rows it shuffles, not by
    its visited count: from one root, a non-broadcast frontier joins the
    whole edge table and the level expands to 40 vertices, so level 1 must
    not be planned at width 1."""
    from nebula_spark.operators import bfs_shortest_paths
    from nebula_spark.operators import traverse
    star = ([(0, i) for i in range(1, 41)]
            + [(i, 100 + i) for i in range(1, 41)])
    monkeypatch.setattr(traverse, "BROADCAST_FRONTIER_ROWS", 0)
    monkeypatch.setattr(traverse, "SUPERSTEP_ROWS_PER_TASK", 10)
    widths: list[int] = []
    sized = traverse.sized_superstep

    @contextmanager
    def recording(session, n_rows):
        with sized(session, n_rows) as p:
            widths.append(p)
            yield p

    monkeypatch.setattr(traverse, "sized_superstep", recording)
    conf = spark.conf
    before = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", "8")
    try:
        out = bfs_shortest_paths(_edges(spark, star), _sources(spark, [0]),
                                 max_hops=4)
        got = {(r._src, r._dst): r.dist for r in out.collect()}
    finally:
        conf.set("spark.sql.shuffle.partitions", before)
    assert got == _bfs([0], 4, edges=star)
    # levels 1-3 run; level 3 reaches nothing, so level 4 never starts
    assert len(widths) == 3, widths
    assert widths[0] > 1, widths


def test_lazy_checkpoints_carry_a_measurement():
    """Every lazy ``localCheckpoint`` in the engine sits in a paragraph
    whose comment names the measurement that keeps it ("Kept by ..."), so
    a lazy fork of a counted loop comes back only with an A/B."""
    import re
    from pathlib import Path

    import nebula_spark
    pkg = Path(nebula_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"localCheckpoint\(\s*eager\s*=\s*False", line):
                continue
            top = i
            while top > 0 and lines[top - 1].strip():
                top -= 1
            if not any("#" in ln and "Kept by" in ln
                       for ln in lines[top:i + 1]):
                offenders.append(f"{path.relative_to(pkg)}:{i + 1}")
    assert offenders == []


def test_path_searches_count_only_on_the_level_loop():
    """The frontier searches of ``operators/paths.py`` checkpoint and count
    their levels only through the shared loops (``traverse._counted_levels``
    and, for ``weighted_shortest_paths``, ``traverse._vertex_rounds``): the
    direct ``checkpoint_count``/``checkpoint_observe`` uses left are
    ``bfs_shortest_paths``' edge checkpoint and ``_meet_rounds``' resolved
    probe."""
    import ast
    from collections import Counter
    from pathlib import Path

    from nebula_spark.operators import paths
    tree = ast.parse(Path(paths.__file__).read_text())
    uses = Counter(
        fn.name for fn in tree.body if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn) if isinstance(node, ast.Name)
        and node.id in ("checkpoint_count", "checkpoint_observe"))
    assert uses == {"bfs_shortest_paths": 1, "_meet_rounds": 1}, uses


def test_vertex_algorithms_keep_no_loop_of_their_own():
    """PageRank, label propagation, k-core, connected components and
    weighted shortest paths run their supersteps on the one vertex-state
    loop (``traverse._vertex_rounds``), and GO and MATCH var-len expansion
    their levels on the level loop (``traverse._counted_levels``): none of
    them holds a ``for`` or ``while`` statement."""
    import ast
    import inspect
    import textwrap

    from nebula_spark.operators.algo import (k_core, label_propagation,
                                             pagerank)
    from nebula_spark.operators.paths import weighted_shortest_paths
    from nebula_spark.operators.traverse import go, traverse
    from nebula_spark.pipeline.dedup import connected_components
    loops = {}
    for fn in (pagerank, label_propagation, k_core, connected_components,
               weighted_shortest_paths, go, traverse):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        loops[fn.__name__] = [type(node).__name__ for node in ast.walk(tree)
                              if isinstance(node, (ast.For, ast.While))]
    assert loops == {name: [] for name in loops}, loops
