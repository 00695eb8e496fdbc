"""Traversal operators: GetNeighbors / GO / Traverse / GetEdges (SURVEY.md
§2.1, §2.3).

Reference implementations:
- GetNeighbors: ``src/graph/executor/query/GetNeighborsExecutor.cpp:1-102``
  + storage chain ``src/storage/query/GetNeighborsProcessor.h:24`` (prefix
  scan over the adjacency, request spec ``storage.thrift:128-166``).
- GO loop: ``src/graph/planner/ngql/GoPlanner.cpp:15-90`` (Loop +
  Expand/ExpandAll, ``ExpandAllExecutor.cpp:50-523``; GetDstBySrc dst-only
  frontier ``src/storage/query/GetDstBySrcProcessor.cpp``).
- Traverse (MATCH var-len expansion with path tracking + edge-uniqueness):
  ``src/graph/executor/query/TraverseExecutor.cpp:25-676``.
- GetEdges: ``src/graph/executor/query/GetEdgesExecutor.cpp:1-112``.

Spark-first translation: a hop is a join of the frontier against the edge
table. Every frontier search (BFS distances and paths, GET SUBGRAPH, MATCH
var-len, GO) runs on one level loop, :func:`_counted_levels`, and every
vertex-state algorithm on one superstep loop, :func:`_vertex_rounds`. A
range of at most two levels is the loop's lazy head, one plain plan with
no job: a GO of 1 or 2 steps or a MATCH var-len of at most one hop runs
only when collected. MATCH var-len and the minimal-path searches of
``paths.py`` extend paths with one shared hop (:func:`_path_hop`). The
reference's storage-side pushdowns (edge filter, per-vertex limit, dedup —
``storage.thrift:140-158``) become: filter *before* the join
(Catalyst pushes it into the parquet scan), window row_number per src for
per-vertex limits, ``select(src,dst).distinct()`` for dst-only frontiers.
Scale posture: the frontier is broadcast when small (seed sets almost always
are), the edge table never moves; at 100 TB the edge table is
bucketed-by-src parquet so even shuffle joins co-locate.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager, nullcontext
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

from nebula_spark.catalog import DST, RANK, SRC, VID
from nebula_spark.session import scoped_conf

# Frontiers at or below this row count are broadcast to the hop join.
BROADCAST_FRONTIER_ROWS = 2_000_000

# Scale-adaptive width for superstep loops (guide §2.2). A superstep
# shuffles narrow keyed rows — (node, label) or (root, vid) pairs, ~16-32 B
# a row — so ~2M rows a task lands shuffle partitions in the guide's
# 100 MB-1 GB band. The width comes from a row count the loop already
# observes for free on its checkpoint jobs, capped at the session's
# configured spark.sql.shuffle.partitions: a cluster-scaled config is
# never shrunk for big graphs, while a tiny graph stops paying 32-task
# stages and per-stage AQE planning for a few thousand rows. Persisted and
# checkpointed frames escape AQE's partition coalescing, so without this a
# three-row frontier still runs session-width stages (measured at sf0.1:
# 2.05 s → 1.0 s for the connected-components round loop).
SUPERSTEP_ROWS_PER_TASK = 2_000_000

# GO's per-step SAMPLE draws order by rand(GO_SAMPLE_SEED + step).
GO_SAMPLE_SEED = 42


def observed_width(spark: SparkSession, n_rows: int,
                   rows_per_task: int | None = None) -> int:
    """Shuffle width for ``n_rows`` observed rows:
    ``clamp(ceil(n_rows / rows_per_task), 1, session width)``;
    ``rows_per_task`` defaults to :data:`SUPERSTEP_ROWS_PER_TASK`."""
    if rows_per_task is None:
        rows_per_task = SUPERSTEP_ROWS_PER_TASK
    sess_p = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(sess_p, -(-n_rows // rows_per_task)))


@contextmanager
def sized_superstep(spark: SparkSession, n_rows: int) -> Iterator[int]:
    """Run the superstep jobs of the block at :func:`observed_width` of
    ``n_rows``; yields the width. ``n_rows`` must bound the rows every
    shuffle in the block moves — a count of the loop's state alone does
    not when the block joins a wider table or expands a frontier.

    At width 1 AQE is off too: a single-partition plan has nothing for
    AQE to adapt (no coalescing, no skew split, no join re-planning
    across one partition), while AQE still materializes every Exchange
    as its own job — under static planning the superstep is ONE job
    (measured on the connected-components rounds: 1.0 → 0.88 s). Any
    input big enough for a wider width keeps AQE untouched.

    Like :func:`~nebula_spark.session.scoped_conf`, this shapes only the
    jobs and (lazy) checkpoints planned inside the block; frames the
    caller materializes later plan at the session's settings.
    """
    p = observed_width(spark, n_rows)
    confs = {"spark.sql.shuffle.partitions": str(p)}
    if p == 1:
        confs["spark.sql.adaptive.enabled"] = "false"
    with scoped_conf(spark, **confs):
        yield p


def checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager localCheckpoint + row count in ONE job.

    Superstep loops need the new frontier's size twice per level — as the
    empty-frontier terminator and as the broadcast-vs-shuffle probe — and
    they already pay a materialization job for the lineage-severing eager
    ``localCheckpoint``. An :class:`~pyspark.sql.Observation` rides that
    same job (``CollectMetrics`` accumulates while the checkpoint's
    partitions compute), so the count that used to be a dedicated stage
    per superstep is now free metadata off the job we were already
    running. At 100 TB this removes one full pass over the frontier per
    BFS level / Pregel superstep.
    """
    out, m = checkpoint_observe(df, n=F.count(F.lit(1)))
    return out, int(m["n"])


def checkpoint_observe(df: DataFrame,
                       **metrics: Column) -> tuple[DataFrame, dict]:
    """Eager localCheckpoint with arbitrary observed aggregates riding the
    materialization job (see :func:`checkpoint_count`). Returns the
    checkpointed frame and a dict of metric values."""
    obs = Observation()
    out = (df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
           .localCheckpoint(eager=True))
    return out, obs.get


def _broadcast_small(df: DataFrame, n: int | None,
                     rows: int | None = None) -> DataFrame:
    """``df`` hinted for broadcast when its counted size ``n`` is at most
    ``rows`` (default :data:`BROADCAST_FRONTIER_ROWS`) — the frontier
    probe of every counted search. An uncounted level (``n`` is ``None``)
    is left to AQE's runtime join choice."""
    if n is None or n > (BROADCAST_FRONTIER_ROWS if rows is None else rows):
        return df
    return F.broadcast(df)


def _counted_levels(seed: DataFrame, step, max_levels: int | None,
                    broadcast_rows: int | None = None,
                    shuffle_rows=None, lazy_levels: int = 0
                    ) -> Iterator[tuple[DataFrame, int | None]]:
    """The level loop of every frontier search: yields each level, seed
    first, with its row count, each materialized and counted in one job
    (:func:`checkpoint_count`) when the caller pulls it. A range that
    fits in ``lazy_levels`` levels (``max_levels < lazy_levels``; the seed
    is level 0) is a lazy head instead: one plain plan, yielded with
    count ``None``, with no checkpoint and no job. The head is all or
    nothing: under AQE only a plan with no ``localCheckpoint`` stays
    lazy, so a head cannot follow a counted level, and a head that
    counted levels follow runs twice, in the first checkpoint job and
    again when the caller collects rows read from it. The loop stops
    after an empty level or at level ``max_levels`` (``None``: only on
    an empty one), and a caller may stop pulling sooner, or pull two
    searches in turn.
    ``step(frontier, levels)`` builds level ``len(levels)`` lazily from
    the last level, broadcast while it has at most ``broadcast_rows``
    rows (:func:`_broadcast_small`). ``shuffle_rows(counts)``, if given,
    bounds the rows a counted level shuffles and sizes its job
    (:func:`sized_superstep`)."""
    levels: list[DataFrame] = []
    counts: list[int | None] = []
    frontier, n = seed, None
    lazy = max_levels is not None and max_levels < lazy_levels
    while True:
        if not lazy:
            with sized_superstep(seed.sparkSession, shuffle_rows(counts)) \
                    if shuffle_rows and levels else nullcontext():
                frontier, n = checkpoint_count(frontier)
        levels.append(frontier)
        counts.append(n)
        yield frontier, n
        if n == 0 or (max_levels is not None and len(levels) > max_levels):
            return
        frontier = step(_broadcast_small(frontier, n, broadcast_rows), levels)


# Eager lineage cut every this many rounds of an uncounted vertex loop:
# at sf0.1 (c→n→r edges, 10 iterations, 4 cores, medians of 3) LPA took
# 9.0 s cut every 4 rounds vs 50.0 s every 8, PageRank 4.2 s vs 5.0 s.
SUPERSTEP_CKPT_EVERY = 4


def _vertex_rounds(state: DataFrame, step, active: Column | None = None,
                   rounds: int | None = None) -> DataFrame:
    """The superstep loop of every vertex-state algorithm (GraphX's Pregel
    operator): ``state = step(state, n)`` each round. With ``active``, a
    boolean column, the seed and every round are checkpointed and their
    active rows ``n`` counted in the same job (:func:`checkpoint_observe`);
    the loop stops after the first state with none, or at ``rounds``.
    Without it, exactly ``rounds`` rounds chain lazily (``n`` is
    ``None``), cut eagerly every :data:`SUPERSTEP_CKPT_EVERY`."""
    n, done = None, 0
    while True:
        if active is not None:
            state, m = checkpoint_observe(state, n=F.count_if(active))
            n = int(m["n"])
        elif done and done % SUPERSTEP_CKPT_EVERY == 0:
            state = state.localCheckpoint(eager=True)
        if n == 0 or (rounds is not None and done >= rounds):
            return state
        state, done = step(state, n), done + 1


def oriented(edges: DataFrame, direction: str = "out",
             self_loop_once: bool = False) -> DataFrame:
    """Orient an edge table so ``src`` is always the traversal origin.

    Reference encodes reverse traversal as negative edge types
    (``src/common/datatypes/Edge.h:16-23``); we swap columns instead and tag
    the original direction in ``_dir`` (1=out, -1=in) so BOTH-direction
    results keep edge identity.

    ``self_loop_once``: in BOTH mode a self-loop's out and in orientations
    normalize to the same edge identity (:func:`_edge_key`), and MATCH
    expansion yields it once (SelfReflectiveEdges.feature) — drop the
    reversed copy. GO BIDIRECT keeps both rows (per-direction adjacency
    entries), so it stays opt-in.
    """
    props = [c for c in edges.columns if c not in (SRC, DST, RANK)]
    out = edges.select(SRC, DST, RANK, *props, F.lit(1).alias("_dir"))
    if direction == "out":
        return out
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), RANK,
                       *props, F.lit(-1).alias("_dir"))
    if direction == "in":
        return rev
    if direction == "both":
        if self_loop_once:
            rev = rev.filter(F.col(SRC) != F.col(DST))
        return out.unionByName(rev)
    raise ValueError(f"direction must be out|in|both, got {direction!r}")


def get_neighbors(vids: DataFrame, edges: DataFrame, direction: str = "out",
                  edge_filter: Column | None = None,
                  limit_per_vertex: int | None = None,
                  order_per_vertex: list | None = None,
                  dedup_dst: bool = False,
                  broadcast_frontier: bool = True,
                  carry_cols: tuple[str, ...] = (),
                  dedup_frontier: bool = True) -> DataFrame:
    """One hop from a vid set: the GetNeighbors RPC as a join.

    Returns edge rows oriented origin→neighbor (columns src, dst, _rank,
    props…, _dir). Pushdown parity with storage.thrift:128-166:
    ``edge_filter`` applies before the join (reaches the parquet scan);
    ``limit_per_vertex`` (+ optional ``order_per_vertex``) reproduces the
    per-vertex truncate/sample clause via a window, not a global limit;
    ``dedup_dst`` reproduces GetDstBySrc's deduped dst-only frontier.
    ``carry_cols`` are frontier columns (e.g. a traversal-origin tag) kept
    through the join — the frontier dedups on (vid, *carry_cols).

    ``dedup_frontier=False`` is for loop callers whose frontier is already
    distinct (go/BFS dedup every hop): skipping the redundant ``distinct``
    is not just one less aggregate — an Aggregate between the frontier's
    exchange and the hop join breaks AQE's skew-join pattern
    (``SortMergeJoin ← Sort ← ShuffleQueryStage``), silently disabling
    supernode skew-splitting for every non-broadcast hop. Verified by
    ``tests/test_plans.py::test_skewed_hop_join_gets_aqe_skew_split``.
    """
    e = oriented(edges, direction)
    if edge_filter is not None:
        e = e.filter(edge_filter)
    f = vids.select(VID, *carry_cols)
    if dedup_frontier:
        f = f.distinct()
    if broadcast_frontier:       # seed sets are small; loops override
        f = F.broadcast(f)
    hop = e.join(f, e[SRC] == f[VID], "inner").drop(VID)
    if limit_per_vertex is not None:
        from pyspark.sql.window import Window
        order = order_per_vertex or [F.col(DST), F.col(RANK)]
        w = Window.partitionBy(*carry_cols, SRC).orderBy(*order)
        hop = (hop.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= limit_per_vertex).drop("_rn"))
    if dedup_dst:
        hop = hop.select(SRC, DST, *carry_cols).distinct()
    return hop


def go(edges: DataFrame | list[DataFrame], start: DataFrame, min_steps: int = 1,
       max_steps: int = 1, direction: str = "out",
       edge_filter: Column | None = None,
       step_limits: list[int] | None = None,
       step_samples: list[int] | None = None,
       track_origin: bool = False,
       origin_col: str | None = None) -> DataFrame:
    """GO M TO N STEPS: multi-hop expansion accumulating per-step edge rows.

    Reference plan: Loop{Expand/ExpandAll} + UnionAllVersionVar accumulation
    (GoPlanner.cpp:15-90, UnionAllVersionVarExecutor.cpp:1-45). Here each
    step joins the deduped frontier to the edge table, and the yield rows
    of the steps in [min_steps, max_steps] are unioned.

    Adds a ``step`` column. Scale notes: the frontier is deduped every hop
    (dst-only GetDstBySrc shape). The frontiers 0 to ``max_steps - 1``
    come from the level loop (:func:`_counted_levels`), and the hop rows
    stay lazy. A 1- or 2-step range fits in the loop's lazy head of two
    levels, so it is one plan with no job: step 1 broadcasts the
    (caller-bounded) seed frontier, step 2 leaves the join strategy to
    AQE, whose runtime stats broadcast a small one anyway. A longer range
    counts every frontier, the seed too, broadcasts those with at most
    :data:`BROADCAST_FRONTIER_ROWS` rows, and skips the last hop once one
    comes back empty.

    ``edges`` may be a list with one edge table per step (GO ... OVER a
    schedule of edge types): hop *k* then joins only its own table instead
    of a union of all of them — at scale this halves (or better) the
    scanned bytes per hop, the analog of the reference requesting only the
    relevant edge type in each GetNeighbors RPC.

    ``track_origin=True`` reproduces the reference's runtime-input GO
    semantics (tck go/GO.feature "only id n steps": piped multi-start GO
    keeps per-start multiplicity): the frontier carries an ``_origin``
    column and dedups on (origin, vid) instead of vid alone, and results
    gain ``_origin``. ``origin_col`` names a caller-supplied origin key
    in *start* (a row id, so duplicate piped vids each keep their own
    traversal — GoYieldVertexEdge.feature "multi edges over all" pipe);
    default is the vid itself. Frontier size grows with overlapping
    neighborhoods — the same cost the reference pays in its per-input
    runtime maps.
    """
    per_step = isinstance(edges, (list, tuple))
    if per_step and len(edges) != max_steps:
        raise ValueError(f"per-step edges needs {max_steps} tables")
    carry = ("_origin",) if track_origin else ()
    if track_origin:
        seed = start.select(F.col(origin_col or VID).alias("_origin"),
                            F.col(VID)).distinct()
    else:
        seed = start.select(VID).distinct()
    results: list[DataFrame] = []

    def hop(frontier: DataFrame, step: int) -> DataFrame:
        """Step ``step``'s edge rows, collected when in range."""
        # per-step truncate pushdown (truncate_clause,
        # PushStepLimitDownGetNeighborsRule /
        # PushStepSampleDownGetNeighborsRule): applied inside the hop,
        # before the next frontier forms — exactly where the reference
        # pushes it into the GetNeighbors RPC
        lim = step_limits[step - 1] if step_limits is not None \
            and step <= len(step_limits) else None
        rows = get_neighbors(frontier, edges[step - 1] if per_step else edges,
                             direction, edge_filter, broadcast_frontier=False,
                             limit_per_vertex=lim, carry_cols=carry,
                             dedup_frontier=False)  # frontier is distinct
        if step_samples is not None and step <= len(step_samples):
            # SAMPLE is a GLOBAL per-step draw, not per-vertex
            # truncation (GO.feature "go step sample": 3 steps with
            # SAMPLE [1,3,2] returns exactly 2 rows) — LIMIT keeps
            # the per-vertex window (storage truncate) semantics
            rows = (rows.orderBy(F.rand(GO_SAMPLE_SEED + step))
                    .limit(step_samples[step - 1]))
        if step >= min_steps:
            results.append(rows.withColumn("step", F.lit(step)))
        return rows

    # the seed's broadcast hint reaches only a lazy head's plan: a
    # counted seed is checkpointed, which drops it, and probed by count
    levels, counts = zip(*_counted_levels(
        F.broadcast(seed),
        lambda f, levels: hop(f, len(levels))
        .select(*carry, F.col(DST).alias(VID)).distinct(),
        max_steps - 1, lazy_levels=2))
    if max_steps and counts[-1] != 0:
        hop(_broadcast_small(levels[-1], counts[-1]), max_steps)
    if not results:
        e0 = edges[0] if per_step else edges
        return get_neighbors(seed.limit(0), e0, direction,
                             carry_cols=carry).withColumn("step", F.lit(1))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  results)


def _edge_id(reversed_: bool = False, props=()) -> Column:
    """The path struct ``(s, d, r, t, et, *props)`` of an oriented edge
    row. ``reversed_`` gives the same underlying edge seen from the other
    orientation (:func:`_edge_key`), so uniqueness checks both images."""
    s, d = (DST, SRC) if reversed_ else (SRC, DST)
    t = -F.col("_dir") if reversed_ else F.col("_dir")
    return F.struct(F.col(s).alias("s"), F.col(d).alias("d"),
                    F.col(RANK).alias("r"), t.alias("t"),
                    F.col("_etype").alias("et"), *map(F.col, props))


def _edge_key(hop: Column | str = "") -> Column:
    """The identity of an edge: the struct ``(s, d, r, et)`` in its STORED
    orientation. Two edges are equal when source, destination, rank and
    type match as stored (``Edge::keyEqual``, Edge.cpp:128-136), however
    each was traversed: a hop read against its stored direction (``t`` or
    ``_dir`` of -1) swaps its endpoints back. ``hop`` is a path struct
    ``(s, d, r, t, et, …)`` (:func:`_edge_id`), or the column prefix of
    an oriented edge row ``{hop}_src, _dst, _rank, _dir, _etype``
    (:func:`oriented`; ``""`` for the unprefixed row)."""
    if isinstance(hop, str):
        s, d, r, t, et = (F.col(hop + c)
                          for c in (SRC, DST, RANK, "_dir", "_etype"))
    else:
        s, d, r, t, et = (hop[f] for f in ("s", "d", "r", "t", "et"))
    fwd = t == 1
    return F.struct(F.when(fwd, s).otherwise(d).alias("s"),
                    F.when(fwd, d).otherwise(s).alias("d"),
                    r.alias("r"), et.alias("et"))


def _prep_oriented(edges: DataFrame, direction: str,
                   edge_filter: Column | None, self_loop_once: bool,
                   props=()) -> DataFrame:
    """The ``(src, dst, _rank, _dir, _etype, *props)`` edge rows a path
    search walks (:func:`oriented`, filtered); single-type edge tables
    get an empty ``_etype``."""
    e = oriented(edges, direction, self_loop_once=self_loop_once)
    if edge_filter is not None:
        e = e.filter(edge_filter)
    if "_etype" not in e.columns:
        e = e.withColumn("_etype", F.lit(""))
    return e.select(SRC, DST, RANK, "_dir", "_etype", *props)


def _path_struct_type(e: DataFrame, props=()) -> ArrayType:
    """The type of a path column over edge rows ``e``: an array of
    :func:`_edge_id` structs."""
    return ArrayType(StructType([
        StructField("s", e.schema[SRC].dataType),
        StructField("d", e.schema[DST].dataType),
        StructField("r", e.schema[RANK].dataType),
        StructField("t", IntegerType()),
        StructField("et", StringType()),
        *[StructField(c, e.schema[c].dataType) for c in props],
    ]))


def _path_seed(vids: DataFrame, path_type: ArrayType) -> DataFrame:
    """The zero-hop ``(root, end_vid, path)`` frontier of a path search
    from the distinct ``vids``."""
    return (vids.select(F.col(VID).alias("root")).distinct()
            .withColumn("end_vid", F.col("root"))
            .withColumn("path", F.array().cast(path_type)))


def _path_hop(f: DataFrame, e: DataFrame, props=()) -> DataFrame:
    """Every path of a ``(root, end_vid, path)`` frontier ``f`` extended
    one hop over edge rows ``e`` (:func:`_prep_oriented`) without reusing
    an edge of the path (openCypher relationship uniqueness)."""
    # array_contains, not a lambda: F.exists with outer column refs
    # miscompiles on reused Datasets (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
    # Both images are checked, so a BOTH-direction walk may not return
    # over the edge it arrived by. The join is alias-qualified: the edge
    # table joins every level, and df[col] references break Spark's
    # self-join disambiguation once one Dataset appears twice in lineage.
    uniq = ~F.array_contains(F.col("path"), _edge_id(props=props)) \
        & ~F.array_contains(F.col("path"), _edge_id(True, props))
    return (f.alias("__f")
            .join(e.alias("__e"),
                  F.col("__f.end_vid") == F.col(f"__e.{SRC}"), "inner")
            .filter(uniq)
            .select("root", F.col(DST).alias("end_vid"),
                    F.concat("path", F.array(_edge_id(props=props)))
                    .alias("path")))


def _path_rows(levels, min_hops: int, *more: DataFrame) -> DataFrame:
    """The ``(start_vid, end_vid, hops, path)`` rows of the path levels
    from ``min_hops`` on, and of ``more``; a search that dies before
    ``min_hops`` keeps the schema in no rows."""
    shaped = [lv.select(F.col("root").alias("start_vid"), "end_vid",
                        F.lit(hops).alias("hops"), "path")
              for hops, lv in enumerate(levels)]
    kept = shaped[min_hops:] + list(more)
    return reduce(DataFrame.unionByName, kept) if kept \
        else shaped[0].limit(0)


def traverse(edges: DataFrame, start: DataFrame, min_hops: int = 1,
             max_hops: int | None = 1, direction: str = "out",
             edge_filter: Column | None = None,
             self_loop_once: bool = False,
             prop_cols: list[str] | None = None) -> DataFrame:
    """MATCH variable-length expansion with per-path edge uniqueness.

    Reference: TraverseExecutor.cpp:25-676 — expand ``[m..n]`` hops building
    an edge-list column, openCypher relationship-uniqueness (an edge may
    appear once per path; tracked via dst2PathsMap + hasSameEdgeInPath).

    Returns one row per path: ``start_vid``, ``end_vid``, ``hops``,
    ``path`` (array of edge structs (s,d,r,t,et)). It is the unpruned twin
    of ``paths.bfs_min_paths``: the same seed, hop (:func:`_path_hop`,
    whose uniqueness filter is a JVM-side ``array_contains``, no UDF) and
    output shaping on the level loop (:func:`_counted_levels`), with no
    visited set. A range of at most one hop (``*0..1``, ``*1``, and both
    halves of an ``all_paths`` of up to 2 hops) is the loop's lazy head:
    one plan with no job. In a longer range the zero-hop paths and each
    hop's paths are checkpointed and counted in one job, and the walk
    stops once edge-uniqueness empties the frontier or at ``max_hops``.
    Path rows are never broadcast: the join leaves them to AQE.

    ``max_hops=None`` is the reference's open-ended range (`[e*]` /
    `[e*m..]` — parser.yy match_step_range, MatchStepRange.h default max
    SIZE_MAX): the walk runs at most the longest simple edge path, and so
    does a huge bound (VariableLengthPattern.feature "Over expand end":
    `[:serve*1000000000..1000000002]`).

    ``prop_cols`` (opt-in) appends the named edge prop columns to each
    path struct so result-shaping can read ``relationships(p)[i].prop``
    (the reference carries Step props inline, Path.h:15). Cost model: an
    enumeration's frontier rows ARE its output paths, so carrying props
    here multiplies only the output payload, never an intermediate
    min-pruned frontier — the level-pruned shortest-path operators in
    operators/paths.py therefore stay identity-only and leave prop
    resolution to their callers.
    """
    props = tuple(prop_cols or ())
    e = _prep_oriented(edges, direction, edge_filter, self_loop_once, props)
    # A/B of the head (8 interleaved process pairs, medians of 3 calls,
    # 4 cores): sf0.1 `paths_query` (two 0..1-hop halves) 12 → 6 jobs,
    # 1.80 → 1.56 s (faster in 7 of 8 pairs); a longer range, too long
    # for the head, runs as before (`*1..3` MATCH: 15 jobs both sides)
    levels, _ = zip(*_counted_levels(
        _path_seed(start, _path_struct_type(e, props)),
        lambda f, _: _path_hop(f, e, props), max_hops, broadcast_rows=0,
        lazy_levels=2))
    return _path_rows(levels, min_hops)


def get_edges(keys: DataFrame, edges: DataFrame) -> DataFrame:
    """GetEdges (kGetEdges): fetch edge props for (src, dst, _rank) keys.

    Reference: GetEdgesExecutor.cpp:1-112. Composite-key equi join; the key
    set is typically tiny → broadcast.
    """
    return edges.join(F.broadcast(keys.select(SRC, DST, RANK).distinct()),
                      [SRC, DST, RANK], "inner")

