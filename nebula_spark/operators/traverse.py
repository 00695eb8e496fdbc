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
table. Every counted frontier search (BFS distances, GET SUBGRAPH, MATCH
var-len, GO's counted range) runs on one level loop,
:func:`_counted_levels`, and every vertex-state algorithm on one
superstep loop, :func:`_vertex_rounds`. The reference's storage-side
pushdowns (edge filter, per-vertex limit, dedup —
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


def _broadcast_small(df: DataFrame, n: int,
                     rows: int | None = None) -> DataFrame:
    """``df`` hinted for broadcast when its counted size ``n`` is at most
    ``rows`` (default :data:`BROADCAST_FRONTIER_ROWS`) — the frontier
    probe of every counted search."""
    return F.broadcast(df) if n <= (
        BROADCAST_FRONTIER_ROWS if rows is None else rows) else df


def _counted_levels(seed: DataFrame, step, max_levels: int | None,
                    broadcast_rows: int | None = None,
                    shuffle_rows=None) -> Iterator[tuple[DataFrame, int]]:
    """The level loop of every counted frontier search: yields each level,
    seed first, with its row count. The seed and each level are
    materialized and counted in one job (:func:`checkpoint_count`), run
    when the caller pulls that level; the loop stops after an empty level
    or at level ``max_levels`` (``None``: only on an empty one), and a
    caller may stop pulling sooner, or pull two searches in turn.
    ``step(frontier, levels)`` builds level ``len(levels)`` lazily from
    the last level, broadcast while it has at most ``broadcast_rows``
    rows. ``shuffle_rows(counts)``, if given, bounds the rows a level
    shuffles and sizes its job (:func:`sized_superstep`)."""
    frontier, n = checkpoint_count(seed)
    levels, counts = [frontier], [n]
    yield frontier, n
    while n and (max_levels is None or len(levels) <= max_levels):
        nxt = step(_broadcast_small(frontier, n, broadcast_rows), levels)
        with sized_superstep(seed.sparkSession, shuffle_rows(counts)) \
                if shuffle_rows else nullcontext():
            frontier, n = checkpoint_count(nxt)
        levels.append(frontier)
        counts.append(n)
        yield frontier, n


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
    normalize to the same edge identity (``Edge.cpp keyEqual``), and MATCH
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
                  broadcast_frontier: bool | None = None,
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
    if broadcast_frontier is None:
        broadcast_frontier = True  # seed sets are small; loops override
    if broadcast_frontier:
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
       sample_seed: int = 42,
       track_origin: bool = False,
       origin_col: str | None = None) -> DataFrame:
    """GO M TO N STEPS: multi-hop expansion accumulating per-step edge rows.

    Reference plan: Loop{Expand/ExpandAll} + UnionAllVersionVar accumulation
    (GoPlanner.cpp:15-90, UnionAllVersionVarExecutor.cpp:1-45). Here each
    step joins the deduped frontier to the edge table, and the yield rows
    of the steps in [min_steps, max_steps] are unioned.

    Adds a ``step`` column. Scale notes: the frontier is deduped every hop
    (dst-only GetDstBySrc shape). A range of more than 2 steps walks its
    frontiers 0 to ``max_steps - 1`` on the counted level loop
    (:func:`_counted_levels`); the hop rows stay lazy. A short range has
    nothing to skip, so it builds one lazy plan with no job: step 1
    broadcasts the (caller-bounded) seed frontier, step 2 leaves join
    strategy to AQE, whose runtime stats broadcast a small one anyway.

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
            rows = (rows.orderBy(F.rand(sample_seed + step))
                    .limit(step_samples[step - 1]))
        if step >= min_steps:
            results.append(rows.withColumn("step", F.lit(step)))
        return rows

    def advance(frontier: DataFrame, step: int) -> DataFrame:
        return hop(frontier, step).select(*carry, F.col(DST).alias(VID)) \
            .distinct()

    if max_steps > 2:
        levels, counts = zip(*_counted_levels(
            seed, lambda f, levels: advance(f, len(levels)), max_steps - 1))
        if counts[-1]:
            hop(_broadcast_small(levels[-1], counts[-1]), max_steps)
    else:
        frontier = F.broadcast(seed)
        for step in range(1, max_steps + 1):
            frontier = advance(frontier, step)
    if not results:
        e0 = edges[0] if per_step else edges
        return get_neighbors(seed.limit(0), e0, direction,
                             carry_cols=carry).withColumn("step", F.lit(1))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  results)


def _edge_id_fields(prefix: str = "", reversed_: bool = False) -> list:
    s, d = (DST, SRC) if reversed_ else (SRC, DST)
    t = -F.col(f"{prefix}_dir") if reversed_ else F.col(f"{prefix}_dir")
    return [F.col(f"{prefix}{s}").alias("s"), F.col(f"{prefix}{d}").alias("d"),
            F.col(f"{prefix}{RANK}").alias("r"), t.alias("t"),
            F.col(f"{prefix}_etype").alias("et")]


def _edge_id(prefix: str = "") -> Column:
    return F.struct(*_edge_id_fields(prefix))


def _edge_id_reversed(prefix: str = "") -> Column:
    """The same underlying edge seen from the other orientation: reference
    edge equality is direction-normalized ((a,b,e,r) == (b,a,-e,r),
    Edge.cpp:128-136 keyEqual), so uniqueness checks both images."""
    return F.struct(*_edge_id_fields(prefix, reversed_=True))


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
    ``path`` (array of edge structs (s,d,r,t,et)). The uniqueness filter
    is ``NOT exists(path, e -> e == new_edge)`` — JVM-side higher-order
    function, no UDF. Every range runs on the counted level loop
    (:func:`_counted_levels`): the zero-hop paths and each hop's paths are
    checkpointed and counted in one job, and the walk stops once
    edge-uniqueness empties the frontier or at ``max_hops``.

    ``prop_cols`` (opt-in) appends the named edge prop columns to each
    path struct so result-shaping can read ``relationships(p)[i].prop``
    (the reference carries Step props inline, Path.h:15). Cost model: an
    enumeration's frontier rows ARE its output paths, so carrying props
    here multiplies only the output payload, never an intermediate
    min-pruned frontier — the level-pruned shortest-path operators in
    operators/paths.py therefore stay identity-only and leave prop
    resolution to their callers.
    """
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)

    e = oriented(edges, direction, self_loop_once=self_loop_once)
    if edge_filter is not None:
        e = e.filter(edge_filter)
    if "_etype" not in e.columns:        # single-type edge tables
        e = e.withColumn("_etype", F.lit(""))
    props = list(prop_cols or [])
    e = e.select(SRC, DST, RANK, "_dir", "_etype", *props)
    path_type = ArrayType(StructType([
        StructField("s", e.schema[SRC].dataType),
        StructField("d", e.schema[DST].dataType),
        StructField("r", e.schema[RANK].dataType),
        StructField("t", IntegerType()),
        StructField("et", StringType()),
        *[StructField(c, e.schema[c].dataType) for c in props],
    ]))

    extra = [F.col(c).alias(c) for c in props]
    new_edge = F.struct(*_edge_id_fields(), *extra) if props else _edge_id()
    # edge-uniqueness via array_contains(path, struct(...)) — a lambda
    # with outer column refs (F.exists) miscompiles on reused Datasets
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime). Checked in both
    # orientations: BOTH-direction expansion must not walk back over
    # the edge it arrived by (direction-normalized edge equality).
    rev_edge = F.struct(*_edge_id_fields(reversed_=True), *extra) \
        if props else _edge_id_reversed()
    uniq = ~F.array_contains(F.col("path"), new_edge) \
        & ~F.array_contains(F.col("path"), rev_edge)

    def step(paths: DataFrame, levels: list[DataFrame]) -> DataFrame:
        # alias-qualified join: the edge table participates in every
        # level, and df[col] cross-references break Spark's self-join
        # disambiguation once the same base Dataset appears twice in
        # lineage
        return (paths.alias("__p")
                .join(e.alias("__e"),
                      F.col("__p.end_vid") == F.col(f"__e.{SRC}"), "inner")
                .filter(uniq)
                .select(F.col("start_vid"), F.col(DST).alias("end_vid"),
                        F.lit(len(levels)).alias("hops"),
                        F.concat("path", F.array(new_edge)).alias("path")))

    # max_hops=None is the reference's open-ended range (`[e*]` /
    # `[e*m..]` — parser.yy match_step_range, MatchStepRange.h default
    # max SIZE_MAX): the counted loop stops once edge-uniqueness empties
    # the frontier, so it runs at most the longest simple edge path, and
    # so does a huge bound (VariableLengthPattern.feature "Over expand
    # end": `[:serve*1000000000..1000000002]`). Path rows are not
    # broadcast: the join leaves them to AQE.
    zero = (start.select(F.col(VID).alias("start_vid")).distinct()
            .withColumn("end_vid", F.col("start_vid"))
            .withColumn("hops", F.lit(0))
            .withColumn("path", F.array().cast(path_type)))
    levels, _ = zip(*_counted_levels(zero, step, max_hops, broadcast_rows=0))
    kept = levels[min_hops:]
    # a frontier that dies before min_hops keeps the schema in no rows
    return reduce(DataFrame.unionByName, kept) if kept \
        else levels[-1].limit(0)


def get_edges(keys: DataFrame, edges: DataFrame) -> DataFrame:
    """GetEdges (kGetEdges): fetch edge props for (src, dst, _rank) keys.

    Reference: GetEdgesExecutor.cpp:1-112. Composite-key equi join; the key
    set is typically tiny → broadcast.
    """
    return edges.join(F.broadcast(keys.select(SRC, DST, RANK).distinct()),
                      [SRC, DST, RANK], "inner")

