"""GET SUBGRAPH: k-hop induced subgraph from a seed vid set (SURVEY.md §2.3).

Reference: ``src/graph/executor/algo/SubgraphExecutor.cpp:26-199`` +
``src/graph/planner/ngql/SubgraphPlanner.cpp`` — iterative frontier
expansion collecting per-step vertex and edge sets, IN/OUT/BOTH, optional
filters, dedup via a visited map.

Spark-first: frontier expansion loop; visited set maintained as a DataFrame,
dedup via anti-join; the collected edge set is the union of per-step hop
joins. Returns (vertices_df, edges_df); edges_df keeps a ``step`` column
(the reference reports per-step lists).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import DST, RANK, SRC, VID
from nebula_spark.operators.traverse import (
    BROADCAST_FRONTIER_ROWS, checkpoint_count, oriented,
)


def k_hop_subgraph(edges: DataFrame, seeds: DataFrame, steps: int = 1,
                   direction: str = "both",
                   edge_filter: Column | None = None,
                   with_props: bool = True,
                   ) -> tuple[DataFrame, DataFrame]:
    """Expand ``steps`` hops from ``seeds``; return (vertices, edges).

    ``vertices``: (vid, step) — step = hop at which first reached (0=seed).
    ``edges``: oriented edge rows + ``step`` (hop that collected them).
    Matching the reference, the final hop collects only edges *among*
    already-visited vertices (SubgraphExecutor.cpp: the last round keeps
    edges whose dst was seen before).
    """
    # An input that already carries ``_dir`` is pre-oriented (e.g. the nGQL
    # executor orients per IN/OUT/BOTH edge list); re-orienting would
    # overwrite direction identity and let dropDuplicates merge a real
    # out-edge a->b with the reversed image of an in-edge b->a.
    e_all = edges if "_dir" in edges.columns else oriented(edges, direction)
    if edge_filter is not None:
        e_all = e_all.filter(edge_filter)
    # every step's hop join (and the closing pass) reads the same oriented
    # edge frame — lazy-checkpoint it so step 1's job computes it once and
    # later steps read the blocks instead of re-scanning the source
    # (blocks are reclaimed by the ContextCleaner; a persist() could not
    # be unpersisted before the caller materializes the lazy result).
    # Kept by an A/B on the sf0.1 `subgraph` lane, 6 runs each: lazy
    # 3.3–4.8 s, checkpoint_count 3.7–5.5 s, no checkpoint 5.2–7.0 s.
    e_all = e_all.localCheckpoint(eager=False)

    # visited is a plain union of checkpointed pieces: the seed here, then
    # each level's frontier — no cache to fill or drop between levels
    visited, n = checkpoint_count(
        seeds.select(VID).distinct().withColumn("step", F.lit(0)))
    frontier = visited.select(VID)
    collected: DataFrame | None = None
    for step in range(1, steps + 1):
        if n == 0:
            break
        f = F.broadcast(frontier) if n <= BROADCAST_FRONTIER_ROWS else frontier
        # LAZY checkpoint: hop feeds both the collected union and the
        # nxt frontier below — the checkpoint_count(nxt) job is hop's
        # first materialization and writes its blocks, which the final
        # collected union then re-reads. The old eager checkpoint paid
        # a SECOND dedicated job per step for the same sharing. Kept by
        # an A/B on the sf0.1 `subgraph` lane (9 runs each, 20 jobs
        # either way): median 2.47 s with it, 3.46 s without.
        hop = (e_all.join(f, e_all[SRC] == f[VID], "inner").drop(VID)
               .withColumn("step", F.lit(step))
               .localCheckpoint(eager=False))
        collected = hop if collected is None else collected.unionByName(hop)
        # The next level's size (termination + broadcast probe) rides
        # the materialization job via checkpoint_count — no dedicated
        # frontier.count() stage per level (:func:`checkpoint_count`).
        nxt = (hop.select(F.col(DST).alias(VID)).distinct()
               .join(visited.select(VID), VID, "left_anti")
               .withColumn("step", F.lit(step)))
        nxt, n = checkpoint_count(nxt)
        visited = visited.unionByName(nxt)
        frontier = nxt.select(VID)
    # closing pass: edges among final-hop vertices back into the
    # subgraph (reference's last round keeps only edges whose dst was
    # seen before); n is the final frontier size off its checkpoint job
    if n > 0:
        f = F.broadcast(frontier) if n <= BROADCAST_FRONTIER_ROWS else frontier
        closing = (e_all.join(f, e_all[SRC] == f[VID], "inner").drop(VID)
                   .join(visited.select(F.col(VID).alias(DST)).distinct(),
                         DST, "left_semi")
                   .withColumn("step", F.lit(steps + 1)))
        collected = closing if collected is None \
            else collected.unionByName(closing)
    if collected is None:
        collected = e_all.withColumn("step", F.lit(0)).limit(0)
    # duplicate edges can be collected when direction="both" re-walks a
    # closing edge; subgraph semantics are set semantics → dedup
    # identity INCLUDES the edge type: a teammate edge parallel to a
    # like edge shares (src, dst, rank) but is a distinct edge
    # (subgraph.feature "subgraph": both Tim↔Manu teammate rows)
    keys = [SRC, DST, RANK, "_dir"]
    if "_etype" in collected.columns:
        keys.append("_etype")
    collected = collected.dropDuplicates(keys)
    return visited.select(VID, "step"), collected
