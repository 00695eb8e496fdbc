"""GET SUBGRAPH: k-hop induced subgraph from a seed vid set (SURVEY.md §2.3).

Reference: ``src/graph/executor/algo/SubgraphExecutor.cpp:26-199`` +
``src/graph/planner/ngql/SubgraphPlanner.cpp`` — iterative frontier
expansion collecting per-step vertex and edge sets, IN/OUT/BOTH, optional
filters, dedup via a visited map.

Spark-first: a vertex search on the counted level loop
(:func:`~nebula_spark.operators.traverse._counted_levels`) — each level
is the vids first reached one hop on, anti-joined against the visited
levels — then ONE join of the edge table against the per-level vertex
sets collects the edges, each under the step the reference's round loop
would give it. Returns (vertices_df, edges_df); edges_df keeps a
``step`` column (the reference reports per-step lists).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import DST, RANK, SRC, VID
from nebula_spark.operators.paths import _id_step
from nebula_spark.operators.traverse import (
    _broadcast_small, _counted_levels, oriented,
)


def k_hop_subgraph(edges: DataFrame, seeds: DataFrame, steps: int = 1,
                   direction: str = "both",
                   edge_filter: Column | None = None,
                   with_props: bool = True,
                   ) -> tuple[DataFrame, DataFrame]:
    """Expand ``steps`` hops from ``seeds``; return (vertices, edges).

    ``vertices``: (vid, step) — step = hop at which first reached (0=seed).
    ``edges``: oriented edge rows + ``step`` (hop that collected them):
    an edge whose source was reached at level l < ``steps`` has step l+1.
    Matching the reference, the closing round collects only edges *among*
    already-visited vertices (SubgraphExecutor.cpp: the last round keeps
    edges whose dst was seen before): an edge whose source is at level
    ``steps`` is kept, with step ``steps + 1``, only when its destination
    was visited. A frontier that dies before ``steps`` leaves no level
    ``steps`` and so no closing edges.
    """
    # An input that already carries ``_dir`` is pre-oriented (e.g. the nGQL
    # executor orients per IN/OUT/BOTH edge list); re-orienting would
    # overwrite direction identity and let dropDuplicates merge a real
    # out-edge a->b with the reversed image of an in-edge b->a.
    e_all = edges if "_dir" in edges.columns else oriented(edges, direction)
    if edge_filter is not None:
        e_all = e_all.filter(edge_filter)
    # every level's hop join and the closing edge join read the same
    # oriented edge frame — lazy-checkpoint it so level 1's job computes
    # it once and later jobs read the blocks instead of re-scanning the
    # source (blocks are reclaimed by the ContextCleaner; a persist()
    # could not be unpersisted before the caller materializes the lazy
    # result).
    # Kept by an A/B on the sf0.1 `subgraph` lane (8 interleaved runs, 4
    # cores): median 2.38 s, 17 jobs with it; 2.49 s, 18 jobs without.
    e_all = e_all.localCheckpoint(eager=False)

    def step(frontier: DataFrame, levels: list[DataFrame]) -> DataFrame:
        visited = reduce(DataFrame.unionByName, levels).select(VID)
        return _id_step(frontier, e_all, visited, keys=()) \
            .withColumn("step", F.lit(len(levels)))

    levels, counts = zip(*_counted_levels(
        seeds.select(VID).distinct().withColumn("step", F.lit(0)), step,
        steps))
    visited = reduce(DataFrame.unionByName, levels)
    # each edge takes its step from its source's level (see the docstring)
    src_level = _broadcast_small(
        visited.select(F.col(VID).alias(SRC), F.col("step").alias("_lv")),
        sum(counts))
    dst_seen = _broadcast_small(
        visited.select(F.col(VID).alias(DST), F.lit(True).alias("_seen")),
        sum(counts))
    collected = (e_all.join(src_level, SRC).join(dst_seen, DST, "left")
                 .filter((F.col("_lv") < steps) | F.col("_seen").isNotNull())
                 .select(*e_all.columns, "_lv")
                 .withColumn("step", F.col("_lv") + 1).drop("_lv"))
    # duplicate edge rows collapse; subgraph semantics are set semantics.
    # Identity INCLUDES the edge type: a teammate edge parallel to a
    # like edge shares (src, dst, rank) but is a distinct edge
    # (subgraph.feature "subgraph": both Tim↔Manu teammate rows)
    keys = [SRC, DST, RANK, "_dir"]
    if "_etype" in collected.columns:
        keys.append("_etype")
    collected = collected.dropDuplicates(keys)
    return visited.select(VID, "step"), collected
