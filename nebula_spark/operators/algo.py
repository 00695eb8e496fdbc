"""Iterative graph algorithms as Pregel-style DataFrame loops.

The reference has no PageRank (its algo executors cover paths/subgraph
only — ``src/graph/executor/algo/``); this module is the north-star
"GraphX-style iterative computation" surface: the driver loop is Python,
every superstep is a join + aggregate the optimizer plans, and the state
is checkpointed often enough that lineage stays flat.

Loop shapes:
- ``k_core`` is counted: each peel's edge subset is checkpointed with its
  row count (:func:`~nebula_spark.operators.traverse.checkpoint_count`),
  which sizes the next peel and stops the loop at the fixpoint.
- ``pagerank`` and ``label_propagation`` run a fixed number of supersteps
  with nothing to stop early on, so supersteps chain into one plan with
  an eager ``localCheckpoint`` every few of them. Their loop-invariant
  frames are lazily checkpointed; each such site carries the A/B that
  keeps it.

Scale notes (100 TB):
- rank state is (vid, rank) — linear in |V|; the contribution shuffle is
  keyed on dst, identical each superstep, so with edges pre-partitioned by
  src and AQE on, each iteration is one shuffle of |E| contributions.
- out-degree is computed once, cached, and joined on src — co-partitioned
  with the edge table's layout (`sources/sink.py` hash-distributes by src).
- without a cut the lineage doubles per superstep and planning dominates
  after ~10 rounds.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import DST, SRC
from nebula_spark.operators.traverse import checkpoint_count, sized_superstep


# Eager lineage cut every this many PageRank supersteps; the ones between
# chain lazily into one action-time job.
PAGERANK_CKPT_EVERY = 8
# The same cadence for label propagation supersteps.
LPA_CKPT_EVERY = 4


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected ``(u, v)`` pairs with ``u < v``: self-loops and
    pairs with a NULL endpoint (which least/greatest fold into a
    self-loop) are dropped."""
    return (edges.select(F.least(SRC, DST).alias("u"),
                         F.greatest(SRC, DST).alias("v"))
            .filter(F.col("u") != F.col("v")).distinct())


def _symmetric(und: DataFrame) -> DataFrame:
    return und.unionAll(und.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85) -> DataFrame:
    """Simplified PageRank: rank' = (1-d) + d * Σ_in rank/outdeg.

    Operates on distinct (src, dst) pairs; edges with a NULL endpoint are
    dropped. Dangling nodes keep the base (1-d) term (no redistribution),
    matching the common simplified form. Returns (vid, rank) after
    ``iterations`` synchronous supersteps.

    Job shape: supersteps chain lazily — one Catalyst plan holds up to
    :data:`PAGERANK_CKPT_EVERY` iterations, and every
    :data:`PAGERANK_CKPT_EVERY` iterations the rank frame is eagerly
    localCheckpoint-ed so deep runs keep a flat lineage. Each superstep
    is one contribution shuffle keyed on dst plus one vid-keyed join. The
    lazy checkpoints of the invariants below still run jobs when they are
    called (AQE runs their inputs' shuffle stages), so the 3-iteration
    sf0.1 lane (``q_pagerank``) runs 4 jobs during the call and 17 in all.
    """
    # The loop-invariant subtrees would otherwise be re-embedded (and
    # re-scanned) once per superstep: the 3-iteration static plan held 56
    # parquet scans and 0 ReusedExchange. A lazy localCheckpoint computes
    # each invariant once and later supersteps and jobs read its blocks;
    # the ContextCleaner frees them on GC (a persist() here could never
    # be unpersisted — the returned frame is lazy). Kept by an A/B on the
    # sf0.1 lane, 6 runs each: lazy 3.1–4.2 s, checkpoint_count 3.9–5.7 s,
    # no checkpoint 4.4–5.6 s.
    e = (edges.select(SRC, DST)
         .filter(F.col(SRC).isNotNull() & F.col(DST).isNotNull())
         .distinct().localCheckpoint(eager=False))
    nodes = (e.select(F.col(SRC).alias("vid"))
             .union(e.select(F.col(DST).alias("vid"))).distinct()
             .localCheckpoint(eager=False))
    deg = e.groupBy(SRC).agg(F.count(F.lit(1)).alias("outdeg"))
    # degree is loop-invariant: join it into the edge table ONCE — each
    # superstep then does a single rank join instead of rank+degree joins
    ew = (e.join(deg, SRC).select(SRC, DST, "outdeg")
          .localCheckpoint(eager=False))

    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(1, iterations + 1):
        # contribution sum is decimal-stabilized (the repo's float
        # discipline): double sums are shuffle-order-dependent, and a
        # rank landing on a rounding boundary flips the comparison
        contrib = (ew.join(ranks, ew[SRC] == ranks["vid"])
                   .select(F.col(DST).alias("vid"),
                           (F.col("rank") / F.col("outdeg"))
                           .cast("decimal(30,15)").alias("c")))
        sums = contrib.groupBy("vid").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(sums, "vid", "left")
                 .select("vid",
                         (F.lit(1.0 - damping)
                          + F.lit(damping)
                          * F.coalesce(F.col("s").cast("double"),
                                       F.lit(0.0)))
                         .alias("rank")))
        if i % PAGERANK_CKPT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count + clustering summary over an undirected view
    of (src, dst) pairs.

    Beyond-reference (the reference has no triangle/clustering operator;
    its algo executors are paths/subgraph only — ``src/graph/executor/
    algo/``). Returns ONE row: n_vertices, n_edges (undirected, distinct),
    n_triangles, global_clustering (3·triangles / open wedges).

    Scale design: the classic compact-forward algorithm. Edges are
    canonicalized u<v and then ORIENTED from the lower-(degree, id)
    endpoint to the higher — every triangle is counted exactly once at
    its minimum vertex, and the wedge join fans out from the LOW-degree
    side, so a hub of degree d generates O(d·avg_deg) wedge candidates
    instead of O(d²) (the standard mitigation that makes triangle
    counting survive power-law graphs at 100 TB). Two shuffles: the
    wedge self-join and the closing semi-join; both equi-joins AQE can
    re-plan. The total is orientation-invariant, so the DuckDB oracle
    can use the simpler u<v<w form and still match exactly.
    """
    und = _undirected(edges).persist()
    deg = (und.select(F.col("u").alias("vid"))
           .unionAll(und.select(F.col("v").alias("vid")))
           .groupBy("vid").agg(F.count(F.lit(1)).alias("deg")).persist())
    o = None
    try:
        # orient by (deg, vid) total order: low endpoint -> high endpoint
        du = deg.select(F.col("vid").alias("u"), F.col("deg").alias("du"))
        dv = deg.select(F.col("vid").alias("v"), F.col("deg").alias("dv"))
        lower = ((F.col("du") < F.col("dv"))
                 | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
        o = (und.join(du, "u").join(dv, "v")
             .select(F.when(lower, F.col("u")).otherwise(F.col("v")).alias("a"),
                     F.when(lower, F.col("v")).otherwise(F.col("u")).alias("b"))
             .persist())
        wedges = (o.alias("e1")
                  .join(o.alias("e2"), F.col("e1.b") == F.col("e2.a"))
                  .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                          F.col("e2.b").alias("z")))
        # close the wedge: (x,z) must be an oriented edge too
        closed = wedges.join(
            o, (F.col("x") == F.col("a")) & (F.col("z") == F.col("b")),
            "left_semi")
        tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
        summary = (deg.agg(
            F.count(F.lit(1)).alias("n_vertices"),
            (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long")
            .alias("n_wedges"))
            .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
            .crossJoin(tri)
            .select("n_vertices", "n_edges", "n_triangles",
                    F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
                    .alias("global_clustering")))
        return summary.localCheckpoint(eager=True)
    finally:
        und.unpersist()
        deg.unpersist()
        if o is not None:
            o.unpersist()


def k_core(edges: DataFrame, k: int, rounds: int | None = None) -> DataFrame:
    """k-core peeling over the undirected view of (src, dst): repeatedly
    drop vertices with degree < k until fixpoint (or ``rounds`` peels).

    Beyond-reference (no core-decomposition operator exists in the
    reference). Returns (vid, deg) for the surviving vertices with their
    degree inside the core.

    Scale design: each peel is one degree aggregation (map-side combined)
    plus two semi-joins of the edge table against the (shrinking) keep
    set — broadcastable as soon as the survivor set is small. State is
    the edge subset only, checkpointed per peel to keep lineage flat; the
    edge count rides each peel's checkpoint job (:func:`checkpoint_count`),
    sizes the next peel's shuffles and stops the loop at the fixpoint,
    O(peel-depth) supersteps. ``rounds`` caps the peels — the oracle's
    SQL-unrollable form; stopping before the cap at the fixpoint is exact,
    since a peel past it changes nothing.
    """
    e, n_e = checkpoint_count(_symmetric(_undirected(edges)))
    for _ in itertools.count() if rounds is None else range(rounds):
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        peeled = (e.join(keep, "u", "left_semi")
                  .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
                  .select("u", "v"))
        with sized_superstep(e.sparkSession, n_e):
            e, n2 = checkpoint_count(peeled)
        if n2 == n_e or n2 == 0:
            break
        n_e = n2
    return (e.groupBy(F.col("u").alias("vid"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k))


def label_propagation(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Synchronous label propagation over the undirected view of
    (src, dst): each superstep every vertex adopts its neighbors' most
    frequent label, ties broken by the smallest label — deterministic,
    unlike the usual randomized LPA, so results are reproducible and
    testable. Returns (vid, label) after ``iterations`` supersteps.

    Beyond-reference (no community-detection operator exists there; the
    separate nebula-algorithm project is out of scope per SURVEY §7).

    Scale design: label state is (vid, label) — linear in |V|. One
    superstep = join labels onto the symmetric edge list (shuffle keyed
    on vid, same key each round, so AQE reuses the exchange layout) +
    count per (vid, neighbor-label) + one min_by-style reduction. The
    reduction uses max_by over a (count, -label) ordering struct — a
    single map-side-combinable aggregate, no window. Supersteps chain
    lazily, with an eager localCheckpoint every :data:`LPA_CKPT_EVERY`
    to keep lineage flat.
    """
    # the loop-invariant symmetric edge list is lazily checkpointed so
    # each superstep reads the blocks its first touch wrote instead of
    # re-scanning the subtree (see pagerank above). Kept by an A/B on the
    # sf0.1 lane, 6 runs each: lazy 4.9–5.9 s, checkpoint_count 5.2–8.3 s,
    # no checkpoint 6.4–7.5 s.
    sym = _symmetric(_undirected(edges)).localCheckpoint(eager=False)
    labels = (sym.select(F.col("u").alias("vid")).distinct()
              .withColumn("label", F.col("vid")))
    for i in range(1, iterations + 1):
        nbr = (sym.join(labels, sym["v"] == labels["vid"])
               .select(F.col("u").alias("vid"), "label"))
        counts = (nbr.groupBy("vid", "label")
                  .agg(F.count(F.lit(1)).alias("n")))
        # most frequent label, smallest on ties — two map-side
        # combinable aggregates (max count per vid, then min label
        # among the rows at that count); works for any orderable
        # label type, no window
        w = counts.groupBy("vid").agg(F.max("n").alias("n_max"))
        labels = (counts.join(w, "vid")
                  .filter(F.col("n") == F.col("n_max"))
                  .groupBy("vid").agg(F.min("label").alias("label")))
        if i % LPA_CKPT_EVERY == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels
