"""Iterative graph algorithms as Pregel-style DataFrame loops.

The reference has no PageRank (its algo executors cover paths/subgraph
only — ``src/graph/executor/algo/``); this module is the north-star
"GraphX-style iterative computation" surface: the driver loop is Python,
every superstep is a join + aggregate the optimizer plans, and the state
is checkpointed often enough that lineage stays flat.

Loop shapes: each loop here is the vertex-state superstep loop
(:func:`~nebula_spark.operators.traverse._vertex_rounds`). ``k_core`` runs
it counted, until no vertex is left to peel. ``pagerank`` and
``label_propagation`` run a fixed number of supersteps, chained lazily
between eager cuts; their loop-invariant frames are lazily checkpointed,
and each such site carries the A/B that keeps it.

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import DST, SRC
from nebula_spark.operators.traverse import (_vertex_rounds, checkpoint_count,
                                             sized_superstep)


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

    Job shape: supersteps chain lazily, cut every ``SUPERSTEP_CKPT_EVERY``
    (``traverse._vertex_rounds``). Each superstep is one contribution
    shuffle keyed on dst plus one vid-keyed join. The
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

    def superstep(ranks: DataFrame, _n) -> DataFrame:
        # contribution sum is decimal-stabilized (the repo's float
        # discipline): double sums are shuffle-order-dependent, and a
        # rank landing on a rounding boundary flips the comparison
        contrib = (ew.join(ranks, ew[SRC] == ranks["vid"])
                   .select(F.col(DST).alias("vid"),
                           (F.col("rank") / F.col("outdeg"))
                           .cast("decimal(30,15)").alias("c")))
        sums = contrib.groupBy("vid").agg(F.sum("c").alias("s"))
        return (nodes.join(sums, "vid", "left")
                .select("vid",
                        (F.lit(1.0 - damping)
                         + F.lit(damping)
                         * F.coalesce(F.col("s").cast("double"),
                                      F.lit(0.0)))
                        .alias("rank")))

    return _vertex_rounds(nodes.withColumn("rank", F.lit(1.0)), superstep,
                          rounds=iterations)


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

    Scale design: the state is ``(u, deg)`` on the counted vertex loop
    (``traverse._vertex_rounds``), active while ``deg < k``. A peel
    semi-joins the checkpointed symmetric edges against the survivors on
    both ends and re-aggregates ``deg``; the symmetric edge count sizes
    the whole loop once. Trade-off: each peel scans all of the symmetric
    edges, not the shrinking subset. ``rounds`` caps the peels — the
    oracle's SQL-unrollable form; stopping before the cap at the fixpoint
    is exact, since a peel past it changes nothing.
    """
    sym, n_e = checkpoint_count(_symmetric(_undirected(edges)))
    deg = F.col("deg")

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    def peel(state: DataFrame, _n) -> DataFrame:
        keep = state.filter(deg >= k).select("u")
        return degrees(sym.join(keep, "u", "left_semi")
                       .join(keep.select(F.col("u").alias("v")), "v",
                             "left_semi"))

    with sized_superstep(sym.sparkSession, n_e):
        state = _vertex_rounds(degrees(sym), peel, deg < k, rounds)
    return state.filter(deg >= k).select(F.col("u").alias("vid"), deg)


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
    lazily as in :func:`pagerank`.
    """
    # the loop-invariant symmetric edge list is lazily checkpointed so
    # each superstep reads the blocks its first touch wrote instead of
    # re-scanning the subtree (see pagerank above). Kept by an A/B on the
    # sf0.1 lane, 6 runs each: lazy 4.9–5.9 s, checkpoint_count 5.2–8.3 s,
    # no checkpoint 6.4–7.5 s.
    sym = _symmetric(_undirected(edges)).localCheckpoint(eager=False)

    def superstep(labels: DataFrame, _n) -> DataFrame:
        nbr = (sym.join(labels, sym["v"] == labels["vid"])
               .select(F.col("u").alias("vid"), "label"))
        counts = (nbr.groupBy("vid", "label")
                  .agg(F.count(F.lit(1)).alias("n")))
        # most frequent label, smallest on ties — two map-side
        # combinable aggregates (max count per vid, then min label
        # among the rows at that count); works for any orderable
        # label type, no window
        w = counts.groupBy("vid").agg(F.max("n").alias("n_max"))
        return (counts.join(w, "vid")
                .filter(F.col("n") == F.col("n_max"))
                .groupBy("vid").agg(F.min("label").alias("label")))

    labels = (sym.select(F.col("u").alias("vid")).distinct()
              .withColumn("label", F.col("vid")))
    return _vertex_rounds(labels, superstep, rounds=iterations)
