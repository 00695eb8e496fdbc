"""Focused pins for the r12 optimization-round operator changes.

Guards: size-adaptive CC round partitioning (labels unchanged at any
width), the explicit NULL-endpoint contract, the distance-only
shortestPath route (root-cycle distances equal the path-carrying single
mode's rows, detector gating), and the narrowed LSH pair dedup.
"""

from pyspark.sql import functions as F


def test_cc_labels_identical_across_round_widths(spark):
    # the round width is derived from the observed node count and capped
    # at the session shuffle width — labels must be invariant to it
    from nebula_spark.pipeline import connected_components
    rows = [(0, 5), (5, 9), (9, 2), (20, 21), (22, 21), (7, 7), (40, 41)] \
        + [(i, i + 1) for i in range(100, 140)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    want = {(r.node, r.cluster_id)
            for r in connected_components(pairs).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for w in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", w)
            got = {(r.node, r.cluster_id)
                   for r in connected_components(pairs).collect()}
            assert got == want, w
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_cc_null_endpoints_dropped(spark):
    # (x, NULL) no longer collapses to a self-loop via least/greatest —
    # NULL-endpoint rows carry no connectivity and are dropped outright
    from nebula_spark.pipeline import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (3, None), (None, 4), (None, None), (5, 5)],
        "id_a long, id_b long")
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (5, 5)}


def test_cc_empty_input_converges_fast(spark):
    from nebula_spark.pipeline import connected_components
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def _dists_vs_paths(spark, edges, sources, max_hops, direction):
    from nebula_spark.operators.paths import (bfs_min_paths,
                                              bfs_shortest_paths)
    d = bfs_shortest_paths(edges, sources, max_hops=max_hops,
                           direction=direction, root_cycles=True)
    p = bfs_min_paths(edges, sources, max_hops=max_hops,
                      direction=direction, mode="single", min_hops=1,
                      self_loop_once=True)
    got = {(r["_src"], r["_dst"], r.dist) for r in d.collect()}
    want = {(r.start_vid, r.end_vid, r.hops) for r in p.collect()}
    assert got == want, (direction, max_hops, got ^ want)


def test_root_cycle_dists_match_single_mode(spark, nba):
    # row-set equality with the path-carrying single mode, including the
    # root-cycle rows (p1->p2->p1 2-cycle, p3 self-like 1-cycle)
    edges = nba["like"].withColumn("_etype", F.lit("like"))
    src = nba["player"].select(F.col("_vid"))
    for direction in ("out", "in"):
        for mh in (2, 3, 5):
            _dists_vs_paths(spark, edges, src, mh, direction)


def test_root_cycles_rejects_both(spark, nba):
    import pytest
    from nebula_spark.operators.paths import bfs_shortest_paths
    edges = nba["like"]
    src = nba["player"].select("_vid")
    with pytest.raises(ValueError):
        bfs_shortest_paths(edges, src, max_hops=2, direction="both",
                           root_cycles=True)


def test_path_contents_detector(spark):
    from nebula_spark.plans import ngql
    from nebula_spark.plans.executor import _stmt_path_contents_unused

    def flag(q):
        st = ngql.parse(q)
        return _stmt_path_contents_unused(
            st.stages[0] if hasattr(st, "stages") else st)

    base = "MATCH p = shortestPath((a:player)-[:like*1..2]->(b)) "
    assert flag(base + "RETURN length(p)")
    assert flag(base + "RETURN id(a), id(b), length(p) ORDER BY length(p)")
    assert not flag(base + "RETURN p")
    assert not flag(base + "RETURN nodes(p)")
    assert not flag(base + "RETURN relationships(p)")
    assert not flag(base + "WHERE length(p) > 1 RETURN p")
    assert not flag("MATCH p = shortestPath((a:player)-[e:like*1..2]->(b)) "
                    "RETURN e")
    assert not flag(base + "RETURN *")


def test_shortest_path_length_only_matches_path_route(spark, nba,
                                                      monkeypatch):
    # end-to-end: the SAME length-only statement must produce identical
    # rows through the dists route (detector on) and the path-carrying
    # route (detector forced off)
    from nebula_spark.catalog import GraphSpace
    from nebula_spark.plans import execute, executor
    sp = GraphSpace(spark, "t_r12")
    sp.create_tag("player", df=nba["player"])
    sp.create_tag("team", df=nba["team"])
    sp.create_edge("like", df=nba["like"])
    sp.create_edge("serve", df=nba["serve"])
    # shallow (*1..3) and deeper (*1..5) BFS levels; length(p) sizes the
    # dists route's typed-NULL path, so it must equal the path route's
    qs = [f"""
        MATCH p = shortestPath((a:player)-[:like|serve*1..{m}]->(b))
        RETURN id(a) AS s, id(b) AS e, length(p) AS h
    """ for m in (3, 5)]
    a = [{(r.s, r.e, r.h) for r in execute(sp, q).collect()} for q in qs]
    monkeypatch.setattr(executor, "_stmt_path_contents_unused",
                        lambda st: False)
    b = [{(r.s, r.e, r.h) for r in execute(sp, q).collect()} for q in qs]
    assert a == b and all(a)


def test_band_width_split_constants(spark):
    # the shared observed-width rule on a session wide enough (16) that an
    # unclamped join width (7) is really checked: join width scales up two
    # orders before the window width, both stay p=1 for sf0.1-sized
    # corpora, and every width clamps at the session shuffle width
    from nebula_spark.operators.traverse import observed_width
    from nebula_spark.pipeline import dedup as D
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        for n, want_join in ((0, 1), (20_000, 1), (200_000, 7),
                             (10**9, 16)):
            assert observed_width(spark, n, D._LSH_JOIN_ROWS_PER_TASK) \
                == want_join
        assert observed_width(spark, 20_000, D._LSH_BAND_ROWS_PER_TASK) == 1
        assert observed_width(spark, 200_000, D._LSH_BAND_ROWS_PER_TASK) == 1
        assert observed_width(spark, 7_000_000,
                              D._LSH_BAND_ROWS_PER_TASK) == 7
        assert observed_width(spark, 10**12) == 16    # cap never exceeded
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_lsh_pairs_est_before_dedup_unchanged(spark):
    # est computed pre-dropDuplicates must equal the old post-dedup zip
    from nebula_spark.pipeline import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(30)] + [(100, "completely different text here")],
        "doc_id long, text string")
    rows = minhash_lsh_pairs(docs, k=3, num_hashes=8, bands=4).collect()
    seen = set()
    for r in rows:
        assert (r.id_a, r.id_b) not in seen      # dedup held
        seen.add((r.id_a, r.id_b))
        assert r.id_a < r.id_b
        assert 0.0 <= r.est_jaccard <= 1.0
    # near-identical docs (same suffix class) must surface as pairs
    assert any(r.est_jaccard == 1.0 for r in rows)
