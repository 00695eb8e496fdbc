"""Focused pins for the r11 optimization-round operator changes.

Each test guards an internals change against the semantics it must
preserve: connected components against a plain-Python union-find, the
O(n log n) top-bigram rewrite, and fixed-iteration or depth-capped loops
(pagerank / k-core / BFS) against their deeper or fixpoint runs.
"""

import pytest
from pyspark.sql import functions as F


def test_cc_pointer_jump_long_chain_min_label(spark):
    # a 30-node chain: depth defeats per-hop propagation unless the jump
    # compresses label chains; fixpoint must still be the component min
    from nebula_spark.pipeline import connected_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(31)}


def test_cc_pointer_jump_matches_union_find(spark):
    from nebula_spark.pipeline import connected_components
    from tests.conftest import union_find_labels
    rows = [(0, 5), (5, 9), (9, 2), (20, 21), (22, 21), (7, 7), (40, 41)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == union_find_labels(rows)


def test_repetition_top_bigram_matches_bruteforce(spark):
    from collections import Counter

    from nebula_spark.pipeline.curate import repetition_stats
    docs = [
        (1, "a b a b a b c"),          # 'a b' x3
        (2, "x y z"),                  # all bigrams unique
        (3, "w w w w"),                # 'w w' x3
        (4, "solo"),                   # no bigram
        (5, "p q p q r p q"),          # 'p q' x3 split by other runs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.top_bigram_frac
           for r in repetition_stats(df).collect()}
    for did, text in docs:
        w = text.split()
        bi = [" ".join(w[i:i + 2]) for i in range(len(w) - 1)]
        want = (round(max(Counter(bi).values()) / len(bi), 6)
                if bi else 0.0)
        assert got[did] == want, (did, got[did], want)


def test_pagerank_ten_iterations_match_recurrence(spark):
    # ten supersteps cross the eager lineage cut at SUPERSTEP_CKPT_EVERY;
    # the cut must not change the recurrence
    from nebula_spark.operators.algo import pagerank
    from nebula_spark.operators.traverse import SUPERSTEP_CKPT_EVERY
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (5, 1)]
    assert SUPERSTEP_CKPT_EVERY < 10
    edges = spark.createDataFrame(pairs, "_src long, _dst long")
    outdeg = {s: sum(1 for a, _ in pairs if a == s) for s, _ in pairs}
    rank = {v: 1.0 for p in pairs for v in p}
    for _ in range(10):
        rank = {v: 0.15 + 0.85 * sum(rank[s] / outdeg[s]
                                     for s, d in pairs if d == v)
                for v in rank}
    got = {r.vid: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert got.keys() == rank.keys()
    assert all(abs(got[v] - rank[v]) < 1e-9 for v in rank), (got, rank)


def test_label_propagation_ten_iterations_match_rule(spark):
    # ten supersteps cross the eager lineage cut twice; each round every
    # vertex takes its neighbours' most frequent label, the smallest on
    # ties, over the undirected, deduplicated, loop-free edge set
    from collections import Counter

    from nebula_spark.operators.algo import label_propagation
    from nebula_spark.operators.traverse import SUPERSTEP_CKPT_EVERY
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (6, 7), (7, 8), (8, 9), (9, 7), (2, 1), (5, 5), (10, 11)]
    assert 2 * SUPERSTEP_CKPT_EVERY < 10
    nbrs: dict[int, list[int]] = {}
    for a, b in {(min(p), max(p)) for p in pairs if p[0] != p[1]}:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)

    def adopt(labels):
        n = Counter(labels)
        return min(n, key=lambda x: (-n[x], x))

    label = {v: v for v in nbrs}
    for _ in range(10):
        label = {v: adopt(label[u] for u in ns) for v, ns in nbrs.items()}
    edges = spark.createDataFrame(pairs, "_src long, _dst long")
    got = {r.vid: r.label
           for r in label_propagation(edges, iterations=10).collect()}
    assert got == label


def test_pagerank_drops_null_endpoint_edges(spark):
    # a NULL endpoint is neither a vertex nor an out-edge of the other one
    from nebula_spark.operators.algo import pagerank
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (2, 1)], "_src long, _dst long")
    got = {r.vid: r.rank for r in pagerank(edges, 2).collect()}
    assert got.keys() == {1, 2}
    assert all(abs(r - 1.0) < 1e-9 for r in got.values()), got


def test_k_core_fixed_rounds_matches_fixpoint_when_converged(spark):
    from nebula_spark.operators.algo import k_core
    edges = spark.createDataFrame(
        # K4 on {1,2,3,4} plus a tail 4-5-6 that peels away at k=3
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "_src long, _dst long")
    fixed = {(r.vid, r.deg)
             for r in k_core(edges, k=3, rounds=4).collect()}
    fixpoint = {(r.vid, r.deg)
                for r in k_core(edges, k=3, rounds=None).collect()}
    assert fixed == fixpoint == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_bfs_lazy_matches_counted_loop(spark):
    # depth-3 graph: a search capped at its depth (max_hops=3) and one
    # far past it (max_hops=10, which stops on an empty frontier) give
    # identical distances
    from nebula_spark.operators.paths import bfs_shortest_paths
    edges = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 0), (3, 4, 0), (1, 3, 0), (9, 9, 0)],
        "_src long, _dst long, _rank long")
    seeds = spark.createDataFrame([(1,), (9,)], "_vid long")
    lazy = {(r._src, r._dst, r.dist)
            for r in bfs_shortest_paths(edges, seeds, max_hops=3).collect()}
    counted = {(r._src, r._dst, r.dist)
               for r in bfs_shortest_paths(edges, seeds,
                                           max_hops=10).collect()}
    assert lazy == counted
    assert lazy == {(1, 2, 1), (1, 3, 1), (1, 4, 2)}


def test_bfs_min_paths_lazy_matches_counted(spark):
    # the same pin for minimal paths: capped at the graph's depth vs far
    # past it
    from nebula_spark.operators.paths import bfs_min_paths
    edges = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 0), (1, 3, 0), (3, 4, 0)],
        "_src long, _dst long, _rank long")
    seeds = spark.createDataFrame([(1,)], "_vid long")

    def key(rows):
        return {(r.start_vid, r.end_vid, r.hops,
                 tuple((h.s, h.d, h.r, h.t) for h in r.path)) for r in rows}

    lazy = key(bfs_min_paths(edges, seeds, max_hops=3, mode="all").collect())
    counted = key(bfs_min_paths(edges, seeds, max_hops=9,
                                mode="all").collect())
    assert lazy == counted
    # minimality: 3 only via the direct 1->3 edge, 4 at 2 hops
    assert {(s, e, h) for s, e, h, _ in lazy} == {
        (1, 2, 1), (1, 3, 1), (1, 4, 2)}


# ladder: direct expensive edges that cheaper multi-hop chains beat
_LADDER = ([(0, i + 1, 0, float(10 * (i + 1))) for i in range(8)]
           + [(i, i + 1, 0, 1.5) for i in range(8)]
           + [(3, 7, 0, 2.0), (7, 2, 0, 0.25), (5, 5, 0, 0.0)])
WEIGHTED_GRAPHS = {
    "ladder": _LADDER,
    # 60 relaxation rounds deep
    "unit-chain-60": [(i, i + 1, 0, 1.0) for i in range(60)],
    # a NULL weight carries no distance: 1 and 2 stay unreached
    "null-weight": [(0, 1, 0, None), (1, 2, 0, 1.0)],
    "zero-weight-cycle": [(0, 1, 0, 0.0), (1, 2, 0, 0.0), (2, 0, 0, 0.0),
                          (2, 3, 0, 2.5), (0, 3, 0, 5.0)],
    "parallel-edges": [(0, 1, 0, 3.0), (0, 1, 1, 1.0), (0, 1, 2, None),
                       (1, 2, 0, 2.0), (1, 2, 1, 0.5), (0, 2, 0, 4.0)],
    # a NULL endpoint is no vertex to reach
    "null-endpoint": [(0, 1, 0, 1.0), (1, None, 0, 2.0), (None, 2, 0, 1.0)],
}


@pytest.mark.parametrize("graph", list(WEIGHTED_GRAPHS))
def test_weighted_superstep_merge_matches_dijkstra(spark, graph):
    # r11: the Bellman-Ford superstep fused the improved-frontier join
    # into the tentative-min aggregate (tagged conditional min). Pin the
    # result against a Python Dijkstra oracle that skips edges with a
    # NULL weight or endpoint: the ladder forces repeated re-relaxation of
    # reached vertices, and the others pin a deep chain, NULL weights, a
    # zero-weight cycle, parallel edges and NULL endpoints.
    import heapq

    from nebula_spark.operators.paths import weighted_shortest_paths

    rows = WEIGHTED_GRAPHS[graph]
    e = spark.createDataFrame(
        rows, "_src long, _dst long, _rank long, weight double")

    adj = {}
    for s, d, _, w in rows:
        if None not in (s, d, w):
            adj.setdefault(s, []).append((d, w))
    dist = {0: 0.0}
    pq = [(0.0, 0)]
    while pq:
        dv, v = heapq.heappop(pq)
        if dv > dist.get(v, float("inf")):
            continue
        for d, w in adj.get(v, ()):
            nd = dv + w
            if nd < dist.get(d, float("inf")):
                dist[d] = nd
                heapq.heappush(pq, (nd, d))

    src = spark.createDataFrame([(0,)], ["_vid"])
    got = {r["_dst"]: r.dist
           for r in weighted_shortest_paths(e, src).collect()}
    assert got == dist


def test_consecutive_grams_matches_index_transform(spark):
    # zipped-slices n-grams (r11 third pass) vs a Python oracle, over the
    # edge cases that an unconditional column hoist exposes: empty array,
    # array shorter than n, NULL array, and n in {2, 3, 5}
    from nebula_spark.pipeline.dedup import consecutive_grams
    from pyspark.sql import functions as F

    rows = [(1, ["a", "b", "c", "d"]), (2, ["x"]), (3, []),
            (4, None), (5, ["p", "q"]), (6, list("abcdefg"))]
    df = spark.createDataFrame(rows, "id long, arr array<string>")
    for n in (2, 3, 5):
        got = {r.id: r.g for r in df.select(
            "id", consecutive_grams(F.col("arr"), n).alias("g")).collect()}
        for rid, arr in rows:
            if arr is None:
                assert got[rid] is None, (n, rid, got[rid])
            else:
                want = [" ".join(arr[i:i + n])
                        for i in range(max(len(arr) - n + 1, 0))]
                assert got[rid] == want, (n, rid, got[rid], want)


def test_repetition_stats_single_word_and_null_text(spark):
    # the hoisted _rs_bounds column computes for every row — it must not
    # evaluate element_at(bs, 0) on empty/NULL bigram arrays (the
    # sequence(1, 0)-is-descending trap caught at the r11 third pass)
    from nebula_spark.pipeline.curate import repetition_stats
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "a a")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].top_bigram_frac == 0.0
    assert got[4].top_bigram_frac == 1.0


def test_connected_components_empty_pairs_terminates(spark):
    # the convergence probe's label SUM over an empty labeling is NULL,
    # and NULL == NULL never satisfies the fixpoint check — the r11
    # fourth-pass coalesce folds it to 0 so an empty pair list converges
    # at the first comparison instead of looping max_iter checkpoints
    from nebula_spark.pipeline import connected_components
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []
