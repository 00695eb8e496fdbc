"""Pipeline operator tests: text stats, dedup family, similarity, multimodal
plumbing — on the driver's documents/embeddings tables plus tiny inline data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nebula_spark.pipeline import (
    brute_force_topk, exact_dedup, fingerprint, language_id,
    lsh_bucketed_topk, minhash_lsh_pairs, minhash_signatures,
    ngram_jaccard_pairs, quality_score, simhash64, token_count,
)
from nebula_spark.pipeline.dedup import shingles
from tests.conftest import SF_DIR, union_find_labels


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_text_stats(docs):
    t = F.col("text")
    rows = docs.limit(20).select(
        token_count(t).alias("n_tokens"), quality_score(t).alias("quality"),
        language_id(t).alias("lang_pred"), fingerprint(t).alias("fp64"),
    ).collect()
    assert all(r.n_tokens > 0 and 0 <= r.quality <= 1 for r in rows)
    assert all(r.lang_pred in ("en", "de", "fr", "es", "und") for r in rows)
    assert all(r.fp64 is not None for r in rows)


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string")
    out = exact_dedup(df).collect()
    assert len(out) == 2
    groups = {r.doc_id: r.dup_count for r in out}
    assert groups[1] == 2 and groups[3] == 1


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    got = df.select(shingles(F.col("t"), 2).alias("s")).first().s
    assert got == ["a b", "b c", "c d"]
    ch = df.select(shingles(F.col("t"), 3, "char").alias("s")).first().s
    assert "a b" in ch and len(ch) == 5


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different text entirely here now")],
        "doc_id long, text string")
    out = ngram_jaccard_pairs(df, k=2, threshold=0.3).collect()
    assert len(out) == 1
    assert (out[0].id_a, out[0].id_b) == (1, 2) and out[0].jaccard > 0.5


def test_minhash_detects_neardups(spark):
    base = "word%d " * 50
    a = base % tuple(range(50))
    b = base % tuple(list(range(49)) + [99])  # one token changed
    c = "totally unrelated content " * 10
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string")
    sigs = {r.id: r.sig for r in minhash_signatures(df, k=3).collect()}
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2])) / len(sigs[1])
    assert agree > 0.5
    pairs = minhash_lsh_pairs(df, k=3).collect()
    ids = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in ids
    assert all(p != (1, 3) and p != (2, 3) for p in ids)


def test_lsh_star_edges_same_clusters_linear_output(spark):
    """Star edges (doc → bucket-min) must yield IDENTICAL connected
    components as the all-pairs bucket cliques while staying linear in
    bucket size — the 100 TB dedup shape (a clone-heavy template must
    not emit a quadratic pair list; r10 skew-probe finding)."""
    from nebula_spark.pipeline import connected_components, lsh_star_edges
    tmpl = "the same duplicated template text repeated often enough "
    rows = [(i, tmpl + f"tail{i % 3}") for i in range(30)]       # clones
    rows += [(100 + i, f"unique document number {i} " * 8 +
              f"salt{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, k=3, num_hashes=8, bands=4)
    star = lsh_star_edges(df, k=3, num_hashes=8, bands=4)
    n_pairs, n_star = pairs.count(), star.count()
    # the clone group produces a quadratic clique but a linear star
    assert n_star < n_pairs, (n_star, n_pairs)
    c_pairs = {(r.node, r.cluster_id) for r in
               connected_components(pairs, "id_a", "id_b").collect()}
    c_star = {(r.node, r.cluster_id) for r in
              connected_components(star, "id_a", "id_b").collect()}
    assert c_pairs == c_star


def test_simhash_close_for_neardups(spark):
    a = " ".join(f"tok{i}" for i in range(60))
    b = " ".join(f"tok{i}" for i in range(59)) + " changed"
    c = " ".join(f"zzz{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string")
    h = {r.id: r.simhash for r in simhash64(df).collect()}
    def ham(x, y):
        return bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(h[1], h[2]) < ham(h[1], h[3])
    assert ham(h[1], h[2]) <= 16


def test_brute_force_topk(embs):
    q = embs.limit(3).select(F.col("vec_id").alias("qid"),
                             F.col("embedding").alias("qvec"))
    out = brute_force_topk(embs, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    # self-match ranks first with cosine ~1
    firsts = {r.qid: (r.cid, r.cosine) for r in rows if r.rank == 1}
    for qid, (cid, cos) in firsts.items():
        assert cid == qid and cos >= 0.999999


def test_lsh_topk_subset_of_bucket(embs):
    q = embs.limit(2).select(F.col("vec_id").alias("qid"),
                             F.col("embedding").alias("qvec"))
    out = lsh_bucketed_topk(embs, q, k=5, n_planes=4).collect()
    assert len(out) > 0
    for r in out:
        assert r.rank <= 5
    # self-vector always lands in its own bucket → rank-1 self match
    firsts = {r.qid: r.cid for r in out if r.rank == 1}
    assert all(cid == qid for qid, cid in firsts.items())


def test_multimodal_fake_decode(spark):
    from nebula_spark.pipeline.multimodal import frame_sample, image_features
    df = spark.createDataFrame(
        [(1, bytearray(b"imgdata1")), (2, bytearray(b"imgdata2"))],
        "doc_id long, content binary")
    out = image_features(df, fake=True).collect()
    assert len(out) == 2
    assert all(len(r.feat) == 8 and r.channels == 3 for r in out)
    # deterministic: same content → same fake features
    again = image_features(df, fake=True).collect()
    assert sorted((r.doc_id, r.width) for r in again) == \
        sorted((r.doc_id, r.width) for r in out)
    frames = frame_sample(df, fake=True, every_n=7).collect()
    assert len(frames) > 0 and all(r.frame_idx % 7 == 0 for r in frames)
    with pytest.raises(Exception, match="Pillow|NotImplemented"):
        image_features(df, fake=False).collect()


def test_multimodal_real_decode_with_pillow(spark):
    """Runs only where Pillow exists (a real cluster): the import-guarded
    real decoder produces metadata + a 14-dim feature with zero code
    change vs the fake path."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from nebula_spark.pipeline.multimodal import image_features
    buf = io.BytesIO()
    Image.new("RGB", (5, 3), (255, 0, 0)).save(buf, format="PNG")
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                               "doc_id long, content binary")
    r = image_features(df, fake=False).collect()[0]
    assert (r.width, r.height, r.channels) == (5, 3, 3)
    assert r.format == "pil/rgb" and len(r.feat) == 14
    assert abs(r.feat[0] - 1.0) < 1e-6  # red mean


def test_connected_components_clusters(spark):
    from nebula_spark.pipeline import connected_components
    # two components: {1,2,3,4} via a chain (merges across iterations)
    # and {10,11}; 20-20 self-pair keeps a singleton
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 4), (10, 11), (20, 20)], ["id_a", "id_b"])
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (20, 20)}


def test_connected_components_min_label_deterministic(spark):
    from nebula_spark.pipeline import connected_components
    # star centered on the max id — min label must still win everywhere
    pairs = spark.createDataFrame(
        [(99, 1), (99, 2), (99, 3)], ["id_a", "id_b"])
    got = {r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1}


def test_no_persist_leaks_after_queries(spark):
    """Library operators must not leave orphaned cache entries: every
    persist() is paired with an unpersist, and multi-read intermediates use
    localCheckpoint (whose blocks the ContextCleaner reclaims once the
    result is garbage-collected). Runs the operators the round-2 audit
    flagged (minhash_lsh_pairs, k_hop_subgraph), drops the results, and
    asserts the persistent-RDD map drains."""
    import gc
    import time

    from nebula_spark.operators.subgraph import k_hop_subgraph

    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} shared common words") for i in range(20)],
        "doc_id long, text string")
    minhash_lsh_pairs(df, k=3).collect()
    edges = spark.createDataFrame(
        [("a", "b", 0), ("b", "c", 0), ("c", "d", 0)],
        "_src string, _dst string, _rank long")
    seeds = spark.createDataFrame([("a",)], ["_vid"])
    v, e = k_hop_subgraph(edges, seeds, steps=2)
    v.collect(), e.collect()
    del v, e
    gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    # explicit persist() leaks would stay cached forever; localCheckpoint
    # blocks are freed by the ContextCleaner, which fires on JVM GC — so
    # drive both GCs and assert the block storage (not the weak-valued id
    # map, whose stale entries evict lazily) drains
    for _ in range(40):
        if len(jsc.getRDDStorageInfo()) == 0:
            break
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
    assert len(jsc.getRDDStorageInfo()) == 0


def test_cc_chain_converges_fast(spark):
    """1000-node sorted chain, the long-diameter case for min-label
    propagation (1000 supersteps without pointer jumping): every node is
    labelled with the component min."""
    from nebula_spark.pipeline import connected_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], ["id_a", "id_b"])
    got = connected_components(pairs).collect()
    assert len(got) == 1000
    assert all(r.cluster_id == 0 for r in got)


def test_cc_mixed_graph_matches_union_find(spark):
    """Two chains, a star, a self-loop singleton, shuffled ids."""
    from nebula_spark.pipeline import connected_components
    raw = ([(2, 3), (1, 2), (3, 4), (10, 11), (20, 20), (99, 1),
            (50, 41), (41, 33), (33, 60), (60, 50)])
    pairs = spark.createDataFrame(raw, ["id_a", "id_b"])
    got = {(r.node, r.cluster_id)
           for r in connected_components(pairs).collect()}
    assert got == union_find_labels(raw)


def test_ivf_topk_self_match_and_recall(embs):
    """IVF coarse quantizer: a query that is a corpus vector reaches its
    own cell for any nprobe >= 1 (both sides rank centroids identically),
    so rank-1 is always the self match; with nprobe covering half the
    cells, top-1 recall vs brute force should be exact here and top-k
    results must be a subset of the cells' contents (cosines never exceed
    the brute-force kth... checked via subset of brute top-20)."""
    from nebula_spark.pipeline import brute_force_topk, ivf_topk

    q = embs.limit(3).select(F.col("vec_id").alias("qid"),
                             F.col("embedding").alias("qvec"))
    got = ivf_topk(embs, q, k=5, n_centroids=8, nprobe=4).collect()
    assert len(got) == 15
    firsts = {r.qid: (r.cid, r.cosine) for r in got if r.rank == 1}
    for qid, (cid, cos) in firsts.items():
        assert cid == qid and cos >= 0.999999
    # every IVF hit appears in the brute-force top-20 for that query
    brute = brute_force_topk(embs, q, k=20).collect()
    allowed = {(r.qid, r.cid) for r in brute}
    assert all((r.qid, r.cid) in allowed for r in got)


def test_queries_entries_drain_persistent_storage(spark):
    """The round-2 verdict's done-criterion for the persist sweep: after a
    queries() entry completes, no cache entry survives. Runs the
    persist-heaviest entries (iterative loops, BFS, LSH, subgraph) at
    sf0.001 and asserts block storage drains once results are released —
    explicit persists must be paired with unpersist inside the operator,
    and checkpoint blocks must be ContextCleaner-reclaimable."""
    import gc
    import time

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()
    names = ["bfs_targets", "paths_query", "shortest_path_fn", "subgraph",
             "go_1to2", "pagerank", "minhash_lsh_pairs", "dedup_clusters"]
    qs = entry.queries()
    for name in names:
        qs[name](spark, sf).collect()
        gc.collect()
        for _ in range(40):
            if len(jsc.getRDDStorageInfo()) == 0:
                break
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.25)
        leaked = [(i.id(), i.name()) for i in jsc.getRDDStorageInfo()]
        assert not leaked, f"{name} leaked cached RDDs: {leaked}"
