"""Curation operators (pipeline/curate.py) + graph analytics
(algo.triangle_count / k_core): unit tests on hand-built frames where the
expected values are computed independently in Python."""

from __future__ import annotations

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from nebula_spark.operators.algo import k_core, triangle_count
from nebula_spark.pipeline.curate import (
    global_shuffle, pii_counts, pii_scrub, repetition_stats, shuffle_key,
    split_assign, stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e f g h"),                     # all distinct
        (2, "x x x x x x"),                         # one word repeated
        (3, "to be or not to be"),                  # repeated bigram "to be"
        (4, "one two three one two three one two"),  # repeated trigram
        (5, "solo"),                                # single word: no ngrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_values(docs):
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert got[1]["dup_word_frac"] == 0.0
    assert got[2]["dup_word_frac"] == pytest.approx(1 - 1 / 6)
    # "x x"×5 bigrams, all identical
    assert got[2]["top_bigram_frac"] == 1.0
    # "to be" appears twice among 5 bigrams
    assert got[3]["top_bigram_frac"] == pytest.approx(2 / 5)
    # trigrams of doc4: 6 total, "one two three"×2 ,"two three one"×2,
    # "three one two"×2 → 3 distinct → dup frac 0.5
    assert got[4]["dup_trigram_frac"] == pytest.approx(0.5)
    # single-word doc: no bigrams/trigrams → 0.0, not null
    assert got[5]["top_bigram_frac"] == 0.0
    assert got[5]["dup_trigram_frac"] == 0.0


def _py_bucket(key: str, buckets: int = 1000) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % buckets


def test_split_assign_matches_md5_and_is_stable(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["split"]
           for r in split_assign(df, "doc_id", seed=42).collect()}
    for i in (0, 7, 123, 499):
        b = _py_bucket(f"{i}:42")
        want = "train" if b < 900 else ("val" if b < 950 else "test")
        assert got[i] == want
    # appending rows never moves existing ones
    df2 = spark.range(1000).withColumnRenamed("id", "doc_id")
    got2 = {r["doc_id"]: r["split"]
            for r in split_assign(df2, "doc_id", seed=42).collect()}
    assert all(got2[k] == v for k, v in got.items())


def test_split_assign_rejects_bad_weights(spark):
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        split_assign(df, weights=(0.5, 0.2), names=("a", "b", "c"))


def test_stratified_sample_exact_n_and_deterministic(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    s1 = stratified_sample(df, ["grp"], 10, seed=7)
    s2 = stratified_sample(df, ["grp"], 10, seed=7)
    counts = {r["grp"]: r["n"] for r in
              s1.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 10, "g1": 10, "g2": 10}
    assert sorted(r["doc_id"] for r in s1.collect()) == \
        sorted(r["doc_id"] for r in s2.collect())
    # a different seed draws a different sample
    s3 = stratified_sample(df, ["grp"], 10, seed=8)
    assert sorted(r["doc_id"] for r in s3.collect()) != \
        sorted(r["doc_id"] for r in s1.collect())


def test_global_shuffle_is_total_deterministic_permutation(spark):
    df = spark.range(200).withColumnRenamed("id", "doc_id")
    out = global_shuffle(df, "doc_id", seed=3, num_partitions=4)
    rows = out.collect()  # collect preserves partition order: 0,1,2,3
    keys = [r["shuffle_key"] for r in rows]
    assert sorted(r["doc_id"] for r in rows) == list(range(200))
    # range-partitioned + sorted within → globally sorted by key
    assert keys == sorted(keys)
    want = int(hashlib.md5(b"shuf:3:17").hexdigest()[:15], 16)
    got17 = {r["doc_id"]: r["shuffle_key"] for r in rows}[17]
    assert got17 == want


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org now"),
         (2, "call 555-1234 or visit https://ex.org/a?b=1 ok"),
         (3, "host 10.0.3.42 up"),
         (4, "clean text no pii at all")],
        "doc_id long, text string")
    out = df.select(
        "doc_id", pii_scrub(F.col("text")).alias("s"),
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()])
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["s"] == "mail <EMAIL> now"
    assert got[1]["n_email"] == 1
    assert got[2]["s"] == "call <PHONE> or visit <URL> ok"
    assert got[2]["n_phone"] == 1 and got[2]["n_url"] == 1
    assert got[3]["s"] == "host <IP> up"
    assert got[3]["n_ipv4"] == 1
    assert got[4]["s"] == "clean text no pii at all"
    assert all(got[4][k] == 0 for k in
               ("n_email", "n_phone", "n_ipv4", "n_url"))


# -- graph analytics --------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "_src long, _dst long")


def test_triangle_count_known_graph(spark):
    # K4 on {1..4} (4 triangles) + pendant 5 + disconnected edge 6-7
    pairs = list(itertools.combinations([1, 2, 3, 4], 2)) + \
        [(4, 5), (6, 7)]
    got = triangle_count(_edges(spark, pairs)).collect()[0]
    assert got["n_vertices"] == 7
    assert got["n_edges"] == 8
    assert got["n_triangles"] == 4
    # wedges: deg 3,3,3,4,1,1,1 → 3+3+3+6 = 15 → C = 12/15
    assert got["global_clustering"] == pytest.approx(0.8)


def test_triangle_count_direction_and_dup_insensitive(spark):
    # same triangle given twice, reversed, with a self-loop
    pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 3)]
    got = triangle_count(_edges(spark, pairs)).collect()[0]
    assert got["n_triangles"] == 1 and got["n_edges"] == 3


def test_k_core_peels_to_fixpoint(spark):
    # K4 core + a chain hanging off it: chain peels away, K4 survives k=3
    pairs = list(itertools.combinations([1, 2, 3, 4], 2)) + \
        [(4, 5), (5, 6), (6, 7)]
    got = k_core(_edges(spark, pairs), k=3).collect()
    assert sorted(r["vid"] for r in got) == [1, 2, 3, 4]
    assert all(r["deg"] == 3 for r in got)


def test_k_core_fixed_rounds_partial_peel(spark):
    # chain 1-2-3-4-5 with k=2: endpoints peel one per round from each end
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    r1 = k_core(_edges(spark, pairs), k=2, rounds=1).collect()
    # after one peel (drop 1,5) the final deg>=k filter drops 2,4 too
    assert sorted(r["vid"] for r in r1) == [3]
    r_fix = k_core(_edges(spark, pairs), k=2).collect()
    assert r_fix == []


def _peel(pairs, k, rounds):
    """Plain-Python k-core: ``rounds`` peels over the undirected edge set,
    then the final degree filter ({vid: deg})."""
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}

    def degrees():
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        return deg
    for _ in range(rounds):
        keep = {v for v, d in degrees().items() if d >= k}
        und = {(a, b) for a, b in und if a in keep and b in keep}
    return {v: d for v, d in degrees().items() if d >= k}


@pytest.mark.parametrize("rounds", [1, 2, 3, 9])
def test_k_core_rounds_cap_matches_unrolled_peel(spark, rounds):
    # a 5-cycle with a 4-vertex tail: at k=2 the tail peels one vertex a
    # round, so the fixpoint takes 4 peels and 1-3 rounds stop short of it
    pairs = ([(i, (i + 1) % 5) for i in range(5)]
             + [(4, 5), (5, 6), (6, 7), (7, 8)])
    got = {r["vid"]: r["deg"]
           for r in k_core(_edges(spark, pairs), k=2, rounds=rounds).collect()}
    assert got == _peel(pairs, 2, rounds)
    assert (got == _peel(pairs, 2, 9)) == (rounds >= 4)


def test_shuffle_key_column_usable_standalone(spark):
    df = spark.range(5).select(
        shuffle_key(F.col("id"), seed=1).alias("k"))
    assert df.distinct().count() == 5


def test_label_propagation_two_communities(spark):
    # two K4 cliques bridged by one edge: labels converge to each
    # clique's smallest vid
    c1 = list(itertools.combinations([1, 2, 3, 4], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    from nebula_spark.operators.algo import label_propagation
    got = {r["vid"]: r["label"]
           for r in label_propagation(
               _edges(spark, c1 + c2 + [(4, 10)]), iterations=5).collect()}
    assert all(got[v] == 1 for v in (1, 2, 3, 4))
    assert all(got[v] == 10 for v in (10, 11, 12, 13))


def test_label_propagation_deterministic(spark):
    import random
    pairs = [(random.Random(7).randint(0, 30), i % 31) for i in range(60)]
    pairs = [(a, b) for a, b in pairs if a != b]
    from nebula_spark.operators.algo import label_propagation
    a = sorted(map(tuple, label_propagation(
        _edges(spark, pairs), iterations=3).collect()))
    b = sorted(map(tuple, label_propagation(
        _edges(spark, pairs), iterations=3).collect()))
    assert a == b


def test_contamination_counts(spark):
    probe = spark.createDataFrame([
        (1, "a b c d e f"),   # 5-grams: "a b c d e", "b c d e f"
        (2, "z z z z z"),     # one distinct 5-gram, not in bench
        (3, "x y"),           # too short: zero 5-grams
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "q q a b c d e f r")], "doc_id long, text string")
    from nebula_spark.pipeline.curate import contamination
    got = {r["doc_id"]: r for r in contamination(probe, bench, n=5).collect()}
    assert got[1]["n_ngrams"] == 2
    assert got[1]["n_contaminated"] == 2
    assert got[1]["contamination_frac"] == 1.0
    assert got[2]["n_contaminated"] == 0
    # short docs still produce a row (explode_outer), frac 0 not null
    assert got[3]["n_ngrams"] == 0
    assert got[3]["contamination_frac"] == 0.0


def test_chunk_documents_windows_and_tail(spark):
    from nebula_spark.pipeline.curate import chunk_documents
    ten = " ".join(str(i) for i in range(10))
    nine = " ".join(str(i) for i in range(9))
    df = spark.createDataFrame(
        [(1, ten), (2, nine)], "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # starts 1,3,5,7 kept; 9 dropped (contributes no new words)
    assert [r["start"] for r in d1] == [1, 3, 5, 7]
    assert [r["chunk_id"] for r in d1] == [0, 1, 2, 3]
    assert d1[1]["chunk_text"] == "2 3 4 5"
    assert all(r["n_tokens"] == 4 for r in d1)
    d2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    # 9 words: last kept start is 7, a short tail chunk "6 7 8"
    assert [r["start"] for r in d2] == [1, 3, 5, 7]
    assert d2[-1]["chunk_text"] == "6 7 8"
    assert d2[-1]["n_tokens"] == 3


def test_chunk_documents_rejects_big_overlap(spark):
    from nebula_spark.pipeline.curate import chunk_documents
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=3)


def test_temperature_sample_rates_and_membership(spark):
    import math
    from nebula_spark.pipeline.curate import temperature_sample
    rows = [(i, "a" if i < 90 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", target_frac=0.5,
                             temperature=2.0, seed=7)
    z = math.sqrt(90) + math.sqrt(10)

    def rate(n_g):
        return min(1.0, round(0.5 * 100 * math.sqrt(n_g) / (z * n_g), 9))

    got_rates = {r["lang"]: r["rate"]
                 for r in out.select("lang", "rate").distinct().collect()}
    assert got_rates["a"] == pytest.approx(rate(90), abs=0)
    assert got_rates["b"] == pytest.approx(rate(10), abs=0)
    # minority group is up-weighted relative to its share
    assert got_rates["b"] > got_rates["a"]
    kept = {r["doc_id"] for r in out.collect()}
    for i in (0, 5, 42, 89, 90, 95, 99):
        n_g = 90 if i < 90 else 10
        h = int(hashlib.md5(f"temp:7:{i}".encode()).hexdigest()[:8], 16)
        assert (i in kept) == (h < math.floor(rate(n_g) * 2 ** 32))
    # same seed → identical sample
    again = {r["doc_id"] for r in temperature_sample(
        df, "lang", target_frac=0.5, temperature=2.0, seed=7).collect()}
    assert kept == again


def test_quality_filter_reasons(spark):
    from nebula_spark.pipeline.curate import quality_filter
    long_good = " ".join(f"word{i}" for i in range(60))
    repeated = " ".join(["spam ham"] * 40)
    df = spark.createDataFrame([
        (1, long_good),           # passes everything
        (2, "tiny doc"),          # too_short
        (3, repeated),            # repetition rules fire
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in quality_filter(df, min_words=50).collect()}
    assert got[1]["keep"] is True and list(got[1]["drop_reasons"]) == []
    assert got[2]["keep"] is False
    assert "too_short" in got[2]["drop_reasons"]
    assert got[3]["keep"] is False
    assert {"dup_words", "top_bigram", "dup_trigrams"} <= set(
        got[3]["drop_reasons"])


def test_pack_sequences_offsets(spark):
    import hashlib as hl

    from nebula_spark.pipeline.curate import pack_sequences
    # one bucket => a single greedy stream, hand-checkable
    rows_in = [(i, 0, 60) for i in range(5)]     # 5 chunks x 60 tokens
    df = spark.createDataFrame(
        rows_in, "doc_id long, chunk_id int, n_tokens int")
    out = pack_sequences(df, seq_len=128, buckets=1, seed=9).collect()
    # stream order is md5('9:doc_id')-ranked; replicate it
    order = sorted(range(5), key=lambda i: hl.md5(f"9:{i}".encode())
                   .hexdigest())
    got = {r["doc_id"]: r for r in out}
    cum = 0
    for i in order:
        assert got[i]["seq_id"] == cum // 128
        assert got[i]["seq_pos"] == cum % 128
        cum += 60
    # determinism across runs
    again = pack_sequences(df, seq_len=128, buckets=1, seed=9).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pack_sequences_bucketed_unique_ids(spark):
    from nebula_spark.pipeline.curate import pack_sequences
    df = spark.range(200).selectExpr("id as doc_id", "0 as chunk_id",
                                     "50 as n_tokens")
    out = pack_sequences(df, seq_len=100, buckets=8).select(
        "pack_bucket", "seq_id", "seq_pos")
    rows_out = out.collect()
    # seq ids never collide across buckets; positions stay inside seq_len
    by_seq = {}
    for r in rows_out:
        by_seq.setdefault(r["seq_id"], []).append(r)
        assert 0 <= r["seq_pos"] < 100
        assert r["seq_id"] // 1_000_000_000 == r["pack_bucket"]
    # each full sequence holds exactly two 50-token chunks
    sizes = sorted(len(v) for v in by_seq.values())
    assert set(sizes) <= {1, 2}
