"""Similarity search over embedding columns: brute-force cosine top-k
baseline + LSH-bucketed scale path.

The reference has no vector search; its `cos_similarity` container function
(``src/common/function/FunctionManager.cpp``, containers section) is the
scalar primitive. Here it becomes a distributed ANN surface over
``embeddings(vec_id, embedding: array<float>, label)``.

Scale posture: brute force is O(Q×N) but fully JVM-side and
shuffle-safe: queries broadcast, and the per-query ranking is two-phase
(partial top-k per input partition, then a final window over the
k×partitions survivors) so no task ever holds one query's whole scored
corpus. The LSH variant buckets with random hyperplanes so each query
scores only its bucket — the 100 TB path, trading recall (multi-probe
over Hamming-adjacent buckets recovers most of it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nebula_spark.functions.graphfns import cos_similarity
from nebula_spark.pipeline.dedup import _md5_64
from nebula_spark.session import local_frame


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k without a single-task-per-query stage.

    A plain ``Window.partitionBy(qid)`` puts each query's *entire* scored
    corpus in one task — an OOM/straggler at large corpus size. Instead:

    1. partial: rank over ``(qid, spark_partition_id())`` — the composite
       key hash-distributes evenly across tasks regardless of how few
       queries there are, and keeps at most k rows per (query, input
       partition);
    2. final: rank the ≤ k × num_partitions survivors per query — a tiny
       window.

    Same results as the one-window form (ties broken by cid both times).
    """
    part = Window.partitionBy("qid", "_part").orderBy(F.desc("cosine"),
                                                      F.asc("cid"))
    final = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (scored.withColumn("_part", F.spark_partition_id())
            .withColumn("_pr", F.row_number().over(part))
            .filter(F.col("_pr") <= k).drop("_part", "_pr")
            .withColumn("rank", F.row_number().over(final))
            .filter(F.col("rank") <= k))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     corpus_key: str = "vec_id", corpus_vec: str = "embedding",
                     query_key: str = "qid", query_vec: str = "qvec",
                     ) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries × corpus scan.

    Ties broken by corpus key (deterministic). Cosine rounded to 6 digits
    *before* ranking so ranking is reproducible across engines/float orders.
    """
    q = F.broadcast(queries.select(F.col(query_key).alias("qid"),
                                   _as_double(F.col(query_vec)).alias("qv")))
    c = corpus.select(F.col(corpus_key).alias("cid"),
                      _as_double(F.col(corpus_vec)).alias("cv"))
    scored = c.crossJoin(q).select(
        "qid", "cid", F.round(cos_similarity(F.col("cv"), F.col("qv")), 6)
        .alias("cosine"))
    return _two_phase_topk(scored, k)


def hyperplane_bucket(vec: Column, n_planes: int = 8, salt: str = "ivf") -> Column:
    """Random-hyperplane LSH bucket id (bit string) for a vector column.

    Hyperplane components are ±1 derived from md5(salt, plane, dim) — fully
    deterministic, identical across engines, no stored model. The Spark-side
    analog of an IVF coarse quantizer with 2^n_planes cells.
    """
    dim_idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def sign(p: int):
        return lambda i: F.when(
            _md5_64(F.concat(F.lit(f"{salt}:{p}:"), i.cast("string"))) % 2 == 0,
            F.lit(1.0)).otherwise(F.lit(-1.0))

    return F.concat_ws("", *[
        F.when(F.aggregate(F.zip_with(_as_double(vec),
                                      F.transform(dim_idx, sign(p)),
                                      lambda x, s: x * s),
                           F.lit(0.0), lambda a, v: a + v) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)])


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, seed: int = 42,
             corpus_key: str = "vec_id", corpus_vec: str = "embedding",
             query_key: str = "qid", query_vec: str = "qvec",
             ) -> DataFrame:
    """IVF approximate top-k (FAISS IndexIVFFlat shape): k-means|| coarse
    quantizer, inverted lists keyed by nearest centroid, queries probe
    their ``nprobe`` nearest cells.

    Compared to :func:`lsh_bucketed_topk`: cells adapt to the data
    distribution (hyperplane cells are data-oblivious), and nprobe is a
    smooth recall/cost dial. Training is Spark ML's distributed k-means||
    (one small model on the driver — C×dim floats, not data); assignment
    and probing are a broadcast centroid table cross-joined and ranked, so
    everything that scales with N stays distributed. The candidate join is
    an equi-join on cent_id: corpus shuffles by cell once, each task
    scores one cell's slice — the same bucket-local discipline as LSH.

    A query that *is* a corpus vector always reaches its own cell (both
    sides rank centroids with the same rule), so self-match recall is 1
    for any nprobe ≥ 1.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(F.col(corpus_key).alias("cid"),
                      _as_double(F.col(corpus_vec)).alias("cv"))
    train = c.select(array_to_vector("cv").alias("features"))
    n_cells = min(n_centroids, train.count())
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    spark = corpus.sparkSession
    cents = F.broadcast(local_frame(spark,
        [(i, [float(x) for x in ctr])
         for i, ctr in enumerate(model.clusterCenters())],
        "cent_id int, centroid array<double>"))

    def nearest(df: DataFrame, vec: str, n: int, who: str) -> DataFrame:
        w = Window.partitionBy(who).orderBy(
            F.desc("_cc"), F.asc("cent_id"))
        return (df.crossJoin(cents)
                .withColumn("_cc", F.round(
                    cos_similarity(F.col(vec), F.col("centroid")), 9))
                .withColumn("_cr", F.row_number().over(w))
                .filter(F.col("_cr") <= n)
                .drop("_cc", "_cr", "centroid"))

    lists = nearest(c, "cv", 1, "cid")            # inverted lists
    q = queries.select(F.col(query_key).alias("qid"),
                       _as_double(F.col(query_vec)).alias("qv"))
    probes = F.broadcast(nearest(q, "qv", nprobe, "qid"))
    scored = (lists.join(probes, "cent_id")
              .select("qid", "cid",
                      F.round(cos_similarity(F.col("cv"), F.col("qv")), 6)
                      .alias("cosine")))
    return _two_phase_topk(scored, k)


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                      n_planes: int = 8,
                      corpus_key: str = "vec_id", corpus_vec: str = "embedding",
                      query_key: str = "qid", query_vec: str = "qvec",
                      ) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's LSH
    bucket. Recall < 1 by design; the scale path when Q×N is too big.

    The bucket join is an equi-join on the bit-string — corpus partitioned
    by bucket, queries broadcast; each task scores one bucket's slice.
    """
    c = corpus.select(F.col(corpus_key).alias("cid"),
                      _as_double(F.col(corpus_vec)).alias("cv"),
                      hyperplane_bucket(F.col(corpus_vec), n_planes)
                      .alias("bkt"))
    q = F.broadcast(queries.select(
        F.col(query_key).alias("qid"),
        _as_double(F.col(query_vec)).alias("qv"),
        hyperplane_bucket(F.col(query_vec), n_planes).alias("bkt")))
    scored = c.join(q, "bkt").select(
        "qid", "cid",
        F.round(cos_similarity(F.col("cv"), F.col("qv")), 6).alias("cosine"))
    return _two_phase_topk(scored, k)
