"""Deduplication at corpus scale: exact, n-gram Jaccard, MinHash+LSH,
SimHash, and duplicate clusters as connected components of the pairs.

Design for 100 TB: every method reduces to (1) a per-row signature computed
with JVM-side expressions (no Python), (2) a shuffle keyed on
signature/band/bucket — so the candidate-pair space is bucket-local, never
all-pairs. The only all-pairs variant (`ngram_jaccard_pairs`) is for
oracle-checkable small inputs and explicitly says so.

Cross-engine determinism: every hash bottoms out in md5 (identical in Spark
and DuckDB), so each operator has an exact SQL oracle — the correctness gate
covers the *distributed* implementation, not a reimplementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_spark.operators.traverse import (_vertex_rounds, checkpoint_count,
                                             observed_width, sized_superstep)
from nebula_spark.session import scoped_conf

# MinHash universal-hash parameters: h_i(x) = (a_i * x + b_i) mod P.
# P < 2^31 keeps a_i * x + b_i within int64 after x is reduced mod P.
MINHASH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime
_A_SEED, _B_SEED = 0x9E3779B1, 0x85EBCA77

# Rows per task for the LSH banding shuffle, sized by
# operators.traverse.observed_width (explode rows are ~120 B: id, the
# signature array and the band signature string — 1M rows/task ≈ 100 MB,
# guide §2.2). The width is derived from the doc count observed free on
# the signature checkpoint job and embedded as an explicit repartition
# that the band window / band self-join then REUSES (hash(band, bsig, p)
# satisfies their clustered distribution — no second Exchange).
#
# TWO constants because the two banded stages have per-row costs two
# orders apart (r12 second pass, guide §1.2 step 2 — size tasks by
# WORK, not only by shuffle bytes):
#   - the bucket-min WINDOW (lsh_star_edges) does one min+filter per
#     row — shuffle-byte currency applies, 1M rows/task ≈ 100 MB;
#   - the pair SELF-JOIN (minhash_lsh_pairs) forms O(bucket²) pairs and
#     compares two 16-long signatures per pair — at 50k docs (sf1-like
#     probe) one task held ~3-5 s of join compute while 31 cores idled.
#     32k rows/task keeps tiny corpora at p=1 (sf0.1's 20k banded rows
#     — the driver-visible plan is unchanged) and gives mid-size
#     corpora real parallelism: interleaved min-of-5 at the sf1 point
#     3.43 s vs 4.84 s (and 3.38 vs 5.52 in a second session), under
#     heavy host-steal noise documented in OPTIMIZATION_r12.md.
# At 100 TB both clamp to the session's configured width, so the
# constants only pick parallelism for mid-size inputs.
_LSH_BAND_ROWS_PER_TASK = 1_000_000
_LSH_JOIN_ROWS_PER_TASK = 32_000


def _md5_64(c: Column) -> Column:
    """Stable 60-bit integer from md5 hex — the cross-engine base hash."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs: a odd in [1, P), b in [0, P)."""
    out = []
    for i in range(num_hashes):
        a = (_A_SEED * (2 * i + 1)) % MINHASH_P
        b = (_B_SEED * (i + 1)) % MINHASH_P
        out.append((a | 1, b))
    return out


def normalize_text(c: Column) -> Column:
    """Canonical form for dedup: lower, collapse whitespace, trim."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def consecutive_grams(arr: Column, n: int, sep: str = " ") -> Column:
    """n-grams of consecutive array elements via zipped shifted slices.

    The obvious spelling — ``transform(indices, i -> concat(element_at(
    arr, i), element_at(arr, i+1), …))`` — re-evaluates the WHOLE
    expression tree behind ``arr`` once per element per reference when
    ``arr`` is not a plain column: higher-order-function lambdas are
    interpreted (CodegenFallback) with no subexpression cache, so a
    split/regex-backed array turns O(n) grams into O(n·cost(arr)) —
    measured 45× on the contamination operator (OPTIMIZATION_r11.md,
    third pass). Here every lambda touches only its lambda variable;
    ``arr`` is referenced n+1 times per ROW (the slices + the size),
    never per element.

    Exactly ``max(size(arr) - n + 1, 0)`` grams; each slice has exactly
    that length (start j+1 ≤ n, so j+take ≤ size), so ``arrays_zip``
    never pads. NULL array → NULL, matching the transform spelling.
    """
    take = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    slices = [F.slice(arr, j + 1, take).alias(f"_g{j}") for j in range(n)]
    return F.transform(
        F.arrays_zip(*slices),
        lambda s: F.concat_ws(sep, *[s[f"_g{j}"] for j in range(n)]))


def spread(df: DataFrame) -> DataFrame:
    """Give a compute-heavy row-wise stage input parallelism.

    Scan task count follows file bytes (`maxPartitionBytes`), which is the
    wrong currency for expression-heavy stages: a 5k-document parquet file
    is one scan task, and the shingle/md5 projection serializes on one
    core. Repartition up to the session default parallelism when the scan
    yields fewer partitions; on a real many-file corpus this is a no-op
    (and the round-robin shuffle of raw text is trivially cheap relative
    to the signature compute it unblocks).

    Partition-count heuristic uses input file count, never `.rdd` (which
    forces plan-to-RDD conversion and disables AQE on the branch): a scan
    over >= target files already has the parallelism; anything else —
    few files, or a non-scan plan (inputFiles() == []) whose parallelism
    we can't see cheaply — gets repartitioned, which AQE coalesces again
    if it was already wide."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text",
                key_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text hash; keeps the minimum key per group.

    Shuffle is on the 64-bit hash (uniform, no skew); the winner-per-group
    is a min-aggregate, not a window sort — one pass, map-side combinable.
    """
    h = _md5_64(normalize_text(F.col(text_col)))
    return (spread(df).withColumn("_h", h)
            .groupBy("_h")
            .agg(F.min(key_col).alias(key_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .drop("_h"))


def shingles(c: Column, k: int = 5, mode: str = "word") -> Column:
    """k-shingles as an array column. word mode: k-grams of tokens;
    char mode: k-grams of characters. Distinct (set semantics)."""
    def safe_seq(n: Column) -> Column:
        # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short docs
        return F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
                .otherwise(F.array().cast("array<int>"))

    if mode == "word":
        # zipped-slices form (r11): the per-index transform re-evaluated
        # the normalize+split tree once per token (see consecutive_grams)
        sh = consecutive_grams(F.split(normalize_text(c), " "), k, " ")
    elif mode == "char":
        s = normalize_text(c)
        idx = safe_seq(F.length(s))
        sh = F.transform(idx, lambda i: F.substring(s, i, F.lit(k)))
    else:
        raise ValueError(f"unknown shingle mode {mode!r}")
    return F.array_distinct(sh)


def ngram_jaccard_pairs(df: DataFrame, key_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via shingle inverted index.

    Not all-pairs: docs are exploded to (shingle, doc) and joined on the
    shingle — the shuffle key is the shingle, candidate pairs share ≥1
    shingle, and Jaccard = |∩| / (|A|+|B|−|∩|) falls out of a count
    aggregate. This is the exact version of what MinHash approximates;
    at 100 TB you run MinHash first and this only to confirm candidates.
    """
    sh = (spread(df).select(F.col(key_col).alias("id"),
                            shingles(F.col(text_col), k).alias("sh"))
          .withColumn("n", F.size("sh"))
          .select("id", "n", F.explode("sh").alias("s")))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (inter.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_signatures(df: DataFrame, key_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes`` universal
    hashes, the min over the document's shingle set.

    Entirely JVM-side: shingle → md5 base hash (mod P) → per-permutation
    affine transform → array_min. One projection, zero shuffles.
    """
    def affine(a: int, b: int):
        return lambda x: (a * x + b) % MINHASH_P

    # materialize the md5 base array once per row (named column, not a
    # repeated subexpression under each array_min), then take the per-
    # permutation minima over it
    sig = F.array(*[F.array_min(F.transform(F.col("_mh_base"), affine(a, b)))
                    for a, b in _perm_params(num_hashes)])
    return (spread(df)
            .withColumn("_mh_base",
                        F.transform(shingles(F.col(text_col), k),
                                    lambda s: _md5_64(s) % MINHASH_P))
            .select(F.col(key_col).alias("id"), sig.alias("sig")))


def _lsh_bands(df: DataFrame, key_col: str, text_col: str, k: int,
               num_hashes: int, bands: int, rows_per_task: int,
               keep_sig: bool) -> DataFrame:
    """The banded MinHash rows both LSH operators shuffle: ``id``, the
    whole ``sig`` when ``keep_sig``, and one ``b`` = (band, bsig) struct
    per band, repartitioned on ``b`` at :func:`observed_width` for
    ``rows_per_task``."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # eager localCheckpoint, not persist(): a persist() here could never
    # be unpersisted (the returned frames are lazy) — checkpoint blocks are
    # freed by the ContextCleaner once the result goes out of scope, so a
    # long-lived driver loop doesn't accumulate cache entries. And not
    # lazy (measured twice, r11): the pairs self-join reads the signatures
    # twice, and connected_components' symmetrization unions two copies
    # of the star edges; A/B at sf0.1 (3+5 reps, both orders) put a
    # skipped checkpoint at best neutral (eager med 2.96/3.07 s vs lazy
    # 3.43/3.19 s for the full cluster pipeline; OPTIMIZATION_r11.md item
    # 14: a map-only subtree with concurrent readers wants a real
    # barrier). Whole-stage codegen off for this one job: the 16-hash md5
    # tree compiles into one huge generated method (~10 s of fresh-JVM
    # compile at 16 hashes); the per-expression interpreted path computes
    # the same md5s at nearly the same throughput because hashing, not
    # virtual-call overhead, is the bottleneck.
    sigs = minhash_signatures(df, key_col, text_col, k, num_hashes)
    with scoped_conf(df.sparkSession,
                     **{"spark.sql.codegen.wholeStage": "false"}):
        sigs, n_docs = checkpoint_count(sigs)
    banded = sigs.select(
        "id", *(["sig"] if keep_sig else []),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.array_join(F.slice("sig", i * r + 1, r), "_")
                     .alias("bsig"))
            for i in range(bands)])).alias("b"))
    # size-derived width (r12, guide §2.2): the doc count rides the
    # signature checkpoint free, so tiny corpora stop paying
    # session-width stages
    return banded.repartition(observed_width(df.sparkSession,
                                             n_docs * bands, rows_per_task),
                              F.col("b.band"), F.col("b.bsig"))


def minhash_lsh_pairs(df: DataFrame, key_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """MinHash + LSH banding: candidate pairs agreeing on ≥1 full band.

    rows-per-band r = num_hashes/bands; collision probability s^r per band.
    Scale shape: explode to (band_id, band_signature) — the shuffle key —
    then self-join per bucket. Estimated similarity = fraction of matching
    signature positions, computed from the signatures (no second text pass).
    """
    # the explicit repartition is what both join sides reuse. JOIN
    # rows-per-task, not window rows-per-task: pair formation is
    # compute-dense (see the constants' comment)
    banded = _lsh_bands(df, key_col, text_col, k, num_hashes, bands,
                        _LSH_JOIN_ROWS_PER_TASK, keep_sig=True)
    a, b = banded.alias("a"), banded.alias("b")
    # estimated similarity computed BEFORE the pair dedup (r12, guide
    # §2.3 shuffle fewer bytes): duplicate (id_a, id_b) rows from
    # different bands carry identical signatures, hence identical
    # estimates, so deduping (id_a, id_b, est) is equivalent — and the
    # dropDuplicates exchange moves one double per row instead of two
    # num_hashes-long signature arrays.
    est = (F.size(F.filter(F.zip_with(F.col("a.sig"), F.col("b.sig"),
                                      lambda x, y: x == y),
                           lambda v: v))
           / F.lit(num_hashes))
    return (a.join(b, (F.col("a.b.band") == F.col("b.b.band"))
                   & (F.col("a.b.bsig") == F.col("b.b.bsig"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.round(est, 6).alias("est_jaccard"))
            .dropDuplicates(["id_a", "id_b"]))


def lsh_star_edges(df: DataFrame, key_col: str = "doc_id",
                   text_col: str = "text", k: int = 3,
                   num_hashes: int = 16, bands: int = 4,
                   distinct: bool = True) -> DataFrame:
    """Linear-output LSH bucketing for CLUSTERING: within each
    (band, band-signature) bucket emit one edge doc → bucket-min instead
    of all O(n²) pairs. A star spans exactly the same connected
    component as the clique, so cluster assignment downstream is
    IDENTICAL to feeding minhash_lsh_pairs into connected_components —
    but a 1M-clone duplicate group costs 10⁶ edges, not 5·10¹¹ pairs.
    (r10 skew-probe finding: a 10%-template skew dataset turned a
    500-doc group into 145k pairs; quadratic pair output is inherent to
    the pairs-with-similarity CONTRACT, not to clustering.)

    One window shuffle on (band, bsig) + one distinct — no self-join.
    Returns (id_a, id_b) edges with id_a = bucket min, id_a < id_b.
    """
    from pyspark.sql.window import Window

    # the bucket-min window reuses the banding repartition: one Exchange
    banded = _lsh_bands(df, key_col, text_col, k, num_hashes, bands,
                        _LSH_BAND_ROWS_PER_TASK, keep_sig=False)
    w = Window.partitionBy("b.band", "b.bsig")
    out = (banded.withColumn("_root", F.min("id").over(w))
           .filter(F.col("id") != F.col("_root"))
           .select(F.col("_root").alias("id_a"), F.col("id").alias("id_b")))
    # ``distinct=False`` skips the dedup exchange for consumers that
    # re-shuffle-dedup anyway (connected_components symmetrizes then
    # distincts, so the same edge appearing under several bands is
    # absorbed one operator later — one full Exchange saved end-to-end);
    # the standalone contract stays deduped by default
    return out.distinct() if distinct else out


def simhash64(df: DataFrame, key_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """SimHash: 64-bit near-dup signature — per-token md5 hash, per-bit
    weighted vote, sign → bit.

    JVM-side trick: for each bit position, sum ±1 over token hashes
    (aggregate over the token array), no UDF. 64 aggregate expressions is
    heavy codegen but still one projection pass, no shuffle.
    """
    # token-hash array materialized as a named column (r11): as a bare
    # expression it was re-evaluated by each of the 64 bit aggregates —
    # 64 × (normalize + split + per-token md5) per row
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    df = spread(df).withColumn("_sh_h", F.transform(toks, _md5_64))
    h = F.col("_sh_h")

    def mask(bit: int) -> int:
        v = 1 << bit
        return v - (1 << 64) if v >= (1 << 63) else v  # signed int64 repr

    def voter(bit: int):
        return lambda acc, x: acc + F.when(
            x.bitwiseAND(F.lit(mask(bit))) != 0, 1).otherwise(-1)

    bits = []
    for bit in range(64):
        vote = F.aggregate(h, F.lit(0), voter(bit))
        bits.append(F.when(vote > 0, F.lit(mask(bit))).otherwise(F.lit(0)))
    sim = bits[0]
    for b in bits[1:]:
        sim = sim.bitwiseOR(b)
    return df.select(F.col(key_col).alias("id"), sim.alias("simhash"))


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b") -> DataFrame:
    """Duplicate-cluster assignment: connected components over a candidate
    pair list, label = min member id (the canonical representative a dedup
    pipeline keeps).

    Min-label propagation with root hooking and pointer jumping, in the
    manner of Shiloach–Vishkin. The seed labels every node with the min
    of its closed neighborhood. State is ``(node, label, prev)``, where
    ``prev`` is the node's label before the last round. A round is:

    - one node-keyed min-aggregate over three row sets: the labels, the
      neighbors' labels, and a hook row ``(prev → label)`` for every node
      whose label dropped in the last round, so the root it pointed at
      learns what its member found;
    - one pointer jump, label ← label[label], keyed on the label, which
      hands a hooked root's new label to its members in the same round.

    Labels are node ids of the node's own component and only decrease,
    so the loop ends, and it ends on the component minimum. It runs on
    the counted vertex loop
    (:func:`~nebula_spark.operators.traverse._vertex_rounds`) and stops on
    the round where no label dropped. That count rides the round's
    checkpoint job, is exact for any orderable id type, and needs no
    round cap. A chain of n nodes with shuffled ids takes O(log n)
    rounds (1k / 4k / 16k nodes: 13 / 17 / 20, seed included). Either
    half alone takes O(n) rounds there: 228 for jumping alone and 711
    for hooking alone on the 1k chain.

    Pairs with a NULL endpoint carry no connectivity and are dropped.
    Returns ``(node, cluster_id)``, one row per distinct node in *pairs*.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # without this filter least/greatest would turn (x, NULL) into (x, x)
    e = e.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    # Dedup BEFORE symmetrizing (r11 fourth pass): distinct(e ∪ swap(e))
    # is a symmetric set, i.e. exactly can ∪ swap(can) where can is the
    # canonically-oriented (min, max) distinct pair set — so the dedup
    # exchange carries |pairs| rows instead of 2·|pairs| and the swap is
    # a free projection on top of it. (A self-loop appears twice in sym
    # instead of once; every consumer is a min-aggregate or a join feeding
    # one, so labels are identical.)
    can = (e.select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
           .distinct())
    spark = can.sparkSession
    # whole-stage codegen off for the supersteps: every iteration builds a
    # *new* plan (fresh checkpoint lineage), so generated code recompiles
    # per superstep — compile latency dominates the fusion win, and when
    # the candidate pairs come from an md5-heavy LSH plan (the
    # dedup_clusters pipeline) the first superstep would compile the whole
    # 64-expression hash tree into one huge method. Measured at sf0.1:
    # fresh-session 32.7 s → ~15-20 s, warm 8.4 s → ~5 s.
    with scoped_conf(spark, **{"spark.sql.codegen.wholeStage": "false"}):
        # the canonical pair count sizes the whole loop, seed included
        # (the symmetric list has 2·n rows), and the symmetric list is a
        # free projection over these checkpointed blocks
        can, n_can = checkpoint_count(can)
        with sized_superstep(spark, 2 * n_can) as p:
            can = can.coalesce(p)
            sym = can.unionByName(can.select(F.col("b").alias("a"),
                                             F.col("a").alias("b")))
            # the seed is round 0 on identity labels: the min over the
            # CLOSED neighborhood, one map-side-combinable aggregate over
            # the symmetric list (every node appears as `a` in sym). It
            # stays EAGER (measured, r11 fourth pass): a lazy cut re-ran
            # its aggregate in both readers of round 1 (345 → 599 tasks).
            # Its pre-round label is the node itself, so `dropped` counts
            # its drops too.
            seed = (sym.groupBy(F.col("a").alias("node"))
                    .agg(F.min(F.least("a", "b")).alias("label"))
                    .withColumn("prev", F.col("node")))
            # the symmetric edge list is re-hashed ONCE onto the round
            # layout keyed by the message-join key, so every round's
            # sym-side Exchange disappears (the persisted
            # InMemoryRelation advertises hash(a, p)); rounds shuffle
            # only the label frame
            sym_r = sym.repartition(p, "a").persist()
            # every round reuses these columns: building them once keeps
            # per-round plan construction to the frames themselves.
            # `own` is set on the node's own row only, so its min is the
            # node's pre-round label: `prev` costs no extra join. A node
            # whose label dropped emits its hook row from the same scan
            # (a third union branch measured +8 tasks and +0.3 s on the
            # perfbench deep graph); a node that was its own label's root
            # (prev = node) skips it, as the row would repeat its own.
            dropped = F.col("label") < F.col("prev")
            own_row = F.struct("node", "label", F.col("label").alias("own"))
            hook_row = F.struct(F.col("prev").alias("node"), "label",
                                F.lit(None).alias("own"))
            hooks = dropped & (F.col("prev") != F.col("node"))
            own_and_hook = F.inline(F.when(hooks, F.array(own_row, hook_row))
                                    .otherwise(F.array(own_row)))
            msg = [F.col("b").alias("node"), F.col("label"),
                   F.lit(None).alias("own")]
            to_min = [F.min("label").alias("label"),
                      F.min("own").alias("prev")]
            lut = [F.col("node").alias("_ln"), F.col("label").alias("_ll")]
            jumped = [F.col("node"), F.coalesce("_ll", "label").alias("label"),
                      F.col("prev")]

            def round_(labels: DataFrame, _n) -> DataFrame:
                msgs = sym_r.join(labels, F.col("a") == F.col("node"))
                nbr_min = (labels.select(own_and_hook)
                           .union(msgs.select(msg))
                           .groupBy("node").agg(*to_min))
                # pointer jump: label ← label[label]. Labels are node ids
                # of the same component, so the left join resolves every
                # non-root label one level toward the component min;
                # roots (label[label] = label) keep their value.
                return (nbr_min.join(nbr_min.select(lut),
                                     F.col("label") == F.col("_ln"), "left")
                        .select(jumped))

            labels = _vertex_rounds(seed, round_, dropped)
    sym_r.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))
