"""Property-based tests (hypothesis) — a tier the reference lacks
(SURVEY.md §5: no fuzzing/proptest in-repo; we add it).

Two surfaces: (1) the nGQL parser never crashes un-controlled (either a
Pipeline/SetOp or SyntaxError — no other exception escapes), and round-
trips structured GO statements; (2) duplicate-preserving set-op semantics
match a Python multiset model on arbitrary row bags.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nebula_spark.plans import parse
from nebula_spark.plans.ngql import GoStmt, Pipeline

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_parser_total(s):
    """Any input → Pipeline/SetOp, SyntaxError, or a controlled
    semantic ValueError (e.g. the r5 Undefined-parameters sweep for a
    bare `$name`) — nothing else escapes."""
    try:
        out = parse(s)
        assert out is not None
    except (SyntaxError, ValueError):
        pass


@given(
    steps=st.tuples(st.integers(1, 5), st.integers(0, 3)),
    vids=st.lists(IDENT, min_size=1, max_size=3),
    edges=st.lists(IDENT, min_size=1, max_size=3, unique=True),
    direction=st.sampled_from(["", " REVERSELY", " BIDIRECT"]),
    limit=st.integers(1, 9),
)
@settings(max_examples=100, deadline=None)
def test_go_roundtrip(steps, vids, edges, direction, limit):
    """Structured GO statements parse back to their own shape."""
    mn, extra = steps
    mx = mn + extra
    vid_s = ",".join(f'"{v}"' for v in vids)
    q = (f"GO {mn} TO {mx} STEPS FROM {vid_s} OVER {','.join(edges)}"
         f"{direction} YIELD dst(edge) AS d | LIMIT {limit}")
    p = parse(q)
    assert isinstance(p, Pipeline) and len(p.stages) == 2
    go = p.stages[0]
    assert isinstance(go, GoStmt)
    assert (go.min_steps, go.max_steps) == (mn, mx)
    assert go.edges == list(edges)
    assert go.sources == list(vids)
    want = {"": "out", " REVERSELY": "in", " BIDIRECT": "both"}[direction]
    assert go.direction == want


ROW = st.tuples(st.integers(0, 3), st.sampled_from(["a", "b", None]))


@given(left=st.lists(ROW, max_size=8), right=st.lists(ROW, max_size=8))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_setops_model(spark, left, right):
    """intersect/minus match the reference's hash-set model: LHS
    duplicates survive; NULL == NULL (Value::operator==)."""
    from nebula_spark.operators.setops import intersect, minus
    schema = "k int, v string"
    ldf = spark.createDataFrame(left or [(99, "zz")], schema)
    rdf = spark.createDataFrame(right or [(98, "zz")], schema)
    lrows = left or [(99, "zz")]
    rset = set(right or [(98, "zz")])
    key = lambda t: (t[0], t[1] is None, t[1] or "")  # noqa: E731
    got_i = sorted(((r.k, r.v) for r in intersect(ldf, rdf).collect()), key=key)
    got_m = sorted(((r.k, r.v) for r in minus(ldf, rdf).collect()), key=key)
    exp_i = sorted((t for t in lrows if t in rset), key=key)
    exp_m = sorted((t for t in lrows if t not in rset), key=key)
    assert got_i == exp_i
    assert got_m == exp_m


TEXT = st.text(alphabet="ab cd", min_size=0, max_size=40)


@given(texts=st.lists(TEXT, min_size=1, max_size=6))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_minhash_invariants(spark, texts):
    """MinHash invariants: signatures are deterministic, identical
    normalized texts get identical signatures, and signature length is
    always num_hashes (empty shingle sets included)."""
    from nebula_spark.pipeline.dedup import minhash_signatures, normalize_text
    import pyspark.sql.functions as F
    rows = [(i, t) for i, t in enumerate(texts)] + \
           [(len(texts) + i, t) for i, t in enumerate(texts)]  # duplicates
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.id: tuple(r.sig or ())
            for r in minhash_signatures(df, num_hashes=4).collect()}
    norm = {r.doc_id: r.n for r in
            df.select("doc_id", normalize_text(F.col("text")).alias("n"))
            .collect()}
    by_norm: dict = {}
    for i, t in rows:
        by_norm.setdefault(norm[i], set()).add(sigs[i])
    for n, sset in by_norm.items():
        assert len(sset) == 1, f"same normalized text, differing sigs: {n!r}"
    for s in sigs.values():
        assert s == () or len(s) == 4


@given(vecs=st.lists(
    st.lists(st.floats(-1, 1, allow_nan=False, width=32),
             min_size=4, max_size=4), min_size=2, max_size=5))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_hyperplane_bucket_deterministic(spark, vecs):
    """LSH bucket ids: pure function of the vector — duplicated vectors
    land in the same bucket, bucket id is always n_planes bits."""
    from nebula_spark.pipeline.similarity import hyperplane_bucket
    import pyspark.sql.functions as F
    rows = [(i, v) for i, v in enumerate(vecs + vecs)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    got = {r.id: r.b for r in df.select(
        "id", hyperplane_bucket(F.col("v"), 5).alias("b")).collect()}
    n = len(vecs)
    for i in range(n):
        assert got[i] == got[i + n]
        assert len(got[i]) == 5 and set(got[i]) <= {"0", "1"}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=14, unique=True),
    direction=st.sampled_from(["out", "in", "both"]),
    mode=st.sampled_from(["all", "single"]),
    max_hops=st.integers(1, 5),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bfs_min_paths_equals_enumerate_prune(spark, edges, direction,
                                              mode, max_hops):
    """The BFS shortestPath routing must agree with the enumerate-then-
    prune reference plan on arbitrary small graphs: same (start, end,
    hops) multiset, and in `all` mode the same path multiset. Root-cycle
    exception (re-pinned r11): in BOTH mode the (s, s) rows follow the
    REFERENCE's level-pruned artifact — a closure is reported only when
    its prefix is itself a minimal path (AllShortestPaths.feature:578
    pins 1062, which excludes prefix-pruned triangles) — so BOTH-mode
    (s, s) rows compare against a Python level-pruned oracle instead of
    the enumerate plan."""
    from collections import Counter

    from pyspark.sql import functions as F

    from nebula_spark.operators.paths import bfs_min_paths
    from nebula_spark.operators.traverse import traverse

    e = spark.createDataFrame(
        [(f"v{s}", f"v{d}", 0) for s, d in edges],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",), ("v1",)], ["_vid"])

    # self_loop_once=True on BOTH sides: this pins the MATCH shortestPath
    # ROUTING, which always passes it (a BOTH-mode self-loop's two
    # orientations are ONE edge, SelfReflectiveEdges.feature) — the
    # Python closure oracle below models the same single-edge adjacency
    got = bfs_min_paths(e, starts, max_hops=max_hops, direction=direction,
                        mode=mode, self_loop_once=True).collect()

    # reference plan: enumerate all edge-unique paths, keep per-pair min
    enum = traverse(e, starts, min_hops=1, max_hops=max_hops,
                    direction=direction, self_loop_once=True).collect()
    best: dict[tuple, int] = {}
    for r in enum:
        k = (r.start_vid, r.end_vid)
        best[k] = min(best.get(k, 99), r.hops)
    want_pairs = Counter()
    for r in enum:
        if r.hops == best[(r.start_vid, r.end_vid)]:
            want_pairs[(r.start_vid, r.end_vid, r.hops)] += 1

    if direction == "both":
        # (s, s) oracle: level-pruned BFS — only minimal frontier paths
        # extend; a closure is collected at its root's first level
        adj: dict = {}
        for i, (s, d) in enumerate(edges):
            adj.setdefault(f"v{s}", []).append((f"v{d}", i))
            if s != d:
                adj.setdefault(f"v{d}", []).append((f"v{s}", i))
        cyc_want = Counter()
        for src in ("v0", "v1"):
            bestl = {src: 0}
            frontier = [((src,), ())]
            done = None
            for lv in range(1, max_hops + 1):
                newly: dict = {}
                ncyc = 0
                for vs, es in frontier:
                    for (d, ei) in adj.get(vs[-1], []):
                        if ei in es:
                            continue
                        if d == src:
                            if done is None or done == lv:
                                ncyc += 1
                            continue
                        if d in bestl and bestl[d] < lv:
                            continue
                        newly.setdefault(d, []).append(
                            (vs + (d,), es + (ei,)))
                if ncyc and done is None:
                    done = lv
                if done == lv:
                    cyc_want[(src, src, lv)] = ncyc
                for d in newly:
                    bestl.setdefault(d, lv)
                frontier = [p for d, ps in newly.items()
                            if bestl[d] == lv for p in ps]
        # replace the enumerate (s, s) expectations with the oracle's
        want_pairs = Counter({k: v for k, v in want_pairs.items()
                              if k[0] != k[1]})
        want_pairs.update(cyc_want)
        got_ss = Counter((r.start_vid, r.end_vid, r.hops)
                         for r in got if r.start_vid == r.end_vid)
        if mode == "single":
            assert set(got_ss) == set(cyc_want)
            assert all(v == 1 for v in got_ss.values())
        else:
            assert got_ss == cyc_want
        got = [r for r in got if r.start_vid != r.end_vid]
        want_pairs = Counter({k: v for k, v in want_pairs.items()
                              if k[0] != k[1]})
        enum = [r for r in enum if r.start_vid != r.end_vid]

    if mode == "all":
        got_pairs = Counter((r.start_vid, r.end_vid, r.hops) for r in got)
        assert got_pairs == want_pairs
        # full path multiset equality, canonicalized like the engine does
        want_paths = Counter(
            (r.start_vid, r.end_vid,
             tuple((p.s, p.d, p.r, p.t) for p in r.path))
            for r in enum if r.hops == best[(r.start_vid, r.end_vid)])
        got_paths = Counter(
            (r.start_vid, r.end_vid,
             tuple((p.s, p.d, p.r, p.t) for p in r.path))
            for r in got)
        assert got_paths == want_paths
    else:
        # single: exactly one representative per pair, at the min length
        got_set = {(r.start_vid, r.end_vid, r.hops) for r in got}
        assert got_set == set(want_pairs)
        assert len(got) == len(got_set)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=14, unique=True),
    direction=st.sampled_from(["out", "in"]),
    max_hops=st.integers(1, 5),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_root_cycle_dists_equal_single_min_paths(spark, edges, direction,
                                                 max_hops):
    """The MATCH length-only shortestPath route: BFS distances with the
    root left unvisited (``root_cycles=True``) must be exactly the
    (start, end, hops) rows of the single-mode minimal-path BFS, root
    cycles included, at depths 1 to 5."""
    from nebula_spark.operators.paths import (bfs_min_paths,
                                              bfs_shortest_paths)

    e = spark.createDataFrame(
        [(f"v{s}", f"v{d}", 0) for s, d in edges],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",), ("v1",)], ["_vid"])
    got = sorted((r["_src"], r["_dst"], r.dist) for r in bfs_shortest_paths(
        e, starts, max_hops=max_hops, direction=direction,
        root_cycles=True).collect())
    want = sorted((r.start_vid, r.end_vid, r.hops) for r in bfs_min_paths(
        e, starts, max_hops, direction=direction, mode="single",
        self_loop_once=True).collect())
    assert got == want


def test_bfs_min_paths_both_triangle_cycle_reference_invisible(spark):
    """Re-pinned r11 to the REFERENCE's level-pruned artifact: in BOTH
    direction the 3-cycle's minimal prefix v0→v1→v2 is level-pruned (v2
    reached directly) and a pruned path is never extended, so the
    (v0, v0, 3) cycle is NOT reported — exactly the reference's BFS
    behavior (AllShortestPaths.feature:578 pins count 1062: Yao Ming's
    serve/serve/like triangle is invisible there too). 2-cycles over two
    DISTINCT parallel edges ARE found (their 1-prefix is minimal)."""
    from nebula_spark.operators.paths import bfs_min_paths

    e = spark.createDataFrame(
        [("v0", "v1", 0), ("v0", "v2", 0), ("v1", "v2", 0)],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",)], ["_vid"])
    got = bfs_min_paths(e, starts, max_hops=3, direction="both").collect()
    assert [r.hops for r in got if r.end_vid == "v0"] == []
    e2 = spark.createDataFrame(
        [("v0", "v1", 0), ("v0", "v1", 1)],
        "_src string, _dst string, _rank long")
    got2 = bfs_min_paths(e2, starts, max_hops=3,
                         direction="both").collect()
    assert sorted(r.hops for r in got2 if r.end_vid == "v0") == [2, 2]


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=14, unique=True),
    direction=st.sampled_from(["out", "in", "both"]),
    mode=st.sampled_from(["all", "single"]),
    max_hops=st.integers(1, 4),
    n_targets=st.integers(1, 3),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bidir_min_paths_equals_enumerate_prune(spark, edges, direction,
                                               mode, max_hops, n_targets):
    """Meet-in-the-middle (source, target) minimal paths must agree with
    enumerate-then-prune restricted to the target set — including
    root-cycle pairs when a vertex is in both sets, odd and even path
    lengths, and all directions.

    Exception (r11 pin, matching the r10 shortest-path parity rework):
    under ``direction='both'`` the root-cycle ``(s, s)`` rows follow the
    REFERENCE's level-pruned closure artifact, not exact cycle search —
    a cycle whose prefix was level-pruned is invisible
    (AllShortestPaths.feature:578; bfs_min_paths docstring). Those rows
    are therefore compared against the closure rule's own output
    (bfs_min_paths), which bidir routes its diagonal pairs through."""
    from collections import Counter

    from nebula_spark.operators.paths import bfs_min_paths, bidir_min_paths
    from nebula_spark.operators.traverse import traverse

    e = spark.createDataFrame(
        [(f"v{s}", f"v{d}", 0) for s, d in edges],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",), ("v1",)], ["_vid"])
    tvids = [f"v{i}" for i in range(n_targets)]   # overlaps sources: diag
    targets = spark.createDataFrame([(t,) for t in tvids], ["_vid"])

    got = bidir_min_paths(e, starts, targets, max_hops=max_hops,
                          direction=direction, mode=mode).collect()

    enum = [r for r in traverse(e, starts, min_hops=1, max_hops=max_hops,
                                direction=direction).collect()
            if r.end_vid in set(tvids)]

    if direction == "both":
        def pkey(r):
            return (r.start_vid, r.end_vid, r.hops,
                    tuple((p.s, p.d, p.r, p.t) for p in r.path))
        diag_got = Counter(pkey(r) for r in got
                           if r.start_vid == r.end_vid)
        closure = Counter(
            pkey(r) for r in bfs_min_paths(
                e, starts, max_hops=max_hops, direction="both",
                mode=mode, min_hops=1).collect()
            if r.start_vid == r.end_vid and r.end_vid in set(tvids))
        assert diag_got == closure
        got = [r for r in got if r.start_vid != r.end_vid]
        enum = [r for r in enum if r.start_vid != r.end_vid]
    best: dict[tuple, int] = {}
    for r in enum:
        k = (r.start_vid, r.end_vid)
        best[k] = min(best.get(k, 99), r.hops)
    want_pairs = Counter()
    for r in enum:
        if r.hops == best[(r.start_vid, r.end_vid)]:
            want_pairs[(r.start_vid, r.end_vid, r.hops)] += 1

    if mode == "all":
        got_pairs = Counter((r.start_vid, r.end_vid, r.hops) for r in got)
        assert got_pairs == want_pairs
        want_paths = Counter(
            (r.start_vid, r.end_vid,
             tuple((p.s, p.d, p.r, p.t) for p in r.path))
            for r in enum if r.hops == best[(r.start_vid, r.end_vid)])
        got_paths = Counter(
            (r.start_vid, r.end_vid,
             tuple((p.s, p.d, p.r, p.t) for p in r.path))
            for r in got)
        assert got_paths == want_paths
    else:
        got_set = {(r.start_vid, r.end_vid, r.hops) for r in got}
        assert got_set == set(want_pairs)
        assert len(got) == len(got_set)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=14, unique=True),
    direction=st.sampled_from(["out", "in", "both"]),
    max_hops=st.integers(1, 4),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bidir_distances_equals_single_direction_bfs(spark, edges,
                                                     direction, max_hops):
    """FIND SHORTEST PATH's bidirectional distance search must agree with
    the single-direction BFS it replaced, pair for pair."""
    from nebula_spark.operators.paths import (bfs_shortest_paths,
                                              bidir_distances)

    e = spark.createDataFrame(
        [(f"v{s}", f"v{d}", 0) for s, d in edges],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",), ("v1",)], ["_vid"])
    targets = spark.createDataFrame([("v0",), ("v2",), ("v3",)], ["_vid"])
    got = sorted((r["_src"], r["_dst"], r.dist) for r in
                 bidir_distances(e, starts, targets, max_hops,
                                 direction).collect())
    want = sorted((r["_src"], r["_dst"], r.dist) for r in
                  bfs_shortest_paths(e, starts, targets, max_hops,
                                     direction).collect())
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1, max_size=12, unique=True),
    direction=st.sampled_from(["out", "in", "both"]),
    max_hops=st.integers(1, 4),
    noloop=st.booleans(),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_all_paths_bidir_equals_forward_enumeration(spark, edges, direction,
                                                    max_hops, noloop):
    """FIND ALL/NOLOOP PATH's meet-in-the-middle conjunct must produce
    exactly the walks the one-sided enumeration it replaced produced —
    same multiset of (start, end, path) rows (AllPathsExecutor.h:16-21
    exactness; the canonical-split uniqueness argument in the all_paths
    docstring)."""
    from pyspark.sql import functions as F

    from nebula_spark.operators.paths import all_paths
    from nebula_spark.operators.traverse import traverse

    e = spark.createDataFrame(
        [(f"v{s}", f"v{d}", 0) for s, d in edges],
        "_src string, _dst string, _rank long")
    starts = spark.createDataFrame([("v0",), ("v1",)], ["_vid"])
    targets = spark.createDataFrame([("v0",), ("v2",), ("v3",)], ["_vid"])

    def key(rows):
        return sorted(
            (r.start_vid, r.end_vid,
             tuple((p.s, p.d, p.r, p.t) for p in r.path))
            for r in rows)

    got = key(all_paths(e, starts, targets, max_hops, direction,
                        noloop=noloop).collect())
    ref = traverse(e, starts, min_hops=1, max_hops=max_hops,
                   direction=direction)
    if noloop:
        ref = ref.filter(
            (F.size(F.array_distinct(
                F.transform("path", lambda p: p["d"]))) == F.size("path"))
            & ~F.array_contains(F.transform("path", lambda p: p["d"]),
                                F.col("start_vid")))
    ref = ref.join(
        F.broadcast(targets.select(F.col("_vid").alias("end_vid"))),
        "end_vid", "left_semi")
    assert got == key(ref.collect())


# -- round-5 surfaces: parameter substitution + duration arithmetic -------

SCALAR = st.one_of(st.integers(-1000, 1000), st.booleans(),
                   st.text(st.characters(whitelist_categories=("Ll", "Lu"),
                                         max_codepoint=122), max_size=8))


@given(a=st.integers(-10**6, 10**6), b=st.integers(1, 10**6),
       s=st.text(st.characters(whitelist_categories=("Ll",),
                               max_codepoint=122), max_size=6))
@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_param_substitution_equals_inline(spark, a, b, s):
    """`execute(q, params)` ≡ executing the same query with the
    parameter values spelled as literals (rewriteParameter is pure
    substitution)."""
    from nebula_spark.catalog import GraphSpace
    from nebula_spark.plans.executor import execute

    sp = GraphSpace(spark, "prop")
    q_p = ("YIELD $pa + $pb AS x, $pa % $pb AS m, "
           "$ps + \"_t\" AS t, $pa < $pb AS c")
    q_i = (f"YIELD {a} + {b} AS x, {a} % {b} AS m, "
           f'"{s}" + "_t" AS t, {a} < {b} AS c')
    rp = [tuple(r) for r in
          execute(sp, q_p, {"pa": a, "pb": b, "ps": s}).collect()]
    ri = [tuple(r) for r in execute(sp, q_i).collect()]
    assert rp == ri


@given(y=st.integers(0, 20), mo=st.integers(0, 11), d=st.integers(0, 40),
       h=st.integers(0, 30), mi=st.integers(0, 70), se=st.integers(0, 90))
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_duration_date_arithmetic_model(spark, y, mo, d, h, mi, se):
    """DATE ± duration against a pure-Python model of Date.cpp
    addDuration: months calendar-aware, then the truncated whole-day
    count of the seconds component."""
    import datetime as dt

    from nebula_spark.catalog import GraphSpace
    from nebula_spark.plans.executor import execute

    sp = GraphSpace(spark, "prop")
    m = (f"{{years: {y}, months: {mo}, days: {d}, hours: {h}, "
         f"minutes: {mi}, seconds: {se}}}")
    df = execute(sp, f"RETURN date('1984-10-11') + duration({m}) AS s, "
                     f"date('1984-10-11') - duration({m}) AS f")
    [(got_sum, got_diff)] = [tuple(r) for r in df.collect()]

    def model(sign):
        months = sign * (y * 12 + mo)
        secs = ((d * 24 + h) * 60 + mi) * 60 + se
        days = sign * (secs // 86400)
        base = dt.date(1984, 10, 11)
        # months via calendar walk (add_months semantics)
        tm = (base.year * 12 + base.month - 1) + months
        yy, mm = divmod(tm, 12)
        mm += 1
        import calendar
        dd = min(base.day, calendar.monthrange(yy, mm)[1])
        return dt.date(yy, mm, dd) + dt.timedelta(days=days)

    assert got_sum == model(1), (got_sum, model(1))
    assert got_diff == model(-1), (got_diff, model(-1))
