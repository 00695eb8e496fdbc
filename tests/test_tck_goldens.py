"""Golden queries ported from the reference TCK corpus onto the real nba
fixture (FIXTURES.md "Graph fixture: nba").

Each case is one `When executing query / Then the result should be` pair
transcribed from a feature file under ``tests/tck/features/`` in the
reference repo; the expected rows are the reference's own goldens, so these
tests pin MATCH/GO/PATH edge-case semantics (duplicate preservation,
multi-start dedup, reverse traversal, NOLOOP vertex-uniqueness, null props)
against the authoritative corpus rather than our own oracle.

Syntax notes: the reference's legacy prop forms (``serve._dst``) are written
in the modern equivalents our front end implements (``dst(edge)``), which
the reference also accepts; semantics are identical.

Data: loaded from the reference's nba CSVs (read-only), including the
null.csv rows whose name strings (null/Null/NULL/__NULL__) the reference
importer maps to NULL (tests/tck/features/match/Base.feature:33-42 relies
on exactly that).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans import execute

NBA_DIR = "/root/reference/tests/data/nba"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(NBA_DIR), reason="reference nba fixture not present")


def _read(spark, name: str, cols: list[str]):
    df = spark.read.option("header", True).csv(f"{NBA_DIR}/{name}.csv")
    return df.toDF(*cols)


def build_nba_space(spark, name="nba"):
    """Load the reference's nba CSVs into a fresh GraphSpace — shared by
    the session fixture below and the TCK sweep's throwaway-space
    scenarios (tck_runner `load "nba" csv data to a new space`)."""
    player = _read(spark, "player", ["vid", "name", "age"])
    null_rows = _read(spark, "null", ["vid", "name", "age"])
    player = (player.unionByName(null_rows)
              .select("vid",
                      F.when(F.lower("name").isin("null", "__null__"),
                             None).otherwise(F.col("name")).alias("name"),
                      F.col("age").cast("long").alias("age")))
    team = _read(spark, "team", ["vid", "name"])
    bachelor = _read(spark, "bachelor", ["vid", "name", "speciality"])
    like = (_read(spark, "like", ["src", "dst", "likeness"])
            .select("src", "dst", F.lit(0).cast("long").alias("_rank"),
                    F.col("likeness").cast("long").alias("likeness")))
    serve = (_read(spark, "serve",
                   ["src", "dst", "rank", "start_year", "end_year"])
             .select("src", "dst", F.col("rank").cast("long").alias("_rank"),
                     F.col("start_year").cast("long").alias("start_year"),
                     F.col("end_year").cast("long").alias("end_year")))
    teammate = (_read(spark, "teammate",
                      ["src", "dst", "start_year", "end_year"])
                .select("src", "dst", F.lit(0).cast("long").alias("_rank"),
                        F.col("start_year").cast("long").alias("start_year"),
                        F.col("end_year").cast("long").alias("end_year")))
    sp = GraphSpace(spark, name)
    sp.create_tag("player", df=player)
    sp.create_tag("team", df=team)
    sp.create_tag("bachelor", df=bachelor)
    # storage parity: edge key (src,dst,rank) is unique in the reference's
    # KV layer — like.csv repeats one row, which upserts there
    sp.create_edge("like", df=like.dropDuplicates(["src", "dst", "_rank"]))
    sp.create_edge("serve", df=serve.dropDuplicates(["src", "dst", "_rank"]))
    sp.create_edge("teammate",
                   df=teammate.dropDuplicates(["src", "dst", "_rank"]))
    return sp


def build_nba_int_space(spark, name="nba_int_full"):
    """Full nba space keyed by hash(vid) int64 vids — the `load
    "nba_int_vid" csv data` sweep scenarios (MatchReturnEmptyTag [f2]).
    Same tables as build_nba_space; every vid/src/dst runs through the
    engine's reference-exact MurmurHash64A so hash("name") seeds in the
    transcribed queries resolve to real keys."""
    from nebula_spark.functions.scalar import _hash
    base = build_nba_space(spark, name=name + "_str")
    sp = GraphSpace(spark, name)
    sp.options = {"vid_type": "int64"}
    for t in base.tags:
        df = base.tag(t)
        sp.create_tag(t, df=df.withColumn("_vid", _hash(F.col("_vid"))))
    for e in base.edges:
        df = base.edge(e)
        sp.create_edge(e, df=df.withColumn("_src", _hash(F.col("_src")))
                            .withColumn("_dst", _hash(F.col("_dst"))))
    return sp


@pytest.fixture(scope="session")
def nba_space(spark):
    # modules importing this fixture (test_params,
    # test_tck_optimizer_results) skip instead of erroring without the data
    if not os.path.isdir(NBA_DIR):
        pytest.skip(f"reference nba fixture not present ({NBA_DIR})")
    return build_nba_space(spark)


def rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


# ---------------------------------------------------------------------------
# MATCH — tests/tck/features/match/Base.feature
# ---------------------------------------------------------------------------

def test_match_eq_name(nba_space):
    """Base.feature:44 — single-prop equality."""
    df = execute(nba_space, 'MATCH (v:player) WHERE v.player.name == '
                            '"Yao Ming" RETURN v.player.age AS Age')
    assert rows(df, "Age") == [(38,)]


def test_match_inline_prop(nba_space):
    """Base.feature:51 — inline prop map {age: 29}."""
    df = execute(nba_space,
                 'MATCH (v:player {age: 29}) RETURN v.player.name AS Name')
    assert sorted(r.Name for r in df.collect()) == [
        "Dejounte Murray", "James Harden", "Jonathon Simmons",
        "Klay Thompson"]


def test_match_starts_with(nba_space):
    """Base.feature:60 — STARTS WITH on top of an inline prop filter."""
    df = execute(nba_space, 'MATCH (v:player {age: 29}) WHERE '
                            'v.player.name STARTS WITH "J" '
                            'RETURN v.player.name AS Name')
    assert sorted(r.Name for r in df.collect()) == [
        "James Harden", "Jonathon Simmons"]


def test_match_age_range(nba_space):
    """Base.feature:69 — conjunctive range filter, 10 players."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE v.player.age >= 38 AND '
                 'v.player.age < 45 '
                 'RETURN v.player.name AS Name, v.player.age AS Age')
    expect = {("Paul Gasol", 38), ("Kobe Bryant", 40), ("Vince Carter", 42),
              ("Tim Duncan", 42), ("Yao Ming", 38), ("Dirk Nowitzki", 40),
              ("Manu Ginobili", 41), ("Ray Allen", 43), ("David West", 38),
              ("Tracy McGrady", 39)}
    assert set(rows(df, "Name", "Age")) == expect


def test_match_null_names(nba_space):
    """Base.feature:33 — the null.csv rows carry NULL names."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE v.player.age < 0 '
                 'RETURN v.player.name AS name, v.player.age AS age')
    got = rows(df, "name", "age")
    assert sorted(a for _, a in got) == [-4, -3, -2, -1]
    assert all(n is None for n, _ in got)


# ---------------------------------------------------------------------------
# GO — tests/tck/features/go/GO.feature
# ---------------------------------------------------------------------------

def test_go_one_step(nba_space):
    """GO.feature:12 — one hop out over serve."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER serve YIELD dst(edge) AS d')
    assert rows(df, "d") == [("Spurs",)]


def test_go_duplicate_start_vids_dedup(nba_space):
    """GO.feature:74 — duplicated FROM vids dedup to one traversal."""
    df = execute(nba_space, 'GO FROM "Tim Duncan", "Tim Duncan" OVER serve '
                            'YIELD dst(edge) AS d')
    assert rows(df, "d") == [("Spurs",)]


def test_go_preserves_row_multiplicity(nba_space):
    """GO.feature:54 — one row per edge, src props duplicated per edge."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like '
                 'YIELD $^.player.name AS name, $^.player.age AS age')
    assert sorted(rows(df, "name", "age")) == [
        ("Tim Duncan", 42), ("Tim Duncan", 42)]


def test_go_src_edge_dst_props(nba_space):
    """GO.feature:88 — $^ / edge / $$ props in one YIELD."""
    df = execute(nba_space,
                 'GO FROM "Boris Diaw" OVER serve '
                 'YIELD $^.player.name AS n, serve.start_year AS s, '
                 'serve.end_year AS e, $$.team.name AS t')
    assert set(rows(df, "n", "s", "e", "t")) == {
        ("Boris Diaw", 2003, 2005, "Hawks"),
        ("Boris Diaw", 2005, 2008, "Suns"),
        ("Boris Diaw", 2008, 2012, "Hornets"),
        ("Boris Diaw", 2012, 2016, "Spurs"),
        ("Boris Diaw", 2016, 2017, "Jazz")}


def test_go_literal_yield_pipe(nba_space):
    """GO.feature:81 — YIELD literal | GO FROM $-.vid."""
    df = execute(nba_space, 'YIELD "Tim Duncan" AS vid '
                            '| GO FROM $-.vid OVER serve YIELD dst(edge) AS d')
    assert rows(df, "d") == [("Spurs",)]


def test_go_two_steps_multiset(nba_space):
    """GO.feature:949 ("only id n steps") — 2-hop result keeps duplicates."""
    df = execute(nba_space,
                 "GO 2 STEPS FROM 'Tony Parker' OVER like "
                 "YIELD dst(edge) AS d")
    assert sorted(r.d for r in df.collect()) == sorted([
        "Tim Duncan", "Tim Duncan", "Tony Parker", "Tony Parker",
        "Manu Ginobili"])


def test_go_two_steps_distinct(nba_space):
    """GO.feature:289 ("distinct") — YIELD DISTINCT collapses them."""
    df = execute(nba_space,
                 'GO 2 STEPS FROM "Tony Parker" OVER like '
                 'YIELD DISTINCT dst(edge) AS d')
    assert sorted(r.d for r in df.collect()) == [
        "Manu Ginobili", "Tim Duncan", "Tony Parker"]


def test_go_pipe_two_more_steps(nba_space):
    """GO.feature:973 — 1-step pipe into 2 more steps, full multiset."""
    df = execute(nba_space,
                 "GO 1 STEPS FROM 'Tony Parker' OVER like "
                 "YIELD dst(edge) AS id "
                 "| GO 2 STEPS FROM $-.id OVER like YIELD dst(edge) AS d")
    assert sorted(r.d for r in df.collect()) == sorted([
        "LaMarcus Aldridge", "LaMarcus Aldridge", "Manu Ginobili",
        "Manu Ginobili", "Tim Duncan", "Tim Duncan", "Tim Duncan",
        "Manu Ginobili", "Manu Ginobili", "Tony Parker", "Tony Parker"])


def test_go_reverse_two_steps_dst_props(nba_space):
    """GO.feature:992 — REVERSELY with $$ props of the reached vertex."""
    df = execute(nba_space,
                 "GO 2 STEPS FROM 'Kobe Bryant' OVER like REVERSELY "
                 "YIELD $$.player.name AS name")
    assert sorted(r.name for r in df.collect()) == [
        "Grant Hill", "Marc Gasol", "Vince Carter", "Yao Ming"]


# ---------------------------------------------------------------------------
# FIND PATH — tests/tck/features/path/{ShortestPath,NoLoop,AllPath}.feature
# ---------------------------------------------------------------------------

def test_shortest_path_one_hop(nba_space):
    """ShortestPath.feature:31 — single pair, 1 hop."""
    df = execute(nba_space, 'FIND SHORTEST PATH FROM "Tim Duncan" TO '
                            '"Tony Parker" OVER like UPTO 5 STEPS')
    got = rows(df, "src", "dst", "dist")
    assert got == [("Tim Duncan", "Tony Parker", 1)]


def test_shortest_path_two_hops(nba_space):
    """ShortestPath.feature:66 — Tim Duncan → LaMarcus Aldridge is 2 hops."""
    df = execute(nba_space, 'FIND SHORTEST PATH FROM "Tim Duncan" TO '
                            '"LaMarcus Aldridge" OVER like UPTO 5 STEPS')
    assert rows(df, "dist") == [(2,)]


def test_shortest_path_three_hops(nba_space):
    """ShortestPath.feature:75 — Tiago Splitter → LaMarcus Aldridge, 3."""
    df = execute(nba_space, 'FIND SHORTEST PATH FROM "Tiago Splitter" TO '
                            '"LaMarcus Aldridge" OVER like UPTO 5 STEPS')
    assert rows(df, "dist") == [(3,)]


def test_noloop_path_one_to_m(nba_space):
    """NoLoop.feature:18 — vertex-unique paths to two targets."""
    df = execute(nba_space,
                 'FIND NOLOOP PATH FROM "Tim Duncan" TO "Tony Parker", '
                 '"Manu Ginobili" OVER like UPTO 3 STEPS')
    got = {r.path_str for r in df.collect()}
    assert got == {
        "Tim Duncan-[like]->Tony Parker",
        "Tim Duncan-[like]->Manu Ginobili",
        "Tim Duncan-[like]->Tony Parker|Tony Parker-[like]->Manu Ginobili"}


def test_all_path_edge_unique_only(nba_space):
    """AllPath.feature:46 — ALL PATH repeats vertices but never edges."""
    df = execute(nba_space, 'FIND ALL PATH FROM "Tim Duncan" TO '
                            '"Tony Parker" OVER like UPTO 3 STEPS')
    got = {r.path_str for r in df.collect()}
    assert got == {
        "Tim Duncan-[like]->Tony Parker",
        "Tim Duncan-[like]->Manu Ginobili|Manu Ginobili-[like]->Tim Duncan"
        "|Tim Duncan-[like]->Tony Parker",
        "Tim Duncan-[like]->Tony Parker"
        "|Tony Parker-[like]->LaMarcus Aldridge"
        "|LaMarcus Aldridge-[like]->Tony Parker"}


# ---------------------------------------------------------------------------
# LOOKUP / FETCH — tests/tck/features/lookup, fetch
# ---------------------------------------------------------------------------

def test_lookup_age_index(nba_space):
    """LookupTag-style index seek (players aged exactly 40)."""
    df = execute(nba_space, 'LOOKUP ON player WHERE player.age == 40 '
                            'YIELD player.name AS name')
    assert sorted(r.name for r in df.collect()) == [
        "Dirk Nowitzki", "Kobe Bryant"]


def test_fetch_multi_tag_vertex(nba_space):
    """Base.feature:97 — Tim Duncan is player + bachelor (multi-tag)."""
    df = execute(nba_space, 'FETCH PROP ON bachelor "Tim Duncan" '
                            'YIELD bachelor.speciality AS spec')
    assert rows(df, "spec") == [("psychology",)]


# ---------------------------------------------------------------------------
# GET SUBGRAPH — tests/tck/features/subgraph
# ---------------------------------------------------------------------------

def test_subgraph_one_step_out(nba_space):
    """1-step OUT subgraph from Tim Duncan over serve: exactly his edge."""
    df = execute(nba_space, 'GET SUBGRAPH 1 STEPS FROM "Tim Duncan" '
                            'OUT serve')
    got = {(r.src, r.dst) for r in df.collect()}
    assert got == {("Tim Duncan", "Spurs")}


# ---------------------------------------------------------------------------
# GO OVER * — tests/tck/features/go/GO.feature "multi edges over all"
# ---------------------------------------------------------------------------

def test_go_over_all_reversely(nba_space):
    """GO.feature:341 — OVER * REVERSELY; per-edge-type props are NULL on
    rows from other edge types (the reference's EMPTY cells)."""
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER * REVERSELY '
                 'YIELD serve._dst AS s, like._dst AS l')
    got = sorted(rows(df, "s", "l"), key=str)
    assert got == sorted([(None, "James Harden"), (None, "Dejounte Murray"),
                          (None, "Paul George")], key=str)


def test_go_over_all_out(nba_space):
    """GO.feature:381 — OVER * forward from Dirk Nowitzki."""
    df = execute(nba_space, 'GO FROM "Dirk Nowitzki" OVER * '
                            'YIELD serve._dst AS s, like._dst AS l')
    got = set(rows(df, "s", "l"))
    assert got == {("Mavericks", None), (None, "Steve Nash"),
                   (None, "Jason Kidd"), (None, "Dwyane Wade")}


def test_go_over_all_bidirect(nba_space):
    """GO.feature:351 — BIDIRECT keeps both orientations' rows."""
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER * BIDIRECT '
                 'YIELD serve._dst AS s, like._dst AS l')
    got = sorted(rows(df, "s", "l"), key=str)
    assert got == sorted([
        (None, "Dejounte Murray"), (None, "James Harden"),
        (None, "Paul George"), (None, "James Harden"),
        (None, "Paul George"), ("Thunders", None)], key=str)


# ---------------------------------------------------------------------------
# Expressions — tests/tck/features/expression/{Predicate,Reduce,
# ListComprehension,Case}.feature (standalone YIELD goldens)
# ---------------------------------------------------------------------------

def _yield1(nba_space, q):
    out = execute(nba_space, q).collect()
    assert len(out) == 1
    return out[0]


def test_predicate_fns_goldens(nba_space):
    """Predicate.feature:8-37 — all/any/single/none over literals/range."""
    r = _yield1(nba_space,
                'YIELD all(n IN range(1, 5) WHERE n > 2) AS a, '
                'any(n IN [1, 2, 3, 4, 5] WHERE n > 2) AS b, '
                'single(n IN range(1, 5) WHERE n == 3) AS c, '
                'none(n IN range(1, 3) WHERE n == 0) AS d')
    assert (r.a, r.b, r.c, r.d) == (False, True, True, True)


def test_reduce_goldens(nba_space):
    """Reduce.feature:6-21 — reduce with range and computed init."""
    r = _yield1(nba_space,
                'YIELD reduce(totalNum = 10, n IN range(1, 3) '
                '| totalNum + n) AS r1, '
                'reduce(totalNum = -4 * 5, n IN [1, 2] '
                '| totalNum + n * 2) AS r2')
    assert (r.r1, r.r2) == (16, -14)


def test_reduce_in_go_filter(nba_space):
    """Reduce.feature:23-35 — reduce over $$ props inside a GO WHERE."""
    df = execute(nba_space,
                 'GO FROM "Tony Parker" OVER like '
                 'WHERE like.likeness != reduce(totalNum = 5, n IN '
                 'range(1, 3) | $$.player.age + totalNum + n) '
                 'YIELD dst(edge) AS id, $$.player.age AS age, '
                 'like.likeness AS likeness')
    assert set(rows(df, "id", "age", "likeness")) == {
        ("Manu Ginobili", 41, 95), ("Tim Duncan", 42, 95),
        ("LaMarcus Aldridge", 33, 90)}


def test_list_comprehension_goldens(nba_space):
    """ListComprehension.feature:8-35 — filter+map, filter-only, map-only."""
    r = _yield1(nba_space,
                'YIELD [n IN range(1, 5) WHERE n > 2 | n + 10] AS a, '
                '[n IN [1, 2, 3, 4, 5] WHERE n > 2] AS b, '
                '[n IN range(1, 3) WHERE true | n] AS c')
    assert (list(r.a), list(r.b), list(r.c)) == (
        [13, 14, 15], [3, 4, 5], [1, 2, 3])


# ---------------------------------------------------------------------------
# Cypher clause chains — match/MultiLineMultiQueryParts.feature,
# match/MatchGroupBy.feature, expression/Predicate.feature (UNWIND clause)
# ---------------------------------------------------------------------------

def test_multi_query_parts_with_unwind(nba_space):
    """MultiLineMultiQueryParts.feature:324-331 — two MATCH parts joined
    through WITH, cross-product semantics, then an UNWIND clause:
    2 players aged 42 x 2 aged 40 x 3 list elements = 12."""
    df = execute(nba_space, """
        MATCH (a:player {age: 42}) WITH a
        MATCH (b:player {age: 40}) WHERE b.player.age < a.player.age
        UNWIND [1, 2, 3] AS l
        RETURN count(*) AS count""")
    assert rows(df, "count") == [(12,)]


def test_unwind_clause_return(nba_space):
    """Cypher-form UNWIND as a standalone clause chain."""
    df = execute(nba_space, 'UNWIND [1, 2, 3] AS x RETURN x * 2 AS y '
                            'ORDER BY y')
    assert rows(df, "y") == [(2,), (4,), (6,)]


def test_zero_step_exact(nba_space):
    """ZeroStep.feature:9-27 — ``[*0]`` binds the start vertex itself."""
    df = execute(nba_space,
                 'MATCH (v:player {name: "Tim Duncan"})-[*0]-() '
                 'RETURN id(v) AS id')
    assert rows(df, "id") == [("Tim Duncan",)]


def test_zero_step_range(nba_space):
    """ZeroStep.feature:50-60 — ``serve*0..1`` yields the zero-hop self
    row plus the one-hop neighbor."""
    df = execute(nba_space,
                 'MATCH (:player{name:"Tim Duncan"})-[e:serve*0..1]-(v) '
                 'RETURN id(v) AS id')
    assert sorted(r.id for r in df.collect()) == ["Spurs", "Tim Duncan"]


# ---------------------------------------------------------------------------
# WITH — tests/tck/features/match/With.feature
# ---------------------------------------------------------------------------

def test_with_return_literals(nba_space):
    """With.feature:6-31 — leading WITH, rebinding, carry-through."""
    df = execute(nba_space, 'WITH [1, 2, 3] AS a, "hello" AS b RETURN a, b')
    r = df.collect()[0]
    assert (list(r.a), r.b) == ([1, 2, 3], "hello")
    df = execute(nba_space,
                 'WITH [1, 2, 3] AS a WITH a AS a, "hello" AS b RETURN a, b')
    r = df.collect()[0]
    assert (list(r.a), r.b) == ([1, 2, 3], "hello")


def test_with_star(nba_space):
    """With.feature:32-46 — WITH * passthrough and RETURN *, expr."""
    df = execute(nba_space, 'WITH 1 AS a, 2 AS b WITH * RETURN *, a + b AS c')
    assert rows(df, "a", "b", "c") == [(1, 2, 3)]
    df = execute(nba_space, 'WITH *, "tom" AS a RETURN *')
    assert rows(df, "a") == [("tom",)]


def test_with_map_access(nba_space):
    """With.feature:69-93 — nested map field chains."""
    df = execute(nba_space,
                 'WITH {a:1, b:{c:3, d:{e:5}}} AS x RETURN x.b.d.e AS v')
    assert rows(df, "v") == [(5,)]


def test_with_agg_over_untagged(nba_space):
    """With.feature "match with return" — v2 is bound with no tag; the
    prop ref v2.player.age lazily appends the player tag (NULL where the
    neighbor is a team)."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"})-[]-(v2) '
                 'WITH avg(v2.player.age) AS average_age RETURN average_age')
    assert rows(df, "average_age") == [(35.888888888888886,)]


def test_with_2hop_count_names(nba_space):
    """With.feature — two untyped hops, count of non-null names."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"})-[]-(v2)-[]-(v3) '
                 'WITH v3.player.name AS names RETURN count(names) AS c')
    assert rows(df, "c") == [(141,)]


# ---------------------------------------------------------------------------
# MATCH by id — tests/tck/features/match/MatchById.feature
# ---------------------------------------------------------------------------

def test_match_by_id(nba_space):
    """MatchById.feature:9 — tagless node, id() equality seek."""
    df = execute(nba_space, 'MATCH (n) WHERE id(n) == "James Harden" '
                            'RETURN n.player.name AS name')
    assert rows(df, "name") == [("James Harden",)]


def test_match_by_id_in(nba_space):
    """MatchById.feature:19 — id() IN list seek."""
    df = execute(nba_space,
                 'MATCH (n) WHERE id(n) IN ["James Harden", "Tony Parker"] '
                 'RETURN n.player.name AS name ORDER BY name')
    assert rows(df, "name") == [("James Harden",), ("Tony Parker",)]


def test_match_by_id_cross_tag_null(nba_space):
    """A team vertex has no player tag — player props resolve NULL
    (UNKNOWN_PROP semantics, Base.feature EMPTY cells)."""
    df = execute(nba_space, 'MATCH (n) WHERE id(n) == "Spurs" '
                            'RETURN n.player.name AS p, n.team.name AS t')
    assert rows(df, "p", "t") == [(None, "Spurs")]


def test_match_tagless_labels(nba_space):
    """Tagless bind reports the vertex's full label set (Vertex.h:62-70)."""
    df = execute(nba_space, 'MATCH (n) WHERE id(n) == "Tim Duncan" '
                            'RETURN labels(n) AS lb')
    assert [sorted(r.lb) for r in df.collect()] == [["bachelor", "player"]]


def test_match_cross_tag_prop(nba_space):
    """Base.feature:97 — a player-bound alias can reach its bachelor tag
    props (multi-tag vertex)."""
    df = execute(nba_space, 'MATCH (v:player{name:"Tim Duncan"}) '
                            'RETURN v.bachelor.speciality AS s')
    assert rows(df, "s") == [("psychology",)]


# ---------------------------------------------------------------------------
# Expressions — Case.feature, ListRangeSubscript.feature
# ---------------------------------------------------------------------------

def test_case_goldens(nba_space):
    """Case.feature:9-45 — generic + searched CASE, null condition."""
    r = _yield1(nba_space,
                'YIELD CASE 2 + 3 WHEN 4 THEN 0 WHEN 5 THEN 1 ELSE 2 END '
                'AS a, CASE true WHEN false THEN 0 END AS b, '
                'CASE WHEN 4 > 5 THEN 0 WHEN 3+4==7 THEN 1 ELSE 2 END AS c, '
                'CASE WHEN null THEN 0 ELSE 1 END AS d')
    assert (r.a, r.b, r.c, r.d) == (1, None, 1, 1)


def test_ternary_goldens(nba_space):
    """Case.feature:47-58 — conditional expression ``? :``."""
    r = _yield1(nba_space, 'YIELD 3 > 5 ? 0 : 1 AS a, '
                           'true ? "yes" : "no" AS b')
    assert (r.a, r.b) == (1, "yes")


def test_case_in_go(nba_space):
    """Case.feature:60-73 — generic CASE over edge props in GO YIELD."""
    df = execute(nba_space,
                 'GO FROM "Jonathon Simmons" OVER serve '
                 'YIELD $$.team.name AS name, '
                 'CASE serve.end_year > 2017 WHEN true THEN "ok" '
                 'ELSE "no" END AS b')
    assert set(rows(df, "name", "b")) == {
        ("Spurs", "no"), ("Magic", "ok"), ("76ers", "ok")}


def test_list_slice_var(nba_space):
    """ListRangeSubscript.feature:6-28 — slice bounds from a $var."""
    df = execute(nba_space, '$var = YIELD 1 AS f, 3 AS t; '
                            'YIELD [1, 2, 3][$var.f..$var.t] AS r;')
    assert [list(r.r) for r in df.collect()] == [[2, 3]]
    df = execute(nba_space, '$var = YIELD 3 AS f, 1 AS t; '
                            'YIELD [1, 2, 3][$var.f..$var.t] AS r;')
    assert [list(r.r) for r in df.collect()] == [[]]


def test_subscript_negative_oob(nba_space):
    """SubscriptExpression.cpp:26-36 — negative wraps, out-of-range NULL."""
    r = _yield1(nba_space, 'YIELD [1, 2, 3][0] AS a, [1, 2, 3][-1] AS b, '
                           '[1, 2, 3][3] AS c, [1, 2, 3][-4] AS d')
    assert (r.a, r.b, r.c, r.d) == (1, 3, None, None)


def test_varlen_edge_props(nba_space):
    """VariableLengthPattern.feature:9-48 — inline edge-prop filters apply
    to every step of a var-len expansion."""
    df = execute(nba_space,
                 'MATCH (:player{name:"Tim Duncan"})'
                 '-[e:like*2..3{likeness: 90}]-(v) RETURN id(v) AS id')
    assert rows(df, "id") == [("Tiago Splitter",)]
    df = execute(nba_space,
                 'MATCH (:player{name:"Tim Duncan"})'
                 '-[e:serve*2..3{start_year: 2000}]-(v) RETURN id(v) AS id')
    assert df.count() == 0


def test_single_hop_edge_props(nba_space):
    """Base.feature — inline edge props on a single hop."""
    df = execute(nba_space,
                 'MATCH (:player{name:"Tim Duncan"})<-[e:like{likeness: 90}]'
                 '-(v) RETURN id(v) AS id')
    assert rows(df, "id") == [("Manu Ginobili",)]


def test_agg_null_semantics(nba_space):
    """Agg.feature:31-45 — count(null)=0, sum(null)=0, others NULL."""
    r = _yield1(nba_space,
                'YIELD count(null) AS v1, avg(null) AS v2, sum(null) AS v3, '
                'min(null) AS v5, bit_and(null) AS v9')
    assert (r.v1, r.v2, r.v3, r.v5, r.v9) == (0, None, 0, None, None)


def test_go_range_bidirect_count(nba_space):
    """Agg.feature:66-72 — GO 1 to 3 BIDIRECT, distinct dst count; bare
    $$ ref inside id()."""
    df = execute(nba_space,
                 'GO 1 to 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT '
                 'YIELD DISTINCT id($$) AS dst | YIELD COUNT(*) AS c')
    assert rows(df, "c") == [(41,)]


def test_type_cast_goldens(nba_space):
    """Agg.feature:22-29 + TypeCastingExpression — (INT)/(STRING) casts."""
    r = _yield1(nba_space, 'YIELD COUNT(*)+1 AS a, (INT)abs(count(2)) AS b, '
                           '(STRING)123 AS s, (INT)"42" AS i')
    assert (r.a, r.b, r.s, r.i) == (2, 1, "123", 42)


def test_multi_path_patterns(nba_space):
    """MultiQueryParts.feature:9-28 — comma patterns in ONE MATCH clause
    share relationship uniqueness; id() seek on an untagged start; CASE
    over lazily-bound tag props."""
    df = execute(nba_space, '''
        MATCH (m)-[]-(n), (n)-[]-(l) WHERE id(m)=="Tim Duncan"
        RETURN m.player.name AS n1, n.player.name AS n2,
        CASE WHEN l.team.name is not null THEN l.team.name
        WHEN l.player.name is not null THEN l.player.name
        ELSE "null" END AS n3 ORDER BY n1, n2, n3 LIMIT 10''')
    assert rows(df, "n1", "n2", "n3") == [
        ("Tim Duncan", "Aron Baynes", "Celtics"),
        ("Tim Duncan", "Aron Baynes", "Pistons"),
        ("Tim Duncan", "Aron Baynes", "Spurs"),
        ("Tim Duncan", "Aron Baynes", "Tim Duncan"),
        ("Tim Duncan", "Boris Diaw", "Hawks"),
        ("Tim Duncan", "Boris Diaw", "Hornets"),
        ("Tim Duncan", "Boris Diaw", "Jazz"),
        ("Tim Duncan", "Boris Diaw", "Spurs"),
        ("Tim Duncan", "Boris Diaw", "Suns"),
        ("Tim Duncan", "Boris Diaw", "Tim Duncan")]


def test_multi_path_patterns_mid_seek(nba_space):
    """MultiQueryParts.feature:29-45 — seek on the middle alias."""
    df = execute(nba_space, '''
        MATCH (m)-[]-(n), (n)-[]-(l) WHERE id(n)=="Tim Duncan"
        RETURN m.player.name AS n1, n.player.name AS n2,
               l.player.name AS n3 ORDER BY n1, n2, n3 LIMIT 10''')
    assert rows(df, "n1", "n2", "n3") == [
        ("Aron Baynes", "Tim Duncan", "Aron Baynes"),
        ("Aron Baynes", "Tim Duncan", "Boris Diaw"),
        ("Aron Baynes", "Tim Duncan", "Danny Green"),
        ("Aron Baynes", "Tim Duncan", "Danny Green"),
        ("Aron Baynes", "Tim Duncan", "Dejounte Murray"),
        ("Aron Baynes", "Tim Duncan", "LaMarcus Aldridge"),
        ("Aron Baynes", "Tim Duncan", "LaMarcus Aldridge"),
        ("Aron Baynes", "Tim Duncan", "Manu Ginobili"),
        ("Aron Baynes", "Tim Duncan", "Manu Ginobili"),
        ("Aron Baynes", "Tim Duncan", "Manu Ginobili")]


def test_seek_by_edge_tagless(nba_space):
    """SeekByEdge.feature:10-17 — both pattern ends tagless, seek from the
    edge table; props lazily bound."""
    df = execute(nba_space, 'MATCH (p)-[:serve]->(t) '
                            'RETURN p.player.name AS pn, t.team.name AS tn')
    got = rows(df, "pn", "tn")
    assert len(got) == 152
    assert ("Boris Diaw", "Jazz") in got and ("Kobe Bryant", "Lakers") in got


def test_go_orderby_pipe(nba_space):
    """Orderby.feature — GO | ORDER BY $-.col, NULL ordering last-asc."""
    df = execute(nba_space,
                 'GO FROM "Boris Diaw" OVER serve '
                 'YIELD $^.player.name as name, serve.start_year as start, '
                 '$$.team.name as team | ORDER BY $-.team')
    assert [r.team for r in df.collect()] == [
        "Hawks", "Hornets", "Jazz", "Spurs", "Suns"]


def test_go_groupby_pipe_count(nba_space):
    """GroupbyLimit.feature — GO | GROUP BY $-.name YIELD count."""
    df = execute(nba_space,
                 'GO FROM "Aron Baynes", "Tim Duncan" OVER serve '
                 'YIELD $$.team.name AS name '
                 '| GROUP BY $-.name YIELD $-.name AS n, COUNT(*) AS c')
    got = dict(rows(df, "n", "c"))
    assert got["Spurs"] == 2 and got["Celtics"] == 1 and got["Pistons"] == 1


def test_standalone_return_null(nba_space):
    """Null.feature:8-15 — standalone RETURN; NULL comparison semantics."""
    r = _yield1(nba_space, 'RETURN NULL IS NULL AS v1, NULL == NULL AS v2, '
                           'NULL != NULL AS v3, abs(NULL) AS v4')
    assert (r.v1, r.v2, r.v3, r.v4) == (True, None, None, None)


def test_in_list_range_set(nba_space):
    """In.feature:8-62 — IN over literal lists, range(), comprehensions,
    and set literals (deduped)."""
    r = _yield1(nba_space,
                "YIELD 1 IN [1, 2, 3] AS a, 0 IN [1, 2, 3] AS b, "
                "'hello' IN ['hello', 'world', NULL] AS c, "
                "2 IN range(1, 3) AS d, "
                "2 IN [n IN range(1, 5) WHERE n > 3 | n - 2] AS e, "
                "0 IN {1, 2, 3, 1, 2} AS f")
    assert (r.a, r.b, r.c, r.d, r.e, r.f) == (
        True, False, True, True, True, False)


def test_match_group_by_skip_limit(nba_space):
    """MatchGroupBy.feature:9-33 — per-vertex implicit grouping with
    count/sum/max, avg(DISTINCT), labels(), ORDER BY + SKIP + LIMIT."""
    df = execute(nba_space, """
        MATCH (n:player)
        RETURN id(n) AS id, count(n) AS count,
               sum(floor(n.player.age)) AS sum, max(n.player.age) AS max,
               avg(distinct n.player.age) AS age, labels(n) AS lb
        ORDER BY id SKIP 10 LIMIT 8""")
    got = [(r["id"], r["count"], r["sum"], r["max"], r["age"], list(r["lb"]))
           for r in df.collect()]
    assert got == [
        ("David West", 1, 38, 38, 38.0, ["player"]),
        ("DeAndre Jordan", 1, 30, 30, 30.0, ["player"]),
        ("Dejounte Murray", 1, 29, 29, 29.0, ["player"]),
        ("Dirk Nowitzki", 1, 40, 40, 40.0, ["player"]),
        ("Dwight Howard", 1, 33, 33, 33.0, ["player"]),
        ("Dwyane Wade", 1, 37, 37, 37.0, ["player"]),
        ("Giannis Antetokounmpo", 1, 24, 24, 24.0, ["player"]),
        ("Grant Hill", 1, 46, 46, 46.0, ["player"])]


# ---------------------------------------------------------------------------
# Pattern expressions — tests/tck/features/match/PathExpr.feature
# ---------------------------------------------------------------------------

def test_pathexpr_bare_where(nba_space):
    """PathExpr.feature:93 — bare pattern predicate in WHERE."""
    df = execute(nba_space, 'MATCH (v:player) WHERE (v)-[:like]->() '
                            'RETURN v.player.name AS name')
    expect = {
        "Amar'e Stoudemire", "Russell Westbrook", "James Harden",
        "Tracy McGrady", "Chris Paul", "Boris Diaw", "LeBron James",
        "Klay Thompson", "Kristaps Porzingis", "Marco Belinelli",
        "Luka Doncic", "Tony Parker", "Danny Green", "Rudy Gay",
        "LaMarcus Aldridge", "Tim Duncan", "Ray Allen", "Tiago Splitter",
        "Paul Gasol", "Aron Baynes", "Vince Carter", "Marc Gasol",
        "Ben Simmons", "Rajon Rondo", "Manu Ginobili", "Kyrie Irving",
        "Carmelo Anthony", "Dwyane Wade", "Joel Embiid", "Damian Lillard",
        "Yao Ming", "Dejounte Murray", "Blake Griffin", "Steve Nash",
        "Jason Kidd", "Dirk Nowitzki", "Paul George", "Grant Hill",
        "Shaquille O'Neal"}
    assert set(r.name for r in df.collect()) == expect


def test_pathexpr_two_patterns_and(nba_space):
    """PathExpr.feature:138 — conjunction of two bare patterns."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE (v)-[:like]->() AND '
                 '(v)-[:serve]->(:team{name: "Spurs"}) '
                 'RETURN v.player.name AS name')
    expect = {"Tracy McGrady", "Boris Diaw", "Marco Belinelli",
              "Tony Parker", "Danny Green", "Rudy Gay", "LaMarcus Aldridge",
              "Tim Duncan", "Tiago Splitter", "Paul Gasol", "Aron Baynes",
              "Manu Ginobili", "Dejounte Murray"}
    assert set(r.name for r in df.collect()) == expect


def test_pathexpr_dup_preserving(nba_space):
    """PathExpr.feature:157 — predicate filters, main-match duplicates
    survive (Tim Duncan likes two players → two rows)."""
    df = execute(nba_space,
                 "MATCH (v:player{name: 'Tim Duncan'})-[:like]->() "
                 "WHERE (v)-->() RETURN v.player.name AS name")
    assert [r.name for r in df.collect()] == ["Tim Duncan", "Tim Duncan"]


def test_pathexpr_not_pattern(nba_space):
    """PathExpr.feature:164 — NOT (v2)<-[:like]-() anti-semantics."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"})<-[:like]-(v2) '
                 'WHERE NOT (v2)<-[:like]-() RETURN v2.player.name AS n')
    assert sorted(r.n for r in df.collect()) == [
        "Aron Baynes", "Boris Diaw", "Dejounte Murray", "Tiago Splitter"]


def test_pathexpr_not_with_bound_endpoint(nba_space):
    """PathExpr.feature:175 — NOT (v)-[]->(t:player) over bound t."""
    df = execute(nba_space,
                 'MATCH p = (v:player{name:"Tim Duncan"})-[e]->(t) '
                 'WHERE NOT (v)-[]->(t:player) RETURN t.team.name AS tn')
    assert rows(df, "tn") == [("Spurs",)]


def test_pathexpr_bound_edge_and_size(nba_space):
    """PathExpr.feature:326/334 — bound-edge re-reference constrains on the
    edge identity; size((v)-->()) counts Tim Duncan's 7 out-edges."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"})-[e]->(t) '
                 'WHERE (v)-[e]->(t:team) '
                 'RETURN v.player.name AS name, size((v)-->()) AS n')
    assert rows(df, "name", "n") == [("Tim Duncan", 7)]


def test_pathexpr_in_unwind(nba_space):
    """PathExpr.feature:181 — UNWIND of a pattern value: one row per
    matched path; players with no teammate edges drop out."""
    df = execute(nba_space,
                 'MATCH (v:player) UNWIND (v)-[:teammate]->() AS p '
                 'RETURN v.player.name AS name, p')
    got = df.collect()
    n_edges = nba_space.edge("teammate").count()
    assert len(got) == n_edges
    # each unwound value is one 1-hop path: [(s, d, r)]
    assert all(len(r.p) == 1 and r.p[0].s is not None for r in got)


def test_pathexpr_in_with(nba_space):
    """PathExpr.feature "In With" — pattern value projected through WITH."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"}) '
                 'WITH (v)-[:teammate]->() AS p RETURN size(p) AS n')
    assert rows(df, "n") == [(4,)]


def test_pathexpr_new_var_error(nba_space):
    """PathExpr.feature:26-46 — introducing a new variable is an error."""
    with pytest.raises(ValueError):
        execute(nba_space, 'MATCH (v:player) WHERE (t)-[]-(v) RETURN v')
    with pytest.raises(ValueError):
        execute(nba_space, 'MATCH (v:player) RETURN (t)-[]-(v)')


def test_go_is_not_empty(nba_space):
    """GO.feature:404-412 — $$.player.name IS NOT EMPTY keeps only edges
    whose dst carries the player tag (team dsts have EMPTY→NULL name)."""
    df = execute(nba_space,
                 'GO FROM "Paul Gasol" OVER * '
                 'WHERE $$.player.name IS NOT EMPTY YIELD like._dst AS d')
    assert sorted(r.d for r in df.collect()) == ["Kobe Bryant", "Marc Gasol"]


def test_go_is_empty(nba_space):
    """GO.feature:413-425 — IS EMPTY selects the team-dst rows; like.dst
    itself is EMPTY→NULL there (serve edges in the OVER * union)."""
    df = execute(nba_space,
                 'GO FROM "Paul Gasol" OVER * '
                 'WHERE $$.player.name IS EMPTY YIELD like._dst AS d')
    assert [r.d for r in df.collect()] == [None] * 5


# ---------------------------------------------------------------------------
# LOOKUP — tests/tck/features/lookup/WithYield.feature
# ---------------------------------------------------------------------------

def test_lookup_tag_yield(nba_space):
    """WithYield.feature:10 — tag index seek + prop yield."""
    df = execute(nba_space, 'LOOKUP ON player WHERE player.age == 40 '
                            'YIELD player.name AS name')
    assert sorted(r.name for r in df.collect()) == [
        "Dirk Nowitzki", "Kobe Bryant"]


def test_lookup_tag_in_list(nba_space):
    """WithYield.feature:44 — IN-list predicate over a tag prop."""
    df = execute(nba_space,
                 'LOOKUP ON team WHERE team.name in '
                 '["76ers", "Lakers", "Spurs"] YIELD team.name AS name')
    assert sorted(r.name for r in df.collect()) == [
        "76ers", "Lakers", "Spurs"]


def test_lookup_edge_yield(nba_space):
    """WithYield.feature:55 — edge index seek, two conjuncts."""
    df = execute(nba_space,
                 'LOOKUP ON serve WHERE serve.start_year == 2008 and '
                 'serve.end_year == 2019 YIELD serve.start_year AS startYear')
    assert rows(df, "startYear") == [(2008,), (2008,)]


def test_lookup_edge_pipe_count(nba_space):
    """WithYield.feature:86-103 — arithmetic in WHERE, piped count."""
    df = execute(nba_space,
                 'LOOKUP ON like WHERE like.likeness < 50 + 1 '
                 'YIELD like.likeness AS l | YIELD count(*) AS nums')
    assert rows(df, "nums") == [(6,)]


def test_lookup_constant_columns(nba_space):
    """WithYield.feature:105 — literal and computed constant columns."""
    df = execute(nba_space,
                 'LOOKUP ON serve WHERE serve.start_year == 2008 and '
                 'serve.end_year == 2019 '
                 'YIELD serve.start_year AS startYear, 1 AS a, 10+1 AS b')
    assert rows(df, "startYear", "a", "b") == [(2008, 1, 11), (2008, 1, 11)]


# ---------------------------------------------------------------------------
# UNWIND — tests/tck/features/match/Unwind.feature
# ---------------------------------------------------------------------------

def test_unwind_literal_list(nba_space):
    """Unwind.feature:6 — basic explode."""
    df = execute(nba_space, 'UNWIND [1, 2, 3] AS a RETURN a')
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_unwind_null_element_preserved(nba_space):
    """Unwind.feature:17 — NULL list elements become NULL rows."""
    df = execute(nba_space, 'UNWIND [1, NULL, 3] AS a RETURN a')
    got = [r.a for r in df.collect()]
    assert len(got) == 3 and None in got and {1, 3} <= set(
        x for x in got if x is not None)


def test_unwind_double_cross(nba_space):
    """Unwind.feature:50 — chained UNWINDs cross-product."""
    df = execute(nba_space,
                 'UNWIND [1, 2, 3] AS a UNWIND [4, 5] AS b RETURN b, a')
    assert sorted(rows(df, "b", "a")) == [
        (4, 1), (4, 2), (4, 3), (5, 1), (5, 2), (5, 3)]


def test_unwind_minmax_strings(nba_space):
    """Unwind.feature:102 — min/max aggregate over unwound strings."""
    df = execute(nba_space,
                 'UNWIND ["a", "abc", "ab"] AS x '
                 'RETURN min(x) AS mn, max(x) AS mx')
    assert rows(df, "mn", "mx") == [("a", "abc")]


def test_unwind_scalar_passthrough(nba_space):
    """Unwind.feature:163 — UNWIND of a non-list keeps one row."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE v.player.name in ["Tim Duncan"] '
                 'UNWIND v.player.age AS age RETURN age')
    assert rows(df, "age") == [(42,)]


def test_unwind_nodes_distinct_filter(nba_space):
    """Unwind.feature:120 "unwind match with" — var-len like*..2 paths
    whose node list is duplicate-free: 4 paths survive."""
    df = execute(nba_space,
                 'MATCH p = (x:player{name: "Tim Duncan"})-[:like*..2]->(y) '
                 'UNWIND nodes(p) as n '
                 'WITH p, size(collect(distinct n)) AS testLength '
                 'WHERE testLength == length(p) + 1 RETURN p')
    assert df.count() == 4


# ---------------------------------------------------------------------------
# Redefined node alias — tests/tck/features/match/RedefinedNode.feature
# ---------------------------------------------------------------------------

def test_redefined_node_self_like(nba_space):
    """RedefinedNode.feature:13 — (v)-[:like]->(v): no self-likes → empty."""
    df = execute(nba_space,
                 'MATCH (v:player)-[:like]->(v) RETURN v.player.name AS name')
    assert df.count() == 0


def test_redefined_node_shared_team(nba_space):
    """RedefinedNode.feature:19 — (v)-[:serve]->(t)<-[:serve]-(v): players
    with two serve stints at one team, one row per ordered edge pair."""
    df = execute(nba_space,
                 'MATCH (v)-[:serve]->(t)<-[:serve]-(v) '
                 'RETURN t.team.name AS t, v.player.name AS n')
    expect = sorted(
        [("Mavericks", "Jason Kidd")] * 2 + [("Spurs", "Marco Belinelli")] * 2
        + [("Heat", "Dwyane Wade")] * 2 + [("Suns", "Steve Nash")] * 2
        + [("Hornets", "Marco Belinelli")] * 2
        + [("Cavaliers", "LeBron James")] * 2)
    assert sorted(rows(df, "t", "n")) == expect


def test_redefined_node_varlen_zero(nba_space):
    """RedefinedNode.feature:88 — (v:player)-[:like*0..2]->(v): zero-step
    trivially matches every player; 2-step adds mutual-like cycles (94 rows,
    counted from the feature's own golden table)."""
    from collections import Counter
    df = execute(nba_space,
                 'MATCH (v:player)-[:like*0..2]->(v) '
                 'RETURN v.player.name AS name')
    got = Counter(r.name for r in df.collect())
    assert sum(got.values()) == 94
    assert got[None] == 4
    assert got["Jason Kidd"] == 4 and got["Steve Nash"] == 4
    assert got["Tim Duncan"] == 3 and got["Tony Parker"] == 3


def test_redefined_edge_alias_raises(nba_space):
    """RedefinedNode.feature:170 — reusing an edge alias is a SemanticError."""
    with pytest.raises(ValueError, match="Redefined alias"):
        execute(nba_space, 'MATCH (v:player{name:"abc"})-[e:like]->(v1)'
                           '-[e:like]->(v2) RETURN *')


# ---------------------------------------------------------------------------
# FETCH PROP ON — tests/tck/features/fetch/FetchVertices.strVid.feature,
# FetchEdges.strVid.feature
# ---------------------------------------------------------------------------

def test_fetch_vertex_one_tag(nba_space):
    """FetchVertices.strVid.feature:6 — one tag, one vertex."""
    df = execute(nba_space, "FETCH PROP ON player 'Boris Diaw' "
                            "YIELD player.name AS n, player.age AS a")
    assert rows(df, "n", "a") == [("Boris Diaw", 36)]


def test_fetch_vertex_computed_yield(nba_space):
    """FetchVertices.strVid.feature:22 — expression over fetched props."""
    df = execute(nba_space, "FETCH PROP ON player 'Boris Diaw' "
                            "YIELD player.name AS n, player.age > 30 AS o")
    assert rows(df, "n", "o") == [("Boris Diaw", True)]


def test_fetch_vertex_struct(nba_space):
    """FetchVertices.strVid.feature:30 — YIELD vertex AS node."""
    df = execute(nba_space,
                 "FETCH PROP ON bachelor 'Tim Duncan' YIELD vertex as node")
    [r] = df.collect()
    assert r.node.vid == "Tim Duncan" and r.node.speciality == "psychology"


def test_fetch_vertex_multi_tag_empty_cells(nba_space):
    """FetchVertices.strVid.feature:84 — multi-tag fetch: props of tags the
    vertex lacks read NULL (EMPTY), a vid missing every tag would drop."""
    df = execute(nba_space,
                 'FETCH PROP ON bachelor, team, player "Tim Duncan", '
                 '"Boris Diaw" YIELD player.name AS pn, player.age AS pa, '
                 'team.name AS tn, bachelor.name AS bn, '
                 'bachelor.speciality AS bs')
    assert sorted(rows(df, "pn", "pa", "tn", "bn", "bs")) == [
        ("Boris Diaw", 36, None, None, None),
        ("Tim Duncan", 42, None, "Tim Duncan", "psychology")]


def test_fetch_vertex_duplicate_vids_kept(nba_space):
    """FetchVertices.strVid.feature:98 — duplicate input vids keep their
    multiplicity (FETCH does not dedup its key list)."""
    df = execute(nba_space, 'FETCH PROP ON player, team '
                            '"Boris Diaw","Boris Diaw" '
                            'YIELD player.name AS pn, team.name AS tn')
    assert rows(df, "pn", "tn") == [("Boris Diaw", None)] * 2


def test_fetch_vertex_distinct(nba_space):
    """FetchVertices.strVid.feature:58 — YIELD DISTINCT collapses them."""
    df = execute(nba_space, "FETCH PROP ON player 'Boris Diaw', 'Boris Diaw'"
                            " YIELD DISTINCT player.name AS n, "
                            "player.age AS a")
    assert rows(df, "n", "a") == [("Boris Diaw", 36)]


def test_fetch_vertex_star(nba_space):
    """FetchVertices.strVid.feature ("ON *") — every tag left-joined."""
    df = execute(nba_space, 'FETCH PROP ON * "Tim Duncan" '
                            'YIELD player.name AS pn, player.age AS pa, '
                            'bachelor.speciality AS bs')
    assert rows(df, "pn", "pa", "bs") == [("Tim Duncan", 42, "psychology")]


def test_fetch_edge_props(nba_space):
    """FetchEdges.strVid.feature:6 — edge key fetch."""
    df = execute(nba_space, "FETCH PROP ON serve 'Boris Diaw' -> 'Hawks' "
                            "YIELD serve.start_year AS s, serve.end_year AS e")
    assert rows(df, "s", "e") == [(2003, 2005)]


def test_fetch_edge_with_rank(nba_space):
    """FetchEdges.strVid.feature:38 — explicit @0 rank."""
    df = execute(nba_space, "FETCH PROP ON serve 'Boris Diaw'->'Hawks'@0 "
                            "YIELD serve.start_year AS s")
    assert rows(df, "s") == [(2003,)]


def test_fetch_edge_missing_key_empty(nba_space):
    """FetchEdges.strVid.feature:22 — absent key → no row."""
    df = execute(nba_space,
                 'FETCH PROP ON serve "Boris Diaw"->"Not Exist" '
                 'YIELD edge as e')
    assert df.count() == 0


def test_fetch_edge_struct(nba_space):
    """FetchEdges.strVid.feature:14 — YIELD edge AS e."""
    df = execute(nba_space,
                 'FETCH PROP ON serve "Boris Diaw"->"Spurs" YIELD edge as e')
    [r] = df.collect()
    assert (r.e.src, r.e.dst, r.e["_rank"], r.e.start_year,
            r.e.end_year) == \
        ("Boris Diaw", "Spurs", 0, 2012, 2016)


def test_fetch_edge_multiple_keys(nba_space):
    """FetchEdges.strVid.feature:63 — several keys in one fetch."""
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->'Hawks',"
                 "'Boris Diaw'->'Suns' YIELD serve.start_year AS s")
    assert sorted(rows(df, "s")) == [(2003,), (2005,)]


def test_fetch_edge_from_pipe(nba_space):
    """FetchEdges.strVid.feature:72 — GO | FETCH PROP ON e $-.src->$-.dst."""
    df = execute(nba_space,
                 "GO FROM 'Boris Diaw' OVER serve YIELD src(edge) AS src, "
                 "dst(edge) AS dst | FETCH PROP ON serve $-.src->$-.dst "
                 "YIELD serve.start_year AS s, serve.end_year AS e")
    assert sorted(rows(df, "s", "e")) == [
        (2003, 2005), (2005, 2008), (2008, 2012), (2012, 2016), (2016, 2017)]


def test_fetch_edge_from_var(nba_space):
    """FetchEdges.strVid.feature:85 — $var.src->$var.dst key source."""
    df = execute(nba_space,
                 "$var = GO FROM 'Boris Diaw' OVER serve YIELD "
                 "src(edge) AS src, dst(edge) AS dst; "
                 "FETCH PROP ON serve $var.src->$var.dst "
                 "YIELD serve.start_year AS s, serve.end_year AS e")
    assert sorted(rows(df, "s", "e")) == [
        (2003, 2005), (2005, 2008), (2008, 2012), (2012, 2016), (2016, 2017)]


def test_fetch_edge_distinct(nba_space):
    """FetchEdges.strVid.feature:99 — duplicate keys + YIELD DISTINCT."""
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->'Hawks',"
                 "'Boris Diaw'->'Hawks' YIELD DISTINCT "
                 "serve.start_year AS s, serve.end_year AS e")
    assert rows(df, "s", "e") == [(2003, 2005)]


# ---------------------------------------------------------------------------
# LDBC workload shapes (tests/tck/ldbc/interactive_workload/ComplexReads
# .feature, business_intelligence_workload/Read.feature) ported onto the nba
# fixture: the multi-hop + aggregate + order shapes real users write. The
# reference's own feature files run against an unloaded ldbc space (empty
# expected tables), so the *expected rows here are independently computed*
# (pandas BFS/joins over the CSVs, no engine code) and embedded as literals.
# ---------------------------------------------------------------------------


def test_ldbc_ic1_friends_within_3_hops(nba_space):
    """IC1 shape (ComplexReads.feature:9): var-len BOTH expansion + WITH
    aggregation + chained MATCH + collect + ORDER/LIMIT."""
    df = execute(nba_space, '''
        MATCH p = (person:player)-[:like*1..3]-(friend:player)
        WHERE id(person) == "Tim Duncan" AND id(friend) != "Tim Duncan"
        WITH friend, min(length(p)) AS distance
        MATCH (friend)-[s:serve]->(team:team)
        RETURN friend.player.name AS friendName, distance,
               collect(team.team.name) AS teams
        ORDER BY distance ASC, friendName ASC
        LIMIT 20
    ''')
    got = [(r.friendName, r.distance, sorted(r.teams)) for r in df.collect()]
    assert got == [
        ('Aron Baynes', 1, ['Celtics', 'Pistons', 'Spurs']),
        ('Boris Diaw', 1, ['Hawks', 'Hornets', 'Jazz', 'Spurs', 'Suns']),
        ('Danny Green', 1, ['Cavaliers', 'Raptors', 'Spurs']),
        ('Dejounte Murray', 1, ['Spurs']),
        ('LaMarcus Aldridge', 1, ['Spurs', 'Trail Blazers']),
        ('Manu Ginobili', 1, ['Spurs']),
        ('Marco Belinelli', 1, ['76ers', 'Bulls', 'Hawks', 'Hornets',
                                'Hornets', 'Kings', 'Raptors', 'Spurs',
                                'Spurs', 'Warriors']),
        ("Shaquille O'Neal", 1, ['Cavaliers', 'Celtics', 'Heat', 'Lakers',
                                 'Magic', 'Suns']),
        ('Tiago Splitter', 1, ['76ers', 'Hawks', 'Spurs']),
        ('Tony Parker', 1, ['Hornets', 'Spurs']),
        ('Chris Paul', 2, ['Clippers', 'Hornets', 'Rockets']),
        ('Damian Lillard', 2, ['Trail Blazers']),
        ('JaVale McGee', 2, ['Lakers', 'Mavericks', 'Nuggets', 'Warriors',
                             'Wizards']),
        ('James Harden', 2, ['Rockets', 'Thunders']),
        ('Kevin Durant', 2, ['Thunders', 'Warriors']),
        ('Kyle Anderson', 2, ['Grizzlies', 'Spurs']),
        ('LeBron James', 2, ['Cavaliers', 'Cavaliers', 'Heat', 'Lakers']),
        ('Rudy Gay', 2, ['Grizzlies', 'Kings', 'Raptors', 'Spurs']),
        ('Russell Westbrook', 2, ['Thunders']),
        ('Yao Ming', 2, ['Rockets']),
    ]


def test_ldbc_ic2_recent_friend_activity(nba_space):
    """IC2 shape (ComplexReads.feature:62): 1-hop friends (per edge
    binding) + edge-prop filter + multi-key ORDER BY DESC/ASC + LIMIT.
    Both like orientations Tim↔Tony exist, so Tony's serve rows appear
    twice — LDBC row-per-binding multiplicity."""
    df = execute(nba_space, '''
        MATCH (n:player)-[:like]-(friend:player)-[s:serve]->(team:team)
        WHERE id(n) == "Tim Duncan" AND s.start_year >= 2010
        RETURN friend.player.name AS personName, team.team.name AS teamName,
               s.start_year AS startYear
        ORDER BY startYear DESC, personName ASC, teamName ASC
        LIMIT 20
    ''')
    assert rows(df, "personName", "teamName", "startYear") == [
        ('Danny Green', 'Raptors', 2018), ('Marco Belinelli', '76ers', 2018),
        ('Marco Belinelli', 'Spurs', 2018), ('Tony Parker', 'Hornets', 2018),
        ('Tony Parker', 'Hornets', 2018), ('Aron Baynes', 'Celtics', 2017),
        ('Marco Belinelli', 'Hawks', 2017), ('Tiago Splitter', '76ers', 2017),
        ('Boris Diaw', 'Jazz', 2016), ('Dejounte Murray', 'Spurs', 2016),
        ('Marco Belinelli', 'Hornets', 2016), ('Aron Baynes', 'Pistons', 2015),
        ('LaMarcus Aldridge', 'Spurs', 2015), ('Marco Belinelli', 'Kings', 2015),
        ('Tiago Splitter', 'Hawks', 2015), ('Aron Baynes', 'Spurs', 2013),
        ('Marco Belinelli', 'Spurs', 2013), ('Boris Diaw', 'Spurs', 2012),
        ('Marco Belinelli', 'Bulls', 2012), ('Danny Green', 'Spurs', 2010),
    ]


def test_ldbc_ic3_friends_not_in_place(nba_space):
    """IC3/IC11 shape (ComplexReads.feature:84): var-len + negated pattern
    predicate + WITH DISTINCT + count(DISTINCT node)."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like*1..2]-(friend:player)
        WHERE id(person) == "Tim Duncan" AND id(friend) != "Tim Duncan"
          AND NOT (friend)-[:serve]->(:team {name: "Spurs"})
        WITH DISTINCT friend
        MATCH (friend)-[s:serve]->(t:team)
        RETURN friend.player.name AS personName, count(DISTINCT t) AS teamCount
        ORDER BY teamCount DESC, personName ASC
        LIMIT 20
    ''')
    assert rows(df, "personName", "teamCount") == [
        ("Shaquille O'Neal", 6), ('JaVale McGee', 5), ('Chris Paul', 3),
        ('LeBron James', 3), ('James Harden', 2), ('Kevin Durant', 2),
        ('Damian Lillard', 1), ('Russell Westbrook', 1), ('Yao Ming', 1),
    ]


def test_ldbc_ic5_new_groups(nba_space):
    """IC5 shape (ComplexReads.feature:142): var-len 1..2 + WITH DISTINCT +
    OPTIONAL MATCH + per-friend count including zero rows."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like*1..2]-(friend:player)
        WHERE id(person) == "Manu Ginobili" AND id(friend) != "Manu Ginobili"
        WITH DISTINCT friend
        OPTIONAL MATCH (friend)<-[l:like]-(fan:player)
        WITH friend, count(fan) AS fanCount
        RETURN friend.player.name AS personName, fanCount
        ORDER BY fanCount DESC, personName ASC
        LIMIT 20
    ''')
    assert rows(df, "personName", "fanCount") == [
        ('Tim Duncan', 10), ('LeBron James', 6), ('Tony Parker', 5),
        ('Chris Paul', 4), ('James Harden', 3), ('LaMarcus Aldridge', 3),
        ('Russell Westbrook', 3), ('Danny Green', 2), ('Marco Belinelli', 2),
        ('Kevin Durant', 1), ('Kyle Anderson', 1), ("Shaquille O'Neal", 1),
        ('Aron Baynes', 0), ('Boris Diaw', 0), ('Dejounte Murray', 0),
        ('Tiago Splitter', 0),
    ]


def test_ldbc_ic6_cooccurrence(nba_space):
    """IC6 shape (ComplexReads.feature:162): comma pattern + anchor entity
    + second MATCH over the shared alias + WITH DISTINCT + group count."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like*1..2]-(friend:player),
              (friend)-[:serve]->(known:team {name: "Spurs"})
        WHERE id(person) == "Tony Parker" AND id(friend) != "Tony Parker"
        MATCH (friend)-[:serve]->(common:team)
        WHERE id(common) != id(known)
        WITH DISTINCT common, friend
        RETURN common.team.name AS teamName, count(*) AS servedCount
        ORDER BY servedCount DESC, teamName ASC
        LIMIT 10
    ''')
    assert rows(df, "teamName", "servedCount") == [
        ('Hawks', 3), ('Raptors', 3), ('76ers', 2), ('Grizzlies', 2),
        ('Hornets', 2), ('Kings', 2), ('Bulls', 1), ('Cavaliers', 1),
        ('Celtics', 1), ('Jazz', 1),
    ]


def test_ldbc_ic7_recent_likers_isnew(nba_space):
    """IC7 shape (ComplexReads.feature:184): negated pattern expression in
    RETURN (`not((liker)-[:KNOWS]-(person)) AS isNew`) — boolean context
    existence test, RollUpApply under the hood."""
    df = execute(nba_space, '''
        MATCH (person:player)<-[l:like]-(liker:player)
        WHERE id(person) == "Tim Duncan"
        RETURN liker.player.name AS likerName, l.likeness AS likeness,
               NOT (liker)-[:serve]->(:team {name: "Spurs"}) AS isNew
        ORDER BY likeness DESC, likerName ASC
        LIMIT 20
    ''')
    assert rows(df, "likerName", "likeness", "isNew") == [
        ('Dejounte Murray', 99, False), ('Tony Parker', 95, False),
        ('Manu Ginobili', 90, False), ('Aron Baynes', 80, False),
        ('Boris Diaw', 80, False), ("Shaquille O'Neal", 80, True),
        ('Tiago Splitter', 80, False), ('LaMarcus Aldridge', 75, False),
        ('Danny Green', 70, False), ('Marco Belinelli', 55, False),
    ]


def test_ldbc_ic10_friend_recommendation(nba_space):
    """IC10 shape (ComplexReads.feature:255): OPTIONAL MATCH p = (…) over
    two bound aliases + WHERE p IS NULL (anti-join via optional path)."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like*2..2]-(friend:player)
        WHERE id(person) == "Tim Duncan" AND id(friend) != "Tim Duncan"
        WITH DISTINCT friend, person
        OPTIONAL MATCH p = (friend)-[:like]-(person)
        WITH friend, p
        WHERE p IS NULL
        RETURN DISTINCT friend.player.name AS personName
        ORDER BY personName
    ''')
    assert rows(df, "personName") == [
        ('Chris Paul',), ('Damian Lillard',), ('JaVale McGee',),
        ('James Harden',), ('Kevin Durant',), ('Kyle Anderson',),
        ('LeBron James',), ('Rudy Gay',), ('Russell Westbrook',),
        ('Yao Ming',),
    ]


def test_ldbc_ic4_new_topics(nba_space):
    """IC4 shape (ComplexReads.feature:123): MATCH+agg WITH → OPTIONAL
    MATCH → conditional count → cp == 0 gate → grouped sum. The
    reference REFUSES WHERE on OPTIONAL MATCH (parser.yy:1793, pinned
    by the MultiLineMultiQueryParts sweep scenario and r10's refusal),
    so the filtered count rides a CASE inside the aggregate — the
    reference's own device for this shape (ComplexReads:141 commentary).
    Port: teams friends joined since 2015 that no friend served before
    2015; friend bindings carry like-edge multiplicity (Tim↔Tony bind
    twice), verified by the pandas oracle both ways."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like]-(friend:player)-[s:serve]->(team:team)
        WHERE id(person) == "Tim Duncan" AND s.start_year >= 2015
        WITH person, count(s) AS servesOnTeam, team
        OPTIONAL MATCH (person)-[:like]-(:player)-[olds:serve]->(team)
        WITH person, servesOnTeam, team,
             sum(CASE WHEN olds.start_year < 2015 THEN 1 ELSE 0 END) AS cp
        WHERE cp == 0
        RETURN team.team.name AS teamName, sum(servesOnTeam) AS serveCount
        ORDER BY serveCount DESC, teamName ASC
    ''')
    assert rows(df, "teamName", "serveCount") == [
        ('76ers', 2), ('Jazz', 1), ('Kings', 1), ('Pistons', 1)]


def test_ldbc_ic8_recent_replies(nba_space):
    """IC8 shape (ComplexReads.feature:215): fixed 2-hop chain with both
    edge directions reversed (start ← teammate ← mid ← like ← commenter)
    + 3-key ORDER + LIMIT."""
    df = execute(nba_space, '''
        MATCH (start:player)<-[:teammate]-(m:player)<-[:like]-(c:player)
        WHERE id(start) == "Tim Duncan"
        RETURN c.player.name AS personName, c.player.age AS personAge,
               m.player.name AS viaName
        ORDER BY personAge DESC, personName ASC, viaName ASC
        LIMIT 20
    ''')
    assert rows(df, "personName", "personAge", "viaName") == [
        ('Tim Duncan', 42, 'Manu Ginobili'), ('Tim Duncan', 42, 'Tony Parker'),
        ('Boris Diaw', 36, 'Tony Parker'), ('Tony Parker', 36, 'Manu Ginobili'),
        ('Tiago Splitter', 34, 'Manu Ginobili'),
        ('LaMarcus Aldridge', 33, 'Tony Parker'),
        ('Marco Belinelli', 32, 'Tony Parker'),
        ('Dejounte Murray', 29, 'Manu Ginobili'),
        ('Dejounte Murray', 29, 'Tony Parker')]


def test_ldbc_ic9_recent_messages_fof(nba_space):
    """IC9 shape (ComplexReads.feature:234): like*1..2 friends-of-friends
    + RETURN DISTINCT + CASE exists(edge prop) + ORDER/LIMIT 20."""
    df = execute(nba_space, '''
        MATCH (n:player)-[:like*1..2]-(friend:player)-[s:serve]->(team:team)
        WHERE id(n) == "Tim Duncan" AND id(friend) != "Tim Duncan"
          AND s.start_year < 2017
        RETURN DISTINCT friend.player.name AS personName,
               team.team.name AS teamName,
               CASE exists(s.end_year) WHEN true THEN s.end_year
                    ELSE -1 END AS endYear,
               s.start_year AS startYear
        ORDER BY startYear DESC, personName ASC, teamName ASC
        LIMIT 20
    ''')
    assert rows(df, "personName", "teamName", "endYear", "startYear") == [
        ('Boris Diaw', 'Jazz', 2017, 2016),
        ('Dejounte Murray', 'Spurs', 2019, 2016),
        ('JaVale McGee', 'Warriors', 2018, 2016),
        ('Kevin Durant', 'Warriors', 2019, 2016),
        ('Marco Belinelli', 'Hornets', 2017, 2016),
        ('Aron Baynes', 'Pistons', 2017, 2015),
        ('JaVale McGee', 'Mavericks', 2016, 2015),
        ('LaMarcus Aldridge', 'Spurs', 2019, 2015),
        ('Marco Belinelli', 'Kings', 2016, 2015),
        ('Tiago Splitter', 'Hawks', 2017, 2015),
        ('Kyle Anderson', 'Spurs', 2018, 2014),
        ('LeBron James', 'Cavaliers', 2018, 2014),
        ('Aron Baynes', 'Spurs', 2015, 2013),
        ('Marco Belinelli', 'Spurs', 2015, 2013),
        ('Rudy Gay', 'Kings', 2017, 2013),
        ('Rudy Gay', 'Raptors', 2013, 2013),
        ('Boris Diaw', 'Spurs', 2016, 2012),
        ('Damian Lillard', 'Trail Blazers', 2019, 2012),
        ('JaVale McGee', 'Nuggets', 2015, 2012),
        ('James Harden', 'Rockets', 2019, 2012)]


def test_ldbc_ic11_job_referral(nba_space):
    """IC11 shape (ComplexReads.feature:290): like*1..2 + WITH DISTINCT +
    second MATCH with an edge-prop filter + 3-key ORDER (year ASC, name
    ASC, org DESC) + LIMIT 10."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:like*1..2]-(friend:player)
        WHERE id(person) == "Tim Duncan" AND id(friend) != "Tim Duncan"
        WITH DISTINCT friend
        MATCH (friend)-[workAt:serve]->(company:team)
        WHERE workAt.start_year < 2000
        RETURN friend.player.name AS personName,
               company.team.name AS organizationName,
               workAt.start_year AS organizationWorkFromYear
        ORDER BY organizationWorkFromYear ASC, personName ASC,
                 organizationName DESC
        LIMIT 10
    ''')
    assert rows(df, "personName", "organizationName",
                "organizationWorkFromYear") == [
        ("Shaquille O'Neal", 'Magic', 1992),
        ("Shaquille O'Neal", 'Lakers', 1996),
        ('Tony Parker', 'Spurs', 1999)]


def test_ldbc_ic12_expert_search(nba_space):
    """IC12 shape (ComplexReads.feature:310): comma pattern with a shared
    alias + collect(DISTINCT) + count(DISTINCT) + ORDER/LIMIT. Port:
    fans of Tim's friends serving a team Tony Parker also served."""
    df = execute(nba_space, '''
        MATCH (n:player)-[:like]-(friend:player)<-[:like]-(fan:player)
              -[:serve]->(team:team),
              (team)<-[:serve]-(vet:player)
        WHERE id(n) == "Tim Duncan" AND vet.player.name == "Tony Parker"
        RETURN fan.player.name AS personName,
               collect(DISTINCT team.team.name) AS teamNames,
               count(DISTINCT friend) AS viaCount
        ORDER BY viaCount DESC, personName ASC
        LIMIT 20
    ''')
    got = [(r.personName, sorted(r.teamNames), r.viaCount)
           for r in df.collect()]
    assert got == [
        ('Dejounte Murray', ['Spurs'], 4),
        ('Marco Belinelli', ['Hornets', 'Spurs'], 2),
        ('Tim Duncan', ['Spurs'], 2),
        ('Tony Parker', ['Hornets', 'Spurs'], 2),
        ('Boris Diaw', ['Hornets', 'Spurs'], 1),
        ('Danny Green', ['Spurs'], 1),
        ('LaMarcus Aldridge', ['Spurs'], 1),
        ('Rudy Gay', ['Spurs'], 1),
        ('Tiago Splitter', ['Spurs'], 1)]


def test_ldbc_ic13_single_shortest_path(nba_space):
    """IC13 (ComplexReads.feature:330 — @skip'd in the reference, which
    pins a SyntaxError for OPTIONAL MATCH shortestPath): two anchored
    persons, OPTIONAL shortest path, -1 when unreachable. Routes through
    bidir_min_paths; Ben Simmons has no like edges at all."""
    df = execute(nba_space, '''
        MATCH (p1:player), (p2:player)
        WHERE id(p1) == "Tim Duncan"
          AND id(p2) IN ["Yao Ming", "Ben Simmons"]
        OPTIONAL MATCH path = shortestPath((p1)-[:like*..15]-(p2))
        RETURN id(p2) AS person2Id,
               CASE path IS NULL WHEN true THEN -1
                    ELSE length(path) END AS shortestPathLength
    ''')
    assert sorted(rows(df, "person2Id", "shortestPathLength")) == [
        ('Ben Simmons', -1), ('Yao Ming', 2)]


def test_ldbc_ic14_trusted_connection_paths(nba_space):
    """IC14 shape (ComplexReads.feature:344): allShortestPaths *..15 +
    nodes(p)/relationships(p) + list comprehension + reduce-accumulated
    path weight + ORDER BY weight. One minimal Tim→Yao path exists
    (via Shaquille O'Neal), weight 0.8 + 0.9."""
    df = execute(nba_space, '''
        MATCH p = allShortestPaths((p1:player {name: "Tim Duncan"})
                  -[:like*..15]-(p2:player {name: "Yao Ming"}))
        WITH nodes(p) AS pathNodes, relationships(p) AS rs
        RETURN [n IN pathNodes | id(n)] AS personIdsInPath,
               reduce(w = 0.0, r IN rs | w + r.likeness / 100.0)
                 AS pathWeight
        ORDER BY pathWeight DESC
    ''')
    got = [(r.personIdsInPath, round(r.pathWeight, 6)) for r in df.collect()]
    assert got == [(['Tim Duncan', "Shaquille O'Neal", 'Yao Ming'], 1.7)]


# ---------------------------------------------------------------------------
# LDBC interactive short reads — ShortReads.feature:9-110 ported onto nba
# (SR7 already lives above as test_ldbc_sr7_case_null_on_optional_edge);
# expected rows independently recomputed (pandas over the CSVs).
# ---------------------------------------------------------------------------

def test_ldbc_sr1_person_profile(nba_space):
    """SR1 (ShortReads.feature:9): anchored 1-hop + wide prop RETURN."""
    df = execute(nba_space, '''
        MATCH (n:player)-[s:serve]->(p:team)
        WHERE id(n) == "Boris Diaw"
        RETURN n.player.name AS firstName, n.player.age AS age,
               p.team.name AS cityName, s.start_year AS since
        ORDER BY since ASC
    ''')
    assert rows(df, "firstName", "age", "cityName", "since") == [
        ('Boris Diaw', 36, 'Hawks', 2003), ('Boris Diaw', 36, 'Suns', 2005),
        ('Boris Diaw', 36, 'Hornets', 2008), ('Boris Diaw', 36, 'Spurs', 2012),
        ('Boris Diaw', 36, 'Jazz', 2016)]


def test_ldbc_sr2_recent_messages_of_person(nba_space):
    """SR2 (ShortReads.feature:27): zero-step var-len (*0..) chained into
    a second MATCH over the shared alias + ORDER/LIMIT (the reference
    caps *0.. at *0..100; this port uses *0..2)."""
    df = execute(nba_space, '''
        MATCH (n:player)<-[:like]-(m:player)-[:like*0..2]->(p:player)
        WHERE id(n) == "Tony Parker"
        MATCH (p)-[s:serve]->(c:team)
        RETURN DISTINCT m.player.name AS messengerName,
               p.player.name AS authorName,
               c.team.name AS teamName, s.start_year AS startYear
        ORDER BY startYear DESC, messengerName ASC, authorName ASC,
                 teamName ASC
        LIMIT 10
    ''')
    assert rows(df, "messengerName", "authorName", "teamName",
                "startYear") == [
        ('Boris Diaw', 'Tony Parker', 'Hornets', 2018),
        ('Dejounte Murray', 'Carmelo Anthony', 'Rockets', 2018),
        ('Dejounte Murray', 'Danny Green', 'Raptors', 2018),
        ('Dejounte Murray', 'Dwyane Wade', 'Heat', 2018),
        ('Dejounte Murray', 'Kyle Anderson', 'Grizzlies', 2018),
        ('Dejounte Murray', 'LeBron James', 'Lakers', 2018),
        ('Dejounte Murray', 'Marco Belinelli', '76ers', 2018),
        ('Dejounte Murray', 'Marco Belinelli', 'Spurs', 2018),
        ('Dejounte Murray', 'Tony Parker', 'Hornets', 2018),
        ('LaMarcus Aldridge', 'Tony Parker', 'Hornets', 2018)]


def test_ldbc_sr3_friends_of_person(nba_space):
    """SR3 (ShortReads.feature:51): undirected 1-hop with the edge
    bound + edge-prop ORDER key."""
    df = execute(nba_space, '''
        MATCH (n:player)-[r:like]-(friend:player)
        WHERE id(n) == "Dejounte Murray"
        RETURN friend.player.name AS personName, r.likeness AS likeness
        ORDER BY likeness DESC, personName ASC
    ''')
    assert rows(df, "personName", "likeness") == [
        ('Chris Paul', 99), ('Danny Green', 99), ('James Harden', 99),
        ('Kevin Durant', 99), ('Kyle Anderson', 99), ('LeBron James', 99),
        ('Manu Ginobili', 99), ('Marco Belinelli', 99),
        ('Russell Westbrook', 99), ('Tim Duncan', 99), ('Tony Parker', 99)]


def test_ldbc_sr4_content_of_message(nba_space):
    """SR4 (ShortReads.feature:66): single anchored vertex + CASE
    exists(prop) fallback (the reference's content/imageFile switch;
    here bachelor.speciality vs player.name on a multi-tag vertex)."""
    df = execute(nba_space, '''
        MATCH (m:player)
        WHERE id(m) == "Tim Duncan"
        RETURN m.player.age AS age,
               CASE exists(m.bachelor.speciality)
                    WHEN true THEN m.bachelor.speciality
                    ELSE m.player.name END AS content
    ''')
    assert rows(df, "age", "content") == [(42, "psychology")]
    df = execute(nba_space, '''
        MATCH (m:player)
        WHERE id(m) == "Tony Parker"
        RETURN m.player.age AS age,
               CASE exists(m.bachelor.speciality)
                    WHEN true THEN m.bachelor.speciality
                    ELSE m.player.name END AS content
    ''')
    assert rows(df, "age", "content") == [(36, "Tony Parker")]


def test_ldbc_sr5_author_of_message(nba_space):
    """SR5 (ShortReads.feature:81): anchored reverse 1-hop."""
    df = execute(nba_space, '''
        MATCH (m:team)<-[:serve]-(p:player)
        WHERE id(m) == "Magic"
        RETURN p.player.name AS personName, p.player.age AS personAge
        ORDER BY personName ASC
    ''')
    assert rows(df, "personName", "personAge") == [
        ('Dwight Howard', 33), ('Grant Hill', 46), ('Jonathon Simmons', 29),
        ("Shaquille O'Neal", 47), ('Tracy McGrady', 39), ('Vince Carter', 42)]


def test_ldbc_sr6_forum_of_message(nba_space):
    """SR6 (ShortReads.feature:94): zero-step var-len feeding a 3-hop
    chain with mixed directions."""
    df = execute(nba_space, '''
        MATCH (m:player)-[:like*0..2]->(p:player)<-[:teammate]-(f:player)
              -[:serve]->(t:team)
        WHERE id(m) == "Aron Baynes"
        RETURN DISTINCT p.player.name AS authorName,
               f.player.name AS moderatorName, t.team.name AS teamName
        ORDER BY authorName ASC, moderatorName ASC, teamName ASC
    ''')
    assert rows(df, "authorName", "moderatorName", "teamName") == [
        ('Manu Ginobili', 'Tim Duncan', 'Spurs'),
        ('Manu Ginobili', 'Tony Parker', 'Hornets'),
        ('Manu Ginobili', 'Tony Parker', 'Spurs'),
        ('Tim Duncan', 'Manu Ginobili', 'Spurs'),
        ('Tim Duncan', 'Tony Parker', 'Hornets'),
        ('Tim Duncan', 'Tony Parker', 'Spurs'),
        ('Tony Parker', 'Manu Ginobili', 'Spurs'),
        ('Tony Parker', 'Tim Duncan', 'Spurs')]


def test_ldbc_bi1_posting_summary(nba_space):
    """BI1 shape (Read.feature:9): global-count WITH chain + re-MATCH with
    carried scalar + CASE bucketing + implicit grouping + percentage."""
    df = execute(nba_space, '''
        MATCH (message:player)
        WITH count(message) AS totalInt
        WITH toFloat(totalInt) AS total
        MATCH (message:player)
        WHERE message.player.age > 0
        WITH total,
             CASE WHEN message.player.age < 25 THEN 0
                  WHEN message.player.age < 30 THEN 1
                  WHEN message.player.age < 38 THEN 2
                  ELSE 3 END AS ageCategory,
             count(message) AS personCount,
             floor(avg(message.player.age)) AS averageAge,
             sum(message.player.age) AS sumAge
        RETURN ageCategory, personCount, averageAge, sumAge,
               personCount / total AS percentageOfPersons
        ORDER BY ageCategory ASC
    ''')
    got = [(r.ageCategory, r.personCount, r.averageAge, r.sumAge,
            round(r.percentageOfPersons, 9)) for r in df.collect()]
    assert got == [
        (0, 4, 22, 89, round(4 / 56, 9)),
        (1, 11, 27, 303, round(11 / 56, 9)),
        (2, 22, 32, 722, round(22 / 56, 9)),
        (3, 14, 41, 584, round(14 / 56, 9)),
    ]


def test_ldbc_bi2_grouped_serves(nba_space):
    """BI2 shape (Read.feature:52): two-key grouping with a CASE-derived
    key + count + max + multi-key order + LIMIT."""
    df = execute(nba_space, '''
        MATCH (p:player)-[s:serve]->(t:team)
        WHERE s.start_year >= 2005
        RETURN t.team.name AS teamName,
               CASE WHEN p.player.age < 30 THEN "young" ELSE "vet" END
                 AS ageGroup,
               count(*) AS serveCount, max(s.start_year) AS latestStart
        ORDER BY serveCount DESC, teamName ASC, ageGroup ASC
        LIMIT 10
    ''')
    assert rows(df, "teamName", "ageGroup", "serveCount", "latestStart") == [
        ('Spurs', 'vet', 11, 2018), ('Hornets', 'vet', 6, 2018),
        ('Lakers', 'vet', 6, 2018), ('Mavericks', 'vet', 5, 2018),
        ('Warriors', 'vet', 5, 2016), ('Bulls', 'vet', 4, 2016),
        ('Cavaliers', 'vet', 4, 2017), ('Celtics', 'vet', 4, 2017),
        ('Clippers', 'vet', 4, 2012), ('Hawks', 'vet', 4, 2018),
    ]


def test_ldbc_bi5_top_posters(nba_space):
    """BI5 shape (Read.feature:142): anchored entity + WITH DISTINCT +
    OPTIONAL MATCH fan-in count + order/limit."""
    df = execute(nba_space, '''
        MATCH (t:team {name: "Spurs"})<-[:serve]-(p:player)
        WITH DISTINCT p
        OPTIONAL MATCH (p)<-[:like]-(fan:player)
        WITH p, count(fan) AS fanCount
        RETURN p.player.name AS personName, fanCount
        ORDER BY fanCount DESC, personName ASC
        LIMIT 10
    ''')
    assert rows(df, "personName", "fanCount") == [
        ('Tim Duncan', 10), ('Tony Parker', 5), ('Manu Ginobili', 4),
        ('LaMarcus Aldridge', 3), ('Tracy McGrady', 3), ('Danny Green', 2),
        ('Marco Belinelli', 2), ('Kyle Anderson', 1), ('Paul Gasol', 1),
        ('Rudy Gay', 1),
    ]


def test_ldbc_bi17_friend_triangles(nba_space):
    """BI17 shape (Read.feature:495): three comma patterns sharing aliases
    — triangle count with id-ordering dedup. 52 = triangles weighted by
    per-pair edge-binding multiplicity (both orientations may exist)."""
    df = execute(nba_space, '''
        MATCH (a:player)-[:like]-(b:player), (b)-[:like]-(c:player),
              (c)-[:like]-(a)
        WHERE id(a) < id(b) AND id(b) < id(c)
        RETURN count(*) AS triangles
    ''')
    assert rows(df, "triangles") == [(52,)]


def test_ldbc_bi18_message_histogram(nba_space):
    """BI18 shape (Read.feature:512): OPTIONAL MATCH degree + histogram of
    a grouped count (count of counts)."""
    df = execute(nba_space, '''
        MATCH (p:player)
        OPTIONAL MATCH (p)-[l:like]->(o:player)
        WITH p, count(o) AS likeCount
        RETURN likeCount, count(p) AS personCount
        ORDER BY personCount DESC, likeCount DESC
    ''')
    assert rows(df, "likeCount", "personCount") == [
        (1, 18), (0, 17), (3, 10), (2, 9), (11, 1), (4, 1),
    ]


def test_ldbc_bi9_related_counts(nba_space):
    """BI9 shape (Read.feature:238): WITH-count + WHERE on the aggregate
    (HAVING) + two chained re-MATCHes on the carried alias, each with its
    own distinct count, + abs-diff ranking. Teams lacking either fan set
    drop out (inner MATCH)."""
    df = execute(nba_space, '''
        MATCH (t:team)<-[:serve]-(p:player)
        WITH t, count(p) AS members
        WHERE members >= 4
        MATCH (t)<-[:serve]-(p1:player)-[:like]->(:player {name: "Tim Duncan"})
        WITH t, count(DISTINCT p1) AS fans1
        MATCH (t)<-[:serve]-(p2:player)-[:like]->(:player {name: "LeBron James"})
        WITH t, fans1, count(DISTINCT p2) AS fans2
        RETURN t.team.name AS teamName, fans1, fans2,
               abs(fans2 - fans1) AS diff
        ORDER BY diff DESC, teamName ASC
        LIMIT 100
    ''')
    assert rows(df, "teamName", "fans1", "fans2", "diff") == [
        ('Spurs', 9, 2, 7), ('Hornets', 3, 1, 2), ('Cavaliers', 2, 3, 1),
        ('Celtics', 2, 1, 1), ('Raptors', 2, 1, 1), ('Bulls', 1, 1, 0),
        ('Heat', 1, 1, 0),
    ]


def test_ldbc_bi3_windowed_optional_counts(nba_space):
    """BI3 shape (Read.feature:90): two OPTIONAL MATCH windows with
    filtered counts + abs-diff. The reference raises 'Where clause in
    optional match is not supported' (parser.yy:1793) — since r10 so do
    we, and the windowed counts ride CASE conditionals inside the
    aggregates instead (value-identical: the no-match row contributes
    0 either way)."""
    df = execute(nba_space, '''
        MATCH (t:team)
        OPTIONAL MATCH (p1:player)-[s1:serve]->(t)
        WITH t, sum(CASE WHEN s1.start_year < 2000 THEN 1 ELSE 0 END) AS early
        OPTIONAL MATCH (p2:player)-[s2:serve]->(t)
        WITH t, early,
             sum(CASE WHEN s2.start_year >= 2000 THEN 1 ELSE 0 END) AS late
        RETURN t.team.name AS teamName, early, late, abs(early - late) AS diff
        ORDER BY diff DESC, teamName ASC
        LIMIT 10
    ''')
    assert rows(df, "teamName", "early", "late", "diff") == [
        ('Spurs', 2, 16, 14), ('Hornets', 0, 7, 7), ('Cavaliers', 0, 6, 6),
        ('Heat', 0, 6, 6), ('Rockets', 0, 6, 6), ('Thunders', 0, 6, 6),
        ('Warriors', 0, 6, 6), ('76ers', 0, 5, 5), ('Celtics', 0, 5, 5),
        ('Grizzlies', 0, 5, 5),
    ]


def test_ldbc_bi14_thread_circle(nba_space):
    """BI14 shape (Read.feature:415, @skip'd in the reference pending
    [:REPLY_OF*0..]): zero-lower-bound var-len inside a longer chain +
    count(DISTINCT endpoint) per group — the *0.. the reference TODO'd."""
    df = execute(nba_space, '''
        MATCH (p:player {name: "Tim Duncan"})<-[:like]-(fan:player)
              <-[:like*0..2]-(ff:player)
        RETURN fan.player.name AS fanName, count(DISTINCT ff) AS circleSize
        ORDER BY circleSize DESC, fanName ASC
    ''')
    assert rows(df, "fanName", "circleSize") == [
        ('Tony Parker', 13), ('Manu Ginobili', 11),
        ('LaMarcus Aldridge', 9), ('Danny Green', 3),
        ('Marco Belinelli', 3), ("Shaquille O'Neal", 2),
        ('Aron Baynes', 1), ('Boris Diaw', 1), ('Dejounte Murray', 1),
        ('Tiago Splitter', 1),
    ]


def test_ldbc_ic7_ordered_collect(nba_space):
    """IC7's core device (ComplexReads.feature:184): WITH … ORDER BY
    feeding head(collect(…)) — the aggregate observes the incoming order.
    Distributed rewrite: collect sorts per group by the stashed keys, so
    the single-node semantics hold at any parallelism. Marco's 2018 tie
    ('76ers' vs 'Spurs') breaks by the secondary ASC key."""
    df = execute(nba_space, '''
        MATCH (p:player)-[s:serve]->(t:team)
        WHERE id(p) == "Marco Belinelli"
        WITH p, t.team.name AS tn, s.start_year AS sy
        ORDER BY sy DESC, tn ASC
        WITH p, head(collect(tn)) AS latestTeam, collect(sy) AS years
        RETURN p.player.name AS name, latestTeam, years
    ''')
    assert rows(df, "name", "latestTeam", "years") == [
        ('Marco Belinelli', '76ers',
         [2018, 2018, 2017, 2016, 2015, 2013, 2012, 2010, 2009, 2007]),
    ]


def test_ldbc_ic7_full_latest_like(nba_space):
    """IC7 end-to-end shape: ordered map-collect (head(collect({…}))),
    attribute access on the collected struct, negated pattern expression,
    final ORDER/LIMIT."""
    df = execute(nba_space, '''
        MATCH (person:player)<-[l:like]-(liker:player)
        WHERE id(person) == "Tim Duncan"
        WITH liker, l.likeness AS likeTime, person, liker.player.age AS age
        ORDER BY likeTime DESC, age ASC
        WITH liker, head(collect({lk: likeTime, a: age})) AS latestLike,
             person
        RETURN liker.player.name AS personId,
               latestLike.lk AS likeCreationDate,
               NOT (liker)-[:like]-(person) AS isNew
        ORDER BY likeCreationDate DESC, personId ASC
        LIMIT 5
    ''')
    assert rows(df, "personId", "likeCreationDate", "isNew") == [
        ('Dejounte Murray', 99, False), ('Tony Parker', 95, False),
        ('Manu Ginobili', 90, False), ('Aron Baynes', 80, False),
        ('Boris Diaw', 80, False),
    ]


def test_ldbc_with_order_by_limit_midchain(nba_space):
    """IC1's WITH … ORDER BY … LIMIT mid-chain (ComplexReads.feature:17):
    the limit applies between clauses, narrowing the frame the next MATCH
    expands. Top-3 teams by serve-row count (incl. parallel-edge stints),
    then distinct players per surviving team."""
    df = execute(nba_space, '''
        MATCH (t:team)<-[s:serve]-(p:player)
        WITH t, count(p) AS members
        ORDER BY members DESC, t.team.name ASC
        LIMIT 3
        MATCH (t)<-[s2:serve]-(q:player)
        RETURN t.team.name AS teamName, count(DISTINCT q) AS distinctPlayers
        ORDER BY teamName
    ''')
    assert rows(df, "teamName", "distinctPlayers") == [
        ('Lakers', 8), ('Mavericks', 9), ('Spurs', 17),
    ]


def test_ldbc_sr7_case_null_on_optional_edge(nba_space):
    """SR7 shape (ShortReads.feature:110): `CASE r WHEN null THEN false
    ELSE true END` over an OPTIONAL MATCH edge alias — the generic CASE
    matches arms with null-SAFE equality (reference CaseExpression uses
    Value::operator== where two nulls compare equal), and a bare edge
    alias evaluates to NULL when the optional pattern missed."""
    df = execute(nba_space, '''
        MATCH (m:player {name: "Tim Duncan"})<-[:like]-(c:player)
        OPTIONAL MATCH (c)-[r:serve]->(t:team {name: "Spurs"})
        RETURN DISTINCT c.player.name AS fan,
               CASE r WHEN null THEN false ELSE true END AS servesSpurs
        ORDER BY fan
    ''')
    assert rows(df, "fan", "servesSpurs") == [
        ('Aron Baynes', True), ('Boris Diaw', True), ('Danny Green', True),
        ('Dejounte Murray', True), ('LaMarcus Aldridge', True),
        ('Manu Ginobili', True), ('Marco Belinelli', True),
        ("Shaquille O'Neal", False), ('Tiago Splitter', True),
        ('Tony Parker', True),
    ]


# ---------------------------------------------------------------------------
# Zero-step variable-length patterns — match/ZeroStep.feature,
# match/ZeroStep2.feature
# ---------------------------------------------------------------------------

def test_zero_step_node_only(nba_space):
    """ZeroStep.feature:9 — `-[*0]-` binds the node itself, any
    direction arrow, either side of the pattern."""
    for q in ('MATCH (v:player {name: "Tim Duncan"})-[*0]-() '
              'RETURN id(v) AS id',
              'MATCH ()-[*0]->(v:player {name: "Tim Duncan"}) '
              'RETURN id(v) AS id',
              'MATCH (v:player {name: "Tim Duncan"})<-[*0]-() '
              'RETURN id(v) AS id'):
        assert rows(execute(nba_space, q), "id") == [("Tim Duncan",)]


def test_zero_step_edge_list_empty(nba_space):
    """ZeroStep2.feature:14-37 — `[e:like*0]` / `*0..0` yield exactly one
    row with an empty edge list; chained zero-steps yield ([], [])."""
    df = execute(nba_space, "MATCH (v:player{name: 'Tim Duncan'})"
                            "-[e:like*0]-() RETURN e")
    got = df.collect()
    assert len(got) == 1 and got[0]["e"] == []
    df = execute(nba_space, "MATCH (v:player{name: 'Tim Duncan'})"
                            "-[e:like*0..0]-()-[e2:like*0..0]-() "
                            "RETURN e, e2")
    got = df.collect()
    assert len(got) == 1 and got[0]["e"] == [] and got[0]["e2"] == []


def test_zero_step_serve_0_to_1(nba_space):
    """ZeroStep.feature:52-60 — `[e:serve*0..1]` from Tim Duncan: the
    serve edge to Spurs plus the zero-step row on Tim himself."""
    df = execute(nba_space, 'MATCH (:player{name:"Tim Duncan"})'
                            '-[e:serve*0..1]-(v) RETURN e, id(v) AS vid')
    got = sorted(((len(r["e"]), r["vid"]) for r in df.collect()))
    assert got == [(0, "Tim Duncan"), (1, "Spurs")]


def test_zero_step_varlen_prop_filter(nba_space):
    """ZeroStep.feature:66-82 — `[e:like*0..1{likeness: 90}]` into Tim
    Duncan: only Manu's like plus the empty row."""
    df = execute(nba_space, 'MATCH (v:player {name:"Tim Duncan"})'
                            '<-[e:like*0..1{likeness: 90}]-() RETURN e')
    got = sorted(df.collect(), key=lambda r: len(r["e"]))
    assert len(got) == 2
    assert got[0]["e"] == []
    assert [(s["s"], s["d"]) for s in got[1]["e"]] == \
        [("Tim Duncan", "Manu Ginobili")]  # reversed traversal of Manu→Tim


def test_zero_step_mixed_fixed_and_variable_hops(nba_space):
    """ZeroStep2.feature:40-47 — like → serve*0..3 → reverse serve,
    the reference's own count: 40."""
    df = execute(nba_space, 'MATCH (:player{name: "Tim Duncan"})-[e1:like]->'
                            '()-[e2:serve*0..3]->()<-[e3:serve]-(v) '
                            'RETURN count(v) AS c')
    assert rows(df, "c") == [(40,)]


def test_zero_step_no_match_return_star(nba_space):
    """ZeroStep2.feature:49-60 — var-len from a non-existent start under
    RETURN *: zero rows, not an error."""
    df = execute(nba_space, 'MATCH (v:player{name: "abc"}) '
                            '-[:serve*1..3]-> () RETURN *')
    assert df.count() == 0


# ---------------------------------------------------------------------------
# Query variables — match/PipeAndVariable.feature
# ---------------------------------------------------------------------------

def test_var_yield_from_variable(nba_space):
    """PipeAndVariable.feature:26-33 — YIELD $v1.age reads the bound GO
    result."""
    df = execute(nba_space, '$v1 = GO FROM "Tony Parker" OVER like '
                            'YIELD id($$) AS dst, $^.player.age AS age; '
                            'YIELD $v1.age AS age')
    assert rows(df, "age") == [(36,), (36,), (36,)]


def test_var_chained_and_union(nba_space):
    """PipeAndVariable.feature:96-105 — a variable defined from another
    variable; UNION ALL of two variable reads."""
    df = execute(nba_space, '$v1 = YIELD "Tony Parker" AS a; '
                            '$v2 = YIELD $v1.a AS a; '
                            'YIELD $v1.a AS a UNION ALL YIELD $v2.a AS a')
    assert rows(df, "a") == [("Tony Parker",), ("Tony Parker",)]


def test_var_fetch_prop_from_variable(nba_space):
    """PipeAndVariable.feature:121-127 — FETCH PROP ON tag $var.col."""
    df = execute(nba_space, '$v1 = YIELD "Tony Parker" AS a; '
                            'FETCH PROP ON player $v1.a '
                            'YIELD player.name AS name')
    assert rows(df, "name") == [("Tony Parker",)]


def test_var_go_from_var_with_where_and_yield(nba_space):
    """PipeAndVariable.feature:76-88 — $v1.a usable in WHERE and YIELD
    when $v1 is the FROM variable."""
    df = execute(nba_space, '$v1 = YIELD "Tony Parker" AS a; '
                            'GO FROM $v1.a OVER like '
                            'WHERE id($$) != $v1.a '
                            'YIELD id($$) AS dst, $v1.a AS dst2')
    assert sorted(rows(df, "dst", "dst2")) == [
        ("LaMarcus Aldridge", "Tony Parker"),
        ("Manu Ginobili", "Tony Parker"),
        ("Tim Duncan", "Tony Parker")]


def test_var_not_in_from_is_error(nba_space):
    """PipeAndVariable.feature:56-62 — $var in WHERE/YIELD without being
    the FROM variable raises (reference SemanticError)."""
    with pytest.raises(ValueError, match="referred in FROM"):
        execute(nba_space, '$v1 = YIELD "Tony Parker" AS a; '
                           'GO FROM "Tim Duncan" OVER like '
                           'YIELD id($$) AS dst, $v1.a AS dst2')


def test_fetch_properties_vertex_map(nba_space):
    """PipeAndVariable.feature:35-42 — properties(Vertex) and its static
    field access in a FETCH yield."""
    df = execute(nba_space, 'FETCH PROP ON player "Tony Parker" '
                            'YIELD properties(vertex).name AS name, '
                            'properties(vertex).age AS age')
    assert rows(df, "name", "age") == [("Tony Parker", 36)]


# ---------------------------------------------------------------------------
# NULL semantics — expression/Null.feature
# ---------------------------------------------------------------------------

def test_null_comparisons(nba_space):
    """Null.feature:6-14 — IS NULL true; ==/!=/>=/<= propagate NULL."""
    df = execute(nba_space,
                 'RETURN NULL IS NULL AS v1, NULL == NULL AS v2, '
                 'NULL != NULL AS v3, NULL >= NULL AS v4')
    assert rows(df, "v1", "v2", "v3", "v4") == [(True, None, None, None)]


def test_null_math_functions(nba_space):
    """Null.feature:16-47 — math fns propagate NULL."""
    df = execute(nba_space,
                 'RETURN abs(NULL) AS v1, floor(NULL) AS v2, '
                 'sqrt(NULL) AS v3, log2(NULL) AS v4, sign(NULL) AS v5, '
                 'exp(NULL) AS v6, sin(NULL) AS v7')
    assert rows(df, "v1", "v2", "v3", "v4", "v5", "v6", "v7") == [
        (None,) * 7]


def test_null_aggregates(nba_space):
    """Null.feature:48-62 — collect(NULL)=[], count(NULL)=0, sum(NULL)=0,
    avg/max/min/bit_and of NULL stay NULL."""
    df = execute(nba_space,
                 'YIELD collect(NULL) AS v1, avg(NULL) AS v2, '
                 'count(NULL) AS v3, max(NULL) AS v4, sum(NULL) AS v5, '
                 'bit_and(NULL) AS v6')
    r = df.collect()[0]
    assert r["v1"] == [] and r["v2"] is None and r["v3"] == 0
    assert r["v4"] is None and r["v5"] == 0 and r["v6"] is None


# ---------------------------------------------------------------------------
# Self-reflective edges — match/SelfReflectiveEdges.feature
# ---------------------------------------------------------------------------

@pytest.fixture(scope="session")
def hades_space(spark):
    """The feature's own mini-space: one vertex with like+teammate
    self-loops and a serve edge out."""
    player = spark.createDataFrame([("Hades", "Hades", 99999)],
                                   "vid string, name string, age long")
    team = spark.createDataFrame([("Underworld", "Underworld")],
                                 "vid string, name string")
    like = spark.createDataFrame([("Hades", "Hades", 0, 3000)],
                                 "src string, dst string, _rank long, "
                                 "likeness long")
    teammate = spark.createDataFrame(
        [("Hades", "Hades", 0, 3000, 3000)],
        "src string, dst string, _rank long, start_year long, end_year long")
    serve = spark.createDataFrame(
        [("Hades", "Underworld", 0, 0, 99999)],
        "src string, dst string, _rank long, start_year long, end_year long")
    sp = GraphSpace(spark, "hades")
    sp.create_tag("player", df=player)
    sp.create_tag("team", df=team)
    sp.create_edge("like", df=like)
    sp.create_edge("teammate", df=teammate)
    sp.create_edge("serve", df=serve)
    return sp


def test_self_reflective_no_duplicate_pairs(hades_space):
    """SelfReflectiveEdges.feature:30-45 — a 2-hop cycle over one
    self-loop vertex yields exactly the two cross-type orderings; the
    BOTH-direction second hop must not double-count the self-loop."""
    for q in ('MATCH x = (n0)-[e1]->(n1)-[e2]-(n0) '
              'WHERE id(n0) == "Hades" and id(n1) == "Hades" '
              'RETURN type(e1) AS t1, type(e2) AS t2',
              'MATCH x = (n0)-[e1]->(n1)<-[e2]-(n0) '
              'WHERE id(n0) == "Hades" and id(n1) == "Hades" '
              'RETURN type(e1) AS t1, type(e2) AS t2'):
        df = execute(hades_space, q)
        assert sorted(rows(df, "t1", "t2")) == [
            ("like", "teammate"), ("teammate", "like")]


# ---------------------------------------------------------------------------
# Multi-type variable-length — match/VariableLengthPattern.feature
# ---------------------------------------------------------------------------

def test_varlen_multi_type_both_direction_count(nba_space):
    """VariableLengthPattern.feature:193-200 — `[e:serve|like*2..3]` BOTH
    direction from Tim Duncan: the reference's own count, 927."""
    df = execute(nba_space, 'MATCH (:player{name:"Tim Duncan"})'
                            '-[e:serve|like*2..3]-(v) RETURN count(e) AS c')
    assert rows(df, "c") == [(927,)]


def test_varlen_multi_type_prop_filter_directions(nba_space):
    """VariableLengthPattern.feature:159-190 — `{likeness: 90}` on a
    serve|like union: serve rows (no likeness prop) never match; only the
    reversed-chain Tiago→Manu→Tim survives, and only in BOTH/<- forms."""
    both = execute(nba_space,
                   'MATCH (:player{name: "Tim Duncan"})'
                   '-[e:serve|like*2..3{likeness: 90}]-(v) '
                   'RETURN id(v) AS vid')
    assert rows(both, "vid") == [("Tiago Splitter",)]
    rev = execute(nba_space,
                  'MATCH (:player{name:"Tim Duncan"})'
                  '<-[e:serve|like*2..3{likeness: 90}]-(v) '
                  'RETURN id(v) AS vid')
    assert rows(rev, "vid") == [("Tiago Splitter",)]
    fwd = execute(nba_space,
                  'MATCH (:player{name:"Tim Duncan"})'
                  '-[e:serve|like*2..3{likeness: 90}]->(v) '
                  'RETURN id(v) AS vid')
    assert fwd.count() == 0
    absent = execute(nba_space,
                     'MATCH (:player{name:"Tim Duncan"})'
                     '-[e:serve|like*2..3{start_year: 2000}]-(v) '
                     'RETURN id(v) AS vid')
    assert absent.count() == 0


def test_seek_by_edge_full_scan(nba_space):
    """SeekByEdge.feature:10-15 — tagless MATCH seeded from the edge
    table: every serve edge, one row each (152 incl. parallel stints)."""
    df = execute(nba_space,
                 'MATCH (player)-[:serve]->(team) RETURN count(*) AS c')
    assert rows(df, "c") == [(152,)]


def test_match_by_variable_id_list(nba_space):
    """MatchByVariable.feature:9-40 — WITH-bound id list consumed by a
    MATCH WHERE id(v) IN list; reference counts 20 and 4."""
    df = execute(nba_space,
                 "WITH ['Tim Duncan', 'Yao Ming'] AS id_list "
                 "MATCH (v1:player)-[e]-(v2:player) "
                 "WHERE id(v1) IN id_list RETURN count(*) AS n")
    assert rows(df, "n") == [(20,)]
    df = execute(nba_space,
                 "WITH ['Tim Duncan', 'Yao Ming'] AS id_list "
                 "MATCH (v1:player)-[e]-(v2:player) "
                 "WHERE id(v1) IN id_list AND id(v2) IN ['Tony Parker'] "
                 "RETURN count(*) AS n")
    assert rows(df, "n") == [(4,)]


# ---------------------------------------------------------------------------
# round() modes — tests/tck/features/function/round.feature
# ---------------------------------------------------------------------------

def test_round_modes_goldens(nba_space):
    """round.feature — all four literals across the seven modes, the
    reference's scaled-double algorithm (FunctionManager.cpp:593-668)."""
    cases = {
        "up":        [("1.249", 1.3), ("-1.251", -1.3),
                      ("1.25", 1.3), ("-1.35", -1.4)],
        "down":      [("1.249", 1.2), ("-1.251", -1.2),
                      ("1.25", 1.2), ("-1.35", -1.3)],
        "ceiling":   [("1.249", 1.3), ("-1.251", -1.2),
                      ("1.25", 1.3), ("-1.35", -1.3)],
        "floor":     [("1.249", 1.2), ("-1.251", -1.3),
                      ("1.25", 1.2), ("-1.35", -1.4)],
        "half_up":   [("1.249", 1.2), ("-1.251", -1.3),
                      ("1.25", 1.3), ("-1.35", -1.4)],
        "half_down": [("1.249", 1.2), ("-1.251", -1.3),
                      ("1.25", 1.2), ("-1.35", -1.3)],
        "half_even": [("1.249", 1.2), ("-1.251", -1.3),
                      ("1.25", 1.2), ("-1.35", -1.4)],
    }
    for mode, pairs in cases.items():
        exprs = ", ".join(f'round({lit}, 1, "{mode}") AS r{i}'
                          for i, (lit, _) in enumerate(pairs))
        r = _yield1(nba_space, f"YIELD {exprs}")
        got = [r[f"r{i}"] for i in range(len(pairs))]
        want = [w for _, w in pairs]
        assert got == pytest.approx(want, abs=1e-12), mode


def test_round_two_arg_is_half_up(nba_space):
    """round.feature half_up default + FunctionManager 2-arg path."""
    r = _yield1(nba_space, "YIELD round(1.25, 1) AS a, "
                           "round(-1.35, 1) AS b, round(12.22, 0) AS c")
    assert (r.a, r.b, r.c) == (pytest.approx(1.3), pytest.approx(-1.4),
                               pytest.approx(12.0))


def test_round_bad_type_raises(nba_space):
    """round.feature "test bad_type" — literal misuse is a planning-time
    error, as in the reference's SemanticError."""
    for q in ('YIELD round(3.125, 3.2) AS r',
              'YIELD round(3.125, 3.2, 42) AS r',
              'YIELD round("3.124", 3) AS r'):
        with pytest.raises(ValueError, match="type error"):
            execute(nba_space, q)


def test_round_unknown_mode_is_null(nba_space):
    """FunctionManager.cpp:656 — unknown mode → BAD_TYPE → NULL."""
    r = _yield1(nba_space, 'YIELD round(1.25, 1, "sideways") AS r')
    assert r.r is None


# ---------------------------------------------------------------------------
# coalesce — tests/tck/features/function/coalesce.feature
# ---------------------------------------------------------------------------

def test_coalesce_goldens(nba_space):
    r = _yield1(nba_space,
                'YIELD coalesce(null, 1) AS a, coalesce(1, 2, 3) AS b, '
                'coalesce(null, [1, 2, 3]) AS c, '
                'coalesce(null, 1.234) AS d')
    assert (r.a, r.b, list(r.c), r.d) == (1, 1, [1, 2, 3], 1.234)


# ---------------------------------------------------------------------------
# NaN / Infinity — tests/tck/features/bugfix/NaNInfinityFloat.feature
# ---------------------------------------------------------------------------

def test_nan_infinity_goldens(nba_space):
    """NaNInfinityFloat.feature — float division by zero follows IEEE754
    (nan/inf), unlike integer division (DIV_BY_ZERO null)."""
    import math as m
    r = _yield1(nba_space, 'YIELD 0 / 0.0 AS a, 1 / 0.0 AS b, '
                           '-1 / 0.0 AS c, sqrt(-1.0) AS d')
    assert m.isnan(r.a) and m.isnan(r.d)
    assert r.b == m.inf and r.c == -m.inf


# ---------------------------------------------------------------------------
# float + string addition — tests/tck/features/bugfix/StringFlaotAddition
# ---------------------------------------------------------------------------

def test_string_float_addition_goldens(nba_space):
    """StringFlaotAddition.feature — `+` on float and string concatenates
    using the shortest round-trip float form (Double.toString matches the
    reference's folly::to<string>)."""
    r = _yield1(nba_space,
                'YIELD 30.142857142857142 + "Yao Ming" AS a, '
                '"Yao Ming" + 30.142857142857142 AS b, '
                '30.14 + "Yao Ming" AS c, "Yao Ming" + -30.14 AS d')
    assert r.a == "30.142857142857142Yao Ming"
    assert r.b == "Yao Ming30.142857142857142"
    assert r.c == "30.14Yao Ming"
    assert r.d == "Yao Ming-30.14"


# ---------------------------------------------------------------------------
# length() over strings and paths — bugfix/NullInputOfLength.feature
# ---------------------------------------------------------------------------

def test_length_string_and_path(nba_space):
    """NullInputOfLength.feature — length() measures both the prop string
    and the matched path in one RETURN."""
    df = execute(nba_space,
                 'MATCH p = (v)-[:like]->() WHERE id(v) == "Tim Duncan" '
                 'RETURN length(v.player.name) AS l, length(p) AS lp')
    assert rows(df, "l", "lp") == [(10, 1), (10, 1)]


# ---------------------------------------------------------------------------
# list slicing with null bound — bugfix/ListSlicingWithNull.feature
# ---------------------------------------------------------------------------

def test_list_slice_null_bound(nba_space):
    r = _yield1(nba_space, 'YIELD [1, 2, 3][null..1] AS a')
    assert r.a is None


# ---------------------------------------------------------------------------
# Set ops between Cypher statements — tests/tck/features/set/Set.feature
# ---------------------------------------------------------------------------

def test_set_union_all_unwind(nba_space):
    """Set.feature — UNWIND ... RETURN UNION ALL keeps the multiset."""
    df = execute(nba_space, 'UNWIND [1, 2] AS a RETURN a '
                            'UNION ALL UNWIND [2] AS a RETURN a')
    assert sorted(r.a for r in df.collect()) == [1, 2, 2]


def test_set_union_distinct_unwind(nba_space):
    """Set.feature — bare UNION dedups."""
    df = execute(nba_space, 'UNWIND [1, 2] AS a RETURN a '
                            'UNION UNWIND [2] AS a RETURN a')
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_set_intersect_with(nba_space):
    """Set.feature — INTERSECT against a WITH-built single row."""
    df = execute(nba_space, 'UNWIND [1, 2] AS a RETURN a '
                            'INTERSECT WITH 2 AS a RETURN a')
    assert [r.a for r in df.collect()] == [2]


def test_set_column_count_mismatch_raises(nba_space):
    """Set.feature — differing column counts are a SemanticError."""
    with pytest.raises(ValueError,
                       match="number of columns|different column"):
        execute(nba_space, 'YIELD 1 AS a, 2 AS b UNION YIELD 3 AS a')


def test_set_column_name_mismatch_raises(nba_space):
    """Set.feature — same arity, different names is a SemanticError."""
    with pytest.raises(ValueError, match="different column names"):
        execute(nba_space,
                'YIELD 1 AS a, 2 AS b UNION YIELD 3 AS b, 4 AS a')


# ---------------------------------------------------------------------------
# Regex full-match — tests/tck/features/expression/Regex.feature
# ---------------------------------------------------------------------------

def test_regex_full_match_goldens(nba_space):
    """Regex.feature "yield regex" — `=~` is std::regex_match (FULL
    match, RelationalExpression.cpp:46): partial hits are false."""
    r = _yield1(nba_space,
                r'YIELD "Tony Parker" =~ "T\\w+\\s\\w+" AS a, '
                r'"010-12345" =~ "\\d{3}\\-\\d{3,8}" AS b, '
                r'"test_space_128" =~ "[a-zA-Z_][0-9a-zA-Z_]{0,19}" AS c, '
                r'"2019" =~ "\\d+" AS d, '
                r'"a good person" =~ "a\\s\\w+" AS e, '
                r'"Trail Blazers" =~ "\\w+" AS f')
    assert (r.a, r.b, r.c, r.d) == (True, True, True, True)
    assert (r.e, r.f) == (False, False)


def test_regex_in_match_where(nba_space):
    """Regex.feature "regex in where" shape — full-match filter on a
    prop."""
    df = execute(nba_space,
                 r'MATCH (v:player) WHERE v.player.name =~ "T\\w+\\s\\w+" '
                 r'RETURN v.player.name AS name')
    assert sorted(r.name for r in df.collect()) == [
        "Tiago Splitter", "Tim Duncan", "Tony Parker", "Tracy McGrady"]


# ---------------------------------------------------------------------------
# XOR — tests/tck/features/expression/LogicalExpression.feature
# ---------------------------------------------------------------------------

def test_logical_xor_goldens(nba_space):
    """LogicalExpression.feature "xor" — de-Morgan over xor/and/or."""
    df = execute(nba_space,
                 'MATCH (v0:player)-[e:serve]->(v1) WHERE NOT '
                 '((e.start_year == 1997 XOR e.end_year != 2016) OR '
                 '(e.start_year > 1000 AND e.end_year < 3000)) '
                 'RETURN count(*) AS c')
    assert rows(df, "c") == [(0,)]
    df = execute(nba_space,
                 'MATCH (v0:player)-[e:serve]->(v1) WHERE NOT '
                 '((e.start_year == 1997 XOR e.end_year != 2016) AND '
                 '(e.start_year > 1000 AND e.end_year < 3000)) '
                 'RETURN count(*) AS c')
    assert rows(df, "c") == [(12,)]
    r = _yield1(nba_space,
                'WITH 1 AS a RETURN NOT((NOT true) XOR true) AS b')
    assert r.b is False


# ---------------------------------------------------------------------------
# IS [NOT] NULL — tests/tck/features/expression/UnaryExpr.feature
# ---------------------------------------------------------------------------

def test_unary_is_null_list(nba_space):
    """UnaryExpr.feature — IS NULL / IS NOT NULL across value types."""
    r = _yield1(nba_space,
                'YIELD [1 IS NULL, 1.2 IS NULL, true IS NULL, '
                '[1, 2] IS NULL, null IS NULL] AS isNull, '
                '[1 IS NOT NULL, null IS NOT NULL] AS isNotNull')
    assert list(r.isNull) == [False, False, False, False, True]
    assert list(r.isNotNull) == [True, False]


def test_unary_is_null_match_filter(nba_space):
    """UnaryExpr.feature "in match clause" — the four negative-age null
    players."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE v.player.name IS NULL AND '
                 'v.player.age < 0 RETURN id(v) AS vid')
    assert sorted(r.vid for r in df.collect()) == [
        "Null1", "Null2", "Null3", "Null4"]


# ---------------------------------------------------------------------------
# CREATE TAG / SHOW CREATE TAG / TTL — tests/tck/features/ttl/TTL.feature
# ---------------------------------------------------------------------------

@pytest.fixture()
def ttl_space(spark):
    from nebula_spark.catalog import GraphSpace
    return GraphSpace(spark, "ttl_test")


def test_create_and_show_create_tag(ttl_space):
    """TTL.feature Schematest — CREATE then SHOW CREATE echoes the schema
    with the reference's rendering, ttl clause included."""
    execute(ttl_space,
            'CREATE TAG person(name string, email string, age int, '
            'gender string, row_timestamp timestamp)')
    r = execute(ttl_space, 'SHOW CREATE TAG person').collect()[0]
    assert r["Tag"] == "person"
    assert r["Create Tag"] == (
        'CREATE TAG `person` (\n `name` string NULL,\n `email` string '
        'NULL,\n `age` int64 NULL,\n `gender` string NULL,\n '
        '`row_timestamp` timestamp NULL\n) ttl_duration = 0, ttl_col = ""')


def test_create_tag_with_ttl_roundtrip(ttl_space):
    """TTL.feature — ttl_duration = 100, ttl_col = "row_timestamp"."""
    execute(ttl_space,
            'CREATE TAG man(name string, row_timestamp timestamp) '
            'ttl_duration = 100, ttl_col = "row_timestamp"')
    r = execute(ttl_space, 'SHOW CREATE TAG man').collect()[0]
    assert 'ttl_duration = 100, ttl_col = "row_timestamp"' in r["Create Tag"]


def test_create_tag_ttl_validation(ttl_space):
    """TTL.feature — duration without column, and a non-timestamp
    column, are both schema errors."""
    with pytest.raises(ValueError, match="Implicit ttl_col not support"):
        execute(ttl_space,
                'CREATE TAG woman(name string, row_timestamp timestamp) '
                'ttl_duration = 100')
    with pytest.raises(ValueError, match="Ttl column type illegal"):
        execute(ttl_space,
                'CREATE TAG woman(name string, row_timestamp timestamp) '
                'ttl_col = "name"')
    # ttl_col alone (duration 0) is legal
    execute(ttl_space,
            'CREATE TAG only_ttl_col(name string, row_timestamp timestamp) '
            'ttl_col = "row_timestamp"')
    r = execute(ttl_space, 'SHOW CREATE TAG only_ttl_col').collect()[0]
    assert 'ttl_duration = 0, ttl_col = "row_timestamp"' in r["Create Tag"]


def test_create_ddl_script_then_insert_fetch(ttl_space):
    """DDL + DML in one script: CREATE, INSERT, FETCH (the TCK's usual
    Given-having-executed flow)."""
    execute(ttl_space, 'CREATE TAG test(a int64)')
    execute(ttl_space, 'INSERT VERTEX test(a) VALUES "101":(7)')
    df = execute(ttl_space, 'FETCH PROP ON test "101" YIELD test.a AS a')
    assert rows(df, "a") == [(7,)]


def test_show_create_edge_from_fixture(nba_space):
    """SHOW CREATE EDGE on a fixture-loaded (DataFrame-defined) edge —
    types derived from the Spark schema via the reverse map."""
    r = execute(nba_space, 'SHOW CREATE EDGE serve').collect()[0]
    assert r["Edge"] == "serve"
    body = r["Create Edge"]
    assert "`start_year` int64" in body and "`end_year` int64" in body
    assert body.startswith("CREATE EDGE `serve` (")


# ---------------------------------------------------------------------------
# Function calls — tests/tck/features/expression/FunctionCall.feature
# ---------------------------------------------------------------------------

def test_sign_goldens(nba_space):
    r = _yield1(nba_space,
                'YIELD sign(38) AS a, sign(-2) AS b, sign(0.421) AS c, '
                'sign(-1.0) AS d, sign(0) AS e, sign(abs(-3)) AS f')
    assert (r.a, r.b, r.c, r.d, r.e, r.f) == (1, -1, 1, -1, 0, 1)


def test_concat_mixed_types_goldens(nba_space):
    """FunctionCall.feature "concat" — ints coerce to their string form;
    a NULL argument nulls the whole concat."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD '
                 'concat(src(edge), $^.player.age, $$.player.name, '
                 'like.likeness) AS A')
    assert sorted(r.A for r in df.collect()) == [
        "Tim Duncan42Manu Ginobili95", "Tim Duncan42Tony Parker95"]
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD '
                 'concat(src(edge), $^.player.age, null, '
                 'like.likeness) AS A')
    assert [r.A for r in df.collect()] == [None, None]


def test_concat_ws_goldens(nba_space):
    """FunctionCall.feature "concat_ws" — NULL items are skipped; a NULL
    or non-string separator nulls the result."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD '
                 'concat_ws("-", src(edge), $^.player.age, '
                 '$$.player.name, like.likeness) AS A')
    assert sorted(r.A for r in df.collect()) == [
        "Tim Duncan-42-Manu Ginobili-95", "Tim Duncan-42-Tony Parker-95"]
    r = _yield1(nba_space,
                'YIELD concat_ws("@", "a", NULL, "b") AS x, '
                'concat_ws(1, "a", "b") AS y, '
                'concat_ws(NULL, "a", "b") AS z')
    assert (r.x, r.y, r.z) == ("a@b", None, None)


def test_extract_regex_goldens(nba_space):
    """FunctionCall.feature "extract" — all regex matches as a list."""
    df = execute(nba_space,
                 'MATCH (a:player) WHERE a.player.age > 45 AND '
                 'a.player.name CONTAINS "Neal" '
                 r'RETURN extract(a.player.name, "\\w+") AS result, '
                 'extract(a.player.name, "hello") AS empty')
    rws = df.collect()
    assert len(rws) == 1
    assert list(rws[0].result) == ["Shaquille", "O", "Neal"]
    assert list(rws[0].empty) == []


def test_round_negative_decimal_goldens(nba_space):
    """FunctionCall.feature "round"/"round int" — negative decimal
    places round to powers of ten; ints come back as doubles."""
    r = _yield1(nba_space,
                'YIELD round(3.1415926, 2) AS a, round(3.1415926, 3) AS b, '
                'round(3.14159265359, 0) AS c, '
                'round(35543.14159265359, -3) AS d, '
                'round(35543.14159265359, -5) AS e, '
                'round(12345, 2) AS f, round(12345, -2) AS g')
    assert (r.a, r.b, r.c) == (3.14, 3.142, 3.0)
    assert (r.d, r.e) == (36000.0, 0.0)
    assert (r.f, r.g) == (12345.0, 12300.0)


# ---------------------------------------------------------------------------
# Attribute access — tests/tck/features/expression/Attribute.feature
# ---------------------------------------------------------------------------

def test_temporal_attributes(nba_space):
    """Attribute.feature — temporal attrs are case-insensitive; unknown
    attrs are UNKNOWN_PROP → NULL."""
    r = _yield1(nba_space,
                'YIELD date("2021-07-19").month AS a, '
                'date("2021-07-19").MoNth AS b, '
                'time("02:59:40").minute AS c, '
                'time("02:59:40").MinUte AS d, '
                'datetime("2021-07-19T02:59:40").minute AS e, '
                'datetime("2021-07-19T02:59:40").mInutE AS f, '
                'date("2021-07-19").not_exists_attr AS g, '
                'time("02:59:40").not_exists_attr AS h, '
                'datetime("2021-07-19T02:59:40").not_exists_attr AS i')
    assert (r.a, r.b) == (7, 7)
    assert (r.c, r.d, r.e, r.f) == (59, 59, 59, 59)
    assert (r.g, r.h, r.i) == (None, None, None)


def test_map_attribute_case_sensitive(nba_space):
    """Attribute.feature — map keys are case-SENSITIVE: K1 is not k1."""
    r = _yield1(nba_space,
                'YIELD {k1: 1, k2: true}.k1 AS a, '
                '{k1: 1, k2: true}.K1 AS b')
    assert (r.a, r.b) == (1, None)


def test_prop_attribute_case_sensitive(nba_space):
    """Attribute.feature — tag/edge prop names are case-sensitive;
    a wrong-case prop is UNKNOWN_PROP → NULL."""
    df = execute(nba_space, 'MATCH (v) WHERE id(v) == "Tim Duncan" '
                            'RETURN v.player.name AS a, v.player.Name AS b')
    assert rows(df, "a", "b") == [("Tim Duncan", None)]
    df = execute(nba_space, 'MATCH (v)-[e:like]->() '
                            'WHERE id(v) == "Tim Duncan" '
                            'RETURN e.likeness AS a, e.Likeness AS b')
    assert rows(df, "a", "b") == [(95, None), (95, None)]


# ---------------------------------------------------------------------------
# DML flows — insert/InsertIfNotExists.feature, update/Update.feature
# ---------------------------------------------------------------------------

@pytest.fixture()
def dml_space(spark):
    from nebula_spark.catalog import GraphSpace
    sp = GraphSpace(spark, "dml_test")
    execute(sp, 'CREATE TAG person(name string, age int)')
    execute(sp, 'CREATE EDGE like(likeness int)')
    return sp


def test_insert_if_not_exists_flow(dml_space):
    """InsertIfNotExists.feature — within-statement duplicate keys keep
    the FIRST row under IF NOT EXISTS; existing keys are never replaced;
    plain INSERT overwrites."""
    execute(dml_space, 'INSERT VERTEX IF NOT EXISTS person(name, age) '
                       'VALUES "Conan":("Conan", 10), "Yao":("Yao", 11), '
                       '"Conan":("Conan", 11)')
    df = execute(dml_space,
                 'FETCH PROP ON person "Conan" YIELD person.age AS age')
    assert rows(df, "age") == [(10,)]
    execute(dml_space, 'INSERT VERTEX IF NOT EXISTS person(name, age) '
                       'VALUES "Conan":("Conan", 20)')
    df = execute(dml_space,
                 'FETCH PROP ON person "Conan" YIELD person.age AS age')
    assert rows(df, "age") == [(10,)]
    execute(dml_space,
            'INSERT VERTEX person(name, age) VALUES "Conan":("Conan", 40)')
    df = execute(dml_space,
                 'FETCH PROP ON person "Conan" YIELD person.age AS age')
    assert rows(df, "age") == [(40,)]


def test_insert_plain_last_wins_within_statement(dml_space):
    """AddVerticesProcessor upserts in order: the statement's LAST value
    for a key is the one stored."""
    execute(dml_space, 'INSERT VERTEX person(name, age) VALUES '
                       '"X":("X", 1), "X":("X", 2)')
    df = execute(dml_space,
                 'FETCH PROP ON person "X" YIELD person.age AS age')
    assert rows(df, "age") == [(2,)]


def test_update_v1_syntax_when_yield(dml_space):
    """Update.feature "1.0 syntax" — UPDATE VERTEX "vid" SET tag.prop,
    WHEN guards, YIELD returns the post-update row either way."""
    execute(dml_space,
            'INSERT VERTEX person(name, age) VALUES "101":("Math", 5)')
    execute(dml_space, 'UPDATE VERTEX "101" SET person.age = '
                       '$^.person.age + 1')
    df = execute(dml_space, 'UPDATE VERTEX "101" SET person.age = '
                            '$^.person.age + 1 '
                            'WHEN $^.person.name == "English" '
                            'YIELD $^.person.name AS Name, '
                            '$^.person.age AS Age')
    assert rows(df, "Name", "Age") == [("Math", 6)]     # guard failed
    df = execute(dml_space, 'UPDATE VERTEX "101" SET person.age = '
                            '$^.person.age + 1 '
                            'WHEN $^.person.name == "Math" '
                            'YIELD $^.person.name AS Name, '
                            '$^.person.age AS Age')
    assert rows(df, "Name", "Age") == [("Math", 7)]


def test_delete_vertex_with_and_without_edge(dml_space):
    """DeleteVertexWithoutEdge.feature — WITH EDGE cascades to incident
    edges; the bare form keeps them (dangling, like the reference)."""
    execute(dml_space, 'INSERT VERTEX person(name, age) VALUES '
                       '"1":("a", 1), "2":("b", 2), "3":("c", 3)')
    execute(dml_space, 'INSERT EDGE like(likeness) VALUES '
                       '"1"->"2":(5), "1"->"3":(6)')
    execute(dml_space, 'DELETE VERTEX "1" WITH EDGE')
    assert execute(dml_space, 'FETCH PROP ON person "1" '
                              'YIELD person.age AS a').count() == 0
    assert execute(dml_space, 'FETCH PROP ON like "1"->"2" '
                              'YIELD like.likeness AS l').count() == 0
    # re-insert the vertex: edges stay gone (they were deleted, not hidden)
    execute(dml_space, 'INSERT VERTEX person(name, age) VALUES "1":("a", 1)')
    df = execute(dml_space, 'GO FROM "1" OVER like YIELD dst(edge) AS d')
    assert df.count() == 0
    # bare DELETE VERTEX keeps edges dangling
    execute(dml_space, 'INSERT EDGE like(likeness) VALUES "2"->"3":(7)')
    execute(dml_space, 'DELETE VERTEX "2"')
    df = execute(dml_space, 'FETCH PROP ON like "2"->"3" '
                            'YIELD like.likeness AS l')
    assert rows(df, "l") == [(7,)]


def test_go_sample_limit_validation(nba_space):
    """SampleLimit.feature "Sample Limit Go in One step" — the truncate
    list's SEMANTIC refusals: negative element, non-integer element,
    length ≠ step size."""
    with pytest.raises(ValueError,
                       match="Limit/Sample element must be nonnegative"):
        execute(nba_space,
                "GO FROM 'Tim Duncan' OVER like YIELD edge as e LIMIT [-1]")
    with pytest.raises(ValueError,
                       match=r"`\[1,2\]' length must be equal to GO step "
                             r"size 1\."):
        execute(nba_space,
                "GO FROM 'Tim Duncan' OVER like YIELD $$ as dst LIMIT [1, 2]")
    with pytest.raises(ValueError,
                       match="Limit/Sample element type must be Integer"):
        execute(nba_space,
                'GO FROM \'Tim Duncan\' OVER like YIELD $$ as dst '
                'LIMIT ["1"]')
    with pytest.raises(ValueError,
                       match="Limit/Sample element type must be Integer"):
        execute(nba_space,
                'GO FROM \'Tim Duncan\' OVER like YIELD edge as e '
                'SAMPLE ["1"]')
    with pytest.raises(ValueError,
                       match=r"`\[1,2\]' length must be equal to GO step "
                             r"size 3\."):
        execute(nba_space,
                "GO 3 STEPS FROM 'Tim Duncan' OVER like "
                "YIELD dst(edge) AS d LIMIT [1, 2]")


def test_go_sample_limit_results(nba_space):
    """SampleLimit.feature — LIMIT [n] keeps the FIRST n edges per vertex
    in storage (dst, rank) order: Tim's LIMIT [1] is deterministically
    Manu Ginobili; SAMPLE [3] over 2 edges keeps both."""
    df = execute(nba_space, "GO FROM 'Tim Duncan' OVER like "
                            "YIELD dst(edge) AS d LIMIT [1]")
    assert rows(df, "d") == [("Manu Ginobili",)]
    df = execute(nba_space, "GO FROM 'Tim Duncan' OVER like "
                            "YIELD dst(edge) AS d LIMIT [3]")
    assert sorted(rows(df, "d")) == [("Manu Ginobili",), ("Tony Parker",)]
    df = execute(nba_space, "GO FROM 'Tim Duncan' OVER like "
                            "YIELD dst(edge) AS d SAMPLE [3]")
    assert sorted(rows(df, "d")) == [("Manu Ginobili",), ("Tony Parker",)]
    df = execute(nba_space, "GO 3 STEPS FROM 'Tim Duncan' OVER like "
                            "YIELD dst(edge) AS d LIMIT [1, 2, 3]")
    assert df.count() == 2          # the reference pins 2 rows (regexes)


def test_rewrite_edge_filter_multi_type_inline_prop(nba_space):
    """bugfix/RewriteEdgeFilter.feature — inline prop map on a multi-type
    edge pattern `[e:like|teammate{start_year: 2010}]`: like lacks the
    prop entirely, so only the 2010 teammate edge survives."""
    df = execute(nba_space,
                 "match (v)-[e:like|teammate{start_year: 2010}]->() "
                 "where id(v) == 'Tim Duncan' return e")
    got = [(r.e.s, r.e.d) for r in df.collect()]
    assert got == [("Tim Duncan", "Danny Green")]


def test_invalid_node_pattern_is_syntax_error(nba_space):
    """bugfix/SyntaxErrorCrash.feature — `(v.player)` is a syntax error
    (repeatedly, without wedging the session), and the session still
    answers afterwards."""
    for _ in range(3):
        with pytest.raises(SyntaxError):
            execute(nba_space, "match (v.player) return v")
    df = execute(nba_space, "YIELD 1 AS one")
    assert rows(df, "one") == [(1,)]


def test_push_filter_down_project_arith(nba_space):
    """bugfix/PushFilterDownProject.feature — arithmetic over a WITH
    projection in a later WHERE (the filter is pushed below the project
    without re-evaluating against unbound columns)."""
    df = execute(nba_space, """
        MATCH (n0)-[:like]->(n1)
        WHERE id(n0) IN ['Tim Duncan']
        WITH n1.player.age AS a0
        WHERE (a0 - (a0 + ((a0 % a0) + (a0 + a0)))) <= a0
        RETURN count(*) AS c
    """)
    assert rows(df, "c") == [(2,)]


def test_parameter_in_inline_prop_seek(nba_space):
    """bugfix/ParameterQuery.feature — a parameter inside an inline prop
    map still routes through the prefix index seek."""
    df = execute(nba_space, "MATCH (v:player{name:$p1}) "
                            "RETURN v.player.age AS age",
                 params={"p1": "Tim Duncan"})
    assert rows(df, "age") == [(42,)]


def test_insert_float_into_int_column_rounds(spark):
    """bugfix/RoundFloat.feature — a float into an integer column rounds
    half away from zero (3.8 → 4, -3.8 → -4); a value exceeding the
    declared width BEFORE rounding is the storage out-of-range error."""
    sp = GraphSpace(spark, "roundfloat_test")
    execute(sp, 'create tag test(a int32)')
    execute(sp, "INSERT VERTEX test(a) VALUES '101':(3.2)")
    execute(sp, "INSERT VERTEX test(a) VALUES '102':(3.8)")
    execute(sp, "INSERT VERTEX test(a) VALUES '103':(-3.2)")
    execute(sp, "INSERT VERTEX test(a) VALUES '104':(-3.8)")
    with pytest.raises(ValueError,
                       match="Storage Error: Out of range value"):
        execute(sp, "INSERT VERTEX test(a) VALUES '104':(2147483647.1)")
    df = execute(sp, "FETCH PROP ON test '101', '102', '103', '104' "
                     "YIELD test.a AS a")
    assert sorted(rows(df, "a")) == [(-4,), (-3,), (3,), (4,)]


def test_lookup_update_vertex_pipe(spark):
    """LookUpUpdate.feature "lookup and update vertex" — LOOKUP piped
    into UPDATE/UPSERT VERTEX ON with a $-.id runtime key; SET reads the
    stored row (col2 = col2 - 1)."""
    sp = GraphSpace(spark, "lookupupd_test")
    execute(sp, 'CREATE TAG lookup_tag_1(col1 int, col2 int, col3 int)')
    execute(sp, 'CREATE TAG INDEX t_index_2 ON lookup_tag_1(col2)')
    execute(sp, 'INSERT VERTEX lookup_tag_1(col1, col2, col3) VALUES '
                '"200":(200, 200, 200), "201":(201, 201, 201), '
                '"202":(202, 202, 202)')
    df = execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == '
                     '200 YIELD id(vertex) as id')
    assert rows(df, "id") == [("200",)]
    execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == 200 '
                'YIELD id(vertex) as id '
                '| UPDATE VERTEX ON lookup_tag_1 $-.id SET col2 = 201')
    df = execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == '
                     '201 YIELD id(vertex) as id')
    assert sorted(rows(df, "id")) == [("200",), ("201",)]
    execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == 201 '
                'YIELD id(vertex) as id '
                '| UPDATE VERTEX ON lookup_tag_1 $-.id SET col2 = col2 - 1')
    df = execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == '
                     '200 YIELD id(vertex) as id')
    assert sorted(rows(df, "id")) == [("200",), ("201",)]
    execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == 202 '
                'YIELD id(vertex) as id '
                '| UPSERT VERTEX ON lookup_tag_1 $-.id SET col2 = col2 + 1')
    df = execute(sp, 'LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col2 == '
                     '203 YIELD id(vertex) as id')
    assert rows(df, "id") == [("202",)]


def test_lookup_update_edge_pipe(spark):
    """LookUpUpdate.feature "lookup and update edge" — LOOKUP piped into
    UPDATE/UPSERT EDGE ON with $-.src->$-.dst@$-.rank runtime keys, and
    the bare full-scan LOOKUP (no WHERE) reading the result back."""
    sp = GraphSpace(spark, "lookupupd_edge_test")
    execute(sp, 'CREATE EDGE lookup_edge_1(col1 int, col2 int, col3 int)')
    execute(sp, "INSERT EDGE lookup_edge_1(col1, col2, col3) VALUES "
                "'200' -> '201'@0:(201, 201, 201), "
                "'200' -> '202'@0:(202, 202, 202)")
    execute(sp, 'LOOKUP ON lookup_edge_1 WHERE lookup_edge_1.col2 > 200 '
                'YIELD src(edge) as src, dst(edge) as dst, '
                'rank(edge) as rank | UPDATE EDGE ON lookup_edge_1 '
                '$-.src ->$-.dst@$-.rank SET col3 = 203')
    df = execute(sp, 'LOOKUP ON lookup_edge_1 YIELD '
                     'lookup_edge_1.col1 AS col1, '
                     'lookup_edge_1.col2 AS col2, '
                     'lookup_edge_1.col3 AS col3')
    assert sorted(rows(df, "col1", "col2", "col3")) == [
        (201, 201, 203), (202, 202, 203)]
    execute(sp, 'LOOKUP ON lookup_edge_1 WHERE lookup_edge_1.col2 > 200 '
                'YIELD src(edge) as src, dst(edge) as dst, '
                'rank(edge) as rank | UPSERT EDGE ON lookup_edge_1 '
                '$-.src ->$-.dst@$-.rank SET col3 = 204')
    df = execute(sp, 'LOOKUP ON lookup_edge_1 YIELD '
                     'lookup_edge_1.col1 AS col1, '
                     'lookup_edge_1.col2 AS col2, '
                     'lookup_edge_1.col3 AS col3')
    assert sorted(rows(df, "col1", "col2", "col3")) == [
        (201, 201, 204), (202, 202, 204)]


def test_lookup_variable_refusals(nba_space):
    """LookUpLimit.feature:137-187 — LOOKUP's IndexScan evaluates against
    the index only: query variables, piped columns, and bare labels are
    refused with per-clause phrasing."""
    with pytest.raises(ValueError, match=r"not supported yet"):
        execute(nba_space, "$var = YIELD true; LOOKUP ON player WHERE "
                           "$var==true YIELD id(vertex) as id")
    with pytest.raises(ValueError, match=r"not supported yet"):
        execute(nba_space, "$var = YIELD true; LOOKUP ON player WHERE "
                           "player.name=='Tim Duncan' AND $var==true "
                           "YIELD id(vertex) as id")
    with pytest.raises(ValueError,
                       match=r"'\$-\.player_name' is not an evaluable "
                             r"expression"):
        execute(nba_space, "YIELD 'Tim Duncan' AS player_name | LOOKUP ON "
                           "player WHERE player.name==$-.player_name "
                           "YIELD id(vertex) as id")
    with pytest.raises(ValueError, match="is not an evaluable expression"):
        execute(nba_space, "YIELD 'Tim Duncan' AS player_name | LOOKUP ON "
                           "player WHERE player.name IN [$-.player_name, "
                           "'Tony Parker'] YIELD id(vertex) as id")
    with pytest.raises(ValueError,
                       match="'player_name' is not an evaluable "
                             "expression"):
        execute(nba_space, "YIELD 'Tim Duncan' AS player_name | LOOKUP ON "
                           "player WHERE player.name==player_name "
                           "YIELD id(vertex) as id")
    with pytest.raises(SyntaxError,
                       match="Direct output of variable is prohibited"):
        execute(nba_space, "$var = YIELD true; LOOKUP ON player WHERE "
                           "player.name=='Tim Duncan' "
                           "YIELD id(vertex) as id, $var AS v")
    with pytest.raises(ValueError,
                       match="unsupported input/variable property "
                             "expression in yield"):
        execute(nba_space, "YIELD 'Tim Duncan' AS player_name | LOOKUP ON "
                           "player WHERE player.name=='Tim Duncan' "
                           "YIELD id(vertex) as id, $-.player_name AS pn")
    with pytest.raises(ValueError,
                       match="Invalid label identifiers: player_name"):
        execute(nba_space, "YIELD 'Tim Duncan' AS player_name | LOOKUP ON "
                           "player WHERE player.name=='Tim Duncan' "
                           "YIELD id(vertex) as id, player_name AS pn")
    # LOOKUP | LIMIT pipe still flows (push-limit scenario result side)
    df = execute(nba_space,
                 "LOOKUP ON player YIELD id(vertex) as id | Limit 2 "
                 "| ORDER BY $-.id")
    assert df.count() == 2


def test_match_unknown_inline_prop_no_match(nba_space):
    """bugfix/MatchCrash.feature — an inline prop map naming a prop the
    tag never declared (in_service, served_years) is UNKNOWN_PROP → the
    pattern matches nothing (success, zero rows), not an error."""
    df = execute(nba_space, '''
        MATCH (n0)-[e0]->(n1:player{age: 102, in_service: false})
        WHERE (id(n0) IN ["Tim Duncan"])
        WITH MIN(87) AS a0, n1.player.served_years AS a1
        WHERE a1 == 100
        RETURN *
    ''')
    assert df.count() == 0
    # boolean inline prop values parse ({x: false}); a declared prop
    # still filters normally
    df = execute(nba_space, 'MATCH (v:player {age: 42, name: "Tim Duncan"})'
                            ' RETURN v.player.name AS n')
    assert rows(df, "n") == [("Tim Duncan",)]


def test_compare_date_roundtrip(spark):
    """bugfix/CompareDate.feature — zero-arg date() as an INSERT VALUES
    constant expression and in an UPDATE WHEN guard (insert today, guard
    passes, SET applies)."""
    sp = GraphSpace(spark, "comparedate_test")
    execute(sp, 'create tag date_comp(i1 int, d1 date)')
    execute(sp, "INSERT VERTEX date_comp(i1, d1) VALUES 'xxx':(1, date())")
    df = execute(sp, "UPDATE VERTEX ON date_comp 'xxx' SET i1=3 "
                     "WHEN d1 == date() YIELD i1 AS i1")
    assert rows(df, "i1") == [(3,)]


def test_index_lifecycle(spark):
    """Index.feature "IndexTest TagIndex"/"EdgeIndex" — create → show →
    describe → show create → drop, with the reference's result shapes
    (`Index Name`/`By Tag`/`Columns`; DESCRIBE = Field/Type) and error
    semantics (duplicate name, missing column, describe/drop after
    drop, IF EXISTS no-op)."""
    sp = GraphSpace(spark, "index_test")
    execute(sp, 'CREATE TAG tag_1(col1 string, col2 int, col3 double, '
                'col4 timestamp)')
    execute(sp, 'CREATE EDGE edge_1(col1 string, col2 int, col3 double)')
    execute(sp, 'CREATE TAG INDEX single_tag_index ON tag_1(col2)')
    # duplicate name errors; IF NOT EXISTS is a no-op
    with pytest.raises(ValueError, match="Existed index"):
        execute(sp, 'CREATE TAG INDEX single_tag_index ON tag_1(col3)')
    execute(sp,
            'CREATE TAG INDEX IF NOT EXISTS single_tag_index ON '
            'tag_1(col3)')
    # a column the schema lacks is an error (Index.feature "not exist")
    with pytest.raises(ValueError, match="Key not existed"):
        execute(sp, 'CREATE TAG INDEX bad ON tag_1(nonexistent)')
    execute(sp, 'CREATE TAG INDEX disorder_tag_index ON tag_1(col3, col2)')
    execute(sp, 'CREATE TAG INDEX multi_tag_index ON tag_1(col2, col3)')
    df = execute(sp, 'DESCRIBE TAG INDEX multi_tag_index;')
    assert rows(df, "Field", "Type") == [("col2", "int64"),
                                         ("col3", "double")]
    df = execute(sp, 'DESC TAG INDEX multi_tag_index;')
    assert rows(df, "Field", "Type") == [("col2", "int64"),
                                         ("col3", "double")]
    assert execute(sp, 'SHOW CREATE TAG INDEX multi_tag_index').count() == 1
    execute(sp, 'DROP TAG INDEX multi_tag_index;')
    df = execute(sp, 'Show TAG INDEXES;')
    got = sorted(rows(df, "Index Name", "By Tag", "Columns"))
    assert got == [("disorder_tag_index", "tag_1", ["col3", "col2"]),
                   ("single_tag_index", "tag_1", ["col2"])]
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, 'DESCRIBE TAG INDEX multi_tag_index;')
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, 'DROP TAG INDEX not_exists_tag_index;')
    execute(sp, 'DROP TAG INDEX IF EXISTS not_exists_tag_index')
    # edge index family (Index.feature:232-279)
    execute(sp, 'CREATE EDGE INDEX single_edge_index ON edge_1(col2)')
    execute(sp, 'CREATE EDGE INDEX disorder_edge_1_index ON '
                'edge_1(col3, col2)')
    df = execute(sp, 'SHOW EDGE INDEXES')
    got = sorted(rows(df, "Index Name", "By Edge", "Columns"))
    assert got == [("disorder_edge_1_index", "edge_1", ["col3", "col2"]),
                   ("single_edge_index", "edge_1", ["col2"])]
    df = execute(sp, 'SHOW EDGE INDEXES BY edge_1')
    assert sorted(rows(df, "Index Name", "Columns")) == [
        ("disorder_edge_1_index", ["col3", "col2"]),
        ("single_edge_index", ["col2"])]
    # tag and edge index namespaces are per-kind: a tag-index DESCRIBE
    # cannot see an edge index
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, 'DESCRIBE TAG INDEX single_edge_index')


@pytest.fixture
def deltag_space(spark):
    """Minimal nba-shaped space for the DELETE TAG / pipe-DELETE family
    (DeleteTag.feature, DeleteVertex.feature, DeleteEdge.feature): Tim
    carries two tags, Tony one, Spurs is a team."""
    sp = GraphSpace(spark, "deltag_test")
    execute(sp, 'CREATE TAG player(name string, age int)')
    execute(sp, 'CREATE TAG bachelor(name string, speciality string)')
    execute(sp, 'CREATE TAG team(name string)')
    execute(sp, 'CREATE EDGE serve(start_year int)')
    execute(sp, 'CREATE EDGE like(likeness int)')
    execute(sp, 'INSERT VERTEX player(name, age) VALUES '
                '"Tim Duncan":("Tim Duncan", 42), '
                '"Tony Parker":("Tony Parker", 36), '
                '"Manu Ginobili":("Manu Ginobili", 41)')
    execute(sp, 'INSERT VERTEX bachelor(name, speciality) VALUES '
                '"Tim Duncan":("Tim Duncan", "psychology")')
    execute(sp, 'INSERT VERTEX team(name) VALUES "Spurs":("Spurs")')
    execute(sp, 'INSERT EDGE serve(start_year) VALUES '
                '"Tim Duncan"->"Spurs":(1997)')
    execute(sp, 'INSERT EDGE like(likeness) VALUES '
                '"Tim Duncan"->"Tony Parker":(95), '
                '"Tony Parker"->"Manu Ginobili":(95), '
                '"Manu Ginobili"->"Tim Duncan":(90)')
    return sp


def test_delete_tag_single(deltag_space):
    """DeleteTag.feature "delete string vid one vertex one tag" — the
    vertex survives via its other tag, so FETCH on the deleted tag
    returns one EMPTY row and LOOKUP finds nothing."""
    sp = deltag_space
    df = execute(sp, 'FETCH PROP ON player "Tim Duncan" '
                     'YIELD player.name AS n, player.age AS a')
    assert rows(df, "n", "a") == [("Tim Duncan", 42)]
    execute(sp, 'DELETE TAG player FROm "Tim Duncan";')
    df = execute(sp, 'FETCH PROP ON player "Tim Duncan" '
                     'YIELD player.name AS n, player.age AS a')
    assert rows(df, "n", "a") == [(None, None)]
    df = execute(sp, 'FETCH PROP ON bachelor "Tim Duncan" '
                     'YIELD bachelor.name AS n, bachelor.speciality AS s')
    assert rows(df, "n", "s") == [("Tim Duncan", "psychology")]
    df = execute(sp, 'LOOKUP ON player WHERE player.name == "Tim Duncan" '
                     'YIELD id(vertex) as id')
    assert df.count() == 0


def test_delete_tag_multiple(deltag_space):
    """DeleteTag.feature "one vertex multiple tag" — deleting every tag
    the vertex carries removes it entirely: zero FETCH rows."""
    sp = deltag_space
    execute(sp, 'DELETE TAG player, bachelor FROM "Tim Duncan";')
    assert execute(sp, 'FETCH PROP ON player "Tim Duncan" '
                       'YIELD player.name AS n').count() == 0
    assert execute(sp, 'FETCH PROP ON bachelor "Tim Duncan" '
                       'YIELD bachelor.name AS n').count() == 0


def test_delete_tag_star(deltag_space):
    """DeleteTag.feature "one vertex all tag" — DELETE TAG * FROM."""
    sp = deltag_space
    execute(sp, 'DELETE TAG * FROM "Tim Duncan";')
    assert execute(sp, 'FETCH PROP ON player "Tim Duncan" '
                       'YIELD player.name AS n').count() == 0
    assert execute(sp, 'LOOKUP ON player WHERE player.name == '
                       '"Tim Duncan" YIELD id(vertex) as id').count() == 0


def test_delete_tag_multi_vertex(deltag_space):
    """DeleteTag.feature "multiple vertex one tag" — Tim keeps an EMPTY
    row (bachelor holds the vertex alive), Tony disappears."""
    sp = deltag_space
    execute(sp, 'DELETE TAG player FROM "Tim Duncan", "Tony Parker";')
    df = execute(sp, 'FETCH PROP ON player "Tim Duncan" '
                     'YIELD player.name AS n, player.age AS a')
    assert rows(df, "n", "a") == [(None, None)]
    assert execute(sp, 'FETCH PROP ON player "Tony Parker" '
                       'YIELD player.name AS n').count() == 0
    assert execute(sp, 'LOOKUP ON player WHERE player.name == '
                       '"Tony Parker" YIELD id(vertex) as id').count() == 0


def test_delete_tag_from_pipe(deltag_space):
    """DeleteTag.feature "delete string vid from pipe" — vid_ref input
    plus the `src($-.e)' evaluable-expression refusal."""
    sp = deltag_space
    with pytest.raises(ValueError,
                       match=r"`src\(\$-\.e\)' is not an evaluable "
                             r"expression\."):
        execute(sp, 'GO FROM "Tim Duncan" OVER serve YIELD edge as e '
                    '| DELETE TAG team FROM src($-.e)')
    execute(sp, 'GO FROM "Tim Duncan" OVER serve YIELD dst(edge) as id '
                '| DELETE TAG team FROM $-.id')
    assert execute(sp, 'FETCH PROP ON team "Spurs" '
                       'YIELD team.name AS n').count() == 0


def test_delete_vertex_by_pipe(deltag_space):
    """DeleteVertex.feature "delete string vertex by pipe" — wrong vid
    type refused, src($-.e) refused, then the cascade delete empties
    every like chain."""
    sp = deltag_space
    with pytest.raises(ValueError, match="Wrong vid type"):
        execute(sp, 'GO FROM "Tim Duncan" OVER like YIELD '
                    'rank(edge) as id | DELETE VERTEX $-.id WITH EDGE')
    with pytest.raises(ValueError,
                       match="is not an evaluable expression"):
        execute(sp, 'GO FROM "Tim Duncan" OVER like YIELD edge as e '
                    '| DELETE VERTEX src($-.e) WITH EDGE')
    execute(sp, 'GO FROM "Tim Duncan" OVER like YIELD dst(edge) as id '
                '| DELETE VERTEX $-.id WITH EDGE')
    assert execute(sp, 'GO FROM "Tim Duncan" OVER like '
                       'YIELD dst(edge) AS d').count() == 0
    assert execute(sp, 'GO FROM "Tony Parker" OVER like '
                       'YIELD dst(edge) AS d').count() == 0


def test_delete_vertex_by_var(deltag_space):
    """DeleteVertex.feature "delete with var, get result by go"."""
    sp = deltag_space
    execute(sp, '$var = GO FROM "Tim Duncan" OVER like YIELD '
                'dst(edge) as id; DELETE VERTEX $var.id WITH EDGE')
    assert execute(sp, 'GO FROM "Tim Duncan" OVER like '
                       'YIELD dst(edge) AS d').count() == 0
    assert execute(sp, 'FETCH PROP ON player "Tony Parker" '
                       'YIELD player.name AS n').count() == 0


def test_delete_edge_by_pipe_with_rank(dml_space):
    """DeleteEdge.feature "delete edges use pipe" + the ranked form
    `$-.src -> $-.dst @ $-.rank` (:197) and the wrong-srcId-type
    refusal (:215)."""
    sp = dml_space
    execute(sp, 'INSERT VERTEX person(name, age) VALUES '
                '"Zhangsan":("Zhangsan", 22), "Lisi":("Lisi", 23)')
    execute(sp, 'INSERT EDGE like(likeness) VALUES '
                '"Zhangsan"->"Lisi"@15:(2), "Zhangsan"->"Lisi"@25:(3), '
                '"Zhangsan"->"Lisi"@35:(4)')
    with pytest.raises(ValueError, match=r"Wrong srcId type `INT`"):
        execute(sp, 'GO FROM "Zhangsan" OVER like YIELD '
                    'rank(edge) as id | DELETE EDGE like $-.id->$-.id')
    with pytest.raises(ValueError,
                       match="is not an evaluable expression"):
        execute(sp, 'GO FROM "Zhangsan" OVER like YIELD edge as e '
                    '| DELETE EDGE like src($-.e)->dst($-.e)')
    execute(sp, 'GO FROM "Zhangsan" OVER like YIELD src(edge) AS src, '
                'dst(edge) AS dst, rank(edge) AS rank '
                '| DELETE EDGE like $-.src -> $-.dst @ $-.rank;')
    assert execute(sp, 'GO FROM "Zhangsan" OVER like '
                       'YIELD dst(edge) AS d').count() == 0


def test_delete_edge_by_var(dml_space):
    """DeleteEdge.feature "delete with var" (:259)."""
    sp = dml_space
    execute(sp, 'INSERT VERTEX person(name, age) VALUES '
                '"RW":("RW", 30), "PG":("PG", 28)')
    execute(sp, 'INSERT EDGE like(likeness) VALUES "RW"->"PG":(90)')
    execute(sp, '$var = GO FROM "RW" OVER like YIELD src(edge) as src, '
                'dst(edge) as dst, rank(edge) as rank; '
                'DELETE EDGE like $var.src -> $var.dst @ $var.rank')
    assert execute(sp, 'GO FROM "RW" OVER like '
                       'YIELD dst(edge) AS d').count() == 0


def test_update_edge_v1_syntax(dml_space):
    """Update.feature — 1.0 edge syntax: UPDATE EDGE "a"->"b" SET
    etype.prop, schema inferred from the SET target."""
    execute(dml_space, 'INSERT VERTEX person(name, age) VALUES '
                       '"A":("A", 1), "B":("B", 2)')
    execute(dml_space, 'INSERT EDGE like(likeness) VALUES "A"->"B":(10)')
    df = execute(dml_space, 'UPDATE EDGE "A"->"B" SET like.likeness = '
                            'like.likeness + 5 YIELD like.likeness AS l')
    assert rows(df, "l") == [(15,)]


# ---------------------------------------------------------------------------
# ALTER / DROP / CLEAR SPACE — schema/Schema.feature, mutate/ClearSpace
# ---------------------------------------------------------------------------

def test_alter_tag_add_change_drop(ttl_space):
    """Schema.feature:127 — one ALTER with all three clause kinds; the
    altered schema shows in SHOW CREATE; dropping an absent prop errors."""
    execute(ttl_space,
            'CREATE TAG person2(name string, age int, gender string)')
    execute(ttl_space, 'ALTER TAG person2 ADD (col1 int, col2 string), '
                       'CHANGE (age int), DROP (gender)')
    body = execute(ttl_space,
                   'SHOW CREATE TAG person2').collect()[0]["Create Tag"]
    assert "`col1` int64" in body and "`col2` string" in body
    assert "gender" not in body
    with pytest.raises(ValueError, match="prop not existed"):
        execute(ttl_space, 'ALTER TAG person2 DROP (gender)')


def test_alter_preserves_rows(ttl_space):
    execute(ttl_space, 'CREATE TAG t2(a int)')
    execute(ttl_space, 'INSERT VERTEX t2(a) VALUES "x":(1)')
    execute(ttl_space, 'ALTER TAG t2 ADD (b string)')
    df = execute(ttl_space,
                 'FETCH PROP ON t2 "x" YIELD t2.a AS a, t2.b AS b')
    assert rows(df, "a", "b") == [(1, None)]


def test_drop_tag_and_if_exists(ttl_space):
    """Schema.feature:188-207 — DROP errors on a missing tag unless
    IF EXISTS."""
    execute(ttl_space, 'CREATE TAG gone(a int)')
    execute(ttl_space, 'DROP TAG gone')
    with pytest.raises(KeyError):
        execute(ttl_space, 'DROP TAG gone')
    execute(ttl_space, 'DROP TAG IF EXISTS gone')     # no error


def test_clear_space_keeps_schema(ttl_space):
    """ClearSpace.feature — rows gone, schema intact, inserts work
    again."""
    execute(ttl_space, 'CREATE TAG ct(a int)')
    execute(ttl_space, 'CREATE EDGE ce(w int)')
    execute(ttl_space, 'INSERT VERTEX ct(a) VALUES "1":(1), "2":(2)')
    execute(ttl_space, 'INSERT EDGE ce(w) VALUES "1"->"2":(9)')
    execute(ttl_space, 'CLEAR SPACE')
    assert execute(ttl_space, 'FETCH PROP ON ct "1" '
                              'YIELD ct.a AS a').count() == 0
    assert 'ct' in execute(ttl_space,
                           'SHOW TAGS').toPandas()["Name"].tolist()
    execute(ttl_space, 'INSERT VERTEX ct(a) VALUES "1":(5)')
    df = execute(ttl_space, 'FETCH PROP ON ct "1" YIELD ct.a AS a')
    assert rows(df, "a") == [(5,)]


# ---------------------------------------------------------------------------
# ENDS WITH / NOT ENDS WITH / NOT IN — expression/{EndsWith,NotIn}.feature
# ---------------------------------------------------------------------------

def test_ends_with_goldens(nba_space):
    r = _yield1(nba_space,
                "YIELD 'apple' ENDS WITH 'le' AS a, "
                "'apple' ENDS WITH 'app' AS b, "
                "'apple' ENDS WITH 'E' AS c, "
                "'apple' NOT ENDS WITH 'le' AS d, "
                "'apple' STARTS WITH 'app' AS e, "
                "'apple' NOT STARTS WITH 'app' AS f")
    assert (r.a, r.b, r.c) == (True, False, False)
    assert (r.d, r.e, r.f) == (False, True, False)


def test_not_in_goldens(nba_space):
    r = _yield1(nba_space,
                "YIELD 1 NOT IN [1, 2, 3] AS a, 0 NOT IN [1, 2, 3] AS b, "
                "1 NOT IN {1, 2, 3} AS c, 0 NOT IN {1, 2} AS d, "
                "2 IN {1, 2} AS e")
    assert (r.a, r.b) == (False, True)
    assert (r.c, r.d, r.e) == (False, True, True)


# ---------------------------------------------------------------------------
# Relational comparisons — expression/RelationalExpr.feature (the
# homogeneous-type scenarios; cross-type Value comparisons — str<int,
# scalar<list — are the documented dynamic-Value deviation, SURVEY §1.1)
# ---------------------------------------------------------------------------

def test_relational_int_float_str(nba_space):
    r = _yield1(nba_space,
                'YIELD [1<2, 1<=1, 3>2, 2>=2, 2==2, 3!=2, 4<>3] AS i, '
                '[1.2<2.4, 1.3<=1.300000001, 3.1>2.9, 2.3>=2.11, '
                '2.0==2.000000009, 3.3!=2.1, 4.2<>3.001] AS f, '
                '["1"<\'2\', "abc"<="Azz", "true">\'x\', "null">="NULL", '
                '"abcd"<="abcde", "aaa"!="aaa"] AS s')
    assert list(r.i) == [True] * 7
    assert list(r.f) == [True] * 7
    assert list(r.s) == [True, False, False, True, True, False]


def test_relational_in_go_where(nba_space):
    """RelationalExpr.feature "in GO clause" — int columns compare
    against float literals with numeric promotion."""
    df = execute(nba_space,
                 'GO FROM "Tony Parker" OVER like '
                 'WHERE $$.player.age >= 33.000000000010 '
                 'OR like.likeness != 90.0000000000001 '
                 'YIELD dst(edge) AS id, like.likeness AS likeness, '
                 '$$.player.age AS age')
    assert sorted(rows(df, "id", "likeness", "age")) == [
        ("LaMarcus Aldridge", 90, 33), ("Manu Ginobili", 95, 41),
        ("Tim Duncan", 95, 42)]
    # epsilon equality: likeness 90 == 90.0000000000001 within 1e-8,
    # and age 33 >= 33.00000000001 because |Δ| < ε counts as equal
    df = execute(nba_space,
                 'GO FROM "Tony Parker" OVER like '
                 'WHERE $$.player.age >= 33.000000000010 '
                 'AND like.likeness == 90.0000000000001 '
                 'YIELD dst(edge) AS id')
    assert [r.id for r in df.collect()] == ["LaMarcus Aldridge"]


# ---------------------------------------------------------------------------
# Aggregates over var-len MATCH — aggregate/Agg.feature "Basic Aggregate"
# ---------------------------------------------------------------------------

def test_agg_one_group_key_over_like(nba_space):
    """Agg.feature one-group-key block: per-vertex aggregate bundle."""
    df = execute(nba_space,
                 'MATCH (v:player)-[e:like]->(v2) WHERE id(v) IN '
                 '["Tony Parker", "Tim Duncan", "LaMarcus Aldridge"] '
                 'RETURN id(v) AS vid, COUNT(*) AS c, '
                 'COUNT(DISTINCT v2) AS dv2, MIN(v2.player.age) AS mn, '
                 'MAX(e.likeness) AS mx, SUM(e.likeness) AS s')
    got = {r.vid: (r.c, r.dv2, r.mn, r.mx, r.s) for r in df.collect()}
    assert got == {
        "LaMarcus Aldridge": (2, 2, 36, 75, 150),
        "Tim Duncan": (2, 2, 36, 95, 190),
        "Tony Parker": (3, 3, 33, 95, 280),
    }


def test_agg_multi_group_key_varlen(nba_space):
    """Agg.feature multi-group-keys block: var-len 1..3 expansion feeding
    a two-key aggregate — the path-multiplicity counts are the
    reference's own golden values."""
    df = execute(nba_space,
                 'MATCH (v:player)-[e:like*1..3]->(v2)-[e2:like]->(v3) '
                 'WHERE id(v) IN ["Tony Parker", "Tim Duncan", '
                 '"LaMarcus Aldridge"] '
                 'RETURN id(v) AS a, id(v2) AS b, COUNT(*) AS c, '
                 'COUNT(DISTINCT id(v3)) AS d, MIN(v3.player.age) AS mn, '
                 'MAX(e2.likeness) AS mx, SUM(e2.likeness) AS s')
    got = {(r.a, r.b): (r.c, r.d, r.mn, r.mx, r.s) for r in df.collect()}
    assert got[("LaMarcus Aldridge", "Manu Ginobili")] == (4, 1, 42, 90, 360)
    assert got[("LaMarcus Aldridge", "Tim Duncan")] == (10, 2, 36, 95, 950)
    assert got[("Tim Duncan", "Tony Parker")] == (8, 3, 33, 95, 750)
    assert got[("Tony Parker", "Tim Duncan")] == (9, 2, 36, 95, 855)
    assert got[("Tony Parker", "Manu Ginobili")] == (5, 1, 42, 90, 450)
    assert len(got) == 12


# ---------------------------------------------------------------------------
# Pipe edge cases — bugfix/{MatchUsedInPipe,TestYieldConstantAfterPipe}
# ---------------------------------------------------------------------------

def test_match_untyped_undirected_expansion(nba_space):
    """MatchUsedInPipe.feature — (n)-[]-(m) over ALL edge types in BOTH
    directions: 19 rows with per-edge multiplicity, Spurs included."""
    df = execute(nba_space,
                 'MATCH (n:player{name:"Tim Duncan"})-[]-(m) '
                 'RETURN id(m) AS m')
    got = sorted(r.m for r in df.collect())
    assert len(got) == 19
    assert got.count("Tony Parker") == 4      # like x2, teammate x2
    assert got.count("Manu Ginobili") == 4
    assert "Spurs" in got                     # serve edge


def test_match_group_after_with(nba_space):
    """MatchUsedInPipe.feature "Group after match" — WITH-aliased keys,
    implicit grouping in RETURN."""
    df = execute(nba_space,
                 'MATCH (n:player{name:"Tim Duncan"})-[]-(m) '
                 'WITH n AS a, m AS b '
                 'RETURN id(b) AS b, count(*) AS c')
    got = {r.b: r.c for r in df.collect()}
    assert got["Tony Parker"] == 4
    assert got["Danny Green"] == 2
    assert got["Spurs"] == 1


def test_yield_constant_after_pipe(nba_space):
    """TestYieldConstantAfterPipe.feature — a constant YIELD keeps the
    piped row count (one output row per input row)."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER * YIELD dst(edge) AS d '
                 '| YIELD 1 AS a')
    assert [r.a for r in df.collect()] == [1] * 7
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER * YIELD dst(edge) AS d '
                 '| YIELD 1 AS a WHERE true')
    assert [r.a for r in df.collect()] == [1] * 7


def test_subgraph_before_pipe_limit(nba_space):
    """SubgraphBeforePipe.feature — a pipe after GET SUBGRAPH applies to
    the per-step result rows (LIMIT 1 keeps the first step)."""
    full = execute(nba_space, 'GET SUBGRAPH 1 STEPS FROM "Tim Duncan"')
    piped = execute(nba_space,
                    'GET SUBGRAPH 1 STEPS FROM "Tim Duncan" | LIMIT 1')
    assert piped.count() == 1
    assert piped.count() <= full.count()


def test_two_match_clauses_varlen_join(nba_space):
    """InnerVar.feature — two var-len MATCH clauses joined on the shared
    alias; result multiplicity is the product of path counts."""
    df = execute(nba_space,
                 'MATCH (v)-[:like*1..2]->(v2) WHERE id(v) == "Tim Duncan" '
                 'MATCH (v)-[:serve*1..2]->(t) '
                 'RETURN v.player.name AS a, v2.player.name AS b, '
                 't.team.name AS c')
    got = sorted(rows(df, "a", "b", "c"))
    assert got == sorted([
        ("Tim Duncan", "Tony Parker", "Spurs"),
        ("Tim Duncan", "Manu Ginobili", "Spurs"),
        ("Tim Duncan", "LaMarcus Aldridge", "Spurs"),
        ("Tim Duncan", "Tim Duncan", "Spurs"),
        ("Tim Duncan", "Tim Duncan", "Spurs"),
        ("Tim Duncan", "Manu Ginobili", "Spurs"),
    ])


def test_go_dst_filter_pushdown_semantics(nba_space):
    """PredicationPushDownInGo.feature — dst-membership filters inside
    chained GOs (the reference pushes them into ExpandAll; here Catalyst
    pushes to the edge scan — same rows either way)."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like '
                 'WHERE like._dst NOT IN ["xxx"] YIELD like._dst AS dst '
                 '| GO FROM $-.dst OVER like REVERSELY '
                 'WHERE like._dst IN ["Tim Duncan"] YIELD like._dst AS dst')
    assert [r.dst for r in df.collect()] == ["Tim Duncan", "Tim Duncan"]


def test_lookup_in_with_range_conjunct(nba_space):
    """LookupIn.feature — IN-list + range conjunct on an un-indexed prop
    (index or not, same rows; our scans always take the Catalyst path)."""
    df = execute(nba_space,
                 'LOOKUP ON player WHERE player.age IN [40, 20] AND '
                 'player.name > "" YIELD id(vertex) AS id, '
                 'player.age AS age')
    assert sorted(rows(df, "id", "age")) == [
        ("Dirk Nowitzki", 40), ("Kobe Bryant", 40), ("Luka Doncic", 20)]


def test_match_node_label_filter(nba_space):
    """MatchNodeLabelFilter.feature — a :bachelor-labeled middle alias
    (multi-tag Tim Duncan) with reverse edge + var-len tail; the
    reference's own golden counts (27 / 34 / 184)."""
    df = execute(nba_space,
                 'MATCH (v0)<-[e0:like]-(v1:bachelor)-[e1*2]->() '
                 'WHERE id(v0) IN ["Tony Parker", "Spurs", "Yao Ming"] '
                 'RETURN type(e0) AS t, labels(v1) AS l')
    got = df.collect()
    assert len(got) == 27
    assert all(r.t == "like" and sorted(r.l) == ["bachelor", "player"]
               for r in got)
    df = execute(nba_space,
                 'MATCH (v0)<-[e0:like]-(v1:bachelor)-[e1*0..2]->() '
                 'WHERE id(v0) IN ["Tony Parker", "Spurs", "Yao Ming"] '
                 'RETURN labels(v1) AS l, count(*) AS c')
    rws = df.collect()
    assert len(rws) == 1
    assert sorted(rws[0].l) == ["bachelor", "player"] and rws[0].c == 34
    df = execute(nba_space,
                 'MATCH (v:bachelor)<-[e*2..2]-()<-[e1]-() '
                 'WHERE id(v) IN ["Tony Parker", "Spurs", "Tim Duncan"] '
                 'RETURN labels(v) AS l, count(*) AS c')
    rws = df.collect()
    assert len(rws) == 1
    assert sorted(rws[0].l) == ["bachelor", "player"] and rws[0].c == 184


# ---------------------------------------------------------------------------
# Shared edge alias across MATCH clauses — bugfix/MatchJoinOnEdge.feature
# ---------------------------------------------------------------------------

def test_match_join_on_edge_alias(nba_space):
    """MatchJoinOnEdge.feature — clauses sharing an edge alias join on
    edge identity; src-conflicting constraints yield empty; arity
    mismatch (Edge vs EdgeList) is a SemanticError."""
    df = execute(nba_space,
                 'MATCH (v:player)-[e:like]->() '
                 'WHERE v.player.name == "Tim Duncan" '
                 'MATCH ()-[e:like]->(u:player) '
                 'WHERE u.player.name == "Tony Parker" '
                 'RETURN id(v) AS v, id(u) AS u')
    assert rows(df, "v", "u") == [("Tim Duncan", "Tony Parker")]
    df = execute(nba_space,
                 'MATCH (v:player)-[e:like]->() '
                 'WHERE v.player.name == "Tim Duncan" '
                 'MATCH (u:player)-[e:like]->() '
                 'WHERE u.player.name == "Tony Parker" RETURN id(v) AS v')
    assert df.count() == 0
    with pytest.raises(ValueError, match="Edge vs EdgeList"):
        execute(nba_space,
                'MATCH (v:player)-[e:like*1..2]->(u) '
                'WHERE v.player.name == "Tim Duncan" '
                'MATCH (vv:player)-[e:like]->() '
                'WHERE vv.player.name == "Tony Parker" RETURN v, u')


def test_dup_alias_nonadjacent(nba_space):
    """DupAliasInMatch.feature — an alias repeated across several hops
    constrains all positions to one vertex; nba has no such cycles."""
    for q in ('MATCH (n0)-[]->(n1)-[]->(n1) WHERE id(n0) == "Tim Duncan" '
              'RETURN id(n1) AS n',
              'MATCH (n1)<-[]-(n1)<-[]-(n0) WHERE id(n0) == "Tim Duncan" '
              'RETURN id(n1) AS n',
              'MATCH (n0)-[]->(n1)-[]->(n1)-[]->(n1) '
              'WHERE id(n0) == "Tim Duncan" RETURN id(n1) AS n'):
        assert execute(nba_space, q).count() == 0


def test_agg_with_pattern_expression(nba_space):
    """AggPatternExpression.feature — a RETURN item mixing a pattern-
    expression size() with an aggregate; non-agg parts evaluate
    per-group."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE id(v) == "Tim Duncan" '
                 'RETURN v.player.name AS name, '
                 'size((v)--(:team)) + count(v.player.name) * 2 AS count')
    assert rows(df, "name", "count") == [("Tim Duncan", 3)]


def test_deep_expression_chain(nba_space):
    """Depth.feature — a 128-term addition chain parses and folds
    (the reference's depth *limit* of 512 is an engine guard we don't
    need: Catalyst folds constants, the parser loop is iterative)."""
    q = "YIELD " + " + ".join(["1"] * 128) + " AS result"
    assert _yield1(nba_space, q).result == 128


def test_with_var_in_later_match_where(nba_space):
    """FindStartError.feature — a WITH-bound scalar referenced in the
    next MATCH's WHERE; both disjuncts false → empty."""
    df = execute(nba_space,
                 'WITH 1 AS a MATCH (v:player) '
                 'WHERE a == 3 OR (a + 1) == 4 RETURN v.player.name AS n')
    assert df.count() == 0


def test_pattern_in_comprehension_predicate(nba_space):
    """BoolCheckingInExpr.feature — a bare pattern inside a list-
    comprehension WHERE is an implicit existence test."""
    df = execute(nba_space,
                 'MATCH (v:player) WHERE id(v) == "Tim Duncan" '
                 'RETURN [i IN [id(v)] WHERE (v)-[:like]->()] AS ret')
    rws = df.collect()
    assert len(rws) == 1
    assert list(rws[0].ret) == ["Tim Duncan"]


# ---------------------------------------------------------------------------
# LDBC BI tranche 2 (r4): BI4/6/7/10/12 shapes from
# tests/tck/ldbc/business_intelligence_workload/Read.feature, ported onto
# the nba fixture with independently recomputed expected rows (plain
# DataFrame joins, no front end).


def test_ldbc_bi4_popular_topics(nba_space):
    """BI4 shape (Read.feature:120): anchored 4-edge chain through two
    entity types + count(DISTINCT mid-chain node) + two-key order/limit."""
    df = execute(nba_space, '''
        MATCH (country:team {name: "Spurs"})<-[:serve]-(person:player)
              <-[:like]-(fan:player)-[:serve]->(forum:team)
        RETURN forum.team.name AS forumName, person.player.name AS personName,
               count(DISTINCT fan) AS fanCount
        ORDER BY fanCount DESC, forumName ASC, personName ASC
        LIMIT 8
    ''')
    assert rows(df, "forumName", "personName", "fanCount") == [
        ('Spurs', 'Tim Duncan', 9), ('Spurs', 'Tony Parker', 5),
        ('Spurs', 'Manu Ginobili', 4), ('Hawks', 'Tim Duncan', 3),
        ('Hornets', 'Tim Duncan', 3), ('76ers', 'Tim Duncan', 2),
        ('Cavaliers', 'Tim Duncan', 2), ('Celtics', 'Tim Duncan', 2),
    ]


def test_ldbc_bi6_most_active_posters(nba_space):
    """BI6 shape (Read.feature:174): anchored MATCH + two OPTIONAL MATCH
    fan-ins + three count(DISTINCT …) over different bindings (one an edge
    alias) + weighted score arithmetic."""
    df = execute(nba_space, '''
        MATCH (t:team {name: "Spurs"})<-[:serve]-(person:player)
        OPTIONAL MATCH (fan:player)-[lk:like]->(person)
        OPTIONAL MATCH (person)-[:like]->(idol:player)
        WITH person, count(DISTINCT lk) AS likeCount,
             count(DISTINCT idol) AS idolCount,
             count(DISTINCT person) AS selfCount
        RETURN person.player.name AS personName, idolCount, likeCount,
               1*selfCount + 2*idolCount + 10*likeCount AS score
        ORDER BY score DESC, personName ASC
        LIMIT 6
    ''')
    assert rows(df, "personName", "idolCount", "likeCount", "score") == [
        ('Tim Duncan', 2, 10, 105), ('Tony Parker', 3, 5, 57),
        ('Manu Ginobili', 1, 4, 43), ('Tracy McGrady', 3, 3, 37),
        ('LaMarcus Aldridge', 2, 3, 35), ('Danny Green', 3, 2, 27),
    ]


def test_ldbc_bi7_authoritative_users(nba_space):
    """BI7 shape (Read.feature:196): consecutive MATCH clauses sharing
    aliases (each a join against the accumulated frame) + OPTIONAL MATCH
    + count(DISTINCT edge-alias) second-degree authority score."""
    df = execute(nba_space, '''
        MATCH (t:team) WHERE id(t) == "Spurs"
        MATCH (t)<-[:serve]-(p1:player)
        MATCH (p1)<-[:like]-(p2:player)
        OPTIONAL MATCH (p2)<-[lk:like]-(p3:player)
        RETURN p1.player.name AS personName,
               count(DISTINCT lk) AS authorityScore
        ORDER BY authorityScore DESC, personName ASC
        LIMIT 6
    ''')
    assert rows(df, "personName", "authorityScore") == [
        ('Tim Duncan', 17), ('Manu Ginobili', 15), ('Tony Parker', 15),
        ('LaMarcus Aldridge', 6), ('Rudy Gay', 3), ('Danny Green', 2),
    ]


def test_ldbc_bi10_central_person(nba_space):
    """BI10 shape (Read.feature:267): collect + list-concat `+` (the
    ArithmeticExpression LIST branch) + UNWIND + WITH DISTINCT re-entry
    MATCH + OPTIONAL MATCH path bindings turned into conditional counts
    via CASE WHEN p IS NOT NULL (the reference's poor-man's disjunct
    union device). Marco Belinelli's two Spurs stints make two p1 paths,
    so his score doubles — row-per-path semantics preserved through the
    chain."""
    df = execute(nba_space, '''
        MATCH (t:team {name: "Spurs"})
        OPTIONAL MATCH (t)<-[:serve]-(s:player)
        WITH t, collect(DISTINCT id(s)) AS interested
        OPTIONAL MATCH (t)<-[:serve]-(m:player)
        WITH t, interested + collect(DISTINCT
             CASE WHEN m.player.age > 35 THEN id(m) END) AS persons
        UNWIND persons AS pid
        WITH DISTINCT t, pid
        MATCH (person:player) WHERE id(person) == pid
        OPTIONAL MATCH p1 = (t)<-[:serve]-(person)
        OPTIONAL MATCH p2 = (person)-[:like]->(:player {name: "Tim Duncan"})
        WITH person,
             CASE WHEN p1 IS NOT NULL THEN true ELSE NULL END AS hasP1,
             CASE WHEN p2 IS NOT NULL THEN true ELSE NULL END AS hasP2
        WITH person, 100 * count(hasP1) + count(hasP2) AS score
        RETURN person.player.name AS personName, score
        ORDER BY score DESC, personName ASC
        LIMIT 8
    ''')
    assert rows(df, "personName", "score") == [
        ('Marco Belinelli', 202), ('Aron Baynes', 101), ('Boris Diaw', 101),
        ('Danny Green', 101), ('Dejounte Murray', 101),
        ('LaMarcus Aldridge', 101), ('Manu Ginobili', 101),
        ('Tiago Splitter', 101),
    ]


def test_ldbc_bi12_trending_posts(nba_space):
    """BI12 shape (Read.feature:359): comma patterns + WITH-aggregate +
    WHERE over the aggregate (the HAVING chain) + multi-column order.
    likeCount multiplies by serve-stint multiplicity (row per edge
    binding): LeBron×Cavaliers = 6 likers × 2 stints."""
    df = execute(nba_space, '''
        MATCH (person:player)-[:serve]->(team:team),
              (person)<-[lk:like]-(:player)
        WHERE person.player.age > 30
        WITH person, team, count(lk) AS likeCount
        WHERE likeCount > 5
        RETURN person.player.name AS personName, team.team.name AS teamName,
               likeCount
        ORDER BY likeCount DESC, personName ASC, teamName ASC
        LIMIT 10
    ''')
    assert rows(df, "personName", "teamName", "likeCount") == [
        ('LeBron James', 'Cavaliers', 12), ('Tim Duncan', 'Spurs', 10),
        ('Dwyane Wade', 'Heat', 6), ('Jason Kidd', 'Mavericks', 6),
        ('LeBron James', 'Heat', 6), ('LeBron James', 'Lakers', 6),
        ('Steve Nash', 'Suns', 6),
    ]


# ---------------------------------------------------------------------------
# MATCH shortestPath / allShortestPaths — tests/tck/features/match/
# AllShortestPaths.feature + SingleShorestPath.feature (the bidirectional
# meet-in-the-middle + shortest_cycles machinery against the reference's
# own expectations)
# ---------------------------------------------------------------------------

def test_asp_invalid_step_raises(nba_space):
    """AllShortestPaths.feature:9 "shortest path invalid step" — lower
    bound must be 0/1 and the pattern must be a single var-len segment."""
    for q in (
        'WITH ["Tim Duncan","Tony Parker"] as list1 '
        'MATCH allShortestPaths((v1:player)-[e*2]-(v2:player)) '
        'WHERE id(v1) in list1 AND id(v2) in list1 RETURN e',
        'WITH ["Tim Duncan","Tony Parker"] as list1 '
        'MATCH allShortestPaths((v1:player)-[e*2..4]-(v2:player)) '
        'WHERE id(v1) in list1 AND id(v2) in list1 RETURN e',
    ):
        with pytest.raises(ValueError, match="must be either 0 or 1"):
            execute(nba_space, q)
    with pytest.raises(ValueError, match="only support pattern"):
        execute(nba_space,
                'MATCH allShortestPaths((v1:player)-[e]->(b)-[e2:like]-'
                '(v2:player)) RETURN e')


def test_asp_zero_step_empty(nba_space):
    """AllShortestPaths.feature:43 "zero step shortest path" — `[e*0]`
    yields nothing, even for the same-vid pairs the id list admits (the
    reference never emits zero-length shortest paths)."""
    df = execute(nba_space,
                 'WITH ["Tim Duncan","Tony Parker"] as list1 '
                 'MATCH allShortestPaths((v1:player)-[e*0]-(v2:player)) '
                 'WHERE id(v1) in list1 AND id(v2) in list1 RETURN e')
    assert df.count() == 0
    df = execute(nba_space,
                 'MATCH allShortestPaths((v1:player{name:"Tim Duncan"})'
                 '-[e*0]-(v2:player{name:"Tony Parker"})) RETURN e')
    assert df.count() == 0


def test_asp_one_step(nba_space):
    """AllShortestPaths.feature:61 "one step shortest path" — Tim/Tony are
    directly linked by like+teammate in both directions: 8 rows for the
    unordered id-list form (each of 4 edges seen from both (v1,v2)
    orderings), 4 for the prop-bound form, under `[e]`, `[e*1]` and
    `[e*1..1]` alike."""
    df = execute(nba_space,
                 'WITH ["Tim Duncan","Tony Parker"] as list1 '
                 'MATCH allShortestPaths((v1:player)-[e]-(v2:player)) '
                 'WHERE id(v1) in list1 AND id(v2) in list1 RETURN e')
    got = sorted((r.e.s, r.e.d) for r in df.collect())
    assert got == [("Tim Duncan", "Tony Parker")] * 4 + \
                  [("Tony Parker", "Tim Duncan")] * 4
    for seg in ("[e]", "[e*1]", "[e*1..1]"):
        df = execute(nba_space,
                     'MATCH allShortestPaths((v1:player{name:"Tim Duncan"})'
                     f'-{seg}-(v2:player{{name:"Tony Parker"}})) RETURN e')
        assert df.count() == 4


def test_asp_tim_tony_all(nba_space):
    """AllShortestPaths.feature:113 allShortestPaths1 — Tim–Tony `*..5`
    undirected over all edge types: the four direct links, nothing
    longer."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a:player{name:"Tim Duncan"})'
                 '-[e*..5]-(b:player{name:"Tony Parker"})) '
                 'RETURN length(p) AS n')
    assert [r.n for r in df.collect()] == [1, 1, 1, 1]


def test_asp_multi_target_undirected(nba_space):
    """AllShortestPaths.feature:252 allShortestPaths2 (1st query) — Tim to
    {Spurs, Tony Parker, Yao Ming} undirected: serve 1-hop, 4 direct Tony
    links, and Yao via Shaquille O'Neal at 2 hops."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e*..5]-(b)) '
                 'WHERE id(a) == "Tim Duncan" and '
                 'id(b) in ["Spurs", "Tony Parker", "Yao Ming"] '
                 'RETURN id(b) AS t, length(p) AS n')
    got = sorted(rows(df, "t", "n"))
    assert got == [("Spurs", 1), ("Tony Parker", 1), ("Tony Parker", 1),
                   ("Tony Parker", 1), ("Tony Parker", 1), ("Yao Ming", 2)]


def test_asp_multi_target_directed(nba_space):
    """AllShortestPaths.feature:268 allShortestPaths2 (2nd query) — the
    directed form drops the reverse-only links and Yao entirely."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e*..5]->(b)) '
                 'WHERE id(a) == "Tim Duncan" and '
                 'id(b) IN ["Spurs", "Tony Parker", "Yao Ming"] '
                 'RETURN id(b) AS t, length(p) AS n')
    assert sorted(rows(df, "t", "n")) == [
        ("Spurs", 1), ("Tony Parker", 1), ("Tony Parker", 1)]


def test_asp_multi_pair_directed(nba_space):
    """AllShortestPaths.feature:279 allShortestPaths2 (3rd query) — the
    full source×target grid, per-pair minima at different depths (the
    meet-in-the-middle round/resolve bookkeeping): Tony→Lakers is 4 hops
    with two tied paths, Yao→Manu 3 hops with two."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e*..5]->(b)) '
                 'WHERE id(b) IN ["Manu Ginobili", "Spurs", "Lakers"] '
                 'and id(a) in ["Tony Parker", "Yao Ming"] '
                 'RETURN id(a) AS s, id(b) AS t, length(p) AS n')
    got = sorted(rows(df, "s", "t", "n"))
    assert got == [
        ("Tony Parker", "Lakers", 4), ("Tony Parker", "Lakers", 4),
        ("Tony Parker", "Manu Ginobili", 1),
        ("Tony Parker", "Manu Ginobili", 1),
        ("Tony Parker", "Spurs", 1),
        ("Yao Ming", "Lakers", 2),
        ("Yao Ming", "Manu Ginobili", 3), ("Yao Ming", "Manu Ginobili", 3),
        ("Yao Ming", "Spurs", 2),
    ]


def test_asp_like_only_and_unknown_ids(nba_space):
    """AllShortestPaths.feature:293 allShortestPaths2 (4th/5th queries) —
    a :like-typed segment can only reach Manu (teams have no like edges);
    unknown start vids match nothing."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e:like*..4]->(b)) '
                 'WHERE id(b) IN ["Manu Ginobili", "Spurs", "Lakers"] '
                 'and id(a) in ["Tony Parker", "Yao Ming"] '
                 'RETURN id(a) AS s, length(p) AS n')
    assert sorted(rows(df, "s", "n")) == [
        ("Tony Parker", 1), ("Yao Ming", 3)]
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e:like*..4]->(b)) '
                 'WHERE id(b) IN ["Manu Ginobili", "Spurs", "Lakers"] '
                 'and id(a) in ["xxx", "zzz"] RETURN p')
    assert df.count() == 0


def test_asp_same_start_end(nba_space):
    """AllShortestPaths.feature:936 "same start and end node" — the same
    ALIAS at both ends is a SemanticError; two aliases bound to the same
    vid run the cycle search: Yao Ming has no like-cycle within 3 hops
    (nobody likes him back), Tony Parker has the two 2-cycles via
    LaMarcus and Tim, each in both orientations."""
    with pytest.raises(ValueError, match="start and end nodes are the same"):
        execute(nba_space,
                'MATCH (a:player{name:"Yao Ming"}) '
                'MATCH p = allShortestPaths((a)-[:like*1..3]-(a)) RETURN p')
    with pytest.raises(ValueError, match="start and end nodes are the same"):
        execute(nba_space,
                'MATCH p = allShortestPaths((a:player{name:"Yao Ming"})'
                '-[:like*1..3]-(a)) RETURN p')
    for q in (
        'MATCH (a:player{name:"Yao Ming"}), (b:player{name:"Yao Ming"}) '
        'MATCH p = allShortestPaths((a)-[:like*0..3]-(b)) RETURN p',
        'MATCH p = allShortestPaths((a)-[:like*1..3]-(b)) '
        'WHERE id(a) == "Yao Ming" AND id(b) == "Yao Ming" RETURN p',
        'MATCH p = allShortestPaths((a:player{name:"Yao Ming"})'
        '-[:like*1..3]-(b:player{name:"Yao Ming"})) RETURN p',
    ):
        assert execute(nba_space, q).count() == 0
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a)-[e:like*1..3]-(b)) '
                 'WHERE a.player.name == "Tony Parker" AND '
                 'b.player.name == "Tony Parker" RETURN length(p) AS n')
    assert [r.n for r in df.collect()] == [2, 2, 2, 2]


def test_ssp_tim_tony_single(nba_space):
    """SingleShorestPath.feature:61 — shortestPath() keeps exactly ONE of
    the four tied direct links."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Tim Duncan"})'
                 '-[e*..5]-(b:player{name:"Tony Parker"})) '
                 'RETURN length(p) AS n')
    assert [r.n for r in df.collect()] == [1]


def test_ssp_tiago_typed_vs_untyped(nba_space):
    """SingleShorestPath.feature:84-97 — restricting to :like lengthens
    Tiago→LaMarcus from 2 (via teammate) to 3."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Tiago Splitter"})'
                 '-[e:like*..5]->(b:player{name:"LaMarcus Aldridge"})) '
                 'RETURN length(p) AS n')
    assert [r.n for r in df.collect()] == [3]
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Tiago Splitter"})'
                 '-[e*..5]->(b:player{name:"LaMarcus Aldridge"})) '
                 'RETURN length(p) AS n')
    assert [r.n for r in df.collect()] == [2]


def test_ssp_where_length_post_filters(nba_space):
    """SingleShorestPath.feature:98-105 — WHERE length(p) applies AFTER
    the shortest computation: the 2-hop minimum fails `> 2`, leaving
    nothing (not the 3-hop alternative)."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Tiago Splitter"})'
                 '-[e*..5]->(b:player{name:"LaMarcus Aldridge"})) '
                 'WHERE length(p) > 2 RETURN p')
    assert df.count() == 0


def test_ssp_nodes_relationships(nba_space):
    """SingleShorestPath.feature:106-112 — nodes()/relationships() over
    the shortest path binding; id() over an indexed nodes() element."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Tiago Splitter"})'
                 '-[e*..1]->(b:player{name:"Tim Duncan"})) '
                 'RETURN nodes(p) AS ns, size(relationships(p)) AS nr')
    assert [(r.ns, r.nr) for r in df.collect()] == [
        (["Tiago Splitter", "Tim Duncan"], 1)]


def test_ssp_multi_source_single_target(nba_space):
    """SingleShorestPath.feature:113-120 — tag+prop-constrained source set
    to LeBron: only Blake Griffin (age 30) reaches him, via Chris Paul."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{age:30})-[e*..5]->'
                 '(b:player{name:"LeBron James"})) '
                 'RETURN id(nodes(p)[0]) AS s, length(p) AS n')
    assert rows(df, "s", "n") == [("Blake Griffin", 2)]


def test_ssp_source_target_grid(nba_space):
    """SingleShorestPath.feature:121-134 — age-30 players to every team,
    one path per reachable pair, WHERE filtering the source binding."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{age:30})-[e*..5]->'
                 '(b:team)) WHERE id(a) != "Blake Griffin" '
                 'RETURN id(a) AS s, id(b) AS t, length(p) AS n')
    assert sorted(rows(df, "s", "t", "n")) == [
        ("DeAndre Jordan", "Clippers", 1), ("DeAndre Jordan", "Knicks", 1),
        ("DeAndre Jordan", "Mavericks", 1),
        ("Kevin Durant", "Thunders", 1), ("Kevin Durant", "Warriors", 1),
        ("Russell Westbrook", "Pacers", 2),
        ("Russell Westbrook", "Rockets", 2),
        ("Russell Westbrook", "Thunders", 1),
    ]
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{age:30})-[e*..5]->'
                 '(b:team)) WHERE length(p) == 1 '
                 'RETURN id(a) AS s, id(b) AS t')
    assert sorted(rows(df, "s", "t")) == [
        ("Blake Griffin", "Clippers"), ("Blake Griffin", "Pistons"),
        ("DeAndre Jordan", "Clippers"), ("DeAndre Jordan", "Knicks"),
        ("DeAndre Jordan", "Mavericks"),
        ("Kevin Durant", "Thunders"), ("Kevin Durant", "Warriors"),
        ("Russell Westbrook", "Thunders"),
    ]


def test_ssp_yao_serve_undirected(nba_space):
    """SingleShorestPath.feature:135-166 — Yao over :serve undirected to
    every team: Rockets at 1, eleven more teams at 3 (out through a
    Rockets teammate), one path each."""
    df = execute(nba_space,
                 'MATCH p = shortestPath((a:player{name:"Yao Ming"})'
                 '-[e:serve*1..3]-(b:team)) '
                 'RETURN id(b) AS t, length(p) AS n')
    got = sorted(rows(df, "t", "n"))
    assert got == [
        ("Clippers", 3), ("Hawks", 3), ("Hornets", 3), ("Knicks", 3),
        ("Lakers", 3), ("Magic", 3), ("Nuggets", 3), ("Raptors", 3),
        ("Rockets", 1), ("Spurs", 3), ("Thunders", 3), ("Wizards", 3)]


def test_asp_argument_swap(nba_space):
    """AllShortestPaths.feature:874 "argument issue" — `WITH a AS b, b AS a`
    must carry the node BINDINGS under their swapped names (the
    reference's Argument plan node), so the following [OPTIONAL] MATCH
    allShortestPaths runs over the two bound vids, not a fresh scan: the
    two direct like edges, with a = Tony Parker after the swap."""
    for kw in ("MATCH", "OPTIONAL MATCH"):
        df = execute(nba_space,
                     "MATCH (a:player{name:'Tim Duncan'}), "
                     "(b:player{name:'Tony Parker'}) "
                     "WITH a AS b, b AS a "
                     f"{kw} allShortestPaths((a)-[:like*1..3]-(b)) "
                     "RETURN id(a) AS a, id(b) AS b")
        assert rows(df, "a", "b") == [("Tony Parker", "Tim Duncan")] * 2


def test_asp_where_prop_bounds(nba_space):
    """AllShortestPaths.feature:438 allShortestPaths4 (1st/2nd queries) —
    endpoint constraints arriving via WHERE on tag props instead of
    inline maps; the age>45 sources reach Spurs only through a shared
    team at 3 hops (serve is player→team, so odd→even alternation)."""
    df = execute(nba_space,
                 "MATCH p = allShortestPaths((a:player)-[e:serve*..3]-"
                 "(b:team)) WHERE a.player.name == 'Tim Duncan' AND "
                 "b.team.name == 'Spurs' RETURN length(p) AS n")
    assert [r.n for r in df.collect()] == [1]
    df = execute(nba_space,
                 "MATCH p = allShortestPaths((a:player)-[e:serve*..3]-"
                 "(b:team)) WHERE a.player.age > 45 AND "
                 "b.team.name == 'Spurs' "
                 "RETURN id(nodes(p)[0]) AS s, length(p) AS n")
    got = sorted(rows(df, "s", "n"))
    assert got == [("Grant Hill", 3)] * 4 + [("Shaquille O'Neal", 3)] * 6


def test_asp_like_age_bounds(nba_space):
    """AllShortestPaths.feature allShortestPaths4 (3rd query) — both-end
    age predicates: only Shaquille O'Neal (47) reaches under-30 players
    over like within 3, Dejounte at 2 and three more through him."""
    df = execute(nba_space,
                 "MATCH p = allShortestPaths((a:player)-[e:like*..3]-"
                 "(b:player)) WHERE a.player.age > 45 AND "
                 "b.player.age < 30 RETURN id(nodes(p)[0]) AS s, "
                 "id(nodes(p)[-1]) AS t, length(p) AS n")
    assert sorted(rows(df, "s", "t", "n")) == [
        ("Shaquille O'Neal", "Damian Lillard", 3),
        ("Shaquille O'Neal", "Dejounte Murray", 2),
        ("Shaquille O'Neal", "James Harden", 3),
        ("Shaquille O'Neal", "Kyle Anderson", 3)]


def test_asp_prebound_source_reverse(nba_space):
    """AllShortestPaths.feature allShortestPaths4 (4th query) — the
    pattern's source is pre-bound by a previous MATCH (Argument) and the
    segment is REVERSED (<-[:like*..2]-) from Yao Ming."""
    df = execute(nba_space,
                 'MATCH (a:player) MATCH p = allShortestPaths('
                 '(a)<-[e:like*..2]-(b:player{name:"Yao Ming"})) '
                 'RETURN id(a) AS s, length(p) AS n')
    assert sorted(rows(df, "s", "n")) == [
        ("Grant Hill", 2), ("JaVale McGee", 2), ("Kobe Bryant", 2),
        ("Rudy Gay", 2), ("Shaquille O'Neal", 1), ("Tim Duncan", 2),
        ("Tracy McGrady", 1)]


def test_asp_directed_cycles_included(nba_space):
    """AllShortestPaths.feature allShortestPaths4 (5th/6th queries) — the
    all-players source set includes the target itself, so the DIRECTED
    cycle pairs ride along: Tony→Tony via LaMarcus and via Tim bring the
    Tony-target total to 15; the id-list form with Tim/Yao (+3 unknown
    ids) also lands on 15 with Tim's two cycles."""
    df = execute(nba_space,
                 'MATCH (a:player) MATCH p = allShortestPaths('
                 '(a)-[e:like*..2]->(b:player{name:"Tony Parker"})) '
                 'RETURN id(nodes(p)[0]) AS s, length(p) AS n')
    got = rows(df, "s", "n")
    assert len(got) == 15
    assert sorted(g for g in got if g[0] == "Tony Parker") == [
        ("Tony Parker", 2), ("Tony Parker", 2)]
    df = execute(nba_space,
                 'MATCH (a:player) MATCH p = allShortestPaths('
                 '(a)-[e:like*..2]->(b)) '
                 "WHERE id(b) IN ['xxx', 'zzz', 'yyy', 'Tim Duncan', "
                 "'Yao Ming'] RETURN id(nodes(p)[0]) AS s, "
                 "id(nodes(p)[-1]) AS t, length(p) AS n")
    got = rows(df, "s", "t", "n")
    assert len(got) == 15
    assert sorted(g for g in got if g[0] == "Tim Duncan") == [
        ("Tim Duncan", "Tim Duncan", 2), ("Tim Duncan", "Tim Duncan", 2)]


def test_asp_deep_unwind_nodes(nba_space):
    """AllShortestPaths.feature:541 allShortestPaths5 — *..15 undirected
    over every edge type, piped through WITH nodes(p) / UNWIND /
    DISTINCT: the union of all minimal Tim→(age 33) paths touches
    exactly 19 vertices."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a:player {name:"Tim Duncan"})'
                 '-[*..15]-(b:player {age:33})) '
                 'WITH nodes(p) AS pathNodes '
                 'UNWIND pathNodes AS node '
                 'RETURN count(DISTINCT node) AS c')
    assert rows(df, "c") == [(19,)]


def test_ssp_grids_one_per_pair(nba_space):
    """SingleShorestPath.feature:168 single shortestPaths2 — the same
    source×target grids as the allShortestPaths variants collapse to
    exactly ONE path per reachable pair."""
    df = execute(nba_space,
                 "MATCH p = shortestPath((a)-[e*..5]-(b)) "
                 "WHERE id(a) == 'Tim Duncan' and "
                 "id(b) in ['Spurs', 'Tony Parker', 'Yao Ming'] "
                 "RETURN id(nodes(p)[-1]) AS t, length(p) AS n")
    assert sorted(rows(df, "t", "n")) == [
        ("Spurs", 1), ("Tony Parker", 1), ("Yao Ming", 2)]
    df = execute(nba_space,
                 "MATCH p = shortestPath((a)-[e*..5]->(b)) "
                 "WHERE id(b) IN ['Manu Ginobili', 'Spurs', 'Lakers'] "
                 "and id(a) in ['Tony Parker', 'Yao Ming'] "
                 "RETURN id(a) AS s, id(b) AS t, length(p) AS n")
    assert sorted(rows(df, "s", "t", "n")) == [
        ("Tony Parker", "Lakers", 4), ("Tony Parker", "Manu Ginobili", 1),
        ("Tony Parker", "Spurs", 1), ("Yao Ming", "Lakers", 2),
        ("Yao Ming", "Manu Ginobili", 3), ("Yao Ming", "Spurs", 2)]


def test_ssp_comma_pattern_form(nba_space):
    """SingleShorestPath.feature:223 single shortestPaths3 — the shortest
    pattern as a COMMA pattern alongside plain node patterns binds the
    same way as a separate MATCH clause."""
    for q in (
        'MATCH (a:player{name:"Tim Duncan"}), (b:team{name:"Spurs"}), '
        'p = shortestPath((a)-[e:serve*..3]-(b)) RETURN length(p) AS n',
        'MATCH (a:player{name:"Tim Duncan"}), (b:team{name:"Spurs"}) '
        'MATCH p = shortestPath((a)-[e:serve*..3]-(b)) RETURN length(p) AS n',
    ):
        assert rows(execute(nba_space, q), "n") == [(1,)]


# ---------------------------------------------------------------------------
# GO YIELD vertex/edge OBJECT forms — tests/tck/features/go/
# GoYieldVertexEdge.feature (bare edge / $^ / $$ values, type(edge),
# properties(edge|$^|$$); the edge VALUE keeps its stored orientation
# under REVERSELY while the ._src/._dst prop forms keep the
# adjacency-entry view — both pinned here)
# ---------------------------------------------------------------------------

def test_goyve_one_step_edge_value(nba_space):
    """GoYieldVertexEdge.feature "one step" (1st query) — bare edge,
    properties(edge), and properties($$)/properties($^) attribute access
    inside a concat."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD edge as e, '
                 'properties(edge) as props, concat(src(edge), " like ", '
                 'dst(edge), " @ ", properties($$).name, " # ", '
                 'properties($^).age) as result')
    got = sorted((r.e.s, r.e.d, r.e.et, r.props.likeness, r.result)
                 for r in df.collect())
    assert got == [
        ("Tim Duncan", "Manu Ginobili", "like", 95,
         "Tim Duncan like Manu Ginobili @ Manu Ginobili # 42"),
        ("Tim Duncan", "Tony Parker", "like", 95,
         "Tim Duncan like Tony Parker @ Tony Parker # 42")]


def test_goyve_one_step_vertex_values(nba_space):
    """GoYieldVertexEdge.feature "one step" (3rd query) — bare $^ / $$
    yield the FULL multi-tag vertex (Tim Duncan carries bachelor's
    speciality merged over his player props)."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD '
                 '$^.player.name as name, $^.player.age as age, '
                 '$^ as src, $$ as dst, edge as e')
    got = sorted((r.src.vid, r.src.speciality, r.src.age,
                  r.dst.vid, r.dst.age, r.e.et) for r in df.collect())
    assert got == [
        ("Tim Duncan", "psychology", 42, "Manu Ginobili", 41, "like"),
        ("Tim Duncan", "psychology", 42, "Tony Parker", 36, "like")]


def test_goyve_over_star_type(nba_space):
    """GoYieldVertexEdge.feature "one step" (5th query) — duplicate FROM
    vids dedup; OVER * yields one row per edge with its type()."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan", "Tim Duncan" OVER * '
                 'YIELD $$ as dst, type(edge) as type')
    got = sorted((r.dst.vid, r.type) for r in df.collect())
    assert got == [
        ("Danny Green", "teammate"), ("LaMarcus Aldridge", "teammate"),
        ("Manu Ginobili", "like"), ("Manu Ginobili", "teammate"),
        ("Spurs", "serve"),
        ("Tony Parker", "like"), ("Tony Parker", "teammate")]


def test_goyve_distinct_pipe_chain(nba_space):
    """GoYieldVertexEdge.feature "distinct map and set" — a 3-stage GO
    pipe ending in YIELD DISTINCT over (dst, edge, properties)."""
    df = execute(nba_space,
                 'GO FROM "Boris Diaw" OVER like YIELD dst(edge) as id | '
                 'GO FROM $-.id OVER like YIELD dst(edge) as id | '
                 'GO FROM $-.id OVER serve YIELD DISTINCT dst(edge) as '
                 'dst, edge as e, properties(edge) as props')
    got = sorted((r.dst, r.e.s, r.props.start_year, r.props.end_year)
                 for r in df.collect())
    assert got == [
        ("Hornets", "Tony Parker", 2018, 2019),
        ("Spurs", "LaMarcus Aldridge", 2015, 2019),
        ("Spurs", "Manu Ginobili", 2002, 2018),
        ("Spurs", "Tim Duncan", 1997, 2016),
        ("Spurs", "Tony Parker", 1999, 2018),
        ("Trail Blazers", "LaMarcus Aldridge", 2006, 2015)]


def test_goyve_collect_vs_collect_set(nba_space):
    """GoYieldVertexEdge.feature "distinct map and set" (2nd query) —
    collect keeps the 2-step multiset (Tim Duncan reached twice),
    collect_set dedups."""
    df = execute(nba_space,
                 'GO 2 STEPS FROM "Tim Duncan" OVER like '
                 'YIELD dst(edge) as id | '
                 'YIELD DISTINCT collect($-.id) as a, collect_set($-.id) as b')
    r = df.collect()[0]
    assert sorted(r.a) == ["LaMarcus Aldridge", "Manu Ginobili",
                           "Tim Duncan", "Tim Duncan"]
    assert sorted(r.b) == ["LaMarcus Aldridge", "Manu Ginobili",
                           "Tim Duncan"]


def test_goyve_vertex_noexist_empty(nba_space):
    """GoYieldVertexEdge.feature "vertex noexist" — object-form yields on
    a missing start produce zero rows, not errors."""
    df = execute(nba_space,
                 'GO FROM "NON EXIST VERTEX ID" OVER serve YIELD '
                 '$^ as src, $$ as dst, properties(edge) as props')
    assert df.count() == 0


def test_goyve_reversely_stored_orientation(nba_space):
    """GoYieldVertexEdge.feature "edge type" + "multi edges" (4th query)
    — under REVERSELY the edge VALUE keeps its stored orientation:
    src(edge) is the liker, dst(edge) the start vertex, and the bare
    edge struct agrees."""
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER serve, like REVERSELY '
                 'YIELD dst(edge) as dst, src(edge) as src, '
                 'type(edge) as type')
    assert sorted(rows(df, "dst", "src", "type")) == [
        ("Russell Westbrook", "Dejounte Murray", "like"),
        ("Russell Westbrook", "James Harden", "like"),
        ("Russell Westbrook", "Paul George", "like")]
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER serve, like REVERSELY '
                 'YIELD edge as e')
    assert sorted((r.e.s, r.e.d, r.e.et) for r in df.collect()) == [
        ("Dejounte Murray", "Russell Westbrook", "like"),
        ("James Harden", "Russell Westbrook", "like"),
        ("Paul George", "Russell Westbrook", "like")]


def test_goyve_multi_edge_props(nba_space):
    """GoYieldVertexEdge.feature "multi edges" (1st query) —
    properties(edge) over a two-type union is a per-row MAP of the
    traversed edge's OWN props (FunctionManager.cpp properties → Edge
    props map): {end_year: 2019, start_year: 2008} for the serve row,
    {likeness: 90} for the like rows — no NULL-padded foreign keys."""
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER serve, like '
                 'YIELD properties(edge) as props, type(edge) as type')
    got = sorted((r.type, sorted(r.props.items())) for r in df.collect())
    assert got == [
        ("like", [("likeness", 90)]),
        ("like", [("likeness", 90)]),
        ("serve", [("end_year", 2019), ("start_year", 2008)])]


def test_goyve_reversely_vertex_and_props(nba_space):
    """GoYieldVertexEdge.feature "multi edges" (last query) — REVERSELY
    with $^ / $$ objects, bare edge, and prop forms in one YIELD; the
    multi-tag dst (Tim Duncan) keeps its bachelor speciality."""
    df = execute(nba_space,
                 'GO FROM "Manu Ginobili" OVER like, teammate REVERSELY '
                 'YIELD $^ as src, edge as e, $$ as dst, '
                 '$$.player.name AS dname, $^.player.age AS sage')
    got = sorted((r.src.vid, r.e.s, r.e.et, r.dst.vid, r.dst.speciality,
                  r.dname, r.sage) for r in df.collect())
    assert got == [
        ("Manu Ginobili", "Dejounte Murray", "like", "Dejounte Murray",
         None, "Dejounte Murray", 41),
        ("Manu Ginobili", "Tiago Splitter", "like", "Tiago Splitter",
         None, "Tiago Splitter", 41),
        ("Manu Ginobili", "Tim Duncan", "like", "Tim Duncan",
         "psychology", "Tim Duncan", 41),
        ("Manu Ginobili", "Tim Duncan", "teammate", "Tim Duncan",
         "psychology", "Tim Duncan", 41),
        ("Manu Ginobili", "Tony Parker", "like", "Tony Parker",
         None, "Tony Parker", 41),
        ("Manu Ginobili", "Tony Parker", "teammate", "Tony Parker",
         None, "Tony Parker", 41)]


def test_goyve_pipe_carries_vertex_value(nba_space):
    """GoYieldVertexEdge.feature "reference pipe in yield and where"
    (3rd query) — a $^ vertex VALUE piped through $-.src survives the
    next GO; id($$) works as the id accessor. Re-pinned r11: the
    reference headers the unaliased yield AS WRITTEN (`$-.src` — the
    feature's own expected table), not the bare piped name."""
    df = execute(nba_space,
                 'GO FROM "Yao Ming" OVER * YIELD $^ as src, '
                 'id($$) AS id | '
                 'GO FROM $-.id OVER * YIELD $-.src, id($$) as id')
    assert df.columns == ["$-.src", "id"]
    got = [(r["$-.src"].vid, r.id) for r in df.collect()]
    assert len(got) == 15
    assert all(s == "Yao Ming" for s, _ in got)
    assert sorted(i for _, i in got) == sorted([
        "JaVale McGee", "Tim Duncan", "Cavaliers", "Celtics", "Heat",
        "Lakers", "Magic", "Suns", "Grant Hill", "Kobe Bryant",
        "Rudy Gay", "Magic", "Raptors", "Rockets", "Spurs"])


def test_goyve_where_pipe_ref_against_dst_prop(nba_space):
    """GoYieldVertexEdge.feature "reference pipe in yield and where"
    (2nd query) — WHERE mixes a piped column with $$ props; YIELD
    returns the $$ object."""
    df = execute(nba_space,
                 "GO FROM 'Tim Duncan', 'Chris Paul' OVER like "
                 "YIELD $^.player.name AS name, dst(edge) AS id | "
                 "GO FROM $-.id OVER like "
                 "WHERE $-.name != $$.player.name "
                 "YIELD $-.name AS name, $^.player.name AS via, "
                 "$$ as dst")
    got = sorted((r.name, r.via, r.dst.vid) for r in df.collect())
    assert got == [
        ("Chris Paul", "Carmelo Anthony", "Dwyane Wade"),
        ("Chris Paul", "Carmelo Anthony", "LeBron James"),
        ("Chris Paul", "Dwyane Wade", "Carmelo Anthony"),
        ("Chris Paul", "Dwyane Wade", "LeBron James"),
        ("Chris Paul", "LeBron James", "Ray Allen"),
        ("Tim Duncan", "Tony Parker", "LaMarcus Aldridge"),
        ("Tim Duncan", "Tony Parker", "Manu Ginobili")]


def test_goyve_tags_fn(nba_space):
    """GoYieldVertexEdge.feature "In expression" — tags($$)/tags($^)
    report the full tag list of each endpoint (multi-tag Tim Duncan)."""
    df = execute(nba_space,
                 "GO FROM 'Tony Parker' OVER like "
                 "WHERE like._dst IN ['Tim Duncan', 'Danny Green'] "
                 "YIELD $$ as dst, tags($$) AS dt, tags($^) AS st")
    assert [(r.dst.vid, r.dt, r.st) for r in df.collect()] == [
        ("Tim Duncan", ["bachelor", "player"], ["player"])]


def test_goyve_no_exist_prop_raises(nba_space):
    """GoYieldVertexEdge.feature "no exist prop" — unknown tag/edge props
    are planning-time SemanticErrors, not NULL columns."""
    with pytest.raises(ValueError, match="not found the property"):
        execute(nba_space, "GO FROM 'Tim Duncan' OVER serve "
                           "YIELD $^.player.test, $$ as dst, edge as e")
    with pytest.raises(ValueError, match="not found the property"):
        execute(nba_space, "GO FROM 'Tim Duncan' OVER serve "
                           "YIELD serve.test, properties(edge) as props")


def test_goyve_var_ref_with_objects(nba_space):
    """GoYieldVertexEdge.feature "reference variable in yield and where"
    (3rd query) — $var columns mix with $$ props in WHERE while YIELD
    returns properties(edge)."""
    df = execute(nba_space,
                 "$var = GO FROM 'Tim Duncan', 'Chris Paul' OVER like "
                 "YIELD $^.player.name AS name, id($$) AS id; "
                 "GO FROM $var.id OVER like "
                 "WHERE $var.name != $$.player.name "
                 "YIELD $var.name AS name, properties(edge) as props")
    got = sorted((r.name, r.props.likeness) for r in df.collect())
    assert got == [("Chris Paul", 90)] * 4 + [("Chris Paul", 100)] + \
                  [("Tim Duncan", 90), ("Tim Duncan", 95)]


def test_goyve_dst_prop_filter_with_objects(nba_space):
    """GoYieldVertexEdge.feature "udf call" — $$ prop membership filter
    with $^/$$ object yields."""
    df = execute(nba_space,
                 "GO FROM 'Boris Diaw' OVER serve "
                 "WHERE $$.team.name IN ['Hawks', 'Suns'] "
                 "YIELD $^ as src, $$ as dst")
    assert sorted((r.src.vid, r.dst.vid) for r in df.collect()) == [
        ("Boris Diaw", "Hawks"), ("Boris Diaw", "Suns")]


def test_goyve_pipe_keeps_row_multiplicity(nba_space):
    """GoYieldVertexEdge.feature "multi edges over all" (last query) —
    duplicate vids arriving through a pipe each keep their own traversal
    (Manu Ginobili reached twice → his serve row twice), unlike literal
    FROM lists which dedup."""
    df = execute(nba_space,
                 'GO FROM "Boris Diaw" OVER * YIELD like._dst as id | '
                 'GO FROM $-.id OVER like YIELD like._dst as id | '
                 'GO FROM $-.id OVER serve YIELD edge as e, '
                 'properties(edge) as props')
    got = sorted((r.e.s, r.e.d) for r in df.collect())
    assert got == [
        ("LaMarcus Aldridge", "Spurs"),
        ("LaMarcus Aldridge", "Trail Blazers"),
        ("Manu Ginobili", "Spurs"), ("Manu Ginobili", "Spurs"),
        ("Tim Duncan", "Spurs"),
        ("Tony Parker", "Hornets"), ("Tony Parker", "Spurs")]


def test_goyve_pipe_name_rides_rows(nba_space):
    """GoYieldVertexEdge.feature "reference pipe in yield and where"
    (1st query) — $-.name joins back per input ROW: the shared Tim
    Duncan reached from both starts emits once per input row."""
    df = execute(nba_space,
                 "GO FROM 'Tim Duncan', 'Chris Paul' OVER like "
                 "YIELD $^.player.name AS name, dst(edge) AS id | "
                 "GO FROM $-.id OVER like YIELD $-.name AS name, "
                 "dst(edge) as dst")
    got = sorted(rows(df, "name", "dst"))
    assert got == [
        ("Chris Paul", "Carmelo Anthony"), ("Chris Paul", "Chris Paul"),
        ("Chris Paul", "Chris Paul"), ("Chris Paul", "Dwyane Wade"),
        ("Chris Paul", "LeBron James"), ("Chris Paul", "LeBron James"),
        ("Chris Paul", "Ray Allen"),
        ("Tim Duncan", "LaMarcus Aldridge"),
        ("Tim Duncan", "Manu Ginobili"),
        ("Tim Duncan", "Tim Duncan"), ("Tim Duncan", "Tim Duncan")]


# ---------------------------------------------------------------------------
# YIELD sentence — tests/tck/features/yield/yield.feature
# ---------------------------------------------------------------------------

def test_yield_float_literal_forms(nba_space):
    """yield.feature Base — scanner.lex DEC float forms: exponents,
    leading-dot, trailing-dot (homogeneous list; the reference's
    heterogeneous Value list is a documented Spark deviation)."""
    df = execute(nba_space,
                 'YIELD [1.1, 1e2, 1.1e2, .3e4, 1.e4, 1234E-10] AS v')
    assert [r.v for r in df.collect()] == [
        [1.1, 100.0, 110.0, 3000.0, 10000.0, 1.234e-07]]


def test_yield_map_literal(nba_space):
    """yield.feature Base — map literal value."""
    df = execute(nba_space, 'YIELD {p1: 1, p2: true, p3: "test"} AS r')
    r = df.collect()[0].r
    assert (r.p1, r.p2, r.p3) == (1, True, "test")


def test_yield_int64_bounds(nba_space):
    """yield.feature CalculateOverflow — INT64_MIN parses (sign folded
    into the literal, parser.yy INTEGER), INT64_MAX parses, one past
    either bound is the reference's out-of-range SyntaxError."""
    assert rows(execute(nba_space, "YIELD -9223372036854775808 AS v"),
                "v") == [(-9223372036854775808,)]
    assert rows(execute(nba_space, "YIELD 9223372036854775807 AS v"),
                "v") == [(9223372036854775807,)]
    for q in ("YIELD -9223372036854775809 AS v",
              "YIELD 9223372036854775808 AS v"):
        with pytest.raises(SyntaxError, match="Out of range"):
            execute(nba_space, q)


def test_yield_typecase_comprehension(nba_space):
    """yield.feature "deduce typecase" — (int)() cast inside a list
    comprehension over a piped split()."""
    df = execute(nba_space,
                 "yield split('123,456,789', ',') as l"
                 "| yield [e in $-.l | (int)(e)] as c")
    assert [r.c for r in df.collect()] == [[123, 456, 789]]
    df = execute(nba_space,
                 "yield [e in ['123', '456', '789'] | (int)(e)] as c")
    assert [r.c for r in df.collect()] == [[123, 456, 789]]


def test_yield_function_name_case(nba_space):
    """yield.feature "function name case test" — function dispatch is
    case-insensitive for scalars and aggregates alike; two-arg bit_or is
    the scalar bitwise form."""
    df = execute(nba_space, "yield bit_Or(1, 2) AS o, aBs(-3) AS a")
    assert rows(df, "o", "a") == [(3, 3)]
    df = execute(nba_space, "yield counT(*) AS c, aVg(3) AS a, "
                            "bit_Or(1) AS b")
    assert rows(df, "c", "a", "b") == [(1, 3.0, 1)]


def test_yield_pipe_go_chain(nba_space):
    """yield.feature PipeYieldGo — YIELD as a pipe stage between GOs, in
    both the $- and $var forms."""
    for q in (
        'GO FROM "Tim Duncan" OVER serve YIELD serve._src as id | '
        'YIELD $-.id as id | '
        'GO FROM $-.id OVER serve YIELD $$.team.name AS name',
        '$var=GO FROM "Tim Duncan" OVER serve YIELD serve._src as id;'
        '$var2 = YIELD $var.id as id ; '
        'GO FROM $var2.id OVER serve YIELD $$.team.name AS name',
    ):
        assert rows(execute(nba_space, q), "name") == [("Spurs",)]


def test_yield_duplicate_pipe_column(nba_space):
    """yield.feature DuplicateColumn — $-.team picks the named pipe
    column out of a 3-column input."""
    df = execute(nba_space,
                 'GO FROM "Boris Diaw" OVER serve '
                 'YIELD $^.player.name as name, serve.start_year as start, '
                 '$$.team.name as team | YIELD $-.team AS team')
    assert sorted(r.team for r in df.collect()) == [
        "Hawks", "Hornets", "Jazz", "Spurs", "Suns"]


# ---------------------------------------------------------------------------
# GET SUBGRAPH YIELD — tests/tck/features/subgraph/subgraph.feature
# (per-level rows: vertices first reached at depth k + edges collected by
# round k+1, each stored edge once at its earliest round)
# ---------------------------------------------------------------------------

def _sg_shape(df):
    return [(len(r[0]), len(r[1])) for r in df.collect()]


def test_subgraph_invalid_input(nba_space):
    """subgraph.feature "invalid input" — YIELD accepts only
    vertices/edges, aliases are mandatory, pipe/var sources must exist
    with unique columns."""
    with pytest.raises(ValueError, match="only support YIELD"):
        execute(nba_space, 'GET SUBGRAPH WITH PROP FROM "Tim Duncan" '
                           'YIELD invalidColumn')
    with pytest.raises(SyntaxError, match="please add alias"):
        execute(nba_space, 'GET SUBGRAPH WITH PROP FROM "Tim Duncan" '
                           'YIELD vertices, edgesa')
    with pytest.raises(SyntaxError, match="please add alias"):
        execute(nba_space, 'GET SUBGRAPH WITH PROP 0 STEPS FROM '
                           '"Tim Duncan" YIELD edges')
    with pytest.raises(ValueError, match="not exist prop"):
        execute(nba_space, 'GET SUBGRAPH WITH PROP FROM $-.id '
                           'YIELD vertices as nodes')
    with pytest.raises(ValueError, match="not exist variable"):
        execute(nba_space, 'GET SUBGRAPH WITH PROP FROM $a.id '
                           'YIELD edges as relationships')
    with pytest.raises(ValueError, match="Duplicate Column Name"):
        execute(nba_space,
                'GO FROM "Tim Duncan" OVER like YIELD like._dst AS id, '
                'like._src AS id | GET SUBGRAPH WITH PROP FROM $-.id '
                'YIELD vertices as nodes')


def test_subgraph_zero_step(nba_space):
    """subgraph.feature "zero step" — literal, piped and $var sources."""
    df = execute(nba_space,
                 'GET SUBGRAPH WITH PROP 0 STEPS FROM "Tim Duncan", '
                 '"Tony Parker", "Spurs" YIELD vertices as nodes')
    assert [sorted(r.nodes) for r in df.collect()] == [
        ["Spurs", "Tim Duncan", "Tony Parker"]]
    df = execute(nba_space,
                 "GO FROM 'Tim Duncan' over like YIELD like._dst AS id | "
                 "GET SUBGRAPH WITH PROP 0 STEPS FROM $-.id "
                 "YIELD vertices as nodes")
    assert [sorted(r.nodes) for r in df.collect()] == [
        ["Manu Ginobili", "Tony Parker"]]
    df = execute(nba_space,
                 "$a = GO FROM 'Tim Duncan' over serve YIELD "
                 "serve._dst AS id; GET SUBGRAPH WITH PROP 0 STEPS FROM "
                 "$a.id YIELD vertices as nodes")
    assert [r.nodes for r in df.collect()] == [["Spurs"]]


def test_subgraph_one_step_full(nba_space):
    """subgraph.feature "subgraph" — the 1-step Tim Duncan neighborhood:
    19 seed-incident edges (incl. all four Tim↔Manu/Tony teammate rows —
    edge identity includes the TYPE, a teammate edge parallel to a like
    edge is distinct), then 11 level-1 vertices with 25 closing edges
    (incl. Marco Belinelli's @1 parallel serve)."""
    df = execute(nba_space,
                 "GET SUBGRAPH WITH PROP FROM 'Tim Duncan' "
                 "YIELD vertices as nodes, edges as relationships")
    rows_ = df.collect()
    assert _sg_shape(df) == [(1, 19), (11, 25)]
    e0 = {(e.et, e.s, e.d) for e in rows_[0].relationships}
    assert ("teammate", "Manu Ginobili", "Tim Duncan") in e0
    assert ("teammate", "Tim Duncan", "Manu Ginobili") in e0
    e1 = {(e.et, e.s, e.d, e.r) for e in rows_[1].relationships}
    assert ("serve", "Marco Belinelli", "Spurs", 0) in e1
    assert ("serve", "Marco Belinelli", "Spurs", 1) in e1
    df = execute(nba_space, "GET SUBGRAPH FROM 'Tim Duncan' OUT like "
                            "YIELD vertices as v")
    assert [sorted(r.v) for r in df.collect()] == [
        ["Tim Duncan"], ["Manu Ginobili", "Tony Parker"]]


def test_subgraph_directional_combos(nba_space):
    """subgraph.feature "in edge" / "in and out edge" / "two steps in and
    out edge" / "three steps" / "yield bidirect edge" — per-level
    (vertices, edges) cardinalities match the reference's golden lists
    exactly for every direction/edge-type combination."""
    cases = [
        ("GET SUBGRAPH WITH PROP 2 STEPS FROM 'Tim Duncan' IN like, serve "
         "YIELD vertices as nodes, edges as relationships",
         [(1, 10), (10, 17), (3, 0)]),
        ("GET SUBGRAPH WITH PROP 2 STEPS FROM 'Tim Duncan' IN like OUT "
         "serve YIELD vertices as nodes, edges as relationships",
         [(1, 11), (11, 53), (19, 4)]),
        ("GET SUBGRAPH WITH PROP 2 STEPS FROM 'Tim Duncan', 'James "
         "Harden' IN teammate OUT serve YIELD vertices as nodes, "
         "edges as relationships",
         [(2, 5), (5, 7), (1, 0)]),
        ("GET SUBGRAPH WITH PROP 3 STEPS FROM 'Paul George' OUT serve "
         "BOTH like YIELD vertices as nodes, edges as relationships",
         [(1, 4), (3, 4), (2, 14), (12, 21)]),
        ("GET SUBGRAPH WITH PROP FROM 'Tony Parker' BOTH like "
         "YIELD vertices as a, edges as b",
         [(1, 8), (6, 8)]),
    ]
    for q, want in cases:
        assert _sg_shape(execute(nba_space, q)) == want, q


def test_subgraph_yield_pipe_uppercase(nba_space):
    """subgraph.feature "yield pipe"/"yield var" — piped and $var seed
    forms with UPPERCASE VERTICES/EDGES keywords; same per-level shape
    as the direct 1-step query."""
    for q in (
        "GO FROM 'Tim Duncan' over serve YIELD serve._src AS id | "
        "GET SUBGRAPH WITH PROP FROM $-.id YIELD VERTICES as a, "
        "EDGES as b",
        "$a = GO FROM 'Tim Duncan' over serve YIELD serve._src AS id; "
        "GET SUBGRAPH WITH PROP FROM $a.id YIELD VERTICES as a, "
        "EDGES as b",
    ):
        assert _sg_shape(execute(nba_space, q)) == [(1, 19), (11, 25)], q


def _sg_rows(df):
    """(sorted nodes, sorted (s,d,r,et) edge tuples) per level row."""
    return [(sorted(r[0]), sorted(tuple(e) for e in r[1]))
            for r in df.collect()]


def test_subgraph_edge_filter(nba_space):
    """subgraphWithFilter.feature "subgraph with edge filter" — the WHERE
    clause prunes the expansion universe; an edge survives only when its
    own props pass."""
    df = execute(nba_space,
                 "GET SUBGRAPH FROM 'Tim Duncan' OUT like WHERE "
                 "like.likeness > 90 YIELD vertices as v")
    assert [sorted(r.v) for r in df.collect()] == [
        ["Tim Duncan"], ["Manu Ginobili", "Tony Parker"]]
    df = execute(nba_space,
                 "GET SUBGRAPH FROM 'Tim Duncan' BOTH like WHERE "
                 "like.likeness > 90 YIELD vertices as v, edges as e")
    assert _sg_rows(df) == [
        (["Tim Duncan"],
         [("Dejounte Murray", "Tim Duncan", 0, "like"),
          ("Tim Duncan", "Manu Ginobili", 0, "like"),
          ("Tim Duncan", "Tony Parker", 0, "like"),
          ("Tony Parker", "Tim Duncan", 0, "like")]),
        (["Dejounte Murray", "Manu Ginobili", "Tony Parker"],
         [("Dejounte Murray", "Manu Ginobili", 0, "like"),
          ("Dejounte Murray", "Tony Parker", 0, "like"),
          ("Tony Parker", "Manu Ginobili", 0, "like")])]
    # all edges dropped at step 1 → a single seeds-only row
    df = execute(nba_space,
                 "GET SUBGRAPH WITH PROP 2 STEPS FROM 'Tim Duncan', "
                 "'James Harden' OUT serve WHERE serve.start_year > 2012 "
                 "YIELD vertices as nodes, edges as relationships")
    assert _sg_rows(df) == [(["James Harden", "Tim Duncan"], [])]


def test_subgraph_tag_filter(nba_space):
    """subgraphWithFilter.feature "subgraph with tag filter" / "tag and
    edge filter" — `$$.tag.prop` gates the traversal DESTINATION: a
    source that fails the tag filter still expands (the 5-step Tony
    Parker scenario: Tony is 36, yet edges into/out of his passing
    neighbors are kept)."""
    df = execute(nba_space,
                 "GET SUBGRAPH WITH PROP FROM 'Tim Duncan' OUT like WHERE "
                 "$$.player.age > 36 YIELD vertices as v, edges as e")
    assert _sg_rows(df) == [
        (["Tim Duncan"], [("Tim Duncan", "Manu Ginobili", 0, "like")]),
        (["Manu Ginobili"], [("Manu Ginobili", "Tim Duncan", 0, "like")])]
    df = execute(nba_space,
                 "GET SUBGRAPH WITH PROP 5 steps from 'Tony Parker' BOTH "
                 "like WHERE $$.player.age > 36 AND like.likeness > 80 "
                 "YIELD VERTICES as nodes, EDGES as relationships")
    assert _sg_rows(df) == [
        (["Tony Parker"],
         [("Tim Duncan", "Tony Parker", 0, "like"),
          ("Tony Parker", "Manu Ginobili", 0, "like"),
          ("Tony Parker", "Tim Duncan", 0, "like")]),
        (["Manu Ginobili", "Tim Duncan"],
         [("Manu Ginobili", "Tim Duncan", 0, "like"),
          ("Tim Duncan", "Manu Ginobili", 0, "like")])]


def test_subgraph_where_validation(nba_space):
    """GetSubgraphValidator::validateWhere — OR / $^ / aggregates are
    refused; an edge type outside the OVER list is a SemanticError."""
    with pytest.raises(ValueError, match=r"Not support `OR'"):
        execute(nba_space,
                "GET SUBGRAPH FROM 'Tim Duncan' OUT like WHERE "
                "like.likeness > 90 OR $$.player.age > 36 "
                "YIELD vertices as v")
    with pytest.raises(ValueError, match=r"Not support `\$\^'"):
        execute(nba_space,
                "GET SUBGRAPH FROM 'Tim Duncan' OUT like WHERE "
                "$^.player.age > 36 YIELD vertices as v")
    with pytest.raises(ValueError,
                       match=r'Edge type "like" in filter is not in '
                             r"the edge types \[serve\]"):
        execute(nba_space,
                "GET SUBGRAPH FROM 'Tim Duncan' BOTH serve WHERE "
                "like.likeness > 90 YIELD vertices as v")


# ---------------------------------------------------------------------------
# FETCH PROP — tests/tck/features/fetch/FetchVertices.strVid.feature
# ---------------------------------------------------------------------------

def test_fetch_expr_and_vertex_value(nba_space):
    """FetchVertices.strVid.feature "Fetch prop on one tag" — computed
    YIELD items and the single-tag vertex value."""
    df = execute(nba_space,
                 "FETCH PROP ON player 'Boris Diaw' YIELD player.name, "
                 "player.age, player.age > 30 AS old")
    # unaliased prop refs carry the reference's expression-text column
    # names (FetchVertices.strVid.feature:11 header `player.name`)
    assert rows(df, "player.name", "player.age", "old") == [
        ("Boris Diaw", 36, True)]
    df = execute(nba_space,
                 "FETCH PROP ON bachelor 'Tim Duncan' YIELD vertex as node")
    r = df.collect()[0].node
    assert (r.vid, r.speciality) == ("Tim Duncan", "psychology")


def test_fetch_var_order_by(nba_space):
    """FetchVertices.strVid.feature "works with ORDER BY" — $var seeds
    into FETCH, piped into ORDER BY."""
    df = execute(nba_space,
                 "$var = GO FROM 'Boris Diaw' over like YIELD "
                 "like._dst as id; FETCH PROP ON player $var.id YIELD "
                 "player.name as name, player.age | ORDER BY $-.name")
    assert rows(df, "name", "player.age") == [
        ("Tim Duncan", 42), ("Tony Parker", 36)]


def test_fetch_format_yield(nba_space):
    """FetchVertices.strVid.feature "format yield" — id(vertex) mixes
    with tag props and the vertex value; missing vids drop; keys()/
    tags()/properties() over the fetched vertex."""
    df = execute(nba_space,
                 "FETCH PROP ON * 'Boris Diaw' YIELD id(vertex) AS i, "
                 "player.age, vertex as node")
    r = df.collect()[0]
    assert (r.i, r["player.age"], r.node.vid, r.node.player.age) == (
        "Boris Diaw", 36, "Boris Diaw", 36)
    df = execute(nba_space,
                 "FETCH PROP ON * 'NON EXIST VERTEX ID', 'Boris Diaw' "
                 "yield player.name, id(vertex) AS i")
    assert rows(df, "player.name", "i") == [("Boris Diaw", "Boris Diaw")]
    df = execute(nba_space,
                 "FETCH PROP ON player 'Tim Duncan' YIELD id(vertex) AS i, "
                 "properties(vertex).name as name")
    assert rows(df, "i", "name") == [("Tim Duncan", "Tim Duncan")]
    df = execute(nba_space,
                 "FETCH PROP ON * 'Tim Duncan' YIELD id(vertex) AS i, "
                 "keys(vertex) as ks, tags(vertex) as tg")
    assert [(r.i, r.ks, r.tg) for r in df.collect()] == [
        ("Tim Duncan", ["age", "name", "speciality"],
         ["bachelor", "player"])]
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like YIELD like._dst as id | '
                 'FETCH PROP ON * $-.id YIELD vertex as node')
    assert sorted(r.node.vid for r in df.collect()) == [
        "Manu Ginobili", "Tony Parker"]


def test_fetch_typical_errors(nba_space):
    """FetchVertices.strVid.feature "Typical errors" — the validator's
    refusals: bare vertex needs an alias, edge/src-dst/pipe expressions
    are illegal in a vertex FETCH, unknown tags and props error by
    name."""
    with pytest.raises(SyntaxError, match="please add alias"):
        execute(nba_space, "FETCH PROP ON player 'Boris Diaw' YIELD vertex")
    with pytest.raises(ValueError, match="illegal yield clauses"):
        execute(nba_space,
                "FETCH PROP ON player 'Boris Diaw' YIELD edge as a")
    with pytest.raises(ValueError, match="unsupported src/dst property"):
        execute(nba_space, "FETCH PROP ON player 'Boris Diaw' "
                           "YIELD $^.player.name, player.age")
    with pytest.raises(ValueError, match="TagNotFound"):
        execute(nba_space, "FETCH PROP ON player 'Boris Diaw' "
                           "YIELD not_exist_tag.name, player.age")
    with pytest.raises(ValueError, match="TagNotFound"):
        execute(nba_space, "FETCH PROP ON not_exist_tag 'Boris Diaw'")
    with pytest.raises(ValueError, match="not found the property"):
        execute(nba_space, "FETCH PROP ON player 'Boris Diaw' "
                           "YIELD player.not_exist_prop")
    with pytest.raises(ValueError, match="Duplicate Column Name"):
        execute(nba_space,
                "GO FROM 'Boris Diaw' over like YIELD like._dst as id, "
                "like._dst as id | FETCH PROP ON player $-.id "
                "YIELD player.name, player.age")
    with pytest.raises(ValueError, match="unsupported input/variable"):
        execute(nba_space,
                'GO FROM "11" over like YIELD like._dst as id | '
                'FETCH PROP ON player "11" YIELD $-.id')


def test_fetch_edges_forms(nba_space):
    """FetchEdges.strVid.feature — computed yields, explicit @rank keys,
    missing keys dropping, the _src/_dst/_rank pseudo props, and the
    src/dst/rank/properties function forms over the fetched edge."""
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->'Hawks' "
                 "YIELD serve.start_year > 2001 AS a, serve.end_year")
    assert rows(df, "a", "serve.end_year") == [(True, 2005)]
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->'Hawks'@0 "
                 "YIELD serve.start_year, serve.end_year")
    assert rows(df, "serve.start_year", "serve.end_year") == [
        (2003, 2005)]
    df = execute(nba_space,
                 'FETCH PROP ON serve "Zion Williamson"->"Spurs", '
                 '"Boris Diaw"->"Hawks" YIELD serve.start_year')
    assert rows(df, "serve.start_year") == [(2003,)]
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->\"Spurs\" "
                 "YIELD serve._src, serve._dst, serve._rank")
    assert rows(df, "serve._src", "serve._dst", "serve._rank") == [
        ("Boris Diaw", "Spurs", 0)]
    df = execute(nba_space,
                 "FETCH PROP ON serve 'Boris Diaw'->'Hawks' "
                 "YIELD src(edge) AS s, dst(edge) AS d, rank(edge) AS r, "
                 "properties(edge) AS p")
    r = df.collect()[0]
    assert (r.s, r.d, r.r, r.p.start_year) == ("Boris Diaw", "Hawks", 0,
                                               2003)


def test_goyve_multi_edge_filters(nba_space):
    """GoYieldVertexEdge.feature "multi edges with filter" — per-type
    edge-prop predicates over a multi-type union (NULL on other types
    drops the row), mixed with $$ prop predicates and object yields."""
    df = execute(nba_space,
                 'GO FROM "Russell Westbrook" OVER serve, like '
                 'WHERE serve.start_year > 2000 YIELD edge as e')
    assert [(r.e.s, r.e.d, r.e.et) for r in df.collect()] == [
        ("Russell Westbrook", "Thunders", "serve")]
    df = execute(nba_space,
                 'GO FROM "Manu Ginobili" OVER like, teammate REVERSELY '
                 'WHERE like.likeness > 90 YIELD $$ as dst')
    assert sorted(r.dst.vid for r in df.collect()) == [
        "Dejounte Murray", "Tim Duncan", "Tony Parker"]
    df = execute(nba_space,
                 'GO FROM "Manu Ginobili" OVER * WHERE $$.player.age > 30 '
                 'or $$.team.name not starts with "Rockets" '
                 'YIELD DISTINCT $$ as dst')
    assert sorted(r.dst.vid for r in df.collect()) == [
        "Spurs", "Tim Duncan", "Tony Parker"]
    df = execute(nba_space,
                 'GO FROM "Manu Ginobili" OVER like, teammate REVERSELY '
                 'WHERE $$.player.age > 30 and $$.player.age < 40 '
                 'YIELD DISTINCT $$ as dst')
    assert sorted(r.dst.vid for r in df.collect()) == [
        "Tiago Splitter", "Tony Parker"]


# ---------------------------------------------------------------------------
# FIND … PATH … YIELD path AS p — PATH values
# tests/tck/features/path/{ShortestPath,AllPath,NoLoop,singleShortestPath}
# .feature, round-5 batch (reference production parser.yy:2317-2345)
# ---------------------------------------------------------------------------

def pvals(df, with_prop=False):
    """Render the single PATH column to the reference's textual form."""
    from nebula_spark.functions.graphfns import format_path
    col = df.columns[0]
    return sorted(r.p for r in df.select(
        format_path(F.col(col), with_prop=with_prop).alias("p")).collect())


def test_fsp_yield_zero_step(nba_space):
    """ShortestPath.feature:9 "Shortest Path zero step" — UPTO 0 STEPS
    returns no paths, single- and multi-target, OVER named and *."""
    for q in (
        'FIND SHORTEST PATH FROM "Tim Duncan" , "Yao Ming" TO "Tony Parker"'
        ' OVER like UPTO 0 STEPS YIELD path as p',
        'FIND SHORTEST PATH FROM "Tim Duncan", "Yao Ming" TO "Tony Parker",'
        ' "Spurs" OVER * UPTO 0 STEPS YIELD path as p',
        'FIND SINGLE SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
        'OVER * UPTO 0 STEPS YIELD path as p',
    ):
        assert execute(nba_space, q).count() == 0


def test_fsp_yield_single_pair(nba_space):
    """ShortestPath.feature:28 [1] — one-hop pair; unknown vids on either
    side change nothing; an unknown edge type is a SemanticError."""
    want = ['<("Tim Duncan")-[:like]->("Tony Parker")>']
    for q in (
        'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" OVER like '
        'YIELD path as p',
        'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker", "noexist" '
        'OVER like YIELD path as p',
        'FIND SHORTEST PATH FROM "Tim Duncan", "noexist" TO "Tony Parker" '
        'OVER like YIELD path as p',
    ):
        assert pvals(execute(nba_space, q)) == want
    with pytest.raises(ValueError, match="noexistedge not found in space"):
        execute(nba_space,
                'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
                'OVER noexistedge,like YIELD path as p')


def test_fsp_yield_hops_and_multi_edge(nba_space):
    """ShortestPath.feature:64-101 [2]-[5] — two- and three-hop chains;
    a like,teammate OVER picks the teammate shortcut; OVER * matches."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO '
                 '"LaMarcus Aldridge" OVER like YIELD path as p')
    assert pvals(df) == ['<("Tim Duncan")-[:like]->("Tony Parker")'
                         '-[:like]->("LaMarcus Aldridge")>']
    for over in ("like, teammate", "*"):
        df = execute(nba_space,
                     'FIND SHORTEST PATH FROM "Tiago Splitter" TO '
                     f'"LaMarcus Aldridge" OVER {over} YIELD path as p')
        assert pvals(df) == ['<("Tiago Splitter")-[:like]->("Tim Duncan")'
                             '-[:teammate]->("LaMarcus Aldridge")>']


def test_fsp_yield_upto_limit(nba_space):
    """ShortestPath.feature:103 [6] — UPTO 1 STEP drops the 2-hop pair,
    keeps the direct one."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tiago Splitter" TO "Tony Parker" '
                 'OVER * UPTO 1 STEPS YIELD path as p')
    assert df.count() == 0
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tiago Splitter" TO "Tim Duncan" '
                 'OVER * UPTO 1 STEPS YIELD path as p')
    assert pvals(df) == ['<("Tiago Splitter")-[:like]->("Tim Duncan")>']


def test_fsp_yield_multipair(nba_space):
    """ShortestPath.feature:114-137 MultiPair [1]/[2] — per-pair minima
    with all tied paths as separate rows."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker",'
                 '"Spurs" OVER like,serve UPTO 3 STEPS YIELD path as p')
    assert pvals(df) == ['<("Tim Duncan")-[:like]->("Tony Parker")>',
                         '<("Tim Duncan")-[:serve]->("Spurs")>']
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker",'
                 '"Spurs" OVER * UPTO 5 STEPS YIELD path as p')
    assert pvals(df) == ['<("Tim Duncan")-[:like]->("Tony Parker")>',
                         '<("Tim Duncan")-[:serve]->("Spurs")>',
                         '<("Tim Duncan")-[:teammate]->("Tony Parker")>']


def test_fsp_yield_rank_rendering(nba_space):
    """ShortestPath.feature:178 MultiPair [5] — the rank-1 parallel serve
    edge is a distinct tied path and renders its @1."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Marco Belinelli", "Yao Ming" TO '
                 '"Spurs", "Lakers" OVER * UPTO 3 STEPS YIELD path as p')
    assert pvals(df) == [
        '<("Marco Belinelli")-[:like]->("Danny Green")-[:like]->'
        '("LeBron James")-[:serve]->("Lakers")>',
        '<("Marco Belinelli")-[:serve@1]->("Spurs")>',
        '<("Marco Belinelli")-[:serve]->("Spurs")>',
        '<("Yao Ming")-[:like]->("Shaquille O\'Neal")-[:serve]->("Lakers")>',
        '<("Yao Ming")-[:like]->("Tracy McGrady")-[:serve]->("Spurs")>',
    ]


def test_fsp_yield_deep_pair(nba_space):
    """ShortestPath.feature:136 MultiPair [3] — the Tony Parker → Lakers
    4-hop pair resolves with both tied paths while 1-hop pairs coexist."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tony Parker", "Yao Ming" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * UPTO 5 STEPS '
                 'YIELD path as p')
    got = pvals(df)
    assert len(got) == 9
    assert ('<("Tony Parker")-[:like]->("Tim Duncan")-[:teammate]->'
            '("Danny Green")-[:like]->("LeBron James")-[:serve]->'
            '("Lakers")>') in got
    assert ('<("Tony Parker")-[:teammate]->("Tim Duncan")-[:teammate]->'
            '("Danny Green")-[:like]->("LeBron James")-[:serve]->'
            '("Lakers")>') in got


def test_fsp_yield_reversely(nba_space):
    """ShortestPath.feature:441-481 REVERSELY [2]/[5] — reverse-traversed
    steps render <-[:type]-."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
                 'OVER like REVERSELY YIELD path as p')
    assert pvals(df) == ['<("Tim Duncan")<-[:like]-("Tony Parker")>']
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tony Parker", "Yao Ming" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * REVERSELY '
                 'YIELD path as p')
    assert pvals(df) == ['<("Tony Parker")<-[:teammate]-("Manu Ginobili")>']


def test_fsp_yield_bidirect(nba_space):
    """ShortestPath.feature:505 BIDIRECT [2] — all tied 1/2-hop paths,
    both orientations of parallel edges."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tony Parker", "Yao Ming" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * BIDIRECT '
                 'UPTO 2 STEPS YIELD path as p')
    assert pvals(df) == [
        '<("Tony Parker")-[:like]->("Manu Ginobili")>',
        '<("Tony Parker")-[:serve]->("Spurs")>',
        '<("Tony Parker")-[:teammate]->("Manu Ginobili")>',
        '<("Tony Parker")<-[:teammate]-("Manu Ginobili")>',
        '<("Yao Ming")-[:like]->("Shaquille O\'Neal")-[:serve]->("Lakers")>',
        '<("Yao Ming")-[:like]->("Tracy McGrady")-[:serve]->("Spurs")>',
    ]


def test_fsp_yield_with_loop(nba_space):
    """ShortestPath.feature:681 "Shortest Path With Loop" — src == dst
    runs the cycle search: both 2-cycles, each in both orientations."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tim Duncan" '
                 'OVER like BIDIRECT YIELD path as p')
    assert pvals(df) == [
        '<("Tim Duncan")-[:like]->("Manu Ginobili")-[:like]->'
        '("Tim Duncan")>',
        '<("Tim Duncan")-[:like]->("Tony Parker")-[:like]->("Tim Duncan")>',
        '<("Tim Duncan")<-[:like]-("Manu Ginobili")<-[:like]-'
        '("Tim Duncan")>',
        '<("Tim Duncan")<-[:like]-("Tony Parker")<-[:like]-("Tim Duncan")>',
    ]
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tim Duncan", '
                 '"Tony Parker" OVER like BIDIRECT YIELD path as p')
    assert len(pvals(df)) == 6


def test_fsp_with_prop(nba_space):
    """ShortestPath.feature:566 "Shortest Path With PROP" — vertices carry
    sorted tag prop maps, edges carry @rank {props}; character-exact vs
    the reference's rendering."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH WITH PROP FROM "Tim Duncan" TO '
                 '"LaMarcus Aldridge" OVER like YIELD path as p')
    assert pvals(df, with_prop=True) == [
        '<("Tim Duncan" :bachelor{name: "Tim Duncan", speciality: '
        '"psychology"} :player{age: 42, name: "Tim Duncan"})'
        '-[:like@0 {likeness: 95}]->'
        '("Tony Parker" :player{age: 36, name: "Tony Parker"})'
        '-[:like@0 {likeness: 90}]->'
        '("LaMarcus Aldridge" :player{age: 33, name: "LaMarcus Aldridge"})>']
    df = execute(nba_space,
                 'FIND SHORTEST PATH WITH PROP FROM "Tony Parker", '
                 '"Yao Ming" TO "Manu Ginobili", "Spurs", "Lakers" OVER * '
                 'REVERSELY YIELD path as p')
    assert pvals(df, with_prop=True) == [
        '<("Tony Parker" :player{age: 36, name: "Tony Parker"})'
        '<-[:teammate@0 {end_year: 2016, start_year: 2002}]-'
        '("Manu Ginobili" :player{age: 41, name: "Manu Ginobili"})>']


def test_fsp_where_filter(nba_space):
    """ShortestPath.feature:593 "Shortest Path With Filter" — the WHERE
    clause is an edge filter; a prop read through another type's label is
    EMPTY (is [not] EMPTY guards)."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH WITH PROP FROM "Tony Parker", '
                 '"Yao Ming" TO "Manu Ginobili", "Spurs", "Lakers" OVER * '
                 'BIDIRECT WHERE like.likeness == 90 OR like.likeness is '
                 'empty UPTO 2 STEPS YIELD path as p')
    got = pvals(df)
    assert len(got) == 5
    assert '<("Tony Parker")-[:like]->("Manu Ginobili")>' not in got
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tony Parker", "Yao Ming" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * REVERSELY '
                 'WHERE like.likeness > 70 YIELD path as p')
    assert pvals(df) == [
        '<("Tony Parker")<-[:like]-("Tim Duncan")<-[:like]-'
        '("Manu Ginobili")>']
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Tony Parker", "Yao Ming" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * BIDIRECT WHERE '
                 'teammate.start_year is not EMPTY OR like.likeness > 90 '
                 'UPTO 3 STEPS YIELD path as p')
    assert pvals(df) == [
        '<("Tony Parker")-[:like]->("Manu Ginobili")>',
        '<("Tony Parker")-[:teammate]->("Manu Ginobili")>',
        '<("Tony Parker")<-[:teammate]-("Manu Ginobili")>',
    ]
    with pytest.raises(ValueError, match="in where sentence"):
        execute(nba_space,
                'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
                'OVER like WHERE $$.player.age > 30 YIELD path as p')


def test_fsp_var_seeded_with_filter(nba_space):
    """ShortestPath.feature:613 — $var-seeded FROM plus a serve.start_year
    is EMPTY filter (like-only traversal survives)."""
    df = execute(nba_space,
                 '$a = GO FROM "Yao Ming" over like YIELD dst(edge) AS src;'
                 'FIND SHORTEST PATH FROM $a.src TO "Tony Parker" OVER '
                 'like, serve WHERE serve.start_year is EMPTY UPTO 5 STEPS '
                 'YIELD path as p')
    assert pvals(df) == [
        '<("Shaquille O\'Neal")-[:like]->("Tim Duncan")-[:like]->'
        '("Tony Parker")>',
        '<("Tracy McGrady")-[:like]->("Rudy Gay")-[:like]->'
        '("LaMarcus Aldridge")-[:like]->("Tony Parker")>',
    ]


def test_fsp_yield_piped_path_fns(nba_space):
    """ShortestPath.feature:632 "Shortest Path YIELD path" +
    singleShortestPath.feature:45 — piped length($-.p), startnode/endnode
    over the PATH struct."""
    df = execute(nba_space,
                 'FIND SHORTEST PATH FROM "Shaquille O\'Neal", "Nobody" TO '
                 '"Manu Ginobili", "Spurs", "Lakers" OVER * UPTO 5 STEPS '
                 'YIELD path as p | YIELD length($-.p) as length')
    assert sorted(r.length for r in df.collect()) == [1, 2, 2, 2]
    df = execute(nba_space,
                 'FIND SINGLE SHORTEST PATH FROM "Tim Duncan" TO '
                 '"Tony Parker" OVER * BIDIRECT YIELD path as p '
                 '| YIELD startnode($-.p) AS s, endnode($-.p) AS e')
    assert rows(df, "s", "e") == [("Tim Duncan", "Tony Parker")]


def test_single_shortest_one_per_pair(nba_space):
    """singleShortestPath.feature:34 [1] — SINGLE keeps one deterministic
    representative where SHORTEST keeps all four tied paths."""
    q = ('FIND {} SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
         'OVER * BIDIRECT YIELD path as p')
    assert execute(nba_space, q.format("")).count() == 4
    assert execute(nba_space, q.format("SINGLE")).count() == 1


def test_fap_yield_one_to_one(nba_space):
    """AllPath.feature:30 "ALL Path one TO one" — src == dst enumeration:
    all ten 2-hop closed walks, typed and edge-unique."""
    df = execute(nba_space,
                 'FIND ALL PATH FROM "Tim Duncan" TO "Tim Duncan" OVER * '
                 'UPTO 2 STEPS YIELD path as p')
    got = pvals(df)
    assert len(got) == 10
    assert ('<("Tim Duncan")-[:teammate]->("Danny Green")-[:like]->'
            '("Tim Duncan")>') in got
    assert ('<("Tim Duncan")-[:like]->("Manu Ginobili")-[:teammate]->'
            '("Tim Duncan")>') in got
    # zero step: no paths even for src == dst (AllPath.feature:9)
    assert execute(
        nba_space, 'FIND ALL PATH FROM "Tim Duncan" TO "Tim Duncan" OVER * '
                   'UPTO 0 STEPS YIELD path as p').count() == 0


def test_fap_yield_edge_unique(nba_space):
    """AllPath.feature:46 — ALL PATH repeats vertices but never edges;
    NOLOOP additionally forbids repeated vertices (NoLoop.feature:18)."""
    df = execute(nba_space,
                 'FIND ALL PATH FROM "Tim Duncan" TO "Tony Parker" OVER '
                 'like UPTO 3 STEPS YIELD path as p')
    assert pvals(df) == [
        '<("Tim Duncan")-[:like]->("Manu Ginobili")-[:like]->("Tim Duncan")'
        '-[:like]->("Tony Parker")>',
        '<("Tim Duncan")-[:like]->("Tony Parker")-[:like]->'
        '("LaMarcus Aldridge")-[:like]->("Tony Parker")>',
        '<("Tim Duncan")-[:like]->("Tony Parker")>',
    ]
    df = execute(nba_space,
                 'FIND NOLOOP PATH FROM "Tim Duncan" TO "Tony Parker", '
                 '"Manu Ginobili" OVER like UPTO 3 STEPS YIELD path as p')
    assert pvals(df) == [
        '<("Tim Duncan")-[:like]->("Manu Ginobili")>',
        '<("Tim Duncan")-[:like]->("Tony Parker")-[:like]->'
        '("Manu Ginobili")>',
        '<("Tim Duncan")-[:like]->("Tony Parker")>',
    ]


def test_find_path_yield_validation(nba_space):
    """FindPathValidator::validateYield — only `YIELD path [AS x]` is
    legal; anything else is the reference's SemanticError."""
    with pytest.raises(ValueError, match="only support yield path"):
        execute(nba_space,
                'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
                'OVER like YIELD dst(edge) as p')
    with pytest.raises(ValueError, match="Only support yield path"):
        execute(nba_space,
                'FIND SHORTEST PATH FROM "Tim Duncan" TO "Tony Parker" '
                'OVER like YIELD path as p, path as q')


def test_nullprop_relationships_prop(nba_space):
    """bugfix/NullProp.feature — relationships(p)[0].likeness resolves:
    path structs carry the pattern's edge props (inlined from the hop
    join for single-hop segments; Path.h:15 Step props)."""
    df = execute(nba_space,
                 'match p = (v)-[e:like]->() '
                 'where id(v) in ["Tim Duncan"] '
                 'with relationships(p) as tt, e '
                 'return tt[0].likeness AS l')
    assert [r.l for r in df.collect()] == [95, 95]


def test_varlen_path_relationship_props(nba_space):
    """Var-len named-path prop access: traverse carries the segment's
    edge props into the path structs (opt-in prop_cols), so each step's
    likeness reads through relationships(p)."""
    df = execute(nba_space,
                 'MATCH p = (v:player{name:"Tim Duncan"})-[e:like*2]->(m) '
                 'WHERE m.player.name == "LaMarcus Aldridge" '
                 'RETURN relationships(p)[0].likeness AS l0, '
                 'relationships(p)[1].likeness AS l1')
    assert rows(df, "l0", "l1") == [(95, 90)]


def test_go_runtime_input_validation(nba_space):
    """GO FROM $-/$var error parity (r5 ADVICE): missing pipe, missing
    prop, and duplicate column surface the reference's SemanticError
    phrasing, not raw Spark analysis errors."""
    with pytest.raises(ValueError, match=r"no piped input"):
        execute(nba_space, 'GO FROM $- OVER like YIELD dst(edge) AS d')
    with pytest.raises(ValueError, match=r"`\$-\.x', not exist prop `x'"):
        execute(nba_space, 'GO FROM $-.x OVER like YIELD dst(edge) AS d')
    with pytest.raises(ValueError, match=r"not exist prop `nope'"):
        execute(nba_space,
                'GO FROM "Tim Duncan" OVER like YIELD dst(edge) AS d '
                '| GO FROM $-.nope OVER like YIELD dst(edge) AS d2')
    with pytest.raises(ValueError, match=r"Duplicate Column Name : `d'"):
        execute(nba_space,
                'GO FROM "Tim Duncan" OVER like '
                'YIELD dst(edge) AS d, src(edge) AS d '
                '| GO FROM $-.d OVER like YIELD dst(edge) AS d2')
    with pytest.raises(ValueError,
                       match=r"`\$a\.v', not exist variable `a'"):
        execute(nba_space, 'GO FROM $a.v OVER like YIELD dst(edge) AS d')


def test_properties_edge_multi_type_map(nba_space):
    """properties(edge) over a multi-type OVER returns the reference's
    per-row MAP of only that edge's own props (the r5 struct deviation is
    retired — r5 verdict item 3): like rows carry exactly {likeness},
    serve rows exactly {start_year, end_year}."""
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like, serve '
                 'YIELD type(edge) AS t, properties(edge) AS p')
    got = {(r.t, tuple(sorted(r.p.keys()))) for r in df.collect()}
    assert got == {("like", ("likeness",)),
                   ("serve", ("end_year", "start_year"))}


# LDBC BI tranche 3 (r5): BI8/11/13/15/16/19/20 shapes from
# tests/tck/ldbc/business_intelligence_workload/Read.feature, ported onto
# the nba fixture with independently recomputed expected rows (plain
# DataFrame joins / traverse calls, no front end).


def test_ldbc_bi8_related_topics(nba_space):
    """BI8 shape (Read.feature:216): comma patterns + WITH carrying the
    anchor + a NOT-pattern predicate delayed to the next clause's WHERE
    (the rewritten form the reference itself tests) + count(DISTINCT)."""
    df = execute(nba_space, '''
        MATCH (t:player {name: "Tim Duncan"})<-[:like]-(liker:player),
              (liker)<-[:like]-(fan:player)-[:serve]->(team:team)
        WITH team, fan, t
        WHERE NOT (fan)-[:like]->(t)
        RETURN team.team.name AS teamName, count(DISTINCT fan) AS cnt
        ORDER BY cnt DESC, teamName ASC
        LIMIT 100
    ''')
    assert rows(df, "teamName", "cnt") == [
        ('Spurs', 2), ('Grizzlies', 1), ('Kings', 1), ('Raptors', 1),
        ('Rockets', 1), ('Trail Blazers', 1)]


def test_ldbc_bi11_unrelated_replies(nba_space):
    """BI11 shape (Read.feature:331): WITH list-literal blacklist + a
    size([w IN list WHERE … | w]) == 0 comprehension filter + OPTIONAL
    MATCH path binding filtered to p IS NULL + a second OPTIONAL MATCH +
    two count(DISTINCT) over different bindings."""
    df = execute(nba_space, '''
        WITH ["Tim", "Tony"] AS blacklist
        MATCH (team:team)<-[:serve]-(person:player)<-[:like]-(liker:player)
        WHERE id(team) == "Spurs" AND
              size([w IN blacklist
                    WHERE liker.player.name CONTAINS w | w]) == 0
        OPTIONAL MATCH p = (person)-[:teammate]->(liker)
        WITH person.player.name AS personName, liker, p
        WHERE p IS NULL
        OPTIONAL MATCH (:player)-[lk:like]->(liker)
        RETURN personName, liker.player.name AS likerName,
               count(DISTINCT lk) AS countLikes,
               count(DISTINCT liker) AS countLikers
        ORDER BY countLikes DESC, personName ASC, likerName ASC
        LIMIT 8
    ''')
    assert rows(df, "personName", "likerName", "countLikes",
                "countLikers") == [
        ('Rudy Gay', 'Tracy McGrady', 3, 1),
        ('Danny Green', 'Marco Belinelli', 2, 1),
        ('Marco Belinelli', 'Danny Green', 2, 1),
        ('Tim Duncan', 'Marco Belinelli', 2, 1),
        ('Tony Parker', 'Marco Belinelli', 2, 1),
        ('LaMarcus Aldridge', 'Rudy Gay', 1, 1),
        ('Paul Gasol', 'Marc Gasol', 1, 1),
        ('Tim Duncan', "Shaquille O'Neal", 1, 1)]


def test_ldbc_bi13_popular_per_bucket(nba_space):
    """BI13 shape (Read.feature:382): integer div/mod bucketing +
    WITH-aggregate + ORDER BY feeding an order-preserving collect + a
    NULL-dropping list comprehension + slice [0..3]. Serve-stint
    multiplicity doubles Marco Belinelli's idol rows — row-per-edge
    semantics surface in the popularity counts."""
    df = execute(nba_space, '''
        MATCH (team:team {name: "Spurs"})<-[:serve]-(person:player)
        OPTIONAL MATCH (person)-[:like]->(idol:player)
        WITH toInteger(person.player.age/10) AS decade,
             person.player.age % 10 AS yr, person, idol
        WITH decade, yr, count(person) AS popularity,
             idol, idol.player.name AS idolName
        ORDER BY popularity DESC, idolName ASC
        WITH decade, yr, collect(idolName) AS pops
        WITH decade, yr, [x IN pops WHERE x IS NOT NULL] AS pops
        RETURN decade, yr, pops[0..3] AS top
        ORDER BY decade DESC, yr ASC
        LIMIT 100
    ''')
    got = [(r.decade, r.yr, list(r.top)) for r in df.collect()]
    assert got == [
        (4, 1, ['Tim Duncan']),
        (4, 2, ['Manu Ginobili', 'Tony Parker']),
        (3, 1, ['LeBron James', 'Marco Belinelli', 'Tim Duncan']),
        (3, 2, ['Tim Duncan', 'Danny Green', 'Tony Parker']),
        (3, 3, ['Tim Duncan', 'Tony Parker']),
        (3, 4, ['Manu Ginobili', 'Tim Duncan']),
        (3, 6, ['Tim Duncan', 'LaMarcus Aldridge', 'Manu Ginobili']),
        (3, 8, ['Kobe Bryant', 'Marc Gasol']),
        (3, 9, ['Grant Hill', 'Kobe Bryant', 'Rudy Gay']),
        (2, 5, []),
        (2, 7, []),
        (2, 9, ['Chris Paul', 'Danny Green', 'James Harden'])]


def test_ldbc_bi15_social_normals(nba_space):
    """BI15 shape (Read.feature:439): OPTIONAL comma-pattern fan count →
    avg → floor, then the scalar carried by WITH across a re-entry MATCH
    and compared against a fresh per-person count (the two-phase
    social-normal query). Stint multiplicity counts per serve edge."""
    df = execute(nba_space, '''
        MATCH (t:team) WHERE id(t) == "Spurs"
        MATCH (t)<-[:serve]-(p1:player)
        OPTIONAL MATCH (t)<-[:serve]-(f1:player), (f1)-[:like]->(p1)
        WITH t, p1, count(f1) AS c1
        WITH t, avg(c1) AS socialNormalFloat
        WITH t, floor(socialNormalFloat) AS socialNormal
        MATCH (t)<-[:serve]-(p2:player)
        OPTIONAL MATCH (t)<-[:serve]-(f2:player), (f2)-[:like]->(p2)
        WITH p2, count(f2) AS c2, socialNormal
        WHERE c2 == socialNormal
        RETURN p2.player.name AS name, c2 AS cnt
        ORDER BY name ASC
        LIMIT 100
    ''')
    assert rows(df, "name", "cnt") == [('Kyle Anderson', 1),
                                       ('Rudy Gay', 1)]


def test_ldbc_bi16_experts_in_circle(nba_space):
    """BI16 shape (Read.feature:469): undirected var-len *2..3 circle +
    WITH DISTINCT re-entry + comma patterns + a further chained MATCH +
    count(DISTINCT) with three-key ordering."""
    df = execute(nba_space, '''
        MATCH (n:player)-[:like*2..3]-(person:player)
        WHERE id(n) == "Yao Ming"
        WITH DISTINCT person
        MATCH (person)-[:serve]->(:team {name: "Spurs"}),
              (person)<-[:like]-(fan:player)
        MATCH (fan)-[:like]->(other:player)
        RETURN person.player.name AS personName,
               other.player.name AS otherName,
               count(DISTINCT fan) AS fanCount
        ORDER BY fanCount DESC, otherName ASC, personName ASC
        LIMIT 10
    ''')
    assert rows(df, "personName", "otherName", "fanCount") == [
        ('Tim Duncan', 'Tim Duncan', 10),
        ('Tony Parker', 'Tony Parker', 5),
        ('Manu Ginobili', 'Manu Ginobili', 4),
        ('Tony Parker', 'Tim Duncan', 4),
        ('Tim Duncan', 'Tony Parker', 4),
        ('LaMarcus Aldridge', 'LaMarcus Aldridge', 3),
        ('Tim Duncan', 'Manu Ginobili', 3),
        ('Manu Ginobili', 'Tim Duncan', 3),
        ('Tracy McGrady', 'Tracy McGrady', 3),
        ('Danny Green', 'Danny Green', 2)]


def test_ldbc_bi19_strangers_interaction(nba_space):
    """BI19 shape (Read.feature:534): two WITH DISTINCT narrowing stages
    over different anchors + directed var-len interaction + alias
    inequality (person <> stranger) + NOT undirected pattern + mixed
    count(DISTINCT)/count(*) — interactionCount keeps walk
    multiplicity."""
    df = execute(nba_space, '''
        MATCH (t1:team {name: "Spurs"})<-[:serve]-(stranger:player)
        WITH DISTINCT stranger
        MATCH (t2:team {name: "Hornets"})<-[:serve]-(stranger)
        WITH DISTINCT stranger
        MATCH (person:player)-[:like*1..2]->(stranger)
        WHERE person.player.age > 30 AND person != stranger
          AND NOT (person)-[:teammate]-(stranger)
        RETURN person.player.name AS personName,
               count(DISTINCT stranger) AS strangersCount,
               count(*) AS interactionCount
        ORDER BY interactionCount DESC, personName ASC
        LIMIT 100
    ''')
    assert rows(df, "personName", "strangersCount", "interactionCount") == [
        ('Danny Green', 2, 3), ('Boris Diaw', 1, 2),
        ('Marco Belinelli', 1, 2), ('Aron Baynes', 1, 1),
        ('Rudy Gay', 1, 1), ("Shaquille O'Neal", 1, 1),
        ('Tiago Splitter', 1, 1)]


def test_ldbc_bi20_high_level_topics(nba_space):
    """BI20 shape (Read.feature:565): zero-length var-len hierarchy climb
    (*0..2) + IN-list anchor + count(DISTINCT) — the *0 rows make the
    anchor itself a topic (Yao Ming drops out only because nobody likes
    him or his — nonexistent — teammates)."""
    df = execute(nba_space, '''
        MATCH (boss:player)<-[:teammate*0..2]-(mid:player)
              <-[:like]-(fan:player)
        WHERE id(boss) IN ["Tim Duncan", "Yao Ming"]
        RETURN boss.player.name AS bossName,
               count(DISTINCT fan) AS fanCount
        ORDER BY fanCount DESC, bossName ASC
        LIMIT 100
    ''')
    assert rows(df, "bossName", "fanCount") == [('Tim Duncan', 11)]


def test_fap_yield_lookup_seeded_limits(nba_space):
    """AllPath.feature:255 — $var FROM/TO seeded by LOOKUPs, PATH rows
    through offset LIMIT into a count pipe. 281 total BIDIRECT ≤2-hop
    walks from the >30 to the <=30 age cohort (independently recomputed
    via one-sided enumeration)."""
    script = ('$start = LOOKUP ON player WHERE player.age > 30 '
              'YIELD id(vertex) AS id;'
              '$end = LOOKUP ON player WHERE player.age <= 30 '
              'YIELD id(vertex) AS id;'
              'FIND ALL PATH FROM $start.id TO $end.id OVER * BIDIRECT '
              'UPTO 2 STEPS YIELD path AS p {}| YIELD count(*) AS cnt')
    for limit, want in (("", 281), ("| LIMIT 0, 174 ", 174),
                        ("| LIMIT 200, 174 ", 81), ("| LIMIT 300, 10 ", 0)):
        df = execute(nba_space, script.format(limit))
        assert [r.cnt for r in df.collect()] == [want], limit


def test_fap_yield_go_pipe_seeds(nba_space):
    """AllPath.IntVid.feature:131 (string-vid form) — a LOOKUP|GO pipe
    feeds FIND NOLOOP PATH's FROM and TO from two piped columns; offset
    LIMIT over the 88 one-hop paths (independently recomputed)."""
    q = ('lookup on player where player.age > 20 YIELD id(vertex) as vid '
         '| go 1 step from $-.vid over * where "player" in labels($$) '
         'yield distinct id($$) as dst, $-.vid as src '
         '| find noloop path from $-.src to $-.dst over * upto 1 step '
         'yield path as p | limit {} | yield count(*) AS cnt')
    assert [r.cnt for r in execute(nba_space, q.format("10, 10")).collect()] \
        == [10]
    assert [r.cnt for r in execute(nba_space, q.format("80, 20")).collect()] \
        == [8]


def test_fap_yield_order_by_path_struct(nba_space):
    """AllPath.IntVid.feature:103 (string-vid form) — ORDER BY $-.p sorts
    the PATH struct (start, then hop array lexicographically) and LIMIT
    keeps a deterministic prefix; the rows must be the first 3 of the
    full sorted set."""
    base = ('FIND ALL PATH FROM "Tim Duncan" TO "Tony Parker", "Spurs" '
            'OVER like, serve UPTO 3 STEPS YIELD path as p ')
    full = execute(nba_space, base + '| ORDER BY $-.p')
    want = [r.p for r in full.collect()][:3]
    got = execute(nba_space, base + '| ORDER BY $-.p | LIMIT 3')
    assert [r.p for r in got.collect()] == want
    # sanity: the direct one-hop path is in the full set
    from nebula_spark.functions.graphfns import format_path
    rendered = {r.s for r in full.select(
        format_path(F.col("p")).alias("s")).collect()}
    assert '<("Tim Duncan")-[:like]->("Tony Parker")>' in rendered
    assert ('<("Tim Duncan")-[:like]->("Tony Parker")-[:like]->'
            '("LaMarcus Aldridge")-[:serve]->("Spurs")>') in rendered


def test_match_undeclared_tag_filter(nba_space):
    """bugfix/MatchNotFilterTheUndeclaredTag.feature — a tag on the far
    end filters membership without demanding the near end declare it; the
    undirected team scan returns every server exactly once per stint."""
    df = execute(nba_space,
                 'MATCH (v:player{name:"Tim Duncan"})-->(v2:team) '
                 'RETURN id(v2) AS t')
    assert rows(df, "t") == [("Spurs",)]
    df = execute(nba_space,
                 'MATCH (v:team{name:"Spurs"})--(v2) RETURN id(v2) AS p')
    got = sorted(r.p for r in df.collect())
    assert len(got) == 18                   # 16 players + Marco's 2 stints
    assert got.count("Marco Belinelli") == 2
    assert "Tim Duncan" in got and "Tracy McGrady" in got


def test_match_redefined_comma_pattern_aliases(nba_space):
    """match/Path.feature "distinct edges and paths" — an edge or path
    alias re-declared in a later comma pattern is the Redefined-alias
    SemanticError (edges report before the path alias); fresh aliases
    with repeated node aliases are legal same-vertex constraints."""
    with pytest.raises(ValueError, match=r"`e': Redefined alias"):
        execute(nba_space,
                'MATCH p = (v:player)-[e:like]-(v1:player), '
                'p = (v)-[e:like]-(v1) RETURN *')
    with pytest.raises(ValueError, match=r"`e1': Redefined alias"):
        execute(nba_space,
                'MATCH p = (v:player)-[e:like]-(v1:player)-[e1:serve]-(t), '
                'p = (v)-[e2:like]-(v1)-[e1:serve]-(t) RETURN *')
    with pytest.raises(ValueError, match=r"`p': Redefined alias"):
        execute(nba_space,
                'MATCH p = (v:player)-[e:like]-(v1:player), '
                'p = (v)-[e2:like]-(v1) RETURN *')
    df = execute(nba_space,
                 'MATCH p = (v:player{name:"Tim Duncan"})-[e:like]->(v1), '
                 'p2 = (v)<-[e2:like]-(v1) RETURN count(*) AS n')
    assert [r.n for r in df.collect()] == [2]   # Tony and Manu like back


def test_match_start_from_middle_node(nba_space):
    """match/StartFromAnyNode.feature — the anchor sits mid-pattern
    (prop-inline and WHERE forms agree): 4 neighbors of Kyle Anderson in
    ordered (n, l) pairs, n ≠ l by relationship uniqueness... the
    reference's 12 rows."""
    for q in (
        'MATCH (n)-[]-(m:player{name:"Kyle Anderson"})-[]-(l) '
        'RETURN id(n) AS n, id(l) AS l',
        'MATCH (n)-[]-(m:player)-[]-(l) '
        'WHERE m.player.name=="Kyle Anderson" '
        'RETURN id(n) AS n, id(l) AS l',
    ):
        got = sorted(rows(execute(nba_space, q), "n", "l"))
        nbrs = ["Dejounte Murray", "Grizzlies", "Spurs", "Tony Parker"]
        want = sorted((a, b) for a in nbrs for b in nbrs if a != b)
        assert got == want


def test_variable_direct_output_prohibited(nba_space):
    """bugfix/VariableExpression.feature — a bare `$var` (even
    subscripted) is refused at parse time with the reference's
    phrasing; only `$var.prop` reads are legal."""
    with pytest.raises(SyntaxError,
                       match=r"Direct output of variable is prohibited"):
        execute(nba_space, '$var = YIELD 1 AS x; YIELD $var')
    with pytest.raises(SyntaxError,
                       match=r"Direct output of variable is prohibited"):
        execute(nba_space,
                '$var = GO FROM "Tim Duncan" OVER like '
                'YIELD dst(edge) AS dst; YIELD $var[0][0]')


def test_null_path_expr_multi_pattern(nba_space):
    """bugfix/CrashWhenNullPathExpr.feature — a third comma pattern
    binding a named path between two earlier comma-pattern anchors; the
    only serve walk Yao→Rockets within *1..4 is the direct hop (any
    longer return to Rockets would reuse a serve edge)."""
    df = execute(nba_space,
                 "MATCH (p:player {name: 'Yao Ming'}), "
                 "(t:team {name: 'Rockets'}), "
                 "pth = (p)-[:serve*1..4]-(t) "
                 "RETURN length(pth) AS n")
    assert [r.n for r in df.collect()] == [1]


def test_null_input_of_length(nba_space):
    """bugfix/NullInputOfLength.feature — length() over a string prop and
    a path in one projection."""
    df = execute(nba_space,
                 "match p = (v)-[:like]->() where id(v) == 'Tim Duncan' "
                 "return length(v.player.name) as l, length(p) as lp")
    assert rows(df, "l", "lp") == [(10, 1), (10, 1)]


def test_build_path_end_anchored_varlen(nba_space):
    """bugfix/BuildPathMistake.feature — an end-anchored `()-[:like*2]->`
    pattern builds paths from the anonymous start: the two feeders of
    Tracy McGrady plus Grant Hill's own 2-cycle (edge-unique, distinct
    edges)."""
    df = execute(nba_space,
                 "MATCH p = ()-[:like*2]->(v:player) "
                 "WHERE id(v) == 'Grant Hill' "
                 "RETURN nodes(p)[0] AS s, length(p) AS n")
    got = sorted(rows(df, "s", "n"))
    assert got == [("Grant Hill", 2), ("Vince Carter", 2),
                   ("Yao Ming", 2)]


def test_shortest_path_relationship_props(nba_space):
    """Prop access over BFS-routed shortestPath structs: the identity-only
    frontier design holds, and props join back LAZILY onto the minimal
    result paths at shaping time (_enrich_min_paths_props; the bidir and
    single-sided routes both covered)."""
    df = execute(nba_space,
                 'MATCH p = allShortestPaths((a:player{name:"Tim Duncan"})'
                 '-[e:like*..3]->(b:player{name:"LaMarcus Aldridge"})) '
                 'RETURN relationships(p)[0].likeness AS l0, '
                 'relationships(p)[1].likeness AS l1')
    assert rows(df, "l0", "l1") == [(95, 90)]
    df = execute(nba_space,
                 'MATCH p = allShortestPaths('
                 '(a:player{name:"Tiago Splitter"})-[e:like*..3]->'
                 '(b:player{name:"LaMarcus Aldridge"})) '
                 'RETURN [x IN relationships(p) | x.likeness] AS ls')
    assert [list(r.ls) for r in df.collect()] == [[80, 95, 90]]


def test_same_tag_propname(spark):
    """match/SameTagPropname.feature — two tags sharing prop names on the
    same vids: `v.player.name` reads the bound tag's column while
    `v.student.name` lazily joins the other tag; full DDL + INSERT +
    MATCH script through the catalog."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, '''
        CREATE SPACE stp;
        USE stp;
        CREATE TAG student(name string, age int, score float);
        CREATE TAG player(name string, age int, height float);
        CREATE EDGE like(likeness int);
        INSERT VERTEX student(name, age, score) VALUES
          "zhang":("s_zhang", 18, 89), "wang": ("s_wang", 22, 82),
          "li":   ("s_li",    20, 91), "zhao": ("s_zhao", 20, 99),
          "qian": ("s_qian",  19, 88), "sun":  ("s_sun",  17, 72);
        INSERT VERTEX player(name, age, height) VALUES
          "zhang":("p_zhang", 18, 189), "wang": ("p_wang", 22, 192),
          "li":   ("p_li",    20, 201), "zhao": ("p_zhao", 20, 187),
          "qian": ("p_qian",  19, 179), "sun":  ("p_sun",  17, 192);
        INSERT EDGE like(likeness) VALUES
          "zhang"->"wang":(98), "zhao"->"li":(99), "li"->"sun":(99),
          "wang"->"zhang":(91), "qian"->"zhang":(20)
    ''')
    df = execute(cat, 'USE stp; match (v:player) where v.player.age > 20 '
                      'return v.player.name AS pn, v.student.name AS sn')
    assert rows(df, "pn", "sn") == [("p_wang", "s_wang")]
    df = execute(cat, 'USE stp; match (v:student) where '
                      'v.student.score > 90 return v.student.name AS sn, '
                      'v.player.height AS h')
    assert sorted(rows(df, "sn", "h")) == [("s_li", 201.0),
                                           ("s_zhao", 187.0)]
    df = execute(cat, 'USE stp; match (v:player)-[e:like]->(d) where '
                      'v.player.age > 19 return e.likeness AS lk, '
                      'v.student.name AS sn, v.player.name AS pn')
    assert sorted(rows(df, "lk", "sn", "pn")) == [
        (91, "s_wang", "p_wang"), (99, "s_li", "p_li"),
        (99, "s_zhao", "p_zhao")]
    execute(cat, "DROP SPACE stp")


def test_extract_filter_type_predicate(nba_space):
    """bugfix/ExtractFilter.feature — a disjunct mixing a constant, a
    NOT is_edge(node) type predicate and a prop test must not be
    mis-extracted into the pattern join."""
    df = execute(nba_space,
                 "MATCH (v:player{name: 'Tim Duncan'})-[:like]->(t) "
                 "WHERE ((1 == 1 AND (NOT is_edge(t))) OR "
                 "(v.player.name == 'Tim Duncan')) "
                 "RETURN v.player.name AS n")
    assert [r.n for r in df.collect()] == ["Tim Duncan", "Tim Duncan"]


def test_bit_functions_and_type_rules(nba_space):
    """expression/function/Mathematical.feature — nested scalar bit ops,
    NULL propagation, and the planning-time type error for non-integer
    literal operands."""
    df = execute(nba_space,
                 "return bit_and(5, bit_xor(4, bit_or(1, 2))) as basic")
    assert [r.basic for r in df.collect()] == [5]
    df = execute(nba_space,
                 "return [bit_and(5, null), bit_or(5, null), "
                 "bit_xor(5, null)] as null_test")
    assert [list(r.null_test) for r in df.collect()] == [[None, None, None]]
    with pytest.raises(ValueError, match="Type error"):
        execute(nba_space, "return bit_and(5, true) AS x")
    with pytest.raises(ValueError, match="Type error"):
        execute(nba_space, "return bit_xor(\"5\", 1) AS x")


def test_type_conversion_rules(nba_space):
    """expression/function/TypeConversion.feature — toBoolean parses
    bool-ish strings case-insensitively (non-bool strings → NULL) and
    refuses numeric literals; toFloat parses numeric strings and refuses
    bool literals; runtime (UNWIND) values convert per-row."""
    df = execute(nba_space,
                 'YIELD [toBoolean(true), toBoolean(false), '
                 'toBoolean("trUe"), toBoolean("3.14"), toBoolean(null)] '
                 'AS bs')
    assert [list(r.bs) for r in df.collect()] == [
        [True, False, True, None, None]]
    with pytest.raises(ValueError, match=r"Type error `toBoolean\(1\)'"):
        execute(nba_space, "YIELD [toBoolean(1), toBoolean(3.14)] AS x")
    df = execute(nba_space,
                 'YIELD [toFloat(1), toFloat(3.14), toFloat("trUe"), '
                 'toFloat("3.14"), toFloat(null)] AS fs')
    assert [list(r.fs) for r in df.collect()] == [
        [1.0, 3.14, None, 3.14, None]]
    with pytest.raises(ValueError, match=r"Type error `toFloat\(true\)'"):
        execute(nba_space, "YIELD [toFloat(true), toFloat(false)] AS x")
    df = execute(nba_space,
                 'UNWIND [1, 3.14, "trUe", "3.14", null] AS b '
                 'RETURN toFloat(b) AS f')
    assert sorted((r.f is None, r.f) for r in df.collect()) == sorted(
        [(False, 1.0), (False, 3.14), (True, None), (False, 3.14),
         (True, None)])


def test_use_space_then_match(nba_space):
    """bugfix/UseSpaceAndMatch.feature — USE then MATCH in one script
    (user/grant machinery is obsolete here); team dsts read player.age
    as NULL."""
    df = execute(nba_space,
                 'USE nba; MATCH (p)-[e]->(v) '
                 'WHERE id(p) == "Tony Parker" RETURN v.player.age AS age')
    got = sorted((r.age is None, r.age) for r in df.collect())
    assert got == sorted([(True, None), (True, None), (False, 25),
                          (False, 33), (False, 41), (False, 42),
                          (False, 33), (False, 41), (False, 42)])


def test_contains_filter_on_far_end(nba_space):
    """bugfix/ContainsFilter.feature — CONTAINS / STARTS WITH / ENDS WITH
    over the far end's tag props, including an undeclared team tag."""
    df = execute(nba_space,
                 'MATCH (n:player{name:"Tim Duncan"})-[e]->(m) '
                 'where m.player.name contains "Tony Parker" '
                 'RETURN type(e) AS t ORDER BY t')
    assert [r.t for r in df.collect()] == ["like", "teammate"]
    df = execute(nba_space,
                 'MATCH (n:player{name:"Tim Duncan"})-[e]->(m) '
                 'where m.team.name ends with "urs" '
                 'RETURN id(m) AS m, type(e) AS t')
    assert rows(df, "m", "t") == [("Spurs", "serve")]


# ---------------------------------------------------------------------------
# LOOKUP conformance sweeps — tests/tck/features/lookup/LookupTag.feature,
# LookupEdge.feature (string-vid Scenario Outlines, full DDL+INSERT scripts)
# ---------------------------------------------------------------------------

# the Examples table, verbatim (30 where-conditions, each selecting '201')
_LOOKUP_TAG_CONDS = [
    "lookup_tag_1.col1 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 200",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 != 200",
    "lookup_tag_1.col1 >= 201 AND lookup_tag_1.col2 == 201",
    "lookup_tag_1.col1 >= 201 AND lookup_tag_1.col1 <= 201",
    "lookup_tag_1.col1 >= 201 AND lookup_tag_1.col2 != 202",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 == 201 AND "
    "lookup_tag_1.col3 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col3 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col3 >= 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col3 != 202",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 != 202 AND "
    "lookup_tag_1.col3 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 != 202 AND "
    "lookup_tag_1.col3 >= 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 != 202 AND "
    "lookup_tag_1.col3 != 202",
    "lookup_tag_1.col1 != 202 AND lookup_tag_1.col2 == 201 AND "
    "lookup_tag_1.col3 == 201",
    "lookup_tag_1.col1 != 202 AND lookup_tag_1.col2 == 201 AND "
    "lookup_tag_1.col3 >= 201",
    "lookup_tag_1.col1 != 202 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col3 >= 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col1 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 >= 201 AND "
    "lookup_tag_1.col1 >= 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 > 200 AND "
    "lookup_tag_1.col1 == 201",
    "lookup_tag_1.col1 == 201 AND lookup_tag_1.col2 > 200 AND "
    "lookup_tag_1.col1 > 200",
    "lookup_tag_1.col1 == 201 OR lookup_tag_1.col2 == 201",
    "lookup_tag_1.col1 == 201 OR lookup_tag_1.col2 >= 203",
    "lookup_tag_1.col1 == 201 OR lookup_tag_1.col3 == 201",
]


def test_lookup_tag_condition_sweep(spark):
    """LookupTag.feature "[tag] different condition and yield test for
    string vid" — the full Examples sweep: every filter shape (==/!=/
    >=/>, AND chains, OR, repeated conjuncts) must select exactly vid
    '201' from {200, 201, 202}, for both the id(vertex) yield and the
    three-prop yield."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE lkt;
        USE lkt;
        CREATE TAG lookup_tag_1(col1 int, col2 int, col3 int);
        CREATE TAG INDEX t_index_1 ON lookup_tag_1(col1, col2, col3);
        CREATE TAG INDEX t_index_3 ON lookup_tag_1(col2, col3);
        INSERT VERTEX lookup_tag_1(col1, col2, col3) VALUES
          '200':(200, 200, 200),
          '201':(201, 201, 201),
          '202':(202, 202, 202)
    """)
    try:
        for cond in _LOOKUP_TAG_CONDS:
            df = execute(cat, "USE lkt; LOOKUP ON lookup_tag_1 WHERE "
                              f"{cond} YIELD id(vertex) as id")
            assert rows(df, "id") == [("201",)], cond
            df = execute(cat, "USE lkt; LOOKUP ON lookup_tag_1 WHERE "
                              f"{cond} YIELD lookup_tag_1.col1, "
                              "lookup_tag_1.col2, lookup_tag_1.col3")
            assert [tuple(r) for r in df.collect()] == [(201, 201, 201)], \
                cond
    finally:
        execute(cat, "DROP SPACE lkt")


def test_lookup_edge_condition_sweep(spark):
    """LookupEdge.feature "[edge] different condition and yield test for
    string vid" — the Examples sweep over the 2-edge space: every
    condition selects exactly '200'->'201'@0."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE lke;
        USE lke;
        CREATE EDGE lookup_edge_1(col1 int, col2 int, col3 int);
        CREATE EDGE INDEX e_index_1 ON lookup_edge_1(col1, col2, col3);
        CREATE EDGE INDEX e_index_3 ON lookup_edge_1(col2, col3);
        INSERT EDGE lookup_edge_1(col1, col2, col3) VALUES
          '200' -> '201'@0:(201, 201, 201),
          '200' -> '202'@0:(202, 202, 202)
    """)
    conds = [c.replace("lookup_tag_1", "lookup_edge_1")
             for c in _LOOKUP_TAG_CONDS]
    try:
        for cond in conds:
            df = execute(cat, "USE lke; LOOKUP ON lookup_edge_1 WHERE "
                              f"{cond} YIELD src(edge) as src, "
                              "dst(edge) as dst, rank(edge) as rank")
            assert [tuple(r) for r in df.collect()] == [("200", "201", 0)], \
                cond
            df = execute(cat, "USE lke; LOOKUP ON lookup_edge_1 WHERE "
                              f"{cond} YIELD lookup_edge_1.col1 AS col1, "
                              "lookup_edge_1.col2 AS col2, "
                              "lookup_edge_1.col3")
            assert [tuple(r) for r in df.collect()] == [(201, 201, 201)], \
                cond
    finally:
        execute(cat, "DROP SPACE lke")


def test_json_extract(nba_space):
    """function/json_extract.feature — the agreeing subset: top-level
    object parse, empty object, invalid JSON → BAD_DATA (NULL), and the
    non-string-argument SemanticError. DEVIATION (documented): values
    arrive as a map<string,string> (Spark maps are monomorphic), so
    numeric/bool/nested values read as their JSON text rather than typed
    values, and the reference's depth-2 truncation / list omission do
    not apply."""
    df = execute(nba_space,
                 "YIELD JSON_EXTRACT('{}') AS result")
    assert df.collect()[0].result == {}
    df = execute(nba_space,
                 "YIELD JSON_EXTRACT('fuzz') AS result")
    assert df.collect()[0].result is None
    df = execute(nba_space,
                 'YIELD JSON_EXTRACT(\'{"a": "foo"}\') AS result')
    assert df.collect()[0].result == {"a": "foo"}
    with pytest.raises(ValueError,
                       match=r"is not a valid expression : "
                             r"Parameter's type error"):
        execute(nba_space, "YIELD JSON_EXTRACT(3.1415926) AS result")


def test_duration_arithmetic(nba_space):
    """expression/TimeComputation.feature — DATE/TIME/DATETIME ±
    duration({years…seconds}): months apply calendar-aware, DATE takes
    only whole days of the seconds component (Duration::days()
    truncates toward zero, Date.cpp:102-146), TIME wraps mod 24 h."""
    import datetime as dt
    M = ("{years: 12, months: 5, days: 14, hours: 16, minutes: 12, "
         "seconds: 70}")
    for q in (f"WITH date('1984-10-11') as x, duration({M}) as d "
              "RETURN x + d AS sum, x - d AS diff",
              f"RETURN date('1984-10-11') + duration({M}) AS sum, "
              f"date('1984-10-11') - duration({M}) AS diff"):
        assert [tuple(r) for r in execute(nba_space, q).collect()] == [
            (dt.date(1997, 3, 25), dt.date(1972, 4, 27))], q
    df = execute(nba_space,
                 f"WITH time('12:31:14') as x, duration({M}) as d "
                 "RETURN x + d AS sum, x - d AS diff")
    [(s, d)] = [tuple(r) for r in df.collect()]
    assert (s.hour, s.minute, s.sec) == (4, 44, 24.0)      # 04:44:24
    assert (d.hour, d.minute, d.sec) == (20, 18, 4.0)      # 20:18:04
    df = execute(nba_space,
                 f"RETURN datetime('1984-10-11T12:31:14') + duration({M})"
                 f" AS sum, datetime('1984-10-11T12:31:14') - "
                 f"duration({M}) AS diff")
    assert [tuple(r) for r in df.collect()] == [
        (dt.datetime(1997, 3, 26, 4, 44, 24),
         dt.datetime(1972, 4, 26, 20, 18, 4))]


def test_duration_comparison(nba_space):
    """expression/TimeComparison.feature — DURATION is unorderable
    (BAD_TYPE → typed null for </<=/>/>=; 1 month vs 30 days has no
    answer) while ==/!= compare the (months, seconds) pair."""
    df = execute(nba_space,
                 "WITH duration({days: 30}) as x, duration({months: 1}) "
                 "as d RETURN x > d AS gt, x < d AS lt, x == d AS eq, "
                 "x != d AS ne, x >= d AS ge, x <= d AS le")
    assert [tuple(r) for r in df.collect()] == [
        (None, None, False, True, None, None)]
    df = execute(nba_space,
                 "WITH duration({days: 30, months: 1}) as x, "
                 "duration({days: 30, months: 1}) as d "
                 "RETURN x == d AS eq, x != d AS ne")
    assert [tuple(r) for r in df.collect()] == [(True, False)]


def test_multi_update(spark):
    """update/MultiUpdate.feature — UPDATE VERTEX/EDGE over a KEY LIST:
    every key read-modify-writes, a failing WHEN keeps that row's old
    values but still YIELDs it."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE mup;
        USE mup;
        CREATE TAG course(name string, credits int);
        CREATE EDGE select(grade int, year int);
        INSERT VERTEX course(name, credits) VALUES
          "101":("Math", 3), "102":("English", 6);
        INSERT EDGE select(grade, year) VALUES
          "200"->"101"@0:(5, 2018), "200"->"102"@0:(3, 2018)
    """)
    try:
        execute(cat, 'USE mup; UPDATE VERTEX ON course "101", "102" '
                     "SET credits = credits + 1")
        execute(cat, 'USE mup; UPDATE VERTEX ON course "101", "102" '
                     "SET credits = credits + 1 "
                     'WHEN name == "Math" AND credits > 2')
        df = execute(cat, 'USE mup; UPDATE VERTEX ON course "101", "102" '
                          "SET credits = credits + 1 "
                          "YIELD name AS Name, credits AS Credits")
        assert sorted(tuple(r) for r in df.collect()) == [
            ("English", 8), ("Math", 6)]
        df = execute(cat, 'USE mup; UPDATE VERTEX ON course "101", "102" '
                          "SET credits = credits + 1 "
                          'WHEN name == "Math" AND credits > 2 '
                          "YIELD name AS Name, credits AS Credits")
        assert sorted(tuple(r) for r in df.collect()) == [
            ("English", 8), ("Math", 7)]
        df = execute(cat, 'USE mup; UPDATE VERTEX ON course "101", "102" '
                          "SET credits = credits + 1 "
                          'WHEN name == "nonexistent" AND credits > 2 '
                          "YIELD name AS Name, credits AS Credits")
        assert sorted(tuple(r) for r in df.collect()) == [
            ("English", 8), ("Math", 7)]
        execute(cat, 'USE mup; UPDATE EDGE ON select '
                     '"200"->"101"@0, "200"->"102"@0 '
                     "SET grade = grade + 1, year = 2000")
        df = execute(cat, 'USE mup; FETCH PROP ON select "200"->"101"@0 '
                          "YIELD select.grade AS g, select.year AS y")
        assert [tuple(r) for r in df.collect()] == [(6, 2000)]
        df = execute(cat, 'USE mup; FETCH PROP ON select "200"->"102"@0 '
                          "YIELD select.grade AS g, select.year AS y")
        assert [tuple(r) for r in df.collect()] == [(4, 2000)]
    finally:
        execute(cat, "DROP SPACE mup")


def test_lookup_pipe_output(nba_space):
    """lookup/Output.feature — LOOKUP piped into FETCH via $-.id /
    renamed columns / $var forms."""
    for q in (
        "LOOKUP ON player WHERE player.age == 40 YIELD id(vertex) as id |"
        " FETCH PROP ON player $-.id YIELD player.name AS name",
        "LOOKUP ON player WHERE player.age == 40 YIELD player.name AS "
        "name | FETCH PROP ON player $-.name YIELD player.name AS name",
        "$a = LOOKUP ON player WHERE player.age == 40 YIELD id(vertex) "
        "as id; FETCH PROP ON player $a.id YIELD player.name AS name",
        "$a = LOOKUP ON player WHERE player.age == 40 YIELD "
        "player.name AS name; FETCH PROP ON player $a.name YIELD "
        "player.name AS name",
    ):
        df = execute(nba_space, q)
        assert sorted(r.name for r in df.collect()) == [
            "Dirk Nowitzki", "Kobe Bryant"], q


def test_fetch_empty_schemas(spark):
    """fetch/FetchEmpty.feature — zero-prop tags/edges round-trip DDL →
    INSERT → FETCH; missing keys drop; FIXED_STRING(N) stores the
    longest whole-codepoint prefix that fits N bytes (a 5-byte column
    keeps exactly one 4-byte emoji / one 3-byte CJK char)."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE fempty; USE fempty;
        CREATE TAG zero_prop_tag_0();
        CREATE TAG zero_prop_tag_1();
        CREATE TAG person(money int);
        CREATE EDGE zero_prop_edge();
        CREATE TAG tag_with_fixed_string(col1 fixed_string(5));
        INSERT VERTEX zero_prop_tag_0() values "1":(), "2":();
        INSERT VERTEX zero_prop_tag_1() values "1":(), "2":();
        INSERT VERTEX person(money) values "1":(78), "3":(88);
        INSERT EDGE zero_prop_edge() values "1"->"2":();
        INSERT VERTEX tag_with_fixed_string(col1) VALUES
          "1": ("\U0001F600\U0001F600"), "2": ("\U0001F602\U0001F602"),
          "3": ("羊羊羊"),
          "4": ("\U0001F40F\U0001F40F\U0001F40F")
    """)
    try:
        df = execute(cat, "USE fempty; FETCH PROP ON * '1' "
                          "YIELD vertex as node")
        [r] = df.collect()
        assert r.node.vid == "1" and r.node.person.money == 78
        assert r.node.zero_prop_tag_0 is not None
        assert r.node.zero_prop_tag_1 is not None
        df = execute(cat, "USE fempty; FETCH PROP ON zero_prop_tag_0 '1' "
                          "YIELD vertex as node")
        assert [r.node.vid for r in df.collect()] == ["1"]
        df = execute(cat, 'USE fempty; FETCH PROP ON zero_prop_edge '
                          '"1"->"2" YIELD edge as e')
        [(e,)] = [tuple(r) for r in df.collect()]
        assert (e.src, e.dst, e["_rank"]) == ("1", "2", 0)
        for missing in ('"1"->"3"', '"101"->"102"'):
            df = execute(cat, "USE fempty; FETCH PROP ON zero_prop_edge "
                              f"{missing} YIELD edge as e")
            assert df.collect() == []
        for vid, want in [("1", "\U0001F600"), ("2", "\U0001F602"),
                          ("3", "羊"), ("4", "\U0001F40F")]:
            df = execute(cat, "USE fempty; FETCH PROP on "
                              f"tag_with_fixed_string \"{vid}\" yield "
                              "tag_with_fixed_string.col1 as col1")
            assert [r.col1 for r in df.collect()] == [want], vid
    finally:
        execute(cat, "DROP SPACE fempty")


# ---------------------------------------------------------------------------
# batch: BoundCheck / StartsWith / EndsWith / NotIn / LabelExpr /
# VidInvalidLength / CreateSpaceAs (FixIterCrash) / SeekById
# ---------------------------------------------------------------------------

def test_hex_octal_int_literals(nba_space):
    """insert/BoundCheck.feature + scanner.lex:412-417 — hex/octal
    integer literals with INT64 bound checks; magnitude 2^63 is legal
    only under unary minus."""
    df = execute(nba_space,
                 "YIELD 0x7fffffffffffffff AS a, 0777 AS b, "
                 "-0x8000000000000000 AS c, "
                 "-01000000000000000000000 AS d, 0x10 + 010 AS e")
    assert [tuple(r) for r in df.collect()] == [
        (2**63 - 1, 511, -2**63, -2**63, 24)]
    for bad in ("0x8000000000000000", "01000000000000000000000",
                "-0x8000000000000001", "9223372036854775808"):
        with pytest.raises(SyntaxError, match=r"Out of range"):
            execute(nba_space, f"YIELD {bad} AS x")


def test_bound_check_insert(spark):
    """insert/BoundCheck.feature — boundary INT64 values insert in all
    three radixes; out-of-range raises at parse."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE bnd (vid_type = FIXED_STRING(20)); "
                 "USE bnd; CREATE TAG test(id int)")
    try:
        for num, hx, oc in [
            ("9223372036854775807", "0x7fffffffffffffff",
             "0777777777777777777777"),
            ("1", "0x1", "01"), ("0", "0x0", "00"),
            ("-1", "-0x1", "-01"),
            ("-9223372036854775808", "-0x8000000000000000",
             "-01000000000000000000000"),
        ]:
            execute(cat, f"USE bnd; INSERT VERTEX test(id) VALUES "
                         f"'100':({num}); INSERT VERTEX test(id) VALUES "
                         f"'100':({hx}); INSERT VERTEX test(id) VALUES "
                         f"'100':({oc})")
        for bad in ("-9223372036854775809", "0x8000000000000000",
                    "01000000000000000000000", "9223372036899999999"):
            with pytest.raises(SyntaxError, match=r"Out of range"):
                execute(cat, "USE bnd; INSERT VERTEX test(id) VALUES "
                             f"'100':({bad})")
    finally:
        execute(cat, "DROP SPACE bnd")


def test_starts_ends_with(nba_space):
    """expression/StartsWith.feature + EndsWith.feature — case-sensitive
    string relations, NOT forms, and the non-string type SemanticError."""
    cases = [
        ("YIELD 'apple' STARTS WITH 'app' AS r", True),
        ("YIELD 'apple' STARTS WITH 'A' AS r", False),
        ("YIELD '123' STARTS WITH '1' AS r", True),
        ("YIELD 'apple' NOT STARTS WITH 'app' AS r", False),
        ("YIELD 'apple' NOT STARTS WITH 'b' AS r", True),
        ("YIELD 'apple' ENDS WITH 'le' AS r", True),
        ("YIELD 'apple' ENDS WITH 'E' AS r", False),
        ("YIELD 'apple' NOT ENDS WITH 'le' AS r", False),
    ]
    for q, want in cases:
        assert [tuple(r) for r in execute(nba_space, q).collect()] == \
            [(want,)], q
    for q in ("YIELD 123 STARTS WITH 1",
              "YIELD 123 ENDS WITH 1",
              "YIELD 'apple' STARTS WITH 1"):
        with pytest.raises(ValueError, match=r"Type error"):
            execute(nba_space, q)


def test_not_in_list_and_set(nba_space):
    """expression/NotIn.feature — NOT IN over lists and {sets},
    including mixed-type element lists (dynamic typing: only same-typed
    elements can match)."""
    cases = [
        ("YIELD 1 NOT IN [1, 2, 3] AS r", False),
        ("YIELD 0 NOT IN [1, 2, 3] AS r", True),
        ("YIELD 'hello' NOT IN ['hello', 'world', 3] AS r", False),
        ("YIELD 1 NOT IN {1, 2, 3} AS r", False),
        ("YIELD 0 NOT IN {1, 2, 3} AS r", True),
        ("YIELD 'hello' NOT IN {'hello', 'world', 3} AS r", False),
    ]
    for q, want in cases:
        assert [tuple(r) for r in execute(nba_space, q).collect()] == \
            [(want,)], q


def test_invalid_label_identifiers(nba_space):
    """expression/LabelExpr.feature — a bare label is never a prop ref
    in YIELD / GO / FETCH yield clauses; the reference's SemanticError
    names the identifier."""
    for q in ("YIELD name",
              "YIELD name + 1",
              'GO FROM "Tim Duncan" OVER like YIELD name',
              "FETCH PROP ON player 'Tim Duncan' YIELD name",
              "FETCH PROP ON player 'Tim Duncan' YIELD name + 1"):
        with pytest.raises(ValueError,
                           match=r"Invalid label identifiers: name"):
            execute(nba_space, q)
    with pytest.raises(ValueError,
                       match=r"Invalid label identifiers: likeness"):
        execute(nba_space, "FETCH PROP ON like "
                           "'Tim Duncan'->'Tony Parker' YIELD likeness")


def test_vid_invalid_length(spark):
    """bugfix/VidInvalidLength.feature — mutations against a
    FIXED_STRING(10) space reject overlength vids with the storage
    phrasing; an exact-length vid is legal."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE vlen (vid_type = FIXED_STRING(10)); "
                 "USE vlen; CREATE TAG t1 (col1 int); "
                 "CREATE EDGE e1 (col1 int)")
    err = r"The VID must be a 64-bit integer or a string fitting"
    try:
        for q in ('INSERT VERTEX t1(col1) VALUES "01234567890": (1)',
                  'DELETE VERTEX "01234567890"',
                  'UPDATE VERTEX "01234567890" SET t1.col1 = 1',
                  'UPSERT VERTEX ON t1 "01234567890" SET col1 = 1',
                  'INSERT EDGE e1(col1) VALUES "a"->"01234567890": (1)',
                  'DELETE EDGE e1 "01234567890"->"b"'):
            with pytest.raises(ValueError, match=err):
                execute(cat, f"USE vlen; {q}")
        execute(cat, 'USE vlen; INSERT VERTEX t1(col1) VALUES '
                     '"0123456789": (1)')
    finally:
        execute(cat, "DROP SPACE vlen")


def test_create_space_as(spark):
    """ddl CREATE SPACE x AS y + bugfix/FixIterCrash.feature — the clone
    carries schema AND data; later mutations stay isolated per space."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE csa_src; USE csa_src;
        CREATE TAG player(name string);
        CREATE EDGE serve(start_year int);
        INSERT VERTEX player(name) VALUES "a":("A"), "b":("B");
        INSERT EDGE serve(start_year) VALUES "a"->"b":(1999)
    """)
    try:
        execute(cat, "CREATE SPACE csa_clone AS csa_src")
        # FixIterCrash shape: piped GET SUBGRAPH in the cloned space
        df = execute(cat, 'USE csa_clone; GO from "a" OVER serve YIELD '
                          "serve._src AS id | GET SUBGRAPH WITH PROP "
                          "FROM $-.id YIELD vertices as nodes, "
                          "edges as relationships")
        assert df.count() > 0
        execute(cat, 'USE csa_clone; INSERT VERTEX player(name) '
                     'VALUES "c":("C")')
        n_src = execute(cat, "USE csa_src; LOOKUP ON player "
                             "YIELD id(vertex) AS v").count()
        n_clone = execute(cat, "USE csa_clone; LOOKUP ON player "
                               "YIELD id(vertex) AS v").count()
        assert (n_src, n_clone) == (2, 3)
    finally:
        execute(cat, "DROP SPACE csa_clone; DROP SPACE csa_src")


def test_seek_by_id(nba_space):
    """match/SeekById.feature — id()-seek predicates under NOT/AND/OR
    rewrites all select the same rows (the Spark plan is a pushed-down
    scan filter either way)."""
    four = ["Dejounte Murray", "James Harden", "Jonathon Simmons",
            "Klay Thompson"]
    for q, want in [
        ("MATCH (v) WHERE id(v) == 'Paul Gasol' "
         "RETURN v.player.name AS Name", ["Paul Gasol"]),
        ("MATCH (v) WHERE NOT NOT id(v) == 'Paul Gasol' "
         "RETURN v.player.name AS Name", ["Paul Gasol"]),
        ("MATCH (v) WHERE id(v) IN ['James Harden', 'Jonathon Simmons',"
         " 'Klay Thompson', 'Dejounte Murray'] "
         "RETURN v.player.name AS Name", four),
        ("MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') AND id(v) IN "
         "['James Harden', 'Jonathon Simmons', 'Klay Thompson', "
         "'Dejounte Murray'] RETURN v.player.name AS Name", []),
        ("MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') OR id(v) IN "
         "['James Harden', 'Jonathon Simmons', 'Klay Thompson', "
         "'Dejounte Murray'] RETURN v.player.name AS Name",
         sorted(four + ["Paul Gasol"])),
        ("MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') AND "
         "id(v) == 'Paul Gasol' RETURN v.player.name AS Name",
         ["Paul Gasol"]),
    ]:
        df = execute(nba_space, q)
        assert sorted(r.Name for r in df.collect()) == sorted(want), q


def test_ddl_default_values(spark):
    """update/MultiUpdate.feature student_default / TimeDefaultValue
    shapes — DDL DEFAULT expressions (literals and temporal
    constructors) fill omitted INSERT props; a NOT NULL column without
    a default refuses the insert with the validator's phrasing
    (MutateValidator.cpp:276)."""
    import datetime as dt
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE ddef; USE ddef;
        CREATE TAG student_default(name string NOT NULL,
          age int NOT NULL, gender string DEFAULT "one",
          birthday int DEFAULT 2010);
        CREATE EDGE select_default(grade int NOT NULL,
          year timestamp DEFAULT 1546308000);
        CREATE TAG tdt(d datetime DEFAULT datetime("2020-01-01T00:00:00"))
    """)
    try:
        execute(cat, 'USE ddef; INSERT VERTEX student_default(name, age) '
                     'VALUES "s1":("n", 20)')
        df = execute(cat, 'USE ddef; FETCH PROP ON student_default "s1" '
                          "YIELD student_default.gender AS g, "
                          "student_default.birthday AS b")
        assert [tuple(r) for r in df.collect()] == [("one", 2010)]
        execute(cat, 'USE ddef; INSERT EDGE select_default(grade) '
                     'VALUES "a"->"b":(5)')
        df = execute(cat, 'USE ddef; FETCH PROP ON select_default '
                          '"a"->"b" YIELD select_default.year AS y')
        assert [r.y for r in df.collect()] == [1546308000]
        execute(cat, 'USE ddef; INSERT VERTEX tdt() VALUES "t1":()')
        df = execute(cat, 'USE ddef; FETCH PROP ON tdt "t1" '
                          "YIELD tdt.d AS d")
        assert [r.d for r in df.collect()] == [dt.datetime(2020, 1, 1)]
        with pytest.raises(ValueError,
                           match=r"The property `age' is not nullable "
                                 r"and has no default value."):
            execute(cat, "USE ddef; INSERT VERTEX student_default(name) "
                         'VALUES "s2":("x")')
    finally:
        execute(cat, "DROP SPACE ddef")


def test_int_vid_space(spark):
    """IntVid-variant features (LookupTag/GO/subgraph *.IntVid) — an
    int64 vid_type space keys tags/edges by LongType: inserted integer
    vids round-trip typed through LOOKUP / GO / GET SUBGRAPH."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE ivid (vid_type = int64); USE ivid;
        CREATE TAG lookup_tag_1(col1 int);
        CREATE EDGE like(likeness int);
        INSERT VERTEX lookup_tag_1(col1) VALUES
          200:(200), 201:(201), 202:(202);
        INSERT EDGE like(likeness) VALUES
          200 -> 201@0:(90), 200 -> 202@0:(80)
    """)
    try:
        df = execute(cat, "USE ivid; LOOKUP ON lookup_tag_1 WHERE "
                          "lookup_tag_1.col1 == 201 YIELD id(vertex) as id")
        assert [tuple(r) for r in df.collect()] == [(201,)]
        df = execute(cat, "USE ivid; GO FROM 200 OVER like WHERE "
                          "like.likeness > 85 YIELD like._dst AS d, "
                          "$$.lookup_tag_1.col1 AS c")
        assert [tuple(r) for r in df.collect()] == [(201, 201)]
        df = execute(cat, "USE ivid; GET SUBGRAPH FROM 200 OUT like "
                          "YIELD vertices as v")
        assert [sorted(r.v) for r in df.collect()] == [[200], [201, 202]]
    finally:
        execute(cat, "DROP SPACE ivid")


def test_lookup_regex_refused_ne_fullscan(nba_space):
    """lookup/TagIndexFullScan.feature — `=~` in LOOKUP WHERE is the
    reference's SemanticError (IndexScan cannot accelerate regex; kept
    for parity); a != filter full-scans and excludes only the named
    row."""
    with pytest.raises(ValueError,
                       match=r"is not supported, please use full-text "
                             r"index as an optimal solution"):
        execute(nba_space,
                'LOOKUP ON team where team.name =~ "\\\\d+\\\\w+" '
                "YIELD vertex as node")
    df = execute(nba_space,
                 'LOOKUP ON team WHERE team.name != "Hornets" '
                 "YIELD id(vertex) as id")
    ids = [r.id for r in df.collect()]
    assert "Hornets" not in ids and len(ids) == 29


def test_match_labels_include_empty_tag(spark):
    """bugfix/MatchReturnEmptyTag.feature — labels(v) reports EVERY tag
    on the vid, including a zero-prop tag added after load."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE met; USE met;
        CREATE TAG player(name string, age int);
        CREATE TAG empty_tag();
        INSERT VERTEX player(name, age) VALUES "td":("Tim Duncan", 42);
        INSERT VERTEX empty_tag() values "td":()
    """)
    try:
        df = execute(cat, 'USE met; MATCH (v:player{name:"Tim Duncan"}) '
                          "RETURN labels(v) AS Labels")
        assert [sorted(r.Labels) for r in df.collect()] == [
            ["empty_tag", "player"]]
        df = execute(cat, 'USE met; MATCH (v:empty_tag) '
                          "RETURN id(v) AS id")
        assert [r.id for r in df.collect()] == ["td"]
    finally:
        execute(cat, "DROP SPACE met")


def test_typo_error_keyword_named_tag(spark):
    """bugfix/TypoError.feature — a tag named by the near-keyword
    `value` with `value`/`values` props round-trips DDL → DESC (the
    5-column Field/Type/Null/Default/Comment shape, props only) →
    SHOW CREATE with the reference's exact rendering."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE typo; USE typo; "
                 "CREATE tag value(value int, values bool)")
    try:
        df = execute(cat, "USE typo; DESC TAG value")
        assert [tuple(r) for r in df.collect()] == [
            ("value", "int64", "YES", None, None),
            ("values", "bool", "YES", None, None)]
        df = execute(cat, "USE typo; SHOW CREATE TAG value")
        assert df.collect()[0][1] == (
            'CREATE TAG `value` (\n `value` int64 NULL,\n'
            ' `values` bool NULL\n) ttl_duration = 0, ttl_col = ""')
    finally:
        execute(cat, "DROP SPACE typo")


def test_seek_by_tag(nba_space):
    """match/SeekByTag.feature — MATCH by tag: the single-row bachelor
    tag (with a cross-tag prop read) and the 30-team scan."""
    df = execute(nba_space,
                 "MATCH (v:bachelor) RETURN id(v) AS vid, "
                 "v.player.age AS age")
    assert [tuple(r) for r in df.collect()] == [("Tim Duncan", 42)]
    df = execute(nba_space, "MATCH (v:team) RETURN id(v) AS vid")
    ids = [r.vid for r in df.collect()]
    assert len(ids) == 30 and "Trail Blazers" in ids


def test_upsert_defaults_sequential_sets(spark):
    """update/Update.feature "115"-"117" — UPSERT on a missing key
    initializes props from schema DEFAULTS before the SET clauses run,
    the WHEN filter is vacuously true on the insert path, and SET
    clauses apply IN ORDER (a later SET reads the value an earlier SET
    just wrote); plain UPDATE of a missing key is the storage error."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE upsd; USE upsd;
        CREATE TAG student_default(name string NOT NULL,
          age int NOT NULL, gender string DEFAULT "one",
          birthday int DEFAULT 2010)
    """)
    try:
        df = execute(cat, 'USE upsd; UPSERT VERTEX ON student_default '
                          '"115" SET name = "Kate", age = 12 '
                          'WHEN $^.student_default.gender == "two" '
                          "YIELD $^.student_default.name AS Name, "
                          "$^.student_default.age AS Age, "
                          "$^.student_default.gender AS gender")
        assert [tuple(r) for r in df.collect()] == [("Kate", 12, "one")]
        df = execute(cat, 'USE upsd; UPSERT VERTEX ON student_default '
                          '"116" SET name = "Kate", '
                          "age = $^.student_default.birthday + 1, "
                          "birthday = $^.student_default.birthday + 1 "
                          'WHEN $^.student_default.gender == "two" '
                          "YIELD $^.student_default.name AS Name, "
                          "$^.student_default.age AS Age, "
                          "$^.student_default.gender AS gender, "
                          "$^.student_default.birthday AS birthday")
        assert [tuple(r) for r in df.collect()] == [
            ("Kate", 2011, "one", 2011)]
        df = execute(cat, 'USE upsd; UPSERT VERTEX ON student_default '
                          '"117" SET '
                          "birthday = $^.student_default.birthday + 1, "
                          'name = "Kate", '
                          "age = $^.student_default.birthday + 1 "
                          "YIELD $^.student_default.name AS Name, "
                          "$^.student_default.age AS Age, "
                          "$^.student_default.gender AS gender, "
                          "$^.student_default.birthday AS birthday")
        assert [tuple(r) for r in df.collect()] == [
            ("Kate", 2012, "one", 2011)]
        with pytest.raises(ValueError,
                           match=r"Storage Error: Vertex or edge not "
                                 r"found."):
            execute(cat, 'USE upsd; UPDATE VERTEX ON student_default '
                         '"999" SET age = 1')
    finally:
        execute(cat, "DROP SPACE upsd")


def test_subscript_in_update(spark):
    """bugfix/SubscriptInUpdate.feature — json_extract(json)['b'] (MAP
    subscripting with a string key) inside UPDATE SET/WHEN, vertex and
    edge; struct-encoded map literals keep case-SENSITIVE keys."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE subu; USE subu;
        create tag test_tag(i1 int, json string);
        create edge test_edge(i1 int, json string);
        INSERT VERTEX test_tag(i1, json) VALUES
          'xxx':(1, '{"a":1,"b":2}');
        INSERT EDGE test_edge(i1, json) VALUES
          'xxx'->'xxx':(1, '{"a":1,"b":2}')
    """)
    try:
        df = execute(cat, "USE subu; UPDATE VERTEX ON test_tag 'xxx' "
                          "SET i1=json_extract(json)['b'] "
                          "WHEN json_extract(json)['a'] == 1 YIELD i1")
        assert [tuple(r) for r in df.collect()] == [(2,)]
        df = execute(cat, "USE subu; UPDATE EDGE ON test_edge "
                          "'xxx'->'xxx' SET i1=json_extract(json)['b'] "
                          "WHEN json_extract(json)['a'] == 1 YIELD i1")
        assert [tuple(r) for r in df.collect()] == [(2,)]
        df = execute(cat, 'USE subu; YIELD {k1: 1}["k1"] AS a, '
                          '{k1: 1}["K1"] AS b')
        assert [tuple(r) for r in df.collect()] == [(1, None)]
    finally:
        execute(cat, "DROP SPACE subu")


def test_fixed_string_go_expressions(spark):
    """expression/FixedString.feature — fixed_string props compare as
    strings in GO WHERE across all three prop sigils ($^ / $$ / edge)."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE fsx (vid_type = int64); USE fsx;
        CREATE TAG fixed_string_tag_1(c1 fixed_string(30));
        CREATE EDGE fixed_string_edge_1(c1 fixed_string(30));
        INSERT VERTEX fixed_string_tag_1(c1) VALUES
          1:("row"), 2:("row"), 3:("row");
        INSERT EDGE fixed_string_edge_1(c1) VALUES
          1->2:("row"), 1->3:("row")
    """)
    try:
        for cond in ('$$.fixed_string_tag_1.c1 == "row"',
                     '$^.fixed_string_tag_1.c1 == "row"',
                     'fixed_string_edge_1.c1 == "row"'):
            df = execute(cat, "USE fsx; GO from 1 over "
                              f"fixed_string_edge_1 where {cond} yield "
                              "$$.fixed_string_tag_1.c1 as c1")
            assert [r.c1 for r in df.collect()] == ["row", "row"], cond
    finally:
        execute(cat, "DROP SPACE fsx")


def test_list_set_prop_types(spark):
    """ddl/Ddl.feature + update/Update.feature List/Set scenarios —
    `List< t >` / `Set< t >` prop columns (ArrayType): DESC echoes
    list_t/set_t, INSERT takes [..]/{..} literals ({..} dedups
    first-wins), `+` concatenates lists, SETADD/REPLACE/ERASE mutate
    sets."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE lsp; USE lsp;
        CREATE TAG player(name string, age int, hobby List< string >,
          ids List< int >, score List< float >);
        CREATE TAG splayer(hobby Set< string >, ids Set< int >);
        INSERT VERTEX player(name, age, hobby, ids, score) VALUES
          "player100":("Tim Duncan", 42, ["Basketball", "Swimming"],
                       [100, 528], [50.0, 22.0]);
        INSERT VERTEX splayer(hobby, ids) VALUES
          "p":({"Basketball", "Swimming", "Swimming"}, {100, 528, 100})
    """)
    try:
        df = execute(cat, 'USE lsp; DESC TAG player')
        assert [(r.Field, r.Type) for r in df.collect()] == [
            ("name", "string"), ("age", "int64"),
            ("hobby", "list_string"), ("ids", "list_int"),
            ("score", "list_float")]
        df = execute(cat, 'USE lsp; UPDATE VERTEX ON player "player100" '
                          "SET hobby = hobby + [], ids = ids + [], "
                          "score = score + [] "
                          'WHEN name == "Tim Duncan" '
                          "YIELD hobby AS H, ids AS I, score AS S")
        assert [tuple(r) for r in df.collect()] == [
            (["Basketball", "Swimming"], [100, 528], [50.0, 22.0])]
        df = execute(cat, 'USE lsp; UPDATE VERTEX ON player "player100" '
                          'SET hobby = hobby + ["Coding"], '
                          "ids = ids + [37564], score = score + [85.0] "
                          'WHEN name == "Tim Duncan" '
                          "YIELD hobby AS H, ids AS I, score AS S")
        assert [tuple(r) for r in df.collect()] == [
            (["Basketball", "Swimming", "Coding"], [100, 528, 37564],
             [50.0, 22.0, 85.0])]
        df = execute(cat, 'USE lsp; UPDATE VERTEX ON splayer "p" '
                          'SET hobby = SETADD(hobby, "Coding"), '
                          "ids = SETADD(ids, 37564) "
                          "YIELD hobby AS H, ids AS I")
        assert [tuple(r) for r in df.collect()] == [
            (["Basketball", "Swimming", "Coding"], [100, 528, 37564])]
        df = execute(cat, 'USE lsp; UPDATE VERTEX ON splayer "p" '
                          'SET hobby = REPLACE(hobby, "Basketball", '
                          '"Football"), ids = REPLACE(ids, 37564, 12345) '
                          "YIELD hobby AS H, ids AS I")
        assert [tuple(r) for r in df.collect()] == [
            (["Football", "Swimming", "Coding"], [100, 528, 12345])]
        df = execute(cat, 'USE lsp; UPDATE VERTEX ON splayer "p" '
                          'SET hobby = ERASE(hobby, "Coding"), '
                          "ids = ERASE(ids, 100) YIELD hobby AS H, "
                          "ids AS I")
        assert [tuple(r) for r in df.collect()] == [
            (["Football", "Swimming"], [528, 12345])]
    finally:
        execute(cat, "DROP SPACE lsp")


def test_ddl_comments_if_not_exists_index_check(spark):
    """ddl/Ddl.feature — per-column COMMENT lands in DESC's Comment
    column, DEFAULT may be an expression followed by COMMENT, re-CREATE
    with IF NOT EXISTS is a no-op (without it an error), and CREATE
    INDEX validates its columns against the schema (`Key not
    existed!`)."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE ddlf; USE ddlf;
        CREATE TAG A();
        CREATE TAG IF NOT EXISTS A(id int, name string);
        CREATE TAG B(
          id int NOT NULL DEFAULT 0+0 COMMENT "primary key",
          name string NOT NULL,
          createDate DATETIME,
          isVisited bool COMMENT "kHop search flag",
          listString List< string >,
          setInt Set< int >
        ) TTL_DURATION = 100, TTL_COL = "id", COMMENT = "TAG B"
    """)
    try:
        df = execute(cat, "USE ddlf; DESC TAG A")
        assert df.collect() == []          # IF NOT EXISTS kept zero-prop A
        df = execute(cat, "USE ddlf; DESC TAG B")
        assert [tuple(r) for r in df.collect()] == [
            ("id", "int64", "NO", "0", "primary key"),
            ("name", "string", "NO", None, None),
            ("createDate", "datetime", "YES", None, None),
            ("isVisited", "bool", "YES", None, "kHop search flag"),
            ("listString", "list_string", "YES", None, None),
            ("setInt", "set_int", "YES", None, None)]
        with pytest.raises(ValueError, match=r"Existed tag `A'!"):
            execute(cat, "USE ddlf; CREATE TAG A(x int)")
        execute(cat, "USE ddlf; CREATE TAG INDEX idx_A_1 on A()")
        with pytest.raises(ValueError, match=r"Key not existed!"):
            execute(cat, "USE ddlf; CREATE TAG INDEX idx_A_2 on A(id)")
        execute(cat, "USE ddlf; CREATE TAG INDEX idx_B_2 on B(id)")
    finally:
        execute(cat, "DROP SPACE ddlf")


def test_lookup_topn_pipes(nba_space):
    """lookup/LookUpTopN.feature — LOOKUP | ORDER BY | LIMIT pipelines
    (Spark plans these as a TakeOrdered over the scan; the reference's
    push-TopN-down rule is subsumed by Catalyst)."""
    for q, want in [
        ("LOOKUP ON player YIELD id(vertex) as id | ORDER BY $-.id | "
         "Limit 2", ["Amar'e Stoudemire", "Aron Baynes"]),
        ("LOOKUP ON player WHERE player.age==30 YIELD id(vertex) as id "
         "| ORDER BY $-.id | Limit 2",
         ["Blake Griffin", "DeAndre Jordan"]),
        ('LOOKUP ON player WHERE player.name > "Ti" YIELD id(vertex) '
         "as id | ORDER BY $-.id | Limit 2",
         ["Tiago Splitter", "Tim Duncan"]),
    ]:
        df = execute(nba_space, q)
        assert [r[0] for r in df.collect()] == want, q
    df = execute(nba_space,
                 "LOOKUP ON player YIELD properties(vertex).name as "
                 "name | ORDER BY $-.name | Limit 2")
    assert [r.name for r in df.collect()] == [
        "Amar'e Stoudemire", "Aron Baynes"]


# ---------------------------------------------------------------------------
# joined YIELD — tests/tck/features/yield/join.feature
# ---------------------------------------------------------------------------

def test_join_invalid(nba_space):
    """join.feature "invalid join" — the reference's validation ladder
    (YieldValidator.cpp:179-255): agg refusal at parse time, duplicate
    column names, non-inner modes, self-join, ON-side consistency,
    missing prop, `$-` operands, undefined variables."""
    ab = ("$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as vid, "
          "edge as e;\n$b = GO FROM 'Tony Parker' OVER like YIELD "
          "id($$) as vid, edge as e2;\n")
    with pytest.raises(SyntaxError,
                       match=r"Invalid use of aggregating function in "
                             r"yield clause"):
        execute(nba_space,
                "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as "
                "vid, edge as e;\n$b = GO FROM 'Tony Parker' OVER like "
                "YIELD id($$) as vid, edge as e;\nYIELD $a.vid AS id, "
                "$b.e AS e, count(*) FROM $a INNER JOIN $b ON "
                "$a.vid == $b.vid")
    with pytest.raises(ValueError,
                       match=r"column name `e' of \$a and column name "
                             r"`e' of \$b are the same"):
        execute(nba_space,
                "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as "
                "vid, edge as e;\n$b = GO FROM 'Tony Parker' OVER like "
                "YIELD id($$) as vid, edge as e;\nYIELD $a.vid AS id, "
                "$b.e AS e FROM $a INNER JOIN $b ON $a.vid == $b.vid")
    for mode in ("LEFT", "RIGHT", "OUTER", "SEMI", "ANTI"):
        with pytest.raises(ValueError, match="only support inner join"):
            execute(nba_space,
                    ab + "YIELD $a.vid AS id, $b.e2 AS e FROM $a "
                    f"{mode} JOIN $b ON $a.vid == $b.vid")
    with pytest.raises(ValueError, match="do not support self-join"):
        execute(nba_space, ab + "YIELD $a.vid AS id, $b.e2 AS e FROM "
                "$a INNER JOIN $a ON $a.vid == $a.vid")
    with pytest.raises(ValueError,
                       match=r"`b' should be consistent with join "
                             r"condition variable `\$a.vid'"):
        execute(nba_space, ab + "YIELD $a.vid AS id, $b.e2 AS e FROM "
                "$a INNER JOIN $b ON $a.vid == $a.vid")
    with pytest.raises(ValueError,
                       match=r"`\$b.noexist', not exist prop `noexist'"):
        execute(nba_space, ab + "YIELD $a.vid AS id, $b.e2 AS e FROM "
                "$a INNER JOIN $b ON $a.vid == $b.noexist")
    with pytest.raises(SyntaxError, match=r"syntax error near `\$-'"):
        execute(nba_space,
                "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as "
                "vid, edge as e;\nGO FROM 'Tony Parker' OVER like YIELD "
                "id($$) as vid, edge as e2\n| YIELD $a.vid AS id, "
                "$-.e2 AS e FROM $a INNER JOIN $- ON $a.vid == $-.vid")
    with pytest.raises(ValueError, match=r"variable: `b' not exist"):
        execute(nba_space,
                "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as a;"
                "\nYIELD $a.a from $a inner join $b on $a.a == $b.a")
    # bare `FROM $a JOIN $b` parses as a cross-join mode and is refused
    # exactly like every other non-inner mode (parser.yy:1702-1709)
    with pytest.raises(ValueError, match="only support inner join"):
        execute(nba_space,
                "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as "
                "vid;\n$b = GO FROM 'Tony Parker' OVER like YIELD "
                "id($$) as vid2;\nYIELD $a.vid AS id FROM $a JOIN $b")


def _e(v):
    # GO's `edge AS e` struct is (s, d, r, et [, props…]) — src/dst first
    return (v[0], v[1])


def test_join_go(nba_space):
    """join.feature "join go" — two GO variables joined on dst==src; the
    same rows whether $b starts from $a.dst (runtime input) or from the
    literal seeds."""
    want = {("Tim Duncan", ("Tim Duncan", "Manu Ginobili"),
             ("Manu Ginobili", "Tim Duncan")),
            ("LaMarcus Aldridge", ("Tim Duncan", "Tony Parker"),
             ("Tony Parker", "LaMarcus Aldridge")),
            ("Manu Ginobili", ("Tim Duncan", "Tony Parker"),
             ("Tony Parker", "Manu Ginobili")),
            ("Tim Duncan", ("Tim Duncan", "Tony Parker"),
             ("Tony Parker", "Tim Duncan"))}
    for bsrc in ("$a.dst", "'Tony Parker', 'Manu Ginobili'"):
        df = execute(nba_space,
                     "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) "
                     "as dst, edge as e;\n"
                     f"$b = GO FROM {bsrc} OVER like YIELD id($^) as "
                     "src, id($$) as vid, edge AS e2;\n"
                     "YIELD $b.vid AS vid, $a.e AS e1, $b.e2 AS e2 "
                     "FROM $a INNER JOIN $b ON $a.dst == $b.src")
        got = {(r.vid, _e(r.e1), _e(r.e2)) for r in df.collect()}
        assert got == want, bsrc


def test_join_result_feeds_go(nba_space):
    """join.feature "join go" last scenario — the joined variable $c
    seeds a subsequent GO (runtime-input starts from a join output)."""
    df = execute(nba_space,
                 "$a = GO FROM 'Tim Duncan' OVER like YIELD id($$) as "
                 "dst, edge as e;\n"
                 "$b = GO FROM $a.dst OVER like YIELD id($^) as src, "
                 "id($$) as vid, edge AS e2;\n"
                 "$c = YIELD $b.vid AS vid, $a.e AS e1, $b.e2 AS e2 "
                 "FROM $a INNER JOIN $b ON $a.dst == $b.src;\n"
                 "GO FROM $c.vid OVER like YIELD $c.vid AS src, "
                 "id($$) AS dst, $c.e1 AS e")
    got = sorted((r.src, r.dst, _e(r.e)) for r in df.collect())
    assert got == sorted([
        ("LaMarcus Aldridge", "Tim Duncan",
         ("Tim Duncan", "Tony Parker")),
        ("LaMarcus Aldridge", "Tony Parker",
         ("Tim Duncan", "Tony Parker")),
        ("Tim Duncan", "Manu Ginobili", ("Tim Duncan", "Manu Ginobili")),
        ("Tim Duncan", "Manu Ginobili", ("Tim Duncan", "Tony Parker")),
        ("Tim Duncan", "Tony Parker", ("Tim Duncan", "Manu Ginobili")),
        ("Tim Duncan", "Tony Parker", ("Tim Duncan", "Tony Parker")),
        ("Manu Ginobili", "Tim Duncan", ("Tim Duncan", "Tony Parker"))])


def test_join_lookup_fetch(nba_space):
    """join.feature "join lookup" + "join fetch" — LOOKUP and FETCH
    variables as join operands."""
    df = execute(nba_space,
                 "$a = LOOKUP ON player WHERE player.name == "
                 "'Tony Parker' YIELD id(vertex) as dst, vertex AS v;\n"
                 "$b = GO FROM 'Tony Parker', 'Manu Ginobili' OVER like "
                 "YIELD id($^) as src, id($$) as vid, edge AS e2;\n"
                 "YIELD $b.vid AS vid, $a.v AS v, $b.e2 AS e2 FROM $a "
                 "INNER JOIN $b ON $a.dst == $b.src")
    got = {(r.vid, _e(r.e2)) for r in df.collect()}
    assert got == {
        ("LaMarcus Aldridge", ("Tony Parker", "LaMarcus Aldridge")),
        ("Manu Ginobili", ("Tony Parker", "Manu Ginobili")),
        ("Tim Duncan", ("Tony Parker", "Tim Duncan"))}
    df = execute(nba_space,
                 "$a = LOOKUP ON player WHERE player.name == "
                 "'Tony Parker' YIELD id(vertex) as dst, vertex AS v;\n"
                 "$b = LOOKUP on player WHERE player.age > 30 YIELD "
                 "id(vertex) AS src, vertex AS v2;\n"
                 "YIELD $b.src AS vid, $a.v AS v, $b.v2 AS v2 FROM $a "
                 "INNER JOIN $b ON $a.dst == $b.src")
    assert [r.vid for r in df.collect()] == ["Tony Parker"]
    df = execute(nba_space,
                 "$a = LOOKUP ON player WHERE player.name == "
                 "'Tony Parker' YIELD id(vertex) as src, vertex AS v;\n"
                 "$b = FETCH PROP ON like 'Tony Parker'->'Tim Duncan' "
                 "YIELD src(edge) as src, edge as e;\n"
                 # `src` appears in BOTH variables but is the join
                 # condition column on each side — exempt from the
                 # duplicate-name refusal (YieldValidator.cpp:232-246)
                 "YIELD $a.src AS src, $a.v AS v, $b.e AS e FROM $a "
                 "INNER JOIN $b ON $a.src == $b.src")
    got = [(r.src, _e(r.e)) for r in df.collect()]
    assert got == [("Tony Parker", ("Tony Parker", "Tim Duncan"))]


def test_join_path(nba_space):
    """join.feature "join path" — a parenthesized FIND PATH pipeline as
    an assignment RHS, joined with a LOOKUP variable."""
    df = execute(nba_space,
                 "$a = LOOKUP ON player WHERE player.name == "
                 "'Tony Parker' YIELD id(vertex) as src, vertex AS v;\n"
                 "$b = (FIND SHORTEST PATH FROM $a.src TO 'Tim Duncan' "
                 "OVER like YIELD path AS p | YIELD $-.p AS p, "
                 "id(startNode($-.p)) AS src);\n"
                 "YIELD $a.src AS src, $a.v AS v, $b.p AS p FROM $a "
                 "INNER JOIN $b ON $a.src == $b.src")
    from nebula_spark.functions.graphfns import format_path
    out = df.select("src", format_path(F.col("p")).alias("s")).collect()
    # join.feature's table prints the client rendering `[:like@0 {}]`;
    # this repo's pinned Path::toString shape (ShortestPath.feature
    # goldens) elides the zero rank and empty prop map
    assert [(r.src, r.s) for r in out] == [
        ("Tony Parker", '<("Tony Parker")-[:like]->("Tim Duncan")>')]


def test_join_limit(nba_space):
    """join.feature "join limit" — joined YIELD pipes into LIMIT."""
    df = execute(nba_space,
                 '$a = GO FROM "Tim Duncan" OVER like YIELD src(edge) '
                 "AS src, edge AS e1;\n"
                 '$b = GO 2 STEPS FROM "Tony Parker" OVER like YIELD '
                 "edge AS e2, dst(edge) AS dst;\n"
                 "YIELD $a.e1 AS e1, $b.e2 AS e2 from $a inner join $b "
                 "ON $a.src == $b.dst | limit 10")
    got = sorted((_e(r.e1), _e(r.e2)) for r in df.collect())
    assert got == sorted([
        (("Tim Duncan", "Manu Ginobili"),
         ("LaMarcus Aldridge", "Tim Duncan")),
        (("Tim Duncan", "Tony Parker"),
         ("LaMarcus Aldridge", "Tim Duncan")),
        (("Tim Duncan", "Manu Ginobili"),
         ("Manu Ginobili", "Tim Duncan")),
        (("Tim Duncan", "Tony Parker"),
         ("Manu Ginobili", "Tim Duncan"))])


# ---------------------------------------------------------------------------
# scan — tests/tck/features/match/Scan.feature (student space)
# ---------------------------------------------------------------------------

STUDENT_DIR = "/root/reference/tests/data/student"


@pytest.fixture(scope="session")
def student_space(spark):
    """The reference's secondary fixture (tests/data/student/config.yaml):
    tags person/teacher/student share vids, four int-prop edges."""
    def _r(name, cols):
        df = (spark.read.option("header", True)
              .csv(f"{STUDENT_DIR}/{name}.csv"))
        return df.toDF(*cols)
    person = _r("person", ["vid", "name", "age", "gender"]).select(
        "vid", "name", F.col("age").cast("long").alias("age"), "gender")
    teacher = _r("teacher", ["vid", "grade", "subject"]).select(
        "vid", F.col("grade").cast("long").alias("grade"), "subject")
    student = _r("student", ["vid", "hobby", "grade"]).select(
        "vid", "hobby", F.col("grade").cast("long").alias("grade"))

    def _edge(name, last, typ="long"):
        # storage parity: duplicate (src,dst,rank) keys upsert in the
        # reference's KV layer (is_schoolmate.csv repeats three rows)
        return _r(name, ["src", "dst", "start_year", last]).select(
            "src", "dst", F.lit(0).cast("long").alias("_rank"),
            F.col("start_year").cast("long").alias("start_year"),
            F.col(last).cast(typ).alias(last)).dropDuplicates(
            ["src", "dst", "_rank"])
    sp = GraphSpace(spark, "student")
    sp.create_tag("person", df=person)
    sp.create_tag("teacher", df=teacher)
    sp.create_tag("student", df=student)
    sp.create_edge("is_schoolmate", df=_edge("is_schoolmate", "end_year"))
    sp.create_edge("is_teacher", df=_edge("is_teacher", "end_year"))
    sp.create_edge("is_friend", df=_edge("is_friend", "intimacy",
                                         "double"))
    sp.create_edge("is_colleagues", df=_edge("is_colleagues", "end_year"))
    return sp


SCAN_PERSONS = [
    "Anne", "Cynthia", "Jane", "Lisa", "Peggy", "Kevin", "WangLe",
    "WuXiao", "Sandy", "Harry", "Ada", "Lynn", "Bonnie", "Peter", "Carl",
    "Sonya", "HeNa", "Tom", "XiaMei", "Lily", "Mary", "Ann", "Julie",
    "Kim", "Ellen", "ZhangKai", "Emma", "Ben", "Helen", "Lilan"]


def test_scan_vertices(student_space):
    """Scan.feature "query vertices by scan" — tagless MATCH is a full
    vertex scan (ScanVertices); multi-tag patterns intersect."""
    df = execute(student_space,
                 "MATCH (v) RETURN v.student.name AS Name LIMIT 3")
    assert df.count() == 3
    df = execute(student_space,
                 "MATCH (v:teacher:student) RETURN v.student.name AS "
                 "Name LIMIT 3")
    assert df.count() == 0          # no vid carries both tags
    df = execute(student_space,
                 "MATCH (v:person:teacher) RETURN v.person.name AS "
                 "Name LIMIT 3")
    assert df.count() == 3
    df = execute(student_space,
                 'MATCH (v:person{name: "Mary"}:teacher) RETURN '
                 "v.person.name AS Name LIMIT 3")
    assert rows(df, "Name") == [("Mary",)]


def test_scan_vertices_full(student_space):
    """Scan.feature "query vertices by scan failed" — the unlimited scan
    returns every vertex; a prop off a tag the vertex lacks is NULL."""
    df = execute(student_space,
                 "MATCH (v) RETURN v.person.name AS Name")
    assert sorted(r.Name for r in df.collect()) == sorted(SCAN_PERSONS)
    df = execute(student_space,
                 "MATCH (v:person) RETURN v.student.name AS Name")
    assert [r.Name for r in df.collect()] == [None] * 30


def test_scan_vertices_skip_limit(student_space):
    """Scan.feature "query vertices by scan with skip limit"."""
    for lim in (4, 5, 7, 11):
        df = execute(student_space,
                     "MATCH (v) RETURN v.person.name AS name "
                     f"SKIP 10 LIMIT {lim}")
        assert df.count() == lim, lim


def test_scan_edges(student_space):
    """Scan.feature "query edge by scan" + "failed" — tagless edge
    patterns scan every edge table; the unlimited scan's type() multiset
    is the reference's exact table."""
    df = execute(student_space,
                 "MATCH ()-[e]->() RETURN type(e) AS Type LIMIT 3")
    assert df.count() == 3
    df = execute(student_space,
                 "MATCH ()-[e:is_teacher]->() RETURN type(e) AS Type, "
                 "e.start_year AS StartYear, e.end_year AS EndYear "
                 "LIMIT 3")
    got = df.collect()
    assert len(got) == 3
    assert all(r.Type == "is_teacher" and r.StartYear and r.EndYear
               for r in got)
    df = execute(student_space,
                 "MATCH ()-[e]->() RETURN type(e) AS Type")
    from collections import Counter
    got = Counter(r.Type for r in df.collect())
    assert got == Counter({"is_schoolmate": 26, "is_teacher": 11,
                           "is_colleagues": 7, "is_friend": 7})
    df = execute(student_space,
                 "MATCH (v)-[e]->() RETURN v.person.name, type(e) AS "
                 "Type LIMIT 3")
    # unaliased RETURN item keeps its expression text as the header
    assert df.columns == ["v.person.name", "Type"]
    assert df.count() == 3
    df = execute(student_space,
                 "MATCH ()-[e:is_teacher]-() RETURN type(e) AS Type, "
                 "e.start_year AS StartYear, e.end_year AS EndYear "
                 "LIMIT 3")
    assert df.count() == 3


def test_scan_edges_skip_limit(student_space):
    """Scan.feature "query edge by scan with skip limit" (52 edges)."""
    for lim in (4, 5, 7, 11):
        df = execute(student_space,
                     "MATCH ()-[e]->() RETURN type(e) AS Type "
                     f"SKIP 10 LIMIT {lim}")
        assert df.count() == lim, lim


# ---------------------------------------------------------------------------
# seek by id / tag — tests/tck/features/match/SeekById.feature,
#                    SeekByTag.feature
# ---------------------------------------------------------------------------

_SEEK4 = ("['James Harden', 'Jonathon Simmons', 'Klay Thompson', "
          "'Dejounte Murray']")


def test_seek_by_id_basic(nba_space):
    """SeekById.feature "basic" / "basic logical not" — id(v) equality
    and IN, plus double negation."""
    for pred in ("id(v) == 'Paul Gasol'",
                 "NOT NOT id(v) == 'Paul Gasol'"):
        df = execute(nba_space,
                     f"MATCH (v) WHERE {pred} RETURN v.player.name AS "
                     "Name, v.player.age AS Age")
        assert rows(df, "Name", "Age") == [("Paul Gasol", 38)]
    for pred in (f"id(v) IN {_SEEK4}", f"NOT NOT id(v) IN {_SEEK4}"):
        df = execute(nba_space,
                     f"MATCH (v) WHERE {pred} RETURN v.player.name AS "
                     "Name")
        assert sorted(r.Name for r in df.collect()) == [
            "Dejounte Murray", "James Harden", "Jonathon Simmons",
            "Klay Thompson"]


def test_seek_by_id_logical(nba_space):
    """SeekById.feature "basic logical and/or/with noise" — seeks
    combine through the boolean structure of the WHERE."""
    df = execute(nba_space,
                 "MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') AND "
                 f"id(v) IN {_SEEK4} RETURN v.player.name AS Name")
    assert df.count() == 0
    df = execute(nba_space,
                 "MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') OR "
                 f"id(v) IN {_SEEK4} RETURN v.player.name AS Name")
    assert sorted(r.Name for r in df.collect()) == [
        "Dejounte Murray", "James Harden", "Jonathon Simmons",
        "Klay Thompson", "Paul Gasol"]
    df = execute(nba_space,
                 "MATCH (v) WHERE (NOT NOT id(v) == 'Paul Gasol') AND "
                 "id(v) != 'Paul Gasol' RETURN v.player.name AS Name")
    assert df.count() == 0
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) IN ['James Harden', "
                 "'Jonathon Simmons', 'Klay Thompson', "
                 "'Dejounte Murray', 'Paul Gasol'] AND true "
                 "RETURN v.player.name AS Name")
    assert df.count() == 5
    # `OR true` widens the seek to a full scan — every vertex flows out
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) IN ['Paul Gasol'] OR true "
                 "RETURN v.player.name AS Name")
    assert df.count() == 86
    df = execute(nba_space,
                 f"MATCH (v) WHERE id(v) IN {_SEEK4} AND "
                 "(id(v) == 'James Harden' OR v.player.age == 23) "
                 "RETURN v.player.name AS Name")
    assert rows(df, "Name") == [("James Harden",)]
    # a non-constant IN list member disables the seek, not the filter
    df = execute(nba_space,
                 "MATCH (v:player) WHERE id(v) IN ['James Harden', "
                 "v.player.age] RETURN v.player.name AS Name")
    assert rows(df, "Name") == [("James Harden",)]


def test_seek_by_id_complicate(nba_space):
    """SeekById.feature "complicate logical" + "with extend" +
    "multiple nodes"."""
    df = execute(nba_space,
                 "MATCH (v) WHERE ((NOT NOT id(v) == 'Paul Gasol') OR "
                 f"id(v) IN {_SEEK4}) AND id(v) != 'Paul Gasol' AND "
                 "v.player.name != 'Jonathon Simmons' AND "
                 "v.player.age == 29 RETURN v.player.name AS Name")
    assert sorted(r.Name for r in df.collect()) == [
        "Dejounte Murray", "James Harden", "Klay Thompson"]
    df = execute(nba_space,
                 'MATCH (v) WHERE (id(v) == "Tim Duncan" AND '
                 'v.player.age>10) OR (id(v) == "Tony Parker" AND '
                 "v.player.age>10) RETURN v.player.name AS Name")
    assert sorted(r.Name for r in df.collect()) == [
        "Tim Duncan", "Tony Parker"]
    df = execute(nba_space,
                 "MATCH (v)-[:serve]->(t) WHERE (NOT NOT id(v) == "
                 "'Paul Gasol') AND id(v) == 'Paul Gasol' "
                 "RETURN v.player.name AS Name, t.team.name AS Team")
    assert sorted(r.Team for r in df.collect()) == [
        "Bucks", "Bulls", "Grizzlies", "Lakers", "Spurs"]
    df = execute(nba_space,
                 "MATCH (v)-[:serve]->(t) WHERE (NOT NOT id(v) == "
                 "'Paul Gasol') AND id(v) == 'Paul Gasol' AND id(t) IN "
                 "['Grizzlies', 'Lakers'] RETURN v.player.name AS Name, "
                 "t.team.name AS Team")
    assert sorted(r.Team for r in df.collect()) == ["Grizzlies", "Lakers"]
    df = execute(nba_space,
                 "MATCH (v)-[:serve]->(t) WHERE ((NOT NOT id(v) == "
                 "'Paul Gasol') AND id(v) == 'Paul Gasol') OR id(t) IN "
                 "['Grizzlies', 'Lakers'] RETURN v.player.name AS Name, "
                 "t.team.name AS Team")
    assert df.count() == 16


def test_seek_by_id_negation_and_count(nba_space):
    """SeekById.feature "can't refer" — negated seeks fall back to full
    scans (85 vertices), undefined aliases refuse, and computed id
    comparisons still match."""
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) == \"Tim Duncan\" OR id(v) != "
                 "\"Tony Parker\" RETURN COUNT(*) AS count")
    assert rows(df, "count") == [(85,)]
    df = execute(nba_space,
                 "MATCH (v) WHERE NOT id(v) == 'Paul Gasol' "
                 "RETURN v.player.name AS Name, v.player.age AS Age")
    names = [r.Name for r in df.collect()]
    assert len(names) == 85 and "Paul Gasol" not in names \
        and "Tony Parker" in names
    df = execute(nba_space,
                 f"MATCH (v) WHERE NOT id(v) IN {_SEEK4} "
                 "RETURN v.player.name AS Name")
    assert df.count() == 82
    with pytest.raises(ValueError,
                       match=r"Alias used but not defined: `x'"):
        execute(nba_space, "MATCH (v) WHERE id(x) == 'James Harden' "
                           "RETURN v.player.name AS Name")
    df = execute(nba_space,
                 "MATCH (v) WHERE (id(v) + '') == 'James Harden' "
                 "RETURN v.player.name AS Name")
    assert rows(df, "Name") == [("James Harden",)]
    df = execute(nba_space,
                 f"MATCH (v) WHERE id(v) IN {_SEEK4} OR "
                 "v.player.age == 23 RETURN v.player.name AS Name")
    assert sorted(r.Name for r in df.collect()) == [
        "Dejounte Murray", "James Harden", "Jonathon Simmons",
        "Klay Thompson", "Kristaps Porzingis"]


def test_seek_by_id_unwind_var(nba_space):
    """SeekById.feature "can't refer" — UNWIND variables in the id()
    predicate: the constant disjunct still matches per input row."""
    df = execute(nba_space,
                 "WITH [1, 2, 3] AS coll UNWIND coll AS vid "
                 'MATCH (v) WHERE id(v) == "Tony Parker" OR '
                 "id(v) == vid RETURN v")
    assert df.count() == 3
    df = execute(nba_space,
                 "WITH [1, 2, 3] AS coll UNWIND coll AS vid "
                 "MATCH (v) WHERE id(v) == vid RETURN v")
    assert df.count() == 0


def test_seek_by_tag(nba_space):
    """SeekByTag.feature — tag scans, incl. a single-vertex tag and a
    cross-tag prop read off it."""
    df = execute(nba_space, "MATCH (v:bachelor) RETURN id(v) AS vid")
    assert rows(df, "vid") == [("Tim Duncan",)]
    df = execute(nba_space,
                 "MATCH (v:bachelor) RETURN id(v) AS vid, "
                 "v.player.age AS age")
    assert rows(df, "vid", "age") == [("Tim Duncan", 42)]
    df = execute(nba_space, "MATCH (v:team) RETURN id(v)")
    assert df.columns == ["id(v)"] and df.count() == 30
    df = execute(nba_space,
                 "MATCH (v:team) RETURN id(v) AS vid, v.team.name AS "
                 "name")
    assert all(r.vid == r.name for r in df.collect())
    df = execute(nba_space,
                 "MATCH (p:bachelor)-[:serve]->(t) RETURN t.team.name "
                 "AS team")
    assert rows(df, "team") == [("Spurs",)]


# ---------------------------------------------------------------------------
# start from any node — tests/tck/features/match/StartFromAnyNode.feature
# ---------------------------------------------------------------------------

def test_start_from_middle_2step(nba_space):
    """StartFromAnyNode.feature "with totally 2 steps" — an indexed
    middle node anchors the pattern; every direction combination of the
    two hops matches the reference's tables (transcribed as (n,l) id
    pairs)."""
    TP, DM, GZ, SP = ("Tony Parker", "Dejounte Murray", "Grizzlies",
                      "Spurs")
    both = sorted([(DM, TP), (GZ, TP), (SP, TP), (TP, DM), (GZ, DM),
                   (SP, DM), (TP, GZ), (DM, GZ), (SP, GZ), (TP, SP),
                   (DM, SP), (GZ, SP)])
    cases = {
        ("-", "-"): both,
        ("-", "->"): sorted([(TP, GZ), (DM, GZ), (SP, GZ), (TP, SP),
                             (DM, SP), (GZ, SP)]),
        ("-", "<-"): sorted([(DM, TP), (GZ, TP), (SP, TP), (TP, DM),
                             (GZ, DM), (SP, DM)]),
        ("->", "-"): sorted([(DM, TP), (TP, DM), (TP, GZ), (DM, GZ),
                             (TP, SP), (DM, SP)]),
        ("->", "->"): sorted([(TP, GZ), (DM, GZ), (TP, SP), (DM, SP)]),
        ("->", "<-"): sorted([(DM, TP), (TP, DM)]),
        ("<-", "-"): sorted([(GZ, TP), (SP, TP), (GZ, DM), (SP, DM),
                             (SP, GZ), (GZ, SP)]),
        ("<-", "->"): sorted([(SP, GZ), (GZ, SP)]),
        ("<-", "<-"): sorted([(GZ, TP), (SP, TP), (GZ, DM), (SP, DM)]),
    }
    for (d1, d2), want in cases.items():
        e1 = {"-": "-[e1]-", "->": "-[e1]->", "<-": "<-[e1]-"}[d1]
        e2 = {"-": "-[e2]-", "->": "-[e2]->", "<-": "<-[e2]-"}[d2]
        df = execute(nba_space,
                     f'MATCH (n){e1}(m:player{{name:"Kyle Anderson"}})'
                     f"{e2}(l) RETURN id(n) AS n, id(l) AS l")
        assert sorted(rows(df, "n", "l")) == want, (d1, d2)
    # the WHERE form of the same anchor gives the same frame
    df = execute(nba_space,
                 "MATCH (n)-[]-(m:player)-[]-(l) WHERE "
                 'm.player.name=="Kyle Anderson" '
                 "RETURN id(n) AS n, id(l) AS l")
    assert sorted(rows(df, "n", "l")) == both


def test_start_from_middle_3step(nba_space):
    """StartFromAnyNode.feature "with totally 3 steps" + the Kobe
    Bryant anchor-at-position-3 scenario."""
    df = execute(nba_space,
                 'MATCH p = (n)-[]-(m:player{name:"Kyle Anderson"})'
                 "-[]-(l)-[]-(k) RETURN count(*) AS count")
    assert rows(df, "count") == [(141,)]
    df = execute(nba_space,
                 'MATCH p = (n)-[]-(m:player{name:"Kyle Anderson"})'
                 '-[]-(l)-[]-(k) WHERE k.player.name == "Marc Gasol" '
                 "RETURN id(n) AS n, id(l) AS l, id(k) AS k")
    assert sorted(rows(df, "n", "l", "k")) == sorted([
        ("Tony Parker", "Grizzlies", "Marc Gasol"),
        ("Dejounte Murray", "Grizzlies", "Marc Gasol"),
        ("Spurs", "Grizzlies", "Marc Gasol")])
    df = execute(nba_space,
                 'MATCH p = (k)-[]-(n)-[]-(m:player{name:"Kobe Bryant"})'
                 "-[]-(l) RETURN count(p) AS count")
    assert rows(df, "count") == [(46,)]
    df = execute(nba_space,
                 'MATCH p = (k)-[]-(n)-[]-(m:player{name:"Kobe Bryant"})'
                 '-[]-(l) WHERE l.team.name == "Lakers" '
                 "RETURN id(k) AS k, id(n) AS n")
    got = sorted(rows(df, "k", "n"))
    assert got == sorted([
        ("Grant Hill", "Tracy McGrady"), ("Vince Carter", "Tracy McGrady"),
        ("Yao Ming", "Tracy McGrady"), ("Grant Hill", "Tracy McGrady"),
        ("Rudy Gay", "Tracy McGrady"), ("Magic", "Tracy McGrady"),
        ("Raptors", "Tracy McGrady"), ("Rockets", "Tracy McGrady"),
        ("Spurs", "Tracy McGrady"), ("Marc Gasol", "Paul Gasol"),
        ("Marc Gasol", "Paul Gasol"), ("Bucks", "Paul Gasol"),
        ("Bulls", "Paul Gasol"), ("Grizzlies", "Paul Gasol"),
        ("Lakers", "Paul Gasol"), ("Spurs", "Paul Gasol")])


# ---------------------------------------------------------------------------
# LOOKUP on fresh index spaces — tests/tck/features/lookup/LookupTag2.feature,
# LookupEdge2.feature, EdgeIndexFullScan.feature (both vid flavors where the
# feature's Examples table parameterizes them)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("vids", [("200", "201", "202"), (200, 201, 202)],
                         ids=["strvid", "intvid"])
def test_lookup_tag2(spark, vids):
    """LookupTag2.feature "[tag] simple tag test cases" + "scan without
    hints" — OR/AND precedence, unqualified-prop refusal, unknown-column
    refusal, empty ranges, and the unaliased YIELD's expression-text
    column name."""
    from nebula_spark.catalog import SpaceCatalog
    a, b, c = vids
    lit = (lambda v: f'"{v}"') if isinstance(a, str) else str
    vt = "FIXED_STRING(16)" if isinstance(a, str) else "int64"
    cat = SpaceCatalog(spark)
    execute(cat, f"""
        CREATE SPACE lt2(partition_num=1, vid_type={vt}); USE lt2;
        CREATE TAG lookup_tag_1(col1 int, col2 int, col3 int);
        CREATE TAG INDEX t_index_1 ON lookup_tag_1(col1, col2, col3);
        CREATE TAG INDEX t_index_3 ON lookup_tag_1(col2, col3);
        INSERT VERTEX lookup_tag_1(col1, col2, col3) VALUES
          {lit(a)}:(200, 200, 200), {lit(b)}:(201, 201, 201),
          {lit(c)}:(202, 202, 202)
    """)
    sp = cat.spaces["lt2"]
    # AND binds tighter than OR: col1==201 OR (col2==201 AND col3==202)
    df = execute(sp, "LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col1 == 201"
                     " OR lookup_tag_1.col2 == 201 AND "
                     "lookup_tag_1.col3 == 202 YIELD id(vertex) AS id")
    assert rows(df, "id") == [(b,)]
    with pytest.raises(ValueError,
                       match=r"Expression \(col1==…\) not supported yet"):
        execute(sp, "LOOKUP ON lookup_tag_1 WHERE col1 == 200 "
                    "YIELD vertex as node")
    with pytest.raises(ValueError, match="Invalid column: col5"):
        execute(sp, "LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col1 == 200 "
                    "OR lookup_tag_1.col5 == 20 YIELD vertex as node")
    df = execute(sp, "LOOKUP ON lookup_tag_1 WHERE "
                     "lookup_tag_1.col1 == 300 YIELD id(vertex) as id")
    assert df.count() == 0
    df = execute(sp, "lookup on lookup_tag_1 WHERE lookup_tag_1.col1 == 201"
                     " AND lookup_tag_1.col2 > 200 AND "
                     "lookup_tag_1.col1 > 201 YIELD id(vertex) as id")
    assert df.count() == 0
    # scan without hints (a != filter is a full scan) + expression-text
    # column name for the unaliased `lookup_tag_1.col3`
    df = execute(sp, "LOOKUP ON lookup_tag_1 WHERE lookup_tag_1.col1 != 200"
                     " YIELD lookup_tag_1.col1 AS col1, lookup_tag_1.col3")
    assert df.columns == ["col1", "lookup_tag_1.col3"]
    assert sorted(rows(df, "col1", "lookup_tag_1.col3")) == [
        (201, 201), (202, 202)]


@pytest.mark.parametrize("vids", [("200", "201", "202"), (200, 201, 202)],
                         ids=["strvid", "intvid"])
def test_lookup_edge2(spark, vids):
    """LookupEdge2.feature "[edge] Simple test cases"."""
    from nebula_spark.catalog import SpaceCatalog
    a, b, c = vids
    lit = (lambda v: f'"{v}"') if isinstance(a, str) else str
    vt = "FIXED_STRING(16)" if isinstance(a, str) else "int64"
    cat = SpaceCatalog(spark)
    execute(cat, f"""
        CREATE SPACE le2(partition_num=1, vid_type={vt}); USE le2;
        CREATE EDGE lookup_edge_1(col1 int, col2 int, col3 int);
        CREATE EDGE INDEX e_index_1 ON lookup_edge_1(col1, col2, col3);
        CREATE EDGE INDEX e_index_3 ON lookup_edge_1(col2, col3);
        INSERT EDGE lookup_edge_1(col1, col2, col3) VALUES
          {lit(a)} -> {lit(b)}@0:(201, 201, 201),
          {lit(a)} -> {lit(c)}@0:(202, 202, 202)
    """)
    sp = cat.spaces["le2"]
    df = execute(sp, "LOOKUP ON lookup_edge_1 WHERE "
                     "lookup_edge_1.col1 == 201 OR lookup_edge_1.col2 == "
                     "201 AND lookup_edge_1.col3 == 202 "
                     "YIELD src(edge) AS src, dst(edge) AS dst")
    assert rows(df, "src", "dst") == [(a, b)]
    with pytest.raises(ValueError,
                       match=r"Expression \(col1==…\) not supported yet"):
        execute(sp, "LOOKUP ON lookup_edge_1 WHERE col1 == 201 "
                    "YIELD edge as e")
    with pytest.raises(ValueError, match="Invalid column: col5"):
        execute(sp, "LOOKUP ON lookup_edge_1 WHERE lookup_edge_1.col1 == "
                    "201 OR lookup_edge_1.col5 == 201 YIELD edge as e")
    df = execute(sp, "LOOKUP ON lookup_edge_1 WHERE lookup_edge_1.col1 == "
                     "300 YIELD src(edge) as src, dst(edge) as dst, "
                     "rank(edge) as rank")
    assert df.count() == 0
    df = execute(sp, "LOOKUP ON lookup_edge_1 WHERE lookup_edge_1.col1 == "
                     "201 AND lookup_edge_1.col2 > 200 AND "
                     "lookup_edge_1.col1 > 201 YIELD src(edge) as src")
    assert df.count() == 0


@pytest.fixture
def fullscan_space(spark):
    """EdgeIndexFullScan.feature fixture: edge_1 with a string and an int
    column, three edges."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE efs(partition_num=1, vid_type=FIXED_STRING(15));
        USE efs;
        CREATE EDGE edge_1(col1_str string, col2_int int);
        CREATE EDGE INDEX col1_str_index ON edge_1(col1_str(10));
        CREATE EDGE INDEX col2_int_index ON edge_1(col2_int);
        INSERT EDGE edge_1(col1_str, col2_int) VALUES
          '101'->'102':('Red1', 11),
          '102'->'103':('Yellow', 22),
          '103'->'101':('Blue', 33)
    """)
    return cat.spaces["efs"]


def test_edge_index_full_scan(fullscan_space):
    """EdgeIndexFullScan.feature — regexp refusal, NE full-scan filters,
    IN-list (with arithmetic and fn-call elements), and IN+EQ combos."""
    sp = fullscan_space
    with pytest.raises(ValueError, match="please use full-text index"):
        execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col1_str =~ '
                    '"\\\\w+\\\\d+" YIELD edge_1.col1_str')
    df = execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col1_str != "Yellow" '
                     "YIELD src(edge) as src, dst(edge) as dst, "
                     "rank(edge) as rank, edge_1.col1_str AS s")
    assert sorted(rows(df, "src", "dst", "rank", "s")) == [
        ("101", "102", 0, "Red1"), ("103", "101", 0, "Blue")]
    df = execute(sp, "LOOKUP ON edge_1 WHERE edge_1.col2_int != 11 "
                     "YIELD src(edge) as src, edge_1.col2_int AS i")
    assert sorted(rows(df, "src", "i")) == [("102", 22), ("103", 33)]
    df = execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col1_str IN '
                     '["Red", "Yellow"] YIELD edge_1.col1_str AS s')
    assert rows(df, "s") == [("Yellow",)]
    df = execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col1_str IN '
                     '["non-existed-name"] YIELD edge_1.col1_str AS s')
    assert df.count() == 0
    # IN-list elements are constant expressions: arithmetic and fn calls
    df = execute(sp, "LOOKUP ON edge_1 WHERE edge_1.col2_int IN "
                     "[23 - 1 , 66/2] YIELD edge_1.col2_int AS i")
    assert sorted(rows(df, "i")) == [(22,), (33,)]
    df = execute(sp, "LOOKUP ON edge_1 WHERE edge_1.col2_int IN "
                     "[23 - 1 , 66/2] OR edge_1.col2_int==11 "
                     "YIELD edge_1.col2_int AS i")
    assert sorted(rows(df, "i")) == [(11,), (22,), (33,)]
    df = execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col2_int IN '
                     '[23 - 1 , 66/2] OR edge_1.col1_str IN '
                     '[toUpper("r")+"ed1"] YIELD edge_1.col1_str AS s, '
                     "edge_1.col2_int AS i")
    assert sorted(rows(df, "s", "i")) == [
        ("Blue", 33), ("Red1", 11), ("Yellow", 22)]
    df = execute(sp, "LOOKUP ON edge_1 WHERE edge_1.col2_int IN [11 , 66/2]"
                     " AND edge_1.col2_int==11 YIELD edge_1.col2_int AS i")
    assert rows(df, "i") == [(11,)]
    df = execute(sp, 'LOOKUP ON edge_1 WHERE edge_1.col2_int IN [11 , 33] '
                     'AND edge_1.col1_str IN ["Red1"] '
                     "YIELD edge_1.col1_str AS s, edge_1.col2_int AS i")
    assert rows(df, "s", "i") == [("Red1", 11)]


# ---------------------------------------------------------------------------
# INSERT families — insertVertexOnly.feature, InsertWithTimeType.feature,
# InsertDurationType.feature
# ---------------------------------------------------------------------------

def test_insert_vertex_only(spark):
    """insertVertexOnly.feature — the tagless INSERT VERTEX form is
    forbidden at validation; empty-prop edges still traverse."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE vonly(partition_num=1, vid_type=int64); "
                 "USE vonly; CREATE EDGE e()")
    sp = cat.spaces["vonly"]
    with pytest.raises(ValueError,
                       match="Insert vertex is forbidden, please specify "
                             "the tag"):
        execute(sp, "INSERT VERTEX VALUES 1:(),2:(),3:()")
    execute(sp, "INSERT EDGE e() VALUES 1->2:(),2->3:()")
    df = execute(sp, "GO 2 STEP FROM 1 OVER e YIELD dst(edge) AS dst")
    assert rows(df, "dst") == [(3,)]
    df = execute(sp, "FETCH PROP ON * 1,2 YIELD vertex AS v")
    assert df.count() == 0


def test_insert_time_types_refusals(spark):
    """InsertWithTimeType.feature "insert wrong format timestamp" — a raw
    string into a time-dependent column is the storage type error; NULL
    is fine."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE twrong(partition_num=1, vid_type=FIXED_STRING(20));
        USE twrong;
        CREATE TAG IF NOT EXISTS TAG_TIMESTAMP(a timestamp);
        CREATE TAG IF NOT EXISTS TAG_TIME(a time);
        CREATE TAG IF NOT EXISTS TAG_DATE(a date);
        CREATE TAG IF NOT EXISTS TAG_DATETIME(a datetime)
    """)
    sp = cat.spaces["twrong"]
    err = ("Storage Error: The data type does not meet the requirements."
           " Use the correct type of data.")
    for tag, bad in [("TAG_TIMESTAMP", '"2000.0.0 10:0:0"'),
                     ("TAG_TIME", '"10:0:0"'),
                     ("TAG_DATE", '"2000.0.0"'),
                     ("TAG_DATETIME", '"2000.0.0"')]:
        execute(sp, f'INSERT VERTEX {tag}(a) VALUES "TEST_VERTEX":(NULL)')
        with pytest.raises(ValueError) as ei:
            execute(sp,
                    f'INSERT VERTEX {tag}(a) VALUES "TEST_VERTEX":({bad})')
        assert str(ei.value) == err, tag


def test_insert_time_types_crud(spark):
    """InsertWithTimeType.feature "Basic CRUD for timestamp type" — SHOW
    CREATE echo, constructor inserts, FETCH value parity (native values
    per FIXTURES.md; time renders the reference's HH:MM:SS.ffffff), the
    Date/Time/DateTime map-constructor UPDATE, and DELETE cleanup."""
    import datetime as _dt
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE tcrud(partition_num=1, vid_type=FIXED_STRING(20));
        USE tcrud;
        CREATE TAG tag_date(f_date DATE, f_time TIME, f_datetime DATETIME);
        CREATE EDGE edge_date(f_date DATE, f_time TIME, f_datetime DATETIME)
    """)
    sp = cat.spaces["tcrud"]
    r = execute(sp, "SHOW CREATE TAG tag_date").collect()[0]
    assert r["Create Tag"] == (
        'CREATE TAG `tag_date` (\n `f_date` date NULL,\n'
        ' `f_time` time NULL,\n `f_datetime` datetime NULL\n'
        ') ttl_duration = 0, ttl_col = ""')
    execute(sp, 'INSERT VERTEX tag_date(f_date, f_time, f_datetime) VALUES'
                ' "test":(date("2017-03-04"), time("23:01:00"), '
                'datetime("2017-03-04T22:30:40"))')
    execute(sp, 'INSERT EDGE edge_date(f_date, f_time, f_datetime) VALUES '
                '"test_src"->"test_dst":(date("2017-03-04"), '
                'time("23:01:00"), datetime("2017-03-04T22:30:40"))')
    with pytest.raises(ValueError, match="Storage Error"):
        execute(sp, 'INSERT VERTEX tag_date(f_date, f_time, f_datetime) '
                    'VALUES "test":("2017-03-04", "23:01:00", 1234)')
    with pytest.raises(ValueError, match="Storage Error"):
        execute(sp, 'INSERT EDGE edge_date(f_date, f_time, f_datetime) '
                    'VALUES "test_src"->"test_dst":(true, "23:01:00", '
                    '"2017-03-04T22:30:40")')
    df = execute(sp, 'FETCH PROP ON tag_date "test" YIELD '
                     "tag_date.f_date AS d, tag_date.f_time AS t, "
                     "tag_date.f_datetime AS dt")
    assert rows(df, "d", "t", "dt") == [
        (_dt.date(2017, 3, 4), "23:01:00.000000",
         _dt.datetime(2017, 3, 4, 22, 30, 40))]
    df = execute(sp, 'FETCH PROP ON edge_date "test_src"->"test_dst" YIELD'
                     " edge_date.f_date AS d, edge_date.f_time AS t, "
                     "edge_date.f_datetime AS dt")
    assert rows(df, "d", "t", "dt") == [
        (_dt.date(2017, 3, 4), "23:01:00.000000",
         _dt.datetime(2017, 3, 4, 22, 30, 40))]
    # map-constructor UPDATE (Date({year:…}) / Time({hour:…}) /
    # DateTime({year:…}))
    df = execute(sp, 'UPDATE VERTEX "test" SET '
                     "tag_date.f_date = Date({year: 2018, month: 3, "
                     "day: 4}), tag_date.f_time = Time({hour: 22, "
                     "minute: 1, second: 0}), tag_date.f_datetime = "
                     "DateTime({year: 2018, month: 3, day: 4, hour: 22, "
                     "minute: 30, second: 40}) "
                     "YIELD f_date, f_time, f_datetime")
    assert rows(df, "f_date", "f_time", "f_datetime") == [
        (_dt.date(2018, 3, 4), "22:01:00.000000",
         _dt.datetime(2018, 3, 4, 22, 30, 40))]
    df = execute(sp, 'UPDATE EDGE "test_src"->"test_dst" OF edge_date SET '
                     'edge_date.f_date = Date("2018-03-04"), '
                     'edge_date.f_time = Time("22:01:00"), '
                     'edge_date.f_datetime = DateTime("2018-03-04T22:30:40")'
                     " YIELD f_date, f_time, f_datetime")
    assert rows(df, "f_date", "f_time", "f_datetime") == [
        (_dt.date(2018, 3, 4), "22:01:00.000000",
         _dt.datetime(2018, 3, 4, 22, 30, 40))]
    execute(sp, 'DELETE VERTEX "test" WITH EDGE; '
                'DELETE EDGE edge_date "test_src"->"test_dst"')
    assert execute(sp, 'FETCH PROP ON tag_date "test" '
                       "YIELD vertex as node").count() == 0
    assert execute(sp, 'FETCH PROP ON edge_date "test_src"->"test_dst" '
                       "YIELD edge as e").count() == 0


def test_insert_duration_type(spark):
    """InsertDurationType.feature — duration into a non-duration column
    is the storage type error; duration columns are not indexable
    (Invalid param!); CRUD + DELETE cleanup."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE durins(partition_num=1, vid_type=FIXED_STRING(20));
        USE durins;
        CREATE TAG IF NOT EXISTS test_failed(a int);
        CREATE TAG IF NOT EXISTS test_tag_index_failed(a duration);
        CREATE EDGE IF NOT EXISTS test_edge_index_failed(a duration);
        CREATE TAG tag_duration(f_duration duration);
        CREATE EDGE edge_duration(f_duration duration)
    """)
    sp = cat.spaces["durins"]
    with pytest.raises(ValueError, match="Storage Error: The data type"):
        execute(sp, 'INSERT VERTEX test_failed(a) VALUES '
                    '"TEST_VERTEX_FAILED":(duration({years: 3}))')
    with pytest.raises(ValueError, match="Invalid param!"):
        execute(sp, "CREATE TAG INDEX test_tag_duration_index ON "
                    "test_tag_index_failed(a)")
    with pytest.raises(ValueError, match="Invalid param!"):
        execute(sp, "CREATE EDGE INDEX test_edge_duration_index ON "
                    "test_edge_index_failed(a)")
    r = execute(sp, "SHOW CREATE TAG tag_duration").collect()[0]
    assert r["Create Tag"] == (
        'CREATE TAG `tag_duration` (\n `f_duration` duration NULL\n'
        ') ttl_duration = 0, ttl_col = ""')
    execute(sp, 'INSERT VERTEX tag_duration(f_duration) VALUES '
                '"test":(duration({years: 1, seconds: 0}))')
    execute(sp, 'INSERT EDGE edge_duration(f_duration) VALUES '
                '"test_src"->"test_dst":(duration({years: 1, seconds: 0}))')
    with pytest.raises(ValueError, match="Storage Error"):
        execute(sp, 'INSERT VERTEX tag_duration(f_duration) VALUES '
                    '"test":(1)')
    with pytest.raises(ValueError, match="Storage Error"):
        execute(sp, 'INSERT EDGE edge_duration(f_duration) VALUES '
                    '"test_src"->"test_dst":(true)')
    execute(sp, 'DELETE VERTEX "test"; '
                'DELETE EDGE edge_duration "test_src"->"test_dst"')
    assert execute(sp, 'FETCH PROP ON tag_duration "test" '
                       "YIELD vertex as node").count() == 0
    assert execute(sp, 'FETCH PROP ON edge_duration '
                       '"test_src"->"test_dst" YIELD edge as e').count() == 0


# ---------------------------------------------------------------------------
# GO — tests/tck/features/go/SimpleCase.feature (result goldens; the
# feature's execution-plan tables pin the reference's physical operators,
# which SURVEY §2.2 declares obsolete under Catalyst — results only here)
# ---------------------------------------------------------------------------

def test_simple_case_counts(nba_space):
    """SimpleCase.feature — every `| YIELD count(*)` scenario's count,
    covering BIDIRECT dedup-dst expansion, WHERE on $$/$^ props, OVER *,
    per-step LIMIT, m-to-n ranges, $-' pipes and the k-hop minus
    script."""
    cases = [
        ('GO FROM "Tony Parker" OVER serve BIDIRECT YIELD DISTINCT '
         'id($$) as dst | YIELD count(*)', 2),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'DISTINCT id($$) AS dst | YIELD count(*)', 22),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT WHERE '
         '$$.team.name != "Lakers" YIELD DISTINCT id($$) '
         '| YIELD count(*)', 21),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'id($$) AS dst | YIELD count(*)', 65),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'DISTINCT $$.team.name, id($$) AS dst | YIELD count(*)', 22),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT WHERE '
         '$^.player.age > 30 YIELD DISTINCT id($$) AS dst '
         '| YIELD count(*)', 22),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         '$$.player.age AS age | YIELD count(*)', 65),
        ('GO 3 STEPS FROM "Tony Parker" OVER * WHERE $$.player.age > 36 '
         'YIELD $$.player.age AS age | YIELD count(*)', 10),
        ('YIELD "Tony Parker" as a | GO 3 STEPS FROM $-.a OVER serve '
         'BIDIRECT YIELD DISTINCT $$.team.name, id($$) AS dst '
         '| YIELD COUNT(*)', 22),
        ('GO 3 STEPS FROM "Tony Parker" OVER * YIELD DISTINCT id($$) '
         'LIMIT [100, 100, 100] | YIELD count(*)', 13),
        ('GO 1 to 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'DISTINCT id($$) AS dst | YIELD count(*)', 41),
        ('GO 1 to 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'DISTINCT 3, id($$) AS dst | YIELD count(*)', 41),
        ('GO 1 to 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT YIELD '
         'DISTINCT $$.player.age AS age, id($$) | YIELD COUNT($-.age)',
         19),
        ('GO 1 to 8 steps FROM "Tony Parker" OVER serve, like YIELD '
         'distinct like._dst AS a | YIELD COUNT($-.a)', 4),
        ('GO 1 to 8 steps FROM "Tony Parker" OVER serve, like YIELD '
         'DISTINCT serve._dst AS a | YIELD COUNT($-.a)', 3),
        # k-hop neighbors: two frontier vars, set minus
        ('$v1 = GO 1 to 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT '
         'YIELD DISTINCT id($$) as dst; $v2 = GO from $v1.dst OVER serve '
         'BIDIRECT YIELD DISTINCT id($$) as dst; (Yield $v2.dst as id '
         'minus yield $v1.dst as id) | yield count(*)', 28),
        # serve targets have no outgoing serve edges
        ('GO FROM "Tony Parker" OVER serve BIDIRECT YIELD DISTINCT '
         'id($$) as dst | GO FROM $-.dst OVER serve YIELD DISTINCT '
         'id($$) as dst | YIELD count(*)', 0),
        ('GO 1 STEP FROM "Tony Parker" OVER * YIELD distinct id($$) as id'
         '| GO 3 STEP FROM $-.id OVER * YIELD distinct id($$) '
         '| YIELD COUNT(*)', 22),
        ('GO 1 STEP FROM "Tony Parker" OVER * YIELD distinct id($$) as id'
         '| GO 2 to 4 STEP FROM $-.id OVER * YIELD distinct id($$) '
         '| YIELD COUNT(*)', 26),
        ('GO 1 STEP FROM "Tony Parker" OVER like, serve REVERSELY WHERE '
         'id($$) != "Tim Duncan" YIELD DISTINCT id($$)  '
         '| YIELD  count(*)', 4),
        ('GO 3 STEPS FROM "Tony Parker" OVER serve BIDIRECT WHERE '
         'id($$) != "Not exists" YIELD DISTINCT id($$), $$.player.age '
         '| YIELD count(*)', 22),
    ]
    for q, want in cases:
        got = execute(nba_space, q).collect()
        assert len(got) == 1 and got[0][0] == want, (q, got)


def test_simple_case_rows(nba_space):
    """SimpleCase.feature — the scenarios with explicit result rows:
    dst-prop filters, multi-column DISTINCT with literals, arithmetic
    over $$ props, edge-qualified _dst filters, m-to-n with WHERE."""
    df = execute(nba_space, 'GO FROM "Yao Ming" OVER like YIELD DISTINCT '
                            'id($$) AS dst, $$.player.age AS age '
                            '| ORDER BY $-.dst')
    assert rows(df, "dst", "age") == [("Shaquille O'Neal", 47),
                                      ("Tracy McGrady", 39)]
    df = execute(nba_space, 'GO FROM "Yao Ming" OVER like WHERE '
                            '$$.player.age > 40 YIELD DISTINCT id($$) AS '
                            'dst, $$.player.age AS age | ORDER BY $-.dst')
    assert rows(df, "dst", "age") == [("Shaquille O'Neal", 47)]
    df = execute(nba_space, 'GO FROM "Tony Parker" OVER like YIELD '
                            'DISTINCT 2, id($$) AS a | ORDER BY $-.a')
    assert df.columns == ["2", "a"]
    assert rows(df, "2", "a") == [(2, "LaMarcus Aldridge"),
                                  (2, "Manu Ginobili"), (2, "Tim Duncan")]
    df = execute(nba_space, 'GO 1 to 3 STEP FROM "Tony Parker" OVER like '
                            'WHERE $$.player.age > 40 YIELD DISTINCT '
                            'id($$), $$.player.age as age, $$.player.name '
                            '| ORDER BY $-.age')
    assert rows(df, "id($$)", "age", "$$.player.name") == [
        ("Manu Ginobili", 41, "Manu Ginobili"),
        ("Tim Duncan", 42, "Tim Duncan")]
    df = execute(nba_space, 'GO FROM "Yao Ming" OVER like WHERE '
                            '$$.player.age > 40 AND id($$) != "Tony Parker"'
                            ' YIELD DISTINCT id($$) AS dst, id($$) AS dst2,'
                            " $$.player.age + 100 AS age | ORDER BY $-.dst")
    assert rows(df, "dst", "dst2", "age") == [
        ("Shaquille O'Neal", "Shaquille O'Neal", 147)]
    df = execute(nba_space, 'GO FROM "Tony Parker" OVER like WHERE '
                            'like._dst != "Tim Duncan" YIELD DISTINCT '
                            'id($$), 2, like._dst AS a | ORDER BY $-.a')
    assert rows(df, "id($$)", "2", "a") == [
        ("LaMarcus Aldridge", 2, "LaMarcus Aldridge"),
        ("Manu Ginobili", 2, "Manu Ginobili")]
    df = execute(nba_space, 'GO FROM "Tony Parker" OVER serve, like WHERE '
                            'serve._dst !="abc" YIELD DISTINCT id($$) AS a'
                            " | ORDER BY $-.a")
    assert [r.a for r in df.collect()] == [
        "Hornets", "LaMarcus Aldridge", "Manu Ginobili", "Spurs",
        "Tim Duncan"]
    df = execute(nba_space, 'GO 1 to 3 STEPS FROM "Tony Parker" OVER like '
                            'WHERE like._dst != "Yao Ming" YIELD DISTINCT '
                            "id($$) AS a | ORDER BY $-.a")
    assert [r.a for r in df.collect()] == [
        "LaMarcus Aldridge", "Manu Ginobili", "Tim Duncan", "Tony Parker"]
    df = execute(nba_space, 'GO 1 to 3 STEP FROM "Tony Parker" OVER like '
                            'WHERE id($$) != "Tim Duncan" YIELD DISTINCT '
                            "id($$), $$.player.age as age, $$.player.name "
                            "| ORDER BY $-.age")
    assert rows(df, "id($$)", "age", "$$.player.name") == [
        ("LaMarcus Aldridge", 33, "LaMarcus Aldridge"),
        ("Tony Parker", 36, "Tony Parker"),
        ("Manu Ginobili", 41, "Manu Ginobili")]
    df = execute(nba_space, 'GO FROM "Yao Ming" OVER like YIELD DISTINCT '
                            "id($$) AS aa | GO 1 to 3 STEP FROM $-.aa OVER"
                            ' like WHERE id($$) != "Tim Duncan" YIELD '
                            "DISTINCT id($$), $$.player.age as age, "
                            "$$.player.name | ORDER BY $-.age")
    assert rows(df, "id($$)", "age", "$$.player.name") == [
        ("JaVale McGee", 31, "JaVale McGee"),
        ("Rudy Gay", 32, "Rudy Gay"),
        ("LaMarcus Aldridge", 33, "LaMarcus Aldridge"),
        ("Tony Parker", 36, "Tony Parker"),
        ("Tracy McGrady", 39, "Tracy McGrady"),
        ("Kobe Bryant", 40, "Kobe Bryant"),
        ("Manu Ginobili", 41, "Manu Ginobili"),
        ("Grant Hill", 46, "Grant Hill")]


# ---------------------------------------------------------------------------
# LOOKUP — tests/tck/features/lookup/ByIndex.feature
# ---------------------------------------------------------------------------

def test_by_index_full_scans(nba_space):
    """ByIndex.feature [1]/[2] — whole-index scans: every team id/name,
    every serve edge key, count parity between YIELD forms."""
    df = execute(nba_space, "LOOKUP ON team YIELD id(vertex) as teamID")
    ids = sorted(r.teamID for r in df.collect())
    assert len(ids) == 30 and ids[0] == "76ers" and "Spurs" in ids
    df2 = execute(nba_space, "LOOKUP ON team YIELD team.name AS Name")
    assert sorted(r.Name for r in df2.collect()) == ids
    df = execute(nba_space, "LOOKUP ON serve YIELD src(edge) as src, "
                            "dst(edge) as dst, rank(edge) as rank")
    n_serve = df.count()
    assert n_serve == 152
    df = execute(nba_space,
                 "LOOKUP ON serve YIELD serve.start_year AS startYear")
    assert df.count() == n_serve


def test_by_index_refusals(nba_space):
    """ByIndex.feature "Tag TODO"/"Edge TODO" — constant-only WHERE,
    prop-vs-prop comparison, and INT64-overflowing constant folds are
    SemanticErrors."""
    for q in ["LOOKUP ON team WHERE 1 + 1 == 2 YIELD team.name AS Name",
              "LOOKUP ON serve WHERE 1 + 1 == 2 YIELD serve.start_year "
              "AS startYear",
              "LOOKUP ON serve WHERE serve.start_year == serve.end_year "
              "YIELD edge as e"]:
        with pytest.raises(ValueError, match="not supported yet"):
            execute(nba_space, q)
    with pytest.raises(ValueError,
                       match=r"result of \(9223372036854775807\+1\) cannot"
                             " be represented as an integer"):
        execute(nba_space, "LOOKUP ON player WHERE player.age > "
                           "9223372036854775807+1 YIELD player.name")
    with pytest.raises(ValueError,
                       match="cannot be represented as an integer"):
        execute(nba_space, "LOOKUP ON player WHERE player.age > "
                           "-9223372036854775808-1 YIELD player.name")


def test_by_index_int_float_compare(nba_space):
    """ByIndex.feature "[1] Compare INT and FLOAT during IndexScan" —
    float bounds against an int prop: >=40.0 includes the 40s,
    >40.5 / >=40.5 exclude them."""
    df = execute(nba_space, "LOOKUP ON player WHERE player.age == 40 "
                            "YIELD id(vertex) as name, player.age AS Age")
    assert sorted(rows(df, "name", "Age")) == [
        ("Dirk Nowitzki", 40), ("Kobe Bryant", 40)]
    over40 = {("Grant Hill", 46), ("Jason Kidd", 45), ("Manu Ginobili", 41),
              ("Ray Allen", 43), ("Shaquille O'Neal", 47),
              ("Steve Nash", 45), ("Tim Duncan", 42), ("Vince Carter", 42)}
    df = execute(nba_space, "LOOKUP ON player WHERE player.age > 40 "
                            "YIELD id(vertex) as name, player.age AS Age")
    assert set(rows(df, "name", "Age")) == over40
    df = execute(nba_space, "LOOKUP ON player WHERE player.age >= 40.0 "
                            "YIELD id(vertex) as name, player.age AS Age")
    assert set(rows(df, "name", "Age")) == over40 | {
        ("Dirk Nowitzki", 40), ("Kobe Bryant", 40)}
    for op in (">", ">="):
        df = execute(nba_space, f"LOOKUP ON player WHERE player.age {op} "
                                "40.5 YIELD id(vertex) as name, "
                                "player.age AS Age")
        assert set(rows(df, "name", "Age")) == over40
    df = execute(nba_space, "LOOKUP ON player WHERE player.age < 40 YIELD "
                            "player.age AS Age, player.name AS Name "
                            "| order by $-.Age DESC, $-.Name| limit 10")
    assert rows(df, "Age", "Name") == [
        (39, "Tracy McGrady"), (38, "David West"), (38, "Paul Gasol"),
        (38, "Yao Ming"), (37, "Dwyane Wade"), (36, "Amar'e Stoudemire"),
        (36, "Boris Diaw"), (36, "Tony Parker"), (34, "Carmelo Anthony"),
        (34, "LeBron James")]
    df = execute(nba_space, "LOOKUP ON player WHERE player.age <= 40 YIELD"
                            " player.age AS Age, player.name AS Name "
                            "| order by $-.Age DESC, $-.Name| limit 10")
    assert rows(df, "Age", "Name")[:2] == [
        (40, "Dirk Nowitzki"), (40, "Kobe Bryant")]


def test_by_index_float_prop_scan(spark):
    """ByIndex.feature "[2] Compare INT and FLOAT" — int bound on a
    double-typed prop."""
    sp = GraphSpace(spark, "byidx2")
    execute(sp, "CREATE TAG weight (WEIGHT double); "
                "CREATE TAG INDEX weight_index ON weight(WEIGHT)")
    execute(sp, 'INSERT VERTEX weight(WEIGHT) VALUES "Tim Duncan" : (70.5);'
                ' INSERT VERTEX weight(WEIGHT) VALUES '
                '"Tony Parker" : (80.0)')
    df = execute(sp, "LOOKUP ON weight WHERE weight.WEIGHT > 70 "
                     "YIELD id(vertex) as name")
    assert sorted(r.name for r in df.collect()) == [
        "Tim Duncan", "Tony Parker"]
    df = execute(sp, "LOOKUP ON weight WHERE weight.WEIGHT > 70.4 "
                     "YIELD id(vertex) as name")
    assert sorted(r.name for r in df.collect()) == [
        "Tim Duncan", "Tony Parker"]


# ---------------------------------------------------------------------------
# Index lifecycle on data — tests/tck/features/index/TagEdgeIndex.feature
# ---------------------------------------------------------------------------

def test_tag_edge_index_lifecycle(spark):
    """TagEdgeIndex.feature "test tag index from pytest" — create with
    duplicate-name / duplicate-columns / missing-schema / missing-column /
    empty-columns / duplicate-field refusals, REBUILD + SHOW INDEX
    STATUS, filtered LOOKUPs over the indexed data, DESC/SHOW CREATE
    shapes (backquoted identifiers parse), and cross-kind DROP refusal."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE teidx(partition_num=1, vid_type=FIXED_STRING(30));
        USE teidx;
        CREATE TAG tag_1(col1 string, col2 int, col3 double,
                         col4 timestamp);
        CREATE EDGE edge_1(col1 string, col2 int, col3 double,
                           col4 timestamp)
    """)
    sp = cat.spaces["teidx"]
    execute(sp, "INSERT VERTEX tag_1(col1, col2, col3, col4) VALUES "
                "'101':('Tom', 18, 35.4, `timestamp`('2010-09-01T08:00:00')),"
                "'102':('Jerry', 22, 38.4, "
                "`timestamp`('2011-09-01T08:00:00')),"
                "'103':('Bob', 19, 36.4, `timestamp`('2010-09-01T12:00:00'))")
    execute(sp, "CREATE TAG INDEX single_tag_index ON tag_1(col2)")
    with pytest.raises(ValueError, match="Existed index"):
        execute(sp, "CREATE TAG INDEX duplicate_tag_index_1 ON tag_1(col2)")
    with pytest.raises(ValueError, match="not found in space"):
        execute(sp, "CREATE TAG INDEX single_person_index ON student(name)")
    with pytest.raises(ValueError, match="Existed index|Key not existed"):
        execute(sp, "CREATE TAG INDEX single_tag_index ON tag_1(col5)")
    # `ON tag_1()` under an EXISTING name errors on the name (the
    # feature's "Property is empty" comment rides a duplicate name);
    # a fresh-named empty-column index is the legal existence index
    with pytest.raises(ValueError, match="Existed index"):
        execute(sp, "CREATE TAG INDEX single_tag_index ON tag_1()")
    execute(sp, "CREATE TAG INDEX empty_tag_index ON tag_1()")
    execute(sp, "DROP TAG INDEX empty_tag_index")
    execute(sp, "CREATE TAG INDEX multi_tag_index ON tag_1(col2, col3)")
    with pytest.raises(ValueError, match="Existed index"):
        execute(sp, "CREATE TAG INDEX duplicate_person_index ON "
                    "tag_1(col2, col3)")
    with pytest.raises(ValueError, match="Conflict fields"):
        execute(sp, "CREATE TAG INDEX duplicate_index ON tag_1(col2, col2)")
    execute(sp, "CREATE TAG INDEX disorder_tag_index ON tag_1(col3, col2)")
    execute(sp, "REBUILD TAG INDEX single_tag_index, multi_tag_index, "
                "disorder_tag_index")
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, "REBUILD TAG INDEX non_existent_tag_index")
    df = execute(sp, "SHOW TAG INDEX STATUS")
    assert rows(df, "Name", "Index Status") == [
        ("single_tag_index,multi_tag_index,disorder_tag_index",
         "FINISHED")]
    df = execute(sp, "LOOKUP ON tag_1 WHERE tag_1.col2 == 18 "
                     "YIELD tag_1.col1")
    assert [r["tag_1.col1"] for r in df.collect()] == ["Tom"]
    df = execute(sp, "LOOKUP ON tag_1 WHERE tag_1.col3 > 35.7 "
                     "YIELD tag_1.col1")
    assert sorted(r["tag_1.col1"] for r in df.collect()) == [
        "Bob", "Jerry"]
    df = execute(sp, "LOOKUP ON tag_1 WHERE tag_1.col2 > 18 AND "
                     "tag_1.col3 < 37.2 YIELD tag_1.col1")
    assert [r["tag_1.col1"] for r in df.collect()] == ["Bob"]
    df = execute(sp, "DESC TAG INDEX single_tag_index")
    assert rows(df, "Field", "Type") == [("col2", "int64")]
    df = execute(sp, "DESC TAG INDEX multi_tag_index")
    assert rows(df, "Field", "Type") == [("col2", "int64"),
                                         ("col3", "double")]
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, "DESC TAG INDEX non_existent_tag_index")
    r = execute(sp, "SHOW CREATE TAG INDEX single_tag_index").collect()[0]
    assert r["Create Tag Index"] == (
        "CREATE TAG INDEX `single_tag_index` ON `tag_1` (\n `col2`\n)")
    r = execute(sp, "SHOW CREATE TAG INDEX multi_tag_index").collect()[0]
    assert r["Create Tag Index"] == (
        "CREATE TAG INDEX `multi_tag_index` ON `tag_1` "
        "(\n `col2`,\n `col3`\n)")
    with pytest.raises(ValueError, match="Index not existed"):
        execute(sp, "DROP EDGE INDEX multi_tag_index")
    execute(sp, "DROP TAG INDEX multi_tag_index")
    # the SHOW CREATE output is re-runnable (backquoted, multiline)
    execute(sp, "CREATE TAG INDEX `multi_tag_index` ON `tag_1` (\n"
                " `col2`,\n `col3`\n)")
    r = execute(sp, "SHOW CREATE TAG INDEX disorder_tag_index").collect()[0]
    assert r["Create Tag Index"] == (
        "CREATE TAG INDEX `disorder_tag_index` ON `tag_1` "
        "(\n `col3`,\n `col2`\n)")
    # edge side mirror
    execute(sp, "INSERT EDGE edge_1(col1, col2, col3, col4) VALUES "
                "'101'->'102':('Red', 81, 45.3, "
                "`timestamp`('2010-09-01T08:00:00')),"
                "'102'->'103':('Yellow', 22, 423.8, "
                "`timestamp`('2011-09-01T08:00:00')),"
                "'103'->'101':('Blue', 91, 43.1, "
                "`timestamp`('2010-09-01T12:00:00'))")
    execute(sp, "CREATE EDGE INDEX single_edge_index ON edge_1(col2)")
    execute(sp, "REBUILD EDGE INDEX single_edge_index")
    df = execute(sp, "SHOW EDGE INDEX STATUS")
    assert rows(df, "Name", "Index Status") == [
        ("single_edge_index", "FINISHED")]
    df = execute(sp, "LOOKUP ON edge_1 WHERE edge_1.col2 > 30 YIELD "
                     "src(edge) as src, edge_1.col1 AS c")
    assert sorted(rows(df, "src", "c")) == [("101", "Red"),
                                            ("103", "Blue")]


# ---------------------------------------------------------------------------
# EXPLAIN / PROFILE — tests/tck/features/explain/ExplainAndProfile.feature
# ---------------------------------------------------------------------------

def test_explain_profile_formats(nba_space):
    """ExplainAndProfile.feature "Different format"/"Error format" —
    every named FORMAT succeeds over a plain statement and a braces
    script; unknown formats and nested EXPLAIN are syntax errors. The
    plan text is Spark's (the reference's operator-tree formats are
    obsolete under Catalyst — SURVEY §2.12)."""
    for kw in ("EXPLAIN", "PROFILE"):
        for fmt in ("row", "dot", "dot:struct", "tck"):
            df = execute(nba_space, f'{kw} FORMAT="{fmt}" YIELD 1')
            assert df.count() == 1
            df = execute(nba_space, f'{kw} FORMAT="{fmt}" {{\n'
                                    "  $var=YIELD 1 AS a;\n"
                                    "  YIELD $var.a;\n}")
            assert df.count() == 1
            df = execute(nba_space, f'{kw} FORMAT="{fmt}" {{\n'
                                    "  YIELD 1 AS a;\n}")
            assert df.count() == 1
        with pytest.raises(SyntaxError):
            execute(nba_space, f'{kw} FORMAT="unknown" YIELD 1')
        with pytest.raises(SyntaxError):
            execute(nba_space, f'{kw} FORMAT="unknown" {{\n'
                               "  YIELD 1 AS a;\n}")
        with pytest.raises(SyntaxError):
            execute(nba_space, f"{kw} EXPLAIN YIELD 1")
        with pytest.raises(SyntaxError):
            execute(nba_space, f"{kw} PROFILE YIELD 1")


def test_profile_pipeline_result(nba_space):
    """ExplainAndProfile.feature "Test profiling data format" — the
    profiled GO 4 STEPS pipe still returns its result count."""
    df = execute(nba_space, "GO 4 STEPS FROM 'Tim Duncan' OVER like YIELD "
                            "like._dst AS dst | YIELD count(*)")
    assert df.collect()[0][0] == 6


# ---------------------------------------------------------------------------
# TTL DDL — tests/tck/features/ttl/TTL2.feature "ttl ddl" (the expire
# scenarios sleep against wall-clock and are covered by the read-filter
# unit tests instead)
# ---------------------------------------------------------------------------

def test_ttl_ddl(spark):
    """TTL2.feature "ttl ddl" — ttl column type rules, INT64 duration
    bounds, implicit-column refusal, ALTER ttl lifecycle and its
    index-incompatibility."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE ttl2(partition_num=1, "
                 "vid_type=FIXED_STRING(32)); USE ttl2")
    sp = cat.spaces["ttl2"]
    execute(sp, 'CREATE TAG ttl_tag01(a int, b int) ttl_duration=5, '
                'ttl_col="a"')
    with pytest.raises(ValueError, match="Ttl column type illegal"):
        execute(sp, 'CREATE TAG ttl_tag02(a float,b int) ttl_duration=5,'
                    'ttl_col="a"')
    with pytest.raises(ValueError, match="Ttl column type illegal"):
        execute(sp, 'CREATE TAG ttl_tag02(a string,b int) ttl_duration=5,'
                    'ttl_col="a"')
    execute(sp, 'CREATE TAG ttl_tag02(a timestamp,b int) ttl_duration=5,'
                'ttl_col="a"')
    execute(sp, "CREATE EDGE ttl_edge01(a timestamp, b int) "
                'ttl_duration=9223372036854775807, ttl_col="a"')
    with pytest.raises(SyntaxError, match="Out of range: near "
                                          "`9223372036854775808'"):
        execute(sp, "CREATE EDGE ttl_edge02(a timestamp, b int) "
                    'ttl_duration=9223372036854775808, ttl_col="a"')
    with pytest.raises((SyntaxError, ValueError)):
        execute(sp, "CREATE EDGE ttl_edge02(a timestamp, b int) "
                    'ttl_duration=5.1, ttl_col="a"')
    execute(sp, 'CREATE EDGE ttl_edge03(a timestamp, b int) ttl_col="a"')
    with pytest.raises(SyntaxError, match="syntax error near"):
        execute(sp, "ALTER EDGE ttl_edge03 ttl_duration=-1")
    execute(sp, "ALTER EDGE ttl_edge03 ttl_duration=100")
    with pytest.raises(ValueError, match="Implicit ttl_col not support"):
        execute(sp, "CREATE EDGE ttl_edge04(a timestamp,b int) "
                    "ttl_duration=100")
    execute(sp, "CREATE EDGE ttl_edge04(a timestamp,b int)")
    with pytest.raises(ValueError, match="Unsupported!"):
        execute(sp, "ALTER EDGE ttl_edge04 ttl_duration=100")
    execute(sp, "CREATE TAG ttl_tag03(a timestamp,c string)")
    with pytest.raises(ValueError, match="Tag prop not existed!"):
        execute(sp, 'ALTER TAG ttl_tag03 ttl_duration=10, ttl_col="b"')
    execute(sp, 'ALTER TAG ttl_tag03 ttl_duration=10, ttl_col="a"')
    # SHOW CREATE reflects the ALTERed ttl
    r = execute(sp, "SHOW CREATE TAG ttl_tag03").collect()[0]
    assert 'ttl_duration = 10, ttl_col = "a"' in r["Create Tag"]
    # index creation on a ttl'd schema is allowed…
    execute(sp, "CREATE TAG INDEX index_ttl_tag03_a on ttl_tag03(a)")
    execute(sp, "CREATE TAG INDEX index_ttl_tag03_c on ttl_tag03(c(10))")
    # …but ALTERing ttl on an indexed schema refuses
    with pytest.raises(ValueError, match="Unsupported!"):
        execute(sp, "ALTER TAG ttl_tag03 ttl_duration=100")
    with pytest.raises(ValueError, match="Unsupported!"):
        execute(sp, 'ALTER TAG ttl_tag03 ttl_col="a"')
    execute(sp, "CREATE TAG ttl_tag04(a int,b int)")
    execute(sp, "CREATE TAG INDEX index_ttl_tag04_a on ttl_tag04(a)")
    with pytest.raises(ValueError, match="Unsupported!"):
        execute(sp, 'ALTER TAG ttl_tag04 ttl_col="a"')


# ---------------------------------------------------------------------------
# Geo — tests/tck/features/geo/GeoBase.feature (cell-id rows are covered
# by tests/test_geo.py under the repo's documented Z-order id contract)
# ---------------------------------------------------------------------------

@pytest.fixture
def geo_space(spark):
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE geob(partition_num=1, vid_type=FIXED_STRING(30));
        USE geob;
        CREATE TAG any_shape(geo geography, non_geo_prop int64);
        CREATE TAG only_point(geo geography(point));
        CREATE TAG only_linestring(geo geography(linestring));
        CREATE TAG only_polygon(geo geography(polygon));
        CREATE EDGE any_shape_edge(geo geography)
    """)
    return cat.spaces["geob"]


def test_geo_schema(geo_space):
    """GeoBase.feature "test geo schema" — DESC shapes, SHOW CREATE echo,
    geography DEFAULT validation at CREATE (bad WKT / wrong shape →
    Invalid param!)."""
    sp = geo_space
    df = execute(sp, "DESC TAG any_shape")
    assert rows(df, "Field", "Type") == [("geo", "geography"),
                                         ("non_geo_prop", "int64")]
    df = execute(sp, "DESC TAG only_point")
    assert rows(df, "Field", "Type") == [("geo", "geography(point)")]
    df = execute(sp, "DESC TAG only_linestring")
    assert rows(df, "Field", "Type") == [("geo", "geography(linestring)")]
    df = execute(sp, "DESC EDGE any_shape_edge")
    assert rows(df, "Field", "Type") == [("geo", "geography")]
    r = execute(sp, "SHOW CREATE TAG only_point").collect()[0]
    assert r["Create Tag"] == (
        'CREATE TAG `only_point` (\n `geo` geography(point) NULL\n'
        ') ttl_duration = 0, ttl_col = ""')
    execute(sp, "CREATE TAG test_1(geo geography DEFAULT ST_Point(3, 8))")
    execute(sp, "CREATE EDGE test_2(geo geography DEFAULT "
                'ST_GeogFromText("LINESTRING(0 1, 2 3)"))')
    with pytest.raises(ValueError, match="Invalid param!"):
        execute(sp, "CREATE EDGE test_2x(geo geography DEFAULT "
                    'ST_GeogFromText("LINESTRING(0 1, 2xxxx"))')
    with pytest.raises(ValueError, match="Invalid param!"):
        execute(sp, "CREATE TAG test_3(geo geography(point) DEFAULT "
                    'ST_GeogFromText("LineString(0 1, 2 3)"))')
    execute(sp, "CREATE TAG test_3(geo geography(linestring) DEFAULT "
                'ST_GeogFromText("LineString(0 1, 2 3)"))')
    execute(sp, 'INSERT VERTEX test_1() VALUES "test_101":()')
    execute(sp, 'INSERT EDGE test_2() VALUES "test_101"->"test_102":()')
    execute(sp, 'INSERT VERTEX test_3() VALUES "test_103":()')


def test_geo_curd(geo_space):
    """GeoBase.feature "test geo CURD" — any shape into geography,
    shape-constrained columns refuse other shapes and raw strings,
    ST_ASText round trips (with the reference's minimal-number
    rendering), geo indexes with s2 options echo through SHOW CREATE."""
    sp = geo_space
    err = "Storage Error: The data type"
    execute(sp, 'INSERT VERTEX any_shape(geo) VALUES '
                '"101":(ST_GeogFromText("POINT(3 8)"))')
    execute(sp, 'INSERT VERTEX any_shape(geo) VALUES '
                '"102":(ST_GeogFromText("LINESTRING(3 8, 4.7 73.23)"))')
    execute(sp, 'INSERT VERTEX any_shape(geo) VALUES '
                '"103":(ST_GeogFromText("POLYGON((0 1, 1 2, 2 3, 0 1))"))')
    with pytest.raises(ValueError, match=err):
        execute(sp, 'INSERT VERTEX any_shape(geo) VALUES '
                    '"104":("POINT(3 8)")')
    execute(sp, 'INSERT VERTEX only_point(geo) VALUES '
                '"201":(ST_GeogFromText("POINT(3 8)"))')
    for bad in ['"202":(ST_GeogFromText("LINESTRING(3 8, 4.7 73.23)"))',
                '"203":(ST_GeogFromText("POLYGON((0 1, 1 2, 2 3, 0 1))"))']:
        with pytest.raises(ValueError, match=err):
            execute(sp, f"INSERT VERTEX only_point(geo) VALUES {bad}")
    with pytest.raises(ValueError, match=err):
        execute(sp, 'INSERT VERTEX only_linestring(geo) VALUES '
                    '"301":(ST_GeogFromText("POINT(3 8)"))')
    execute(sp, 'INSERT VERTEX only_linestring(geo) VALUES '
                '"302":(ST_GeogFromText("LINESTRING(3 8, 4.7 73.23)"))')
    with pytest.raises(ValueError, match=err):
        execute(sp, 'INSERT VERTEX only_polygon(geo) VALUES '
                    '"402":(ST_GeogFromText("LINESTRING(3 8, 4.7 73.23)"))')
    execute(sp, 'INSERT VERTEX only_polygon(geo) VALUES '
                '"403":(ST_GeogFromText("POLYGON((0 1, 1 2, 2 3, 0 1))"))')
    execute(sp, 'INSERT EDGE any_shape_edge(geo) VALUES "201"->"302":'
                '(ST_GeogFromText("POLYGON((0 1, 1 2, 2 3, 0 1))"))')
    df = execute(sp, 'FETCH PROP ON any_shape "101","102","103" YIELD '
                     "ST_ASText(any_shape.geo) AS t")
    assert sorted(r.t for r in df.collect()) == [
        "LINESTRING(3 8, 4.7 73.23)", "POINT(3 8)",
        "POLYGON((0 1, 1 2, 2 3, 0 1))"]
    df = execute(sp, 'FETCH PROP ON only_point "201","202","203" YIELD '
                     "ST_ASText(only_point.geo) AS t")
    assert [r.t for r in df.collect()] == ["POINT(3 8)"]
    df = execute(sp, 'FETCH PROP ON any_shape_edge "201"->"302" YIELD '
                     "ST_ASText(any_shape_edge.geo) AS t")
    assert [r.t for r in df.collect()] == ["POLYGON((0 1, 1 2, 2 3, 0 1))"]
    # geo index DDL with s2 options + comment, SHOW CREATE echo, REBUILD
    execute(sp, "CREATE TAG INDEX any_shape_geo_index ON any_shape(geo) "
                'with (s2_max_level=30, s2_max_cells=8) comment "test"')
    execute(sp, "CREATE TAG INDEX non_geo_prop_index ON "
                "any_shape(non_geo_prop)")
    execute(sp, "CREATE TAG INDEX only_point_geo_index ON only_point(geo)"
                ' comment "test2"')
    execute(sp, "CREATE EDGE INDEX any_shape_edge_geo_index ON "
                "any_shape_edge(geo) with (s2_max_level=23)")
    r = execute(sp, "SHOW CREATE TAG INDEX any_shape_geo_index").collect()[0]
    assert r["Create Tag Index"] == (
        "CREATE TAG INDEX `any_shape_geo_index` ON `any_shape` "
        '(\n `geo`\n) WITH (s2_max_level = 30, s2_max_cells = 8) '
        'comment "test"')
    execute(sp, "REBUILD TAG INDEX any_shape_geo_index")
    # whole-index scans after inserting more shapes (minimal-number WKT:
    # the polygon hole's `1.0 1.0` echoes as `1 1`)
    execute(sp, 'INSERT VERTEX any_shape(geo) VALUES '
                '"108":(ST_GeogFromText("POINT(72.3 84.6)"))')
    execute(sp, 'INSERT EDGE any_shape_edge(geo) VALUES "108"->"408":'
                '(ST_GeogFromText("POLYGON((-20 -20, -20 20, 20 20, '
                "20 -20, -20 -20), (1.0 1.0, 2.0 2.0, 0.0 2.0, "
                '1.0 1.0))"))')
    df = execute(sp, "LOOKUP ON any_shape YIELD id(vertex) as id, "
                     "ST_ASText(any_shape.geo) AS t")
    assert sorted(rows(df, "id", "t")) == [
        ("101", "POINT(3 8)"), ("102", "LINESTRING(3 8, 4.7 73.23)"),
        ("103", "POLYGON((0 1, 1 2, 2 3, 0 1))"),
        ("108", "POINT(72.3 84.6)")]
    df = execute(sp, "LOOKUP ON any_shape_edge YIELD src(edge) as src, "
                     "dst(edge) as dst, ST_ASText(any_shape_edge.geo) AS t")
    assert sorted(rows(df, "src", "dst", "t")) == [
        ("108", "408", "POLYGON((-20 -20, -20 20, 20 20, 20 -20, "
         "-20 -20), (1 1, 2 2, 0 2, 1 1))"),
        ("201", "302", "POLYGON((0 1, 1 2, 2 3, 0 1))")]
    # MATCH over the geo tag
    df = execute(sp, "MATCH (v:any_shape) RETURN "
                     "ST_ASText(v.any_shape.geo) AS t")
    assert sorted(r.t for r in df.collect()) == [
        "LINESTRING(3 8, 4.7 73.23)", "POINT(3 8)", "POINT(72.3 84.6)",
        "POLYGON((0 1, 1 2, 2 3, 0 1))"]


# ---------------------------------------------------------------------------
# Bugfix corpus — tests/tck/features/bugfix/*.feature (the reference's
# regression pins; plan tables omitted per SURVEY §2.2)
# ---------------------------------------------------------------------------

def test_argument_plan_node_dep(nba_space):
    """ArgumentPlanNodeDep.feature #4938 — a second MATCH consuming the
    first MATCH's binding through an Argument join."""
    df = execute(nba_space, "MATCH (a:player) WHERE id(a)=='Tim Duncan' "
                            "MATCH (a)-[:like]-(b) RETURN count(*) AS cnt")
    assert rows(df, "cnt") == [(12,)]


def test_mt_safe_minus(nba_space):
    """MTSafeConcurrencyVariables.feature — MINUS over two YIELD branches
    (the reference re-runs 100× for a race; the semantic pin is the
    result)."""
    for _ in range(3):
        df = execute(nba_space, "YIELD 1 AS number MINUS YIELD 2 AS number")
        assert [r.number for r in df.collect()] == [1]


def test_create_duration_default(spark):
    """CreateDurationAsDefaultValue.feature — duration map-constructor
    DEFAULTs parse (top-level-comma split) and fill on omitted-prop
    inserts."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE durdef(partition_num=1, "
                 "vid_type=FIXED_STRING(30)); USE durdef")
    sp = cat.spaces["durdef"]
    execute(sp, "create tag ddl_tag1(col1 DURATION DEFAULT "
                "duration({years: 3, months: 2}))")
    execute(sp, "create edge ddl_edge1(col1 DURATION DEFAULT "
                "duration({years: 3, months: 2}))")
    execute(sp, 'INSERT VERTEX ddl_tag1() VALUES "t":()')
    assert execute(sp, 'FETCH PROP ON ddl_tag1 "t" '
                       "YIELD ddl_tag1.col1 AS c").count() == 1


def test_match_scan_edges_limit(student_space):
    """GetEdgesTransformLimitRule.feature — unfiltered edge pattern with
    LIMIT stays correct."""
    df = execute(student_space, "MATCH p=()-[e]->() RETURN p LIMIT 3")
    assert df.count() == 3


def test_lack_filter_get_edges(nba_space):
    """LackFilterGetEdges.feature #5145 — a non-pushable disjunct
    (uuid() > 100) must not drop the edge filter."""
    df = execute(nba_space, "match ()-[e*1]->() "
                            "where e[0].likeness > 78 or uuid() > 100 "
                            "return rank(e[0]) AS re limit 3")
    assert [r.re for r in df.collect()] == [0, 0, 0]
    df = execute(nba_space, "match ()-[e]->() "
                            "where e.likeness > 78 or uuid() > 100 "
                            "return rank(e) AS re limit 3")
    assert [r.re for r in df.collect()] == [0, 0, 0]


def test_insert_mismatched_datetime_type(spark):
    """InsertMismatchedTypeDateTime.feature #1318 — a temporal
    constructor of the WRONG kind into a typed column is the storage
    type error; matching constructors (or omitted props with defaults)
    are fine."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE mmdt(partition_num=1, "
                 "vid_type=FIXED_STRING(30)); USE mmdt")
    sp = cat.spaces["mmdt"]
    execute(sp, 'create tag ddl_tag1(col1 date default date("2017-03-04"),'
                " col2 datetime default "
                'datetime("2017-03-04T00:00:01"),'
                ' col3 time default time("11:11:11"))')
    execute(sp, "INSERT VERTEX ddl_tag1() VALUES 'test':()")
    err = "Storage Error: The data type"
    with pytest.raises(ValueError, match=err):
        execute(sp, "INSERT VERTEX ddl_tag1(col1, col2, col3) VALUES "
                    "'test':(date(\"2019-01-02\"), date('2019-01-02'), "
                    "time('11:11:11'))")
    with pytest.raises(ValueError, match=err):
        execute(sp, "INSERT VERTEX ddl_tag1(col1, col2, col3) VALUES "
                    "'test':(datetime(\"2019-01-02T00:00:00\"), "
                    "datetime('2019-01-02T00:00:00'), time('11:11:11'))")
    with pytest.raises(ValueError, match=err):
        execute(sp, "INSERT VERTEX ddl_tag1(col1, col2, col3) VALUES "
                    "'test':(date(\"2019-01-02\"), "
                    "datetime('2019-01-02T00:00:00'), "
                    "datetime('2019-01-02T11:11:11'))")


def test_label_index_crash(nba_space):
    """LabelIndexCrash.feature — an un-tagged attribute disjunct
    (x.name) must not crash the label-index path."""
    df = execute(nba_space, 'MATCH (x:bachelor) WHERE '
                            'x.bachelor.name == "Tim Duncan" '
                            'or x.name == "Tim Duncan" '
                            "RETURN x.bachelor.name AS n")
    assert rows(df, "n") == [("Tim Duncan",)]
    df = execute(nba_space, "MATCH (v:bachelor)-[e:serve]-(v2) WHERE "
                            'v.bachelor.name == "Tim Duncan" or '
                            "e.start_year > 2000 "
                            "RETURN v.bachelor.name AS n, "
                            "e.start_year AS y")
    assert rows(df, "n", "y") == [("Tim Duncan", 1997)]


def test_truncated_string_index(spark):
    """TruncatedStringIndex.feature — a length-truncated string index
    must not produce false exact matches; ranges stay correct."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE tsi(partition_num=1, "
                 "vid_type=FIXED_STRING(30)); USE tsi")
    sp = cat.spaces["tsi"]
    execute(sp, "create tag person(name string); "
                "create tag index p1 on person(name(3))")
    execute(sp, 'insert vertex person(name) values "1":("abc1"),'
                '"2":("abc2")')
    assert execute(sp, 'LOOKUP ON person WHERE person.name=="abc" '
                       "YIELD id(vertex) as id").count() == 0
    assert execute(sp, 'match (v:person) where v.person.name == "abc" '
                       "return v").count() == 0
    df = execute(sp, 'match (v:person) where v.person.name >= "abc" '
                     "return id(v) AS id")
    assert sorted(r.id for r in df.collect()) == ["1", "2"]
    df = execute(sp, 'match (v:person{name:"abc1"}) return id(v) AS id')
    assert [r.id for r in df.collect()] == ["1"]
    df = execute(sp, 'match (v:person) where v.person.name<="abc2" '
                     "return id(v) AS id")
    assert sorted(r.id for r in df.collect()) == ["1", "2"]


def test_alias_type_deduce(nba_space):
    """AliasTypeDeduce.feature — a WITH-projected edge VALUE
    (relationships(p)[1], and its list-slice form) reused as a bound
    edge inside a later pattern predicate."""
    df = execute(nba_space, "match p=(a:player)-[e:like*1..3]->(b) "
                            "where b.player.age>42 "
                            "with relationships(p)[1] AS e1 "
                            "match (b)-[:serve]->(c) "
                            'where c.team.name>"S" and (b)-[e1]->() '
                            "return count(c) AS cnt")
    assert rows(df, "cnt") == [(49,)]
    df = execute(nba_space, "match p=(a:player)-[e:like*1..3]->(b) "
                            "where b.player.age>42 "
                            "with relationships(p)[1..2][0] AS e1 "
                            "match (b)-[:serve]->(c) "
                            'where c.team.name>"S" and (b)-[e1]->() '
                            "return count(c) AS cnt")
    assert rows(df, "cnt") == [(49,)]


# ---------------------------------------------------------------------------
# Path expressions referencing local variables —
# tests/tck/features/match/PathExprRefLocalVariable.feature ("In Where"
# scenarios; the In With/In Return pattern-value forms with comprehension
# locals stay unported)
# ---------------------------------------------------------------------------

def test_path_expr_local_var_where(nba_space):
    """PathExprRefLocalVariable.feature "In Where" — a comprehension
    whose OUTPUT is a pattern expression is truthy iff its input list is
    non-empty (each element maps to a possibly-empty path list); bound
    edge aliases in the pattern constrain by edge identity."""
    df = execute(nba_space, "MATCH (v:player) WHERE "
                            "[t in [v] | (v)-[:like]->(t)] "
                            "RETURN v.player.name AS name")
    assert df.count() == 56
    df = execute(nba_space, "MATCH (v:player) WHERE "
                            "[t in [v] | (v)-[:like]->(t)] AND "
                            '(v)-[:serve]->(:team{name: "Spurs"}) '
                            "RETURN v.player.name AS name")
    assert sorted(r.name for r in df.collect()) == [
        "Aron Baynes", "Boris Diaw", "Cory Joseph", "Danny Green",
        "David West", "Dejounte Murray", "Jonathon Simmons",
        "Kyle Anderson", "LaMarcus Aldridge", "Manu Ginobili",
        "Marco Belinelli", "Paul Gasol", "Rudy Gay", "Tiago Splitter",
        "Tim Duncan", "Tony Parker", "Tracy McGrady"]
    df = execute(nba_space, "MATCH (v:player{name: 'Tim Duncan'})"
                            "-[:like]->() WHERE [t in [v] | (v)-->(t)] "
                            "RETURN v.player.name AS name")
    assert [r.name for r in df.collect()] == ["Tim Duncan", "Tim Duncan"]
    # a bound edge cannot run backwards
    df = execute(nba_space, "MATCH (v:player)-[e:like]->(n) WHERE "
                            "(n)-[e]->(:player) RETURN v")
    assert df.count() == 0
    # anonymous-endpoint pattern over the bound edge + prop filter
    df = execute(nba_space, "MATCH (v:player)-[e]->(n) WHERE "
                            "()-[e]->(:player) and e.likeness<80 "
                            "RETURN distinct v.player.name AS vname")
    assert sorted(r.vname for r in df.collect()) == [
        "Blake Griffin", "Danny Green", "Dirk Nowitzki", "Kyrie Irving",
        "LaMarcus Aldridge", "Marco Belinelli", "Rajon Rondo",
        "Ray Allen", "Rudy Gay", "Vince Carter"]


# ---------------------------------------------------------------------------
# openCypher conformance — openCypher/features/expressions/list/
# List2.feature (list slicing), map/Map1.feature (static access)
# ---------------------------------------------------------------------------

def test_opencypher_list_slicing(nba_space):
    """List2.feature [1]-[9] — slice bounds: implicit ends, singleton,
    empty, negative, inverted, exceeding, and null ranges."""
    cases = [
        ("WITH [1, 2, 3, 4, 5] AS l RETURN l[1..3] AS r", [2, 3]),
        ("WITH [1, 2, 3] AS l RETURN l[1..] AS r", [2, 3]),
        ("WITH [1, 2, 3] AS l RETURN l[..2] AS r", [1, 2]),
        ("WITH [1, 2, 3] AS l RETURN l[0..1] AS r", [1]),
        ("WITH [1, 2, 3] AS l RETURN l[0..0] AS r", []),
        ("WITH [1, 2, 3] AS l RETURN l[-3..-1] AS r", [1, 2]),
        ("WITH [1, 2, 3] AS l RETURN l[3..1] AS r", []),
        ("WITH [1, 2, 3] AS l RETURN l[-5..5] AS r", [1, 2, 3]),
        ("WITH [1, 2, 3] AS l RETURN l[null..null] AS r", None),
        ("WITH [1, 2, 3] AS l RETURN l[1..null] AS r", None),
        ("WITH [1, 2, 3] AS l RETURN l[null..3] AS r", None),
        ("WITH [1, 2, 3] AS l RETURN l[..null] AS r", None),
        ("WITH [1, 2, 3] AS l RETURN l[null..] AS r", None),
    ]
    for q, want in cases:
        got = execute(nba_space, q).collect()[0].r
        assert (list(got) if got is not None else None) == want, q


def test_opencypher_map_static_access(nba_space):
    """Map1.feature [1] — dot access on a map element of a list."""
    df = execute(nba_space, "WITH [{num: 0}, 1] AS l RETURN (l[0]).num AS r")
    assert [r.r for r in df.collect()] == [0]


# ---------------------------------------------------------------------------
# Int-vid parity — tests/tck/features/delete/DeleteVertex.IntVid.feature
# pipe scenarios + GO.IntVid.feature hash() seeds. Since r8 the repo's
# hash() IS the reference's (std::hash<Value>: MurmurHash64A for strings,
# functions/scalar.py murmur64a) — the fixture derives its vids with the
# same function, so hash("name") seeds resolve identically AND equal the
# reference's own printed int vids.
# ---------------------------------------------------------------------------

@pytest.fixture
def nba_int_space(spark):
    from nebula_spark.catalog import GraphSpace
    # vids are hash("name") — the ENGINE's hash (reference-exact
    # MurmurHash64A since r8), so `FETCH … hash("Tim Duncan")` keys in
    # the transcribed queries hit by construction
    from nebula_spark.functions.scalar import _hash
    player = _read(spark, "player", ["vid", "name", "age"]).select(
        _hash(F.col("vid")).alias("vid"), "name",
        F.col("age").cast("long").alias("age"))
    like = _read(spark, "like", ["src", "dst", "likeness"]).select(
        _hash(F.col("src")).alias("src"), _hash(F.col("dst")).alias("dst"),
        F.lit(0).cast("long").alias("_rank"),
        F.col("likeness").cast("long").alias("likeness")
    ).dropDuplicates(["src", "dst", "_rank"])
    bachelor = _read(spark, "bachelor", ["vid", "name", "speciality"]) \
        .select(_hash(F.col("vid")).alias("vid"), "name", "speciality")
    sp = GraphSpace(spark, "nba_int")
    sp.options = {"vid_type": "int64"}
    sp.create_tag("player", df=player)
    sp.create_tag("bachelor", df=bachelor)
    sp.create_edge("like", df=like)
    return sp


def test_delete_int_vertex_by_pipe(nba_int_space):
    """DeleteVertex.IntVid.feature "delete int vertex by pipe succeeded"
    — string-typed pipe columns refuse in an int64 space, fn-call key
    refs refuse as unevaluable, and the successful pipe DELETE cascades
    WITH EDGE."""
    sp = nba_int_space
    with pytest.raises(ValueError, match="Wrong vid type `STRING`"):
        execute(sp, 'GO FROM hash("Boris Diaw") OVER like YIELD '
                    "(string)like._src as id | DELETE VERTEX $-.id "
                    "WITH EDGE")
    df = execute(sp, 'GO FROM hash("Boris Diaw") OVER like '
                     "YIELD like._dst AS d")
    got = {r.d for r in df.collect()}
    from nebula_spark.functions.scalar import murmur64a
    want = {murmur64a(b"Tony Parker"), murmur64a(b"Tim Duncan")}
    assert got == want
    with pytest.raises(ValueError,
                       match=r"`src\(\$-\.e\)' is not an evaluable "
                             "expression"):
        execute(sp, 'GO FROM hash("Boris Diaw") OVER like YIELD edge as e'
                    " | DELETE VERTEX src($-.e) WITH EDGE")
    execute(sp, 'GO FROM hash("Boris Diaw") OVER like YIELD '
                "like._dst as id | DELETE VERTEX $-.id WITH EDGE")
    for seed in ("Boris Diaw", "Tony Parker", "Tim Duncan"):
        assert execute(sp, f'GO FROM hash("{seed}") OVER like '
                           "YIELD like._dst AS d").count() == 0


def test_yield_nospace_semantics(nba_space, spark):
    """yield/NoSpaceChosen.feature — cast expression-text column names,
    XOR precedence rendering, tag-prop/label refusals, and the
    no-space-chosen refusal for GO (the hash-call row is covered under
    the repo's stable-64-bit hash contract in tests/test_functions.py)."""
    df = execute(nba_space,
                 "YIELD 1+1, '1+1', (int)3.14, (string)(1+1), (string)true")
    assert df.columns == ["(1+1)", '"1+1"', "(INT)3.14", "(STRING)(1+1)",
                          "(STRING)true"]
    assert [tuple(r) for r in df.collect()] == [(2, "1+1", 3, "2", "true")]
    df = execute(nba_space, "YIELD NOT FALSE OR FALSE AND FALSE XOR FALSE")
    assert df.columns == ["((!(false) OR (false AND false)) XOR false)"]
    assert df.collect()[0][0] is True
    with pytest.raises(ValueError, match="TagNotFound: TagName `dummyTag`"):
        execute(nba_space, "YIELD $$.dummyTag.p")
    with pytest.raises(ValueError, match="TagNotFound: TagName `dummyTag`"):
        execute(nba_space, "YIELD $^.dummyTag.p")
    with pytest.raises(ValueError,
                       match=r"`\$-\.dummyTag', not exist prop "
                             "`dummyTag'"):
        execute(nba_space, "YIELD $-.dummyTag.p")
    with pytest.raises(ValueError, match="Invalid label identifiers: name"):
        execute(nba_space, "YIELD name")
    from nebula_spark.catalog import SpaceCatalog
    with pytest.raises(ValueError, match="Space was not chosen"):
        execute(SpaceCatalog(spark), 'GO FROM "Boris Diaw" OVER serve '
                "YIELD $^.player.name as name")


# ---------------------------------------------------------------------------
# Fulltext index DDL — tests/tck/features/fulltext_index/
# FultextIndexDDL.feature (the ES listener is obsolete under Spark —
# functions/fulltext.py scans natively — but the metadata lifecycle,
# type rules, and schema guards are real)
# ---------------------------------------------------------------------------

def test_fulltext_index_ddl(spark):
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE ftddl(partition_num=1, "
                 "vid_type=FIXED_STRING(30)); USE ftddl")
    sp = cat.spaces["ftddl"]
    execute(sp, "CREATE TAG ddl_tag(prop1 string,prop2 fixed_string(20),"
                "prop3 int); CREATE EDGE ddl_edge(prop1 string,"
                "prop2 float)")
    execute(sp, "CREATE FULLTEXT TAG INDEX nebula_index_ddl_tag_prop1 "
                "on ddl_tag(prop1)")
    execute(sp, "CREATE FULLTEXT TAG INDEX nebula_index_ddl_tag_prop2 "
                "on ddl_tag(prop2)")
    with pytest.raises(ValueError, match="Unsupported!"):
        execute(sp, "CREATE FULLTEXT TAG INDEX nebula_index_ddl_tag_prop3"
                    " on ddl_tag(prop3)")
    df = execute(sp, "SHOW FULLTEXT INDEXES")
    assert sorted(rows(df, "Name", "Schema Type", "Schema Name", "Fields",
                       "Analyzer")) == [
        ("nebula_index_ddl_tag_prop1", "Tag", "ddl_tag", "prop1",
         "default"),
        ("nebula_index_ddl_tag_prop2", "Tag", "ddl_tag", "prop2",
         "default")]
    execute(sp, "DROP FULLTEXT INDEX nebula_index_ddl_tag_prop1")
    execute(sp, "DROP FULLTEXT INDEX nebula_index_ddl_tag_prop2")
    assert execute(sp, "SHOW FULLTEXT INDEXES").count() == 0
    # re-create under the old name on a different field
    execute(sp, "CREATE FULLTEXT TAG INDEX nebula_index_ddl_tag_prop1 "
                "on ddl_tag(prop2)")
    df = execute(sp, "SHOW FULLTEXT INDEXES")
    assert rows(df, "Name", "Fields") == [
        ("nebula_index_ddl_tag_prop1", "prop2")]
    with pytest.raises(ValueError,
                       match="Related index exists, please drop index "
                             "first"):
        execute(sp, "DROP TAG ddl_tag")
    with pytest.raises(ValueError,
                       match="Related fulltext index exists, please "
                             "drop it first"):
        execute(sp, "ALTER TAG ddl_tag DROP (prop2)")
    execute(sp, "ALTER TAG ddl_tag DROP (prop1)")
    execute(sp, "ALTER TAG ddl_tag ADD (prop1_new string)")
    with pytest.raises(ValueError,
                       match="Related fulltext index exists, please "
                             "drop it first"):
        execute(sp, "ALTER TAG ddl_tag CHANGE (prop2 string)")
    execute(sp, "DROP FULLTEXT INDEX nebula_index_ddl_tag_prop1")
    execute(sp, "DROP TAG ddl_tag; DROP EDGE ddl_edge")


def test_index_selecting_match(spark):
    """match/IndexSelecting.feature — the feature pins the reference's
    index-selection plans; under Catalyst the selection is the
    optimizer's (SURVEY §2.1), so the pins here are the RESULTS of every
    scanned predicate shape (prefix, IN, degenerate ranges, mixed
    prefix+range, truncated-index ranges)."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE idxsel(partition_num=1, "
                 "vid_type=FIXED_STRING(30)); USE idxsel")
    sp = cat.spaces["idxsel"]
    execute(sp, "CREATE tag player(name string, age int, score int, "
                "gender bool)")
    execute(sp, 'INSERT VERTEX player(name, age, score, gender) VALUES '
                '"Tim Duncan":("Tim Duncan", 42, 28, true),'
                '"Yao Ming":("Yao Ming", 38, 23, true),'
                '"Nneka Ogwumike":("Nneka Ogwumike", 35, 13, false)')
    execute(sp, "create tag index player_index on player(); "
                "create tag index player_name_index on player(name(8)); "
                "create tag index player_age_name_index on "
                "player(age,name(8))")
    execute(sp, "rebuild tag index player_index, player_name_index, "
                "player_age_name_index")
    cases = [
        ('MATCH (v:player {name: "Yao Ming"}) RETURN v.player.name AS '
         "name", ["Yao Ming"]),
        ('MATCH (v:player) WHERE v.player.name in ["Yao Ming"] RETURN '
         "v.player.name AS name", ["Yao Ming"]),
        ('MATCH (v:player) WHERE v.player.name in ["Yao Ming", '
         '"Tim Duncan"] RETURN v.player.name AS name',
         ["Tim Duncan", "Yao Ming"]),
        ('MATCH (v:player) WHERE v.player.name == "Tim Duncan" and '
         'v.player.name < "Zom" RETURN v.player.name AS name',
         ["Tim Duncan"]),
        ('MATCH (v:player) WHERE v.player.name=="Tim Duncan" and '
         'v.player.age>4 and v.player.name>"A" RETURN v.player.name AS '
         "name", ["Tim Duncan"]),
        ('MATCH (v:player{name:"Tim Duncan"}) WHERE v.player.name < '
         '"Zom" RETURN v.player.name AS name', ["Tim Duncan"]),
        ('MATCH (v:player) WHERE v.player.name > "Tim" and '
         'v.player.name < "Zom" RETURN v.player.name AS name',
         ["Tim Duncan", "Yao Ming"]),
        ("MATCH (v:player) WHERE v.player.score < 20 RETURN "
         "v.player.name AS name", ["Nneka Ogwumike"]),
        ('MATCH (v:player) WHERE v.player.name == "Tim Duncan" and '
         "v.player.score == 28 RETURN v.player.name AS name",
         ["Tim Duncan"]),
    ]
    for q, want in cases:
        assert sorted(r.name for r in execute(sp, q).collect()) == want, q


def test_insert_time_types_timezones(spark):
    """InsertWithTimeType.feature timezone scenarios — UTC offsets,
    bracketed IANA zone names, a matched offset+zone pair, and the
    mismatched-pair Wrong value type refusal."""
    import datetime as _dt
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE ttz(partition_num=1, vid_type=FIXED_STRING(20));
        USE ttz;
        CREATE TAG tag_date(f_date DATE, f_time TIME, f_datetime DATETIME)
    """)
    sp = cat.spaces["ttz"]
    execute(sp, 'INSERT VERTEX tag_date(f_date, f_time, f_datetime) '
                'VALUES "test":(date("2017-03-04"), '
                'time("23:01:00.010000+01:00"), '
                'datetime("2017-03-04T22:30:40.003000-02:30"))')
    df = execute(sp, 'FETCH PROP ON tag_date "test" YIELD '
                     "tag_date.f_time AS t, tag_date.f_datetime AS dt")
    assert rows(df, "t", "dt") == [
        ("22:01:00.010000", _dt.datetime(2017, 3, 5, 1, 0, 40, 3000))]
    for suffix in ("[Asia/Shanghai]", "+08:00[Asia/Shanghai]"):
        execute(sp, 'INSERT VERTEX tag_date(f_date, f_time, f_datetime) '
                    'VALUES "test":(date("2017-03-04"), '
                    f'time("23:01:00.010000{suffix}"), '
                    f'datetime("2017-03-04T22:30:40.003000{suffix}"))')
        df = execute(sp, 'FETCH PROP ON tag_date "test" YIELD '
                         "tag_date.f_time AS t, tag_date.f_datetime AS dt")
        assert rows(df, "t", "dt") == [
            ("15:01:00.010000",
             _dt.datetime(2017, 3, 4, 14, 30, 40, 3000))], suffix
    with pytest.raises(ValueError, match=r'Wrong value type: time\('):
        execute(sp, 'INSERT VERTEX tag_date(f_time) VALUES "test":('
                    'time("23:01:00.010000-03:00[Asia/Shanghai]"))')
    with pytest.raises(ValueError, match=r"Wrong value type: datetime"):
        execute(sp, 'INSERT VERTEX tag_date(f_datetime) VALUES "test":('
                    'datetime("2017-03-04T22:30:40.003000+03:00'
                    '[Asia/Shanghai]"))')


def test_opencypher_path_relationships(nba_space):
    """openCypher Path2.feature [1]/[2] — relationships(p) over a
    *1..1 teammate pattern, anchored from either end."""
    want = sorted([
        ("Manu Ginobili", "Tim Duncan"), ("Manu Ginobili", "Tony Parker"),
        ("Tim Duncan", "Danny Green"), ("Tim Duncan", "LaMarcus Aldridge"),
        ("Tim Duncan", "Manu Ginobili"), ("Tim Duncan", "Tony Parker"),
        ("Tony Parker", "Kyle Anderson"),
        ("Tony Parker", "LaMarcus Aldridge"),
        ("Tony Parker", "Manu Ginobili"), ("Tony Parker", "Tim Duncan")])
    for q in ("MATCH p = (a:player)-[:teammate*1..1]->(b) "
              "RETURN relationships(p) AS r",
              "MATCH p = (a)-[:teammate*1..1]->(b:player) "
              "RETURN relationships(p) AS r"):
        df = execute(nba_space, q)
        got = sorted((r.r[0]["s"], r.r[0]["d"]) for r in df.collect())
        assert got == want, q


def test_opencypher_path_length(nba_space):
    """openCypher Path3.feature [1]/[2] — length() of zero-step paths
    from teams (no outgoing edges → all 30 at length 0), and length()
    of a node refusing."""
    df = execute(nba_space, "MATCH p = (a:team)-[*0..1]->(b) "
                            "RETURN a, length(p) AS l")
    ls = [r.l for r in df.collect()]
    assert len(ls) == 30 and set(ls) == {0}
    with pytest.raises((ValueError, Exception)):
        execute(nba_space, "MATCH (n) RETURN length(n)")


def test_prune_properties_space_switch(nba_space, student_space):
    """bugfix/PrunePropertiesError.feature — a USE switch mid-script must
    not leak the previous space's prop-pruning state into the next
    MATCH."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(nba_space.spark)
    cat.spaces["nba"] = nba_space
    cat.spaces["student"] = student_space
    execute(cat, "USE student")
    df = execute(cat, "USE nba; MATCH (u:player) RETURN count(*) AS n")
    assert [r.n for r in df.collect()] == [56]


def test_insert_edge_prop_named_rank(spark):
    """insert/InsertEdgeOnDiffParts.feature — a USER edge property named
    `rank` is legal (the reference keeps rank in a separate key
    namespace, NebulaKeyUtils.h:13-27; our key column is `_rank`):
    CREATE EDGE E(rank timestamp default timestamp()) round-trips, the
    default fires on a zero-prop INSERT, and E.rank reads the PROP."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE diffparts; USE diffparts;
        CREATE TAG IF NOT EXISTS V();
        CREATE EDGE IF NOT EXISTS E(rank timestamp default timestamp());
        INSERT VERTEX V() VALUES "v1":();
        INSERT VERTEX V() VALUES "v2":();
        INSERT EDGE E() VALUES "v1"->"v2":()
    """)
    df = execute(cat, 'USE diffparts; (GO FROM "v1" over E yield E.rank '
                      'union GO FROM "v2" over E REVERSELY yield E.rank) '
                      '| yield count(*) AS count')
    assert [r["count"] for r in df.collect()] == [1]
    # the default actually fired: the prop is a non-null timestamp
    df = execute(cat, 'USE diffparts; FETCH PROP ON E "v1"->"v2" '
                      'YIELD E.rank AS r')
    [row] = df.collect()
    assert row.r is not None
    # and rank(edge) still reads the KEY (0), not the prop
    df = execute(cat, 'USE diffparts; FETCH PROP ON E "v1"->"v2" '
                      'YIELD rank(edge) AS kr, E.rank AS pr')
    [row] = df.collect()
    assert row.kr == 0 and row.pr is not None


def test_create_prop_named_like_key_roundtrips(spark):
    """r8: user props named `vid`/`src`/`dst` are legal — the reference
    keeps keys outside the row payload (NebulaKeyUtils.h:13-27), and our
    physical key columns are namespaced `_vid`/`_src`/`_dst` so they
    never collide (the r7 `_rank` recipe applied to the whole key set).
    The pseudo-prop spellings and graph fns keep reading KEYS."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE keycol; USE keycol")
    execute(cat, "USE keycol; CREATE TAG t(vid int)")
    execute(cat, 'USE keycol; INSERT VERTEX t(vid) VALUES "k":(7)')
    [row] = execute(cat, 'USE keycol; FETCH PROP ON t "k" '
                         'YIELD t.vid AS pv, id(vertex) AS key').collect()
    assert (row.pv, row.key) == (7, "k")
    execute(cat, "USE keycol; CREATE EDGE e(src int, dst string)")
    execute(cat, 'USE keycol; INSERT EDGE e(src, dst) '
                 'VALUES "k"->"m"@0:(42, "payload")')
    [row] = execute(cat, 'USE keycol; FETCH PROP ON e "k"->"m" '
                         'YIELD src(edge) AS ks, dst(edge) AS kd, '
                         'e.src AS ps, e.dst AS pd, '
                         'e._src AS pss, e._dst AS psd').collect()
    assert (row.ks, row.kd) == ("k", "m")       # graph fns read keys
    assert (row.ps, row.pd) == (42, "payload")  # props read user columns
    assert (row.pss, row.psd) == ("k", "m")     # pseudo-props read keys
    # LOOKUP WHERE on the user prop seeks the prop, not the key
    [row] = execute(cat, 'USE keycol; LOOKUP ON e WHERE e.src > 40 '
                         'YIELD e.src AS v').collect()
    assert row.v == 42
    # `rank` stays legal too (r7) and the whole `_` prefix is the
    # key/meta namespace: the reference lexer can't spell such names
    # (scanner.lex LABEL), so CREATE refuses them
    execute(cat, "USE keycol; CREATE EDGE ok(rank int)")
    for bad in ("CREATE TAG b1(_rank int)", "CREATE EDGE b2(_src int)",
                "CREATE TAG b3(_vid int)", "CREATE EDGE b4(_x int)"):
        with pytest.raises(ValueError, match="syntax error"):
            execute(cat, "USE keycol; " + bad)
    # ALTER ADD is gated by the same rule
    with pytest.raises(ValueError, match="syntax error"):
        execute(cat, "USE keycol; ALTER TAG t ADD (_dir int)")
    execute(cat, "USE keycol; ALTER TAG t ADD (src int)")


def test_rank_pseudo_prop_and_user_prop_namespaces(spark):
    """Round-7 rank-namespace pins: after the `_rank` key rename, the
    GO/FETCH/LOOKUP `E._rank/_src/_dst/_type` pseudo-props keep reading
    the KEY, while a MATCH edge alias's `.rank` reads the USER prop,
    `rank(e)` the key, and `properties(e)` includes the user prop and
    excludes every key (NebulaKeyUtils.h:13-27 namespace split)."""
    like = spark.createDataFrame(
        [("p1", "p2", 0, 80, 5), ("p2", "p3", 1, 70, 9)],
        "src string, dst string, _rank long, likeness long, rank long")
    sp = GraphSpace(spark, "rankns")
    sp.create_tag("player", df=spark.createDataFrame(
        [("p1", "T"), ("p2", "U"), ("p3", "V")],
        "vid string, name string"))
    sp.create_edge("like", df=like)
    df = execute(sp, 'GO FROM "p1" OVER like YIELD like._rank AS r, '
                     "like._src AS s, like._dst AS d, like._type AS t, "
                     "like.rank AS pr")
    # re-pinned r11: `e._type` is the NUMERIC EdgeType id (GO.feature
    # "edge type" pins /-?\d+/; ids assign by schema-name order, so the
    # sole edge in this space is 1) — supersedes the r7 name rendering
    assert [tuple(x) for x in df.collect()] == [(0, "p1", "p2", 1, 5)]
    df = execute(sp, 'FETCH PROP ON like "p2"->"p3"@1 YIELD like._rank '
                     "AS kr, like.rank AS pr")
    assert [tuple(x) for x in df.collect()] == [(1, 9)]
    df = execute(sp, "MATCH (a)-[e:like]->(b) RETURN e.rank AS pr, "
                     "rank(e) AS kr ORDER BY pr")
    assert [tuple(x) for x in df.collect()] == [(5, 0), (9, 1)]
    # (r11) `ORDER BY e.rank` after `RETURN … AS m` is refused by the
    # reference — MatchValidator::validateOrderBy only admits bare
    # output-column labels (MatchValidator.cpp:871-899) — so sort the
    # collected rows instead
    [m1, m2] = sorted((r.m.asDict() for r in execute(
        sp, "MATCH (a)-[e:like]->(b) RETURN properties(e) AS m")
        .collect()), key=lambda m: m["rank"])
    assert m1 == {"likeness": 80, "rank": 5}
    assert m2 == {"likeness": 70, "rank": 9}


def test_delete_int_vid_tag(nba_int_space):
    """DeleteTag.IntVid.feature "delete int vid one vertex one tag" —
    hash("…") const-call keys; the vertex survives via bachelor with an
    EMPTY player row; LOOKUP stops finding it."""
    sp = nba_int_space
    df = execute(sp, 'FETCH PROP ON player hash("Tim Duncan") '
                     'YIELD player.name AS n, player.age AS a')
    assert rows(df, "n", "a") == [("Tim Duncan", 42)]
    execute(sp, 'DELETE TAG player FROM hash("Tim Duncan");')
    df = execute(sp, 'FETCH PROP ON player hash("Tim Duncan") '
                     'YIELD player.name AS n, player.age AS a')
    assert rows(df, "n", "a") == [(None, None)]
    df = execute(sp, 'FETCH PROP ON bachelor hash("Tim Duncan") YIELD '
                     'bachelor.name AS n, bachelor.speciality AS s')
    assert rows(df, "n", "s") == [("Tim Duncan", "psychology")]
    assert execute(sp, 'LOOKUP ON player WHERE player.name == '
                       '"Tim Duncan" YIELD id(vertex) as id').count() == 0


def test_delete_int_vid_tag_multiple(nba_int_space):
    """DeleteTag.IntVid.feature "delete int vid one vertex multiple tag"
    — deleting every tag removes the vertex entirely."""
    sp = nba_int_space
    execute(sp, 'DELETE TAG player, bachelor FROM hash("Tim Duncan");')
    assert execute(sp, 'FETCH PROP ON player hash("Tim Duncan") '
                       'YIELD player.name AS n').count() == 0
    assert execute(sp, 'FETCH PROP ON bachelor hash("Tim Duncan") '
                       'YIELD bachelor.name AS n').count() == 0


def test_delete_edge_int_vid(spark):
    """DeleteEdge.IntVid.feature "delete edges" — the full script through
    the front end: int-vid space DDL, INSERT with hash() keys (and
    int64 ranks up to 1561013237), GO checks before/after DELETE EDGE
    with hash() keys at specific ranks."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE dei (vid_type = int64); USE dei;
        CREATE TAG IF NOT EXISTS person(name string, age int);
        CREATE EDGE IF NOT EXISTS friend(intimacy int);
        CREATE EDGE IF NOT EXISTS schoolmate(likeness int);
        CREATE EDGE IF NOT EXISTS transfer(money int)
    """)
    execute(cat, '''USE dei;
        INSERT VERTEX person(name, age) VALUES
          hash("Zhangsan"):("Zhangsan", 22), hash("Lisi"):("Lisi", 23),
          hash("Jack"):("Jack", 18), hash("Rose"):("Rose", 19);
        INSERT EDGE friend(intimacy) VALUES
          hash("Zhangsan")->hash("Lisi")@15:(90),
          hash("Zhangsan")->hash("Jack")@12:(50),
          hash("Jack")->hash("Rose")@13:(100);
        INSERT EDGE schoolmate(likeness) VALUES
          hash("Zhangsan")->hash("Jack"):(60),
          hash("Lisi")->hash("Rose"):(70);
        INSERT EDGE transfer(money) VALUES
          hash("Zhangsan")->hash("Lisi")@1561013236:(33),
          hash("Zhangsan")->hash("Lisi")@1561013237:(77)''')
    df = execute(cat, 'USE dei; GO FROM hash("Zhangsan"), hash("Jack") '
                      "OVER friend YIELD $^.person.name AS n, "
                      "friend.intimacy AS i")
    assert sorted(rows(df, "n", "i")) == [
        ("Jack", 100), ("Zhangsan", 50), ("Zhangsan", 90)]
    df = execute(cat, 'USE dei; GO FROM hash("Zhangsan") OVER transfer '
                      "YIELD transfer._rank AS r, transfer.money AS m")
    assert sorted(rows(df, "r", "m")) == [
        (1561013236, 33), (1561013237, 77)]
    execute(cat, 'USE dei; DELETE EDGE friend '
                 'hash("Zhangsan")->hash("Lisi")@15, '
                 'hash("Jack")->hash("Rose")@13;')
    execute(cat, 'USE dei; DELETE EDGE schoolmate '
                 'hash("Lisi")->hash("Rose")')
    execute(cat, 'USE dei; DELETE EDGE transfer '
                 'hash("Zhangsan")->hash("Lisi")@1561013237')
    df = execute(cat, 'USE dei; GO FROM hash("Zhangsan"), hash("Jack") '
                      "OVER friend YIELD $^.person.name AS n, "
                      "friend.intimacy AS i")
    assert sorted(rows(df, "n", "i")) == [("Zhangsan", 50)]
    df = execute(cat, 'USE dei; GO FROM hash("Zhangsan") OVER transfer '
                      "YIELD transfer._rank AS r, transfer.money AS m")
    assert rows(df, "r", "m") == [(1561013236, 33)]
    # deleting a non-existent key is a no-op (feature's tail scenario)
    execute(cat, 'USE dei; DELETE EDGE friend hash("Zhangsan")->hash("Rose")')


def test_insert_vertex_multi_tag_forms(spark):
    """Insert.feature "insert vertex succeeded" forms 33-70: single-tag,
    no-parens (all declared props), multi-tag with every parens
    combination, and partial prop lists with defaults; FETCH PROP ON *
    sees the union of tags."""
    from nebula_spark.catalog import SpaceCatalog
    cat = SpaceCatalog(spark)
    execute(cat, """
        CREATE SPACE mtins; USE mtins;
        CREATE TAG person(name string DEFAULT "N", age int DEFAULT 0);
        CREATE TAG interest(name string DEFAULT "none")
    """)
    for q in (
        'INSERT VERTEX person(name, age) VALUES "Tom":("Tom", 22)',
        'INSERT VERTEX person VALUES "Tom":("Tom", 18)',
        'INSERT VERTEX person(name, age), interest(name) VALUES '
        '"Tom":("Tom", 18, "basketball")',
        'INSERT VERTEX person, interest(name) VALUES '
        '"Tom":("Tom", 18, "basketball")',
        'INSERT VERTEX person(name, age), interest VALUES '
        '"Tom":("Tom", 18, "basketball")',
        'INSERT VERTEX person(age), interest(name) VALUES '
        '"Tom":(18, "basketball")',
        'INSERT VERTEX person, interest VALUES '
        '"Tom":("Tom", 18, "basketball")',
    ):
        execute(cat, f"USE mtins; {q}")
    [r] = execute(cat, 'USE mtins; FETCH PROP ON * "Tom" '
                       "YIELD vertex AS node").collect()
    assert r.node.person.age == 18
    assert r.node.interest.name == "basketball"
    # the person(age) partial form filled name from the DEFAULT
    execute(cat, 'USE mtins; INSERT VERTEX person(age), interest(name) '
                 'VALUES "Ann":(30, "chess")')
    df = execute(cat, 'USE mtins; FETCH PROP ON person "Ann" '
                      "YIELD person.name AS n, person.age AS a")
    assert rows(df, "n", "a") == [("N", 30)]
    # count mismatch across the concatenated tuple is the reference's
    # value-count refusal
    with pytest.raises(ValueError, match="Column count doesn't match"):
        execute(cat, 'USE mtins; INSERT VERTEX person, interest VALUES '
                     '"X":("a", 1)')
