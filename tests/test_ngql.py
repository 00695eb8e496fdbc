"""nGQL/MATCH front-end tests — queries shaped like the reference's TCK
features (tests/tck/features/go, lookup, fetch, path, subgraph, match in
/root/reference), run on the synthesized nba-style fixture."""

from __future__ import annotations

import pytest

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans import execute, parse


@pytest.fixture(scope="module")
def space(spark, nba):
    sp = GraphSpace(spark, "nba")
    sp.create_tag("player", df=nba["player"])
    sp.create_tag("team", df=nba["team"])
    sp.create_edge("like", df=nba["like"])
    sp.create_edge("serve", df=nba["serve"])
    return sp


def test_parse_roundtrip_shapes():
    p = parse('GO 2 TO 3 STEPS FROM "a","b" OVER like, serve REVERSELY '
              'WHERE like.likeness > 80 YIELD dst(edge) AS d | LIMIT 5')
    assert len(p.stages) == 2
    go = p.stages[0]
    assert (go.min_steps, go.max_steps) == (2, 3)
    assert go.edges == ["like", "serve"] and go.direction == "in"


def test_go_basic(space):
    df = execute(space,
                 'GO FROM "p1" OVER like WHERE like.likeness >= 90 '
                 'YIELD dst(edge) AS d, like.likeness AS w')
    got = {(r.d, r.w) for r in df.collect()}
    assert got == {("p2", 95), ("p3", 90)}


def test_go_default_yield_and_reversely(space):
    df = execute(space, 'GO FROM "p1" OVER like REVERSELY')
    assert {r.dst for r in df.collect()} == {"p2"}


def test_go_two_steps_pipe_groupby(space):
    df = execute(space,
                 'GO 2 STEPS FROM "p1" OVER like YIELD dst(edge) AS d '
                 '| GROUP BY $-.d YIELD $-.d AS d, count(*) AS n')
    got = {(r.d, r.n) for r in df.collect()}
    # step2 from {p2,p3}: p2->p1,p2->p4,p3->p3,p3->p5
    assert got == {("p1", 1), ("p4", 1), ("p3", 1), ("p5", 1)}


def test_go_1_to_4_steps_matches_python(space, nba):
    # max_steps > 2 takes go()'s counted loop: checkpointed, counted
    # frontiers that stop on an empty one
    from collections import Counter
    like = [(r["_src"], r["_dst"]) for r in nba["like"].collect()]
    want, frontier = Counter(), {"p1"}
    for _ in range(4):
        hop = [(s, d) for s, d in like if s in frontier]
        want.update(hop)
        frontier = {d for _, d in hop}
    df = execute(space, 'GO 1 TO 4 STEPS FROM "p1" OVER like '
                        'YIELD src(edge) AS s, dst(edge) AS d')
    assert Counter((r.s, r.d) for r in df.collect()) == want


def test_go_dst_prop_join(space):
    df = execute(space,
                 'GO FROM "p1" OVER like WHERE $$.player.age > 40 '
                 'YIELD dst(edge) AS d, $$.player.name AS name')
    got = {(r.d, r.name) for r in df.collect()}
    assert got == {("p3", "Manu")}


def test_go_pipe_into_go(space):
    df = execute(space,
                 'GO FROM "p1" OVER like YIELD dst(edge) AS d '
                 '| GO FROM $-.d OVER like YIELD src(edge) AS s, dst(edge) AS d')
    got = {(r.s, r.d) for r in df.collect()}
    assert got == {("p2", "p1"), ("p2", "p4"), ("p3", "p3"), ("p3", "p5")}


def test_lookup_where(space):
    df = execute(space, 'LOOKUP ON player WHERE player.age > 40 '
                        'YIELD player.name AS name, player.age AS age')
    got = {(r.name, r.age) for r in df.collect()}
    assert got == {("Tim", 42), ("Manu", 41)}


def test_fetch_prop(space):
    df = execute(space, 'FETCH PROP ON player "p1", "p2" '
                        'YIELD player.name AS name')
    assert {r.name for r in df.collect()} == {"Tim", "Tony"}


def test_find_shortest_path(space):
    df = execute(space, 'FIND SHORTEST PATH FROM "p1" TO "p5" OVER like '
                        'UPTO 4 STEPS')
    rows = df.collect()
    assert len(rows) == 1 and rows[0].dist == 2


def test_find_all_path(space):
    df = execute(space, 'FIND ALL PATH FROM "p1" TO "p5" OVER like '
                        'UPTO 3 STEPS')
    got = {r.path_str for r in df.collect()}
    assert got == {"p1-[like]->p3|p3-[like]->p5",
                   "p1-[like]->p3|p3-[like]->p3|p3-[like]->p5"}


def test_get_subgraph(space):
    df = execute(space, 'GET SUBGRAPH 1 STEPS FROM "p1" OUT like')
    # legacy no-YIELD shape keeps public bare src/dst names (r8)
    got = {(r.src, r.dst) for r in df.collect()}
    assert ("p1", "p2") in got and ("p1", "p3") in got


def test_order_limit_pipe(space):
    df = execute(space,
                 'GO FROM "p1","p2","p3" OVER like '
                 'YIELD src(edge) AS s, like.likeness AS w '
                 '| ORDER BY $-.w DESC, $-.s | LIMIT 2')
    rows = [(r.s, r.w) for r in df.collect()]
    assert rows == [("p3", 100), ("p1", 95)]


def test_yield_where_stage(space):
    df = execute(space,
                 'GO FROM "p1" OVER like YIELD dst(edge) AS d, '
                 'like.likeness AS w | YIELD $-.d AS d WHERE $-.w > 92')
    assert [r.d for r in df.collect()] == ["p2"]


def test_match_basic(space):
    df = execute(space,
                 'MATCH (v:player)-[e:like]->(m:player) '
                 'WHERE v.player.age > 40 '
                 'RETURN v.player.name AS src_name, m.player.name AS dst_name,'
                 ' e.likeness AS w')
    got = {(r.src_name, r.dst_name, r.w) for r in df.collect()}
    assert got == {("Tim", "Tony", 95), ("Tim", "Manu", 90),
                   ("Manu", "Manu", 100), ("Manu", "Kobe", 80)}


def test_match_var_len_and_agg(space):
    df = execute(space,
                 'MATCH (v:player)-[e:like*1..2]->(m:player) '
                 'WHERE v.player.name == "Tim" '
                 'RETURN m.player.name AS name, count(*) AS n '
                 'ORDER BY name')
    got = {(r.name, r.n) for r in df.collect()}
    # 1 hop: Tony, Manu; 2 hops: Tim(via Tony), p4(None name, via Tony),
    # Manu->Manu self, Kobe
    assert ("Tony", 1) in got and ("Kobe", 1) in got
    assert ("Manu", 2) in got  # direct + via self-loop


def test_match_node_prop_filter(space):
    df = execute(space,
                 'MATCH (v:player {name: "Tim"})-[:serve]->(t:team) '
                 'RETURN t.team.name AS team, count(*) AS stints')
    got = {(r.team, r.stints) for r in df.collect()}
    assert got == {("Spurs", 2)}  # parallel edges rank 0/1


def test_union_all_and_distinct(space):
    q = ('GO FROM "p1" OVER like YIELD dst(edge) AS d '
         'UNION ALL GO FROM "p2" OVER like YIELD dst(edge) AS d')
    assert sorted(r.d for r in execute(space, q).collect()) \
        == ["p1", "p2", "p3", "p4"]
    q2 = ('GO FROM "p1" OVER like YIELD src(edge) AS s '
          'UNION GO FROM "p1" OVER like YIELD src(edge) AS s')
    assert [r.s for r in execute(space, q2).collect()] == ["p1"]


def test_intersect_minus(space):
    base = 'GO FROM "p1" OVER like YIELD dst(edge) AS d'
    # REVERSELY prop forms keep the adjacency-entry (negative-edge-type)
    # view: like._dst is the NEIGHBOR, like._src the start vertex
    # (GO.feature "multi edges over all"); the src(edge)/dst(edge)
    # FUNCTION forms instead report the stored orientation
    # (GoYieldVertexEdge.feature "edge type")
    q = f"{base} INTERSECT GO FROM \"p4\" OVER like REVERSELY YIELD like._dst AS d"
    # in-nbrs of p4 = p2 (p2->p4): like._dst reversed gives p2
    got = sorted(r.d for r in execute(space, q).collect())
    assert got == ["p2"]
    other = 'GO FROM "p2" OVER like REVERSELY YIELD like._src AS d'
    # like._src reversed = the start vertex, so `other` yields {p2}
    q2 = f"{base} MINUS {other}"
    assert sorted(r.d for r in execute(space, q2).collect()) == ["p3"]


def test_unwind_literal_and_pipe(space):
    df = execute(space, 'UNWIND [1, 2, 3] AS x | YIELD $-.x AS x WHERE $-.x > 1')
    assert sorted(r.x for r in df.collect()) == [2, 3]


def test_unwind_after_go(space):
    df = execute(space,
                 'GO FROM "p1" OVER like YIELD dst(edge) AS d '
                 '| UNWIND [10, 20] AS bonus')
    rows = {(r.d, r.bonus) for r in df.collect()}
    assert rows == {("p2", 10), ("p2", 20), ("p3", 10), ("p3", 20)}


def test_optional_match(space):
    # players and, when present, the team they serve
    df = execute(space,
                 'MATCH (v:player) OPTIONAL MATCH (v:player)-[:serve]->(t:team) '
                 'RETURN v.player.name AS name, t.team.name AS team')
    got = {(r.name, r.team) for r in df.collect()}
    assert ("Tim", "Spurs") in got
    assert ("Manu", None) in got  # Manu serves no team in the fixture


def test_match_with_clause(space):
    # WITH + implicit grouping, then filter on the aggregated value
    df = execute(space,
                 'MATCH (v:player)-[e:like]->(m:player) '
                 'WITH v, sum(e.likeness) AS s WHERE s > 150 '
                 'RETURN v.player.name AS name, s')
    got = {(r.name, r.s) for r in df.collect()}
    # p1: 95+90, p2: 95+50=145 (filtered), p3: 100+80
    assert got == {("Tim", 185), ("Manu", 180)}


def test_match_multi_pattern(space):
    # comma patterns share alias v: players who like someone AND serve a team
    df = execute(space,
                 'MATCH (v:player)-[:like]->(m:player), '
                 '(v:player)-[:serve]->(t:team) '
                 'RETURN DISTINCT v.player.name AS name')
    # likers: p1,p2,p3; servers: p1,p2,p5 → intersection Tim, Tony
    assert {r.name for r in df.collect()} == {"Tim", "Tony"}


def test_match_unwind_clause(space):
    df = execute(space,
                 'MATCH (v:player {name: "Tim"}) UNWIND [1, 2] AS k '
                 'RETURN v.player.name AS name, k')
    assert {(r.name, r.k) for r in df.collect()} == {("Tim", 1), ("Tim", 2)}


def test_pattern_predicate_exists(space):
    df = execute(space,
                 'MATCH (v:player) WHERE exists((v)-[:serve]->(:team)) '
                 'RETURN v.player.name AS name')
    assert {r.name for r in df.collect()} == {"Tim", "Tony", "Kobe"}


def test_pattern_predicate_not_exists(space):
    df = execute(space,
                 'MATCH (v:player) WHERE NOT exists((v)-[:serve]->(:team)) '
                 'AND v.player.age > 0 RETURN v.player.name AS name')
    assert {r.name for r in df.collect()} == {"Manu"}


def test_pattern_predicate_new_var_rejected(space):
    # the reference rejects new variables in WHERE pattern expressions
    # (MatchValidator.cpp:1272 checkMatchPathExpr), exists() included
    with pytest.raises(ValueError):
        execute(space, 'MATCH (v:player) WHERE '
                       'exists((v)-[:serve]->(t:team)) RETURN v')


def test_named_path_fixed(space):
    df = execute(space,
                 'MATCH p = (v:player {name: "Tim"})-[:like]->(m:player) '
                 'RETURN m.player.name AS name, length(p) AS n, '
                 'nodes(p) AS vids')
    got = {(r.name, r.n, tuple(r.vids)) for r in df.collect()}
    assert got == {("Tony", 1, ("p1", "p2")), ("Manu", 1, ("p1", "p3"))}


def test_named_path_varlen(space):
    df = execute(space,
                 'MATCH p = (v:player {name: "Tim"})-[:like*1..2]->(m:player) '
                 'RETURN m.player.name AS name, length(p) AS n')
    got = {(r.name, r.n) for r in df.collect()}
    # 1 hop: Tony, Manu; 2 hops: Tim (p1>p2>p1), Manu (p1>p3>p3),
    # Kobe (p1>p3>p5), None (p1>p2>p4)
    assert ("Tony", 1) in got and ("Kobe", 2) in got and ("Tim", 2) in got


def test_length_still_works_for_strings(space):
    df = execute(space,
                 'MATCH (v:player {name: "Tim"}) '
                 'RETURN length(v.player.name) AS n')
    assert df.collect()[0].n == 3


def test_list_comprehension_and_preds(space):
    df = execute(space, 'YIELD [x IN [1, 2, 3, 4] WHERE x % 2 == 0 | x * 10] AS l, '
                        'all(x IN [1, 2] WHERE x > 0) AS a, '
                        'any(x IN [1, 2] WHERE x > 1) AS b, '
                        'none(x IN [1, 2] WHERE x > 2) AS c, '
                        'single(x IN [1, 2] WHERE x == 2) AS d')
    r = df.collect()[0]
    assert list(r.l) == [20, 40]
    assert (r.a, r.b, r.c, r.d) == (True, True, True, True)


def test_reduce_and_subscript(space):
    df = execute(space, 'YIELD reduce(acc = 0, x IN [1, 2, 3] | acc + x) AS s, '
                        '[10, 20, 30][1] AS second, '
                        '[10, 20, 30][0..2] AS front')
    r = df.collect()[0]
    assert r.s == 6 and r.second == 20 and list(r.front) == [10, 20]


def test_reduce_over_path(space):
    # reduce over relationships(p): total likeness along 2-hop paths
    df = execute(space,
                 'MATCH p = (v:player {name: "Tim"})-[:like*2..2]->(m:player) '
                 'RETURN m.player.name AS name, '
                 'reduce(acc = 0, e IN relationships(p) | acc + e.r) AS ranks')
    rows = df.collect()
    assert len(rows) >= 2  # p1>p2>p1, p1>p3>p3, p1>p3>p5 (+p4 not a player? p4 is)
    assert all(r.ranks == 0 for r in rows)  # fixture ranks are all 0


def test_go_step_limit(space):
    # per-vertex cap, deterministic order (dst, rank): p1 keeps only p2
    df = execute(space, 'GO FROM "p1","p2" OVER like '
                        'YIELD src(edge) AS s, dst(edge) AS d LIMIT [1]')
    got = {(r.s, r.d) for r in df.collect()}
    assert got == {("p1", "p2"), ("p2", "p1")}


def test_go_step_sample(space):
    # SAMPLE is a GLOBAL per-step random draw (GO.feature "go step
    # sample": 3 steps with SAMPLE [1,3,2] returns exactly 2 rows), not
    # per-vertex truncation — that is LIMIT's semantics
    df = execute(space, 'GO FROM "p1","p2","p3" OVER like '
                        'YIELD src(edge) AS s, dst(edge) AS d SAMPLE [2]')
    rows = df.collect()
    assert len(rows) == 2
    assert {r.s for r in rows} <= {"p1", "p2", "p3"}
    # LIMIT keeps the per-vertex window (storage truncate) semantics
    df = execute(space, 'GO FROM "p1","p2","p3" OVER like '
                        'YIELD src(edge) AS s, dst(edge) AS d LIMIT [1]')
    rows = df.collect()
    assert len(rows) == 3
    assert {r.s for r in rows} == {"p1", "p2", "p3"}


def test_match_varlen_open_ended(spark):
    """`[e*]` and `[e*m..]` are OPEN-ENDED ranges (parser.yy
    match_step_range → MatchStepRange.h default max SIZE_MAX), NOT a
    capped window: traverse() iterates until per-path edge uniqueness
    empties the frontier. A 7-edge chain distinguishes unbounded from
    any small cap."""
    sp = GraphSpace(spark, "chain_open")
    n = 8
    sp.create_tag("node", df=spark.createDataFrame(
        [(f"n{i}",) for i in range(n)], "_vid string"))
    sp.create_edge("r", df=spark.createDataFrame(
        [(f"n{i}", f"n{i+1}", 0) for i in range(n - 1)],
        "_src string, _dst string, _rank long"))
    rows = execute(sp, 'MATCH (a:node)-[e:r*]->(b) '
                       "WHERE id(a) == 'n0' "
                       'RETURN id(b) AS b, size(e) AS hops').collect()
    got = {(r.b, r.hops) for r in rows}
    assert got == {(f"n{i}", i) for i in range(1, n)}, got
    # *3.. : lower bound honored, still unbounded above
    rows = execute(sp, 'MATCH (a:node)-[e:r*3..]->(b) '
                       "WHERE id(a) == 'n0' "
                       'RETURN size(e) AS hops').collect()
    assert sorted(r.hops for r in rows) == [3, 4, 5, 6, 7]


def test_graph_value_functions(space):
    df = execute(space,
                 'MATCH (v:player {name: "Tim"})-[e:serve]->(t:team) '
                 'RETURN id(v) AS vid, type(e) AS et, rank(e) AS rk, '
                 'startNode(e) AS sn, endNode(e) AS en '
                 'ORDER BY rk')
    rows = [(r.vid, r.et, r.rk, r.sn, r.en) for r in df.collect()]
    assert rows == [("p1", "serve", 0, "p1", "t1"),
                    ("p1", "serve", 1, "p1", "t1")]


def test_properties_and_vertex_struct(space):
    df = execute(space,
                 'MATCH (v:player {name: "Tim"}) '
                 'RETURN v, properties(v) AS p')
    r = df.collect()[0]
    assert r.v.vid == "p1" and r.v.name == "Tim" and r.v.age == 42
    assert r.p.name == "Tim" and r.p.age == 42


def test_syntax_error_position():
    with pytest.raises(SyntaxError):
        parse('GO FROM OVER like')


def test_shortest_path_fn(space):
    # shortestPath prunes non-minimal rows per (start,end) pair: p1->p3 is
    # reachable in 1 and 3 hops; only the 1-hop row survives. One row per
    # pair (deterministic representative).
    df = execute(space,
                 'MATCH p = shortestPath('
                 '(v:player {name: "Tim"})-[:like*1..3]->(m:player)) '
                 'RETURN id(m) AS d, length(p) AS n')
    got = {(r.d, r.n) for r in df.collect()}
    assert got == {("p2", 1), ("p3", 1), ("p1", 2), ("p5", 2), ("p4", 2)}
    assert len(df.collect()) == 5  # exactly one path per endpoint pair


def test_all_shortest_paths_fn(space):
    # allShortestPaths keeps every tied-minimal path; add WHERE to pin ends
    df = execute(space,
                 'MATCH p = allShortestPaths('
                 '(v:player)-[:like*1..3]->(m:player {name: "Kobe"})) '
                 'WHERE v.player.name == "Tim" '
                 'RETURN nodes(p) AS vids')
    got = {tuple(r.vids) for r in df.collect()}
    assert got == {("p1", "p3", "p5")}


def test_assign_variable(space):
    # $var = <stmt>; later FROM $var.col (AssignExecutor semantics)
    df = execute(space,
                 '$a = GO FROM "p1" OVER like YIELD dst(edge) AS d; '
                 'GO FROM $a.d OVER like YIELD DISTINCT dst(edge) AS d2')
    assert {r.d2 for r in df.collect()} == {"p1", "p4", "p3", "p5"}


def test_assign_default_column(space):
    # bare $a uses the variable's first column
    df = execute(space,
                 '$a = GO FROM "p1" OVER like YIELD dst(edge) AS d; '
                 'GO FROM $a OVER like YIELD DISTINCT dst(edge) AS d2')
    assert {r.d2 for r in df.collect()} == {"p1", "p4", "p3", "p5"}


def test_return_skip_limit(space):
    df = execute(space,
                 'MATCH (v:player) RETURN id(v) AS vid '
                 'ORDER BY vid SKIP 1 LIMIT 2')
    assert [r.vid for r in df.collect()] == ["p2", "p3"]


def test_dml_vertex_lifecycle(spark, nba):
    sp = GraphSpace(spark, "dml")
    sp.create_tag("player", df=nba["player"])
    sp.create_edge("like", df=nba["like"])

    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p9":("Zed", 21)')
    got = {r["_vid"]: (r.name, r.age) for r in sp.tag("player").collect()}
    assert got["p9"] == ("Zed", 21)

    execute(sp, 'UPDATE VERTEX ON player "p9" SET age = age + 1')
    assert sp.tag("player").filter("_vid = 'p9'").collect()[0].age == 22

    execute(sp, 'UPSERT VERTEX ON player "p10" SET age = 1')
    assert sp.tag("player").filter("_vid = 'p10'").collect()[0].age == 1

    # plain INSERT overwrites (AddVerticesProcessor upsert semantics);
    # IF NOT EXISTS keeps the stored row
    execute(sp, 'INSERT VERTEX IF NOT EXISTS player(name, age) '
                'VALUES "p9":("Other", 99)')
    assert sp.tag("player").filter("_vid = 'p9'").collect()[0].age == 22
    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p9":("Other", 99)')
    assert sp.tag("player").filter("_vid = 'p9'").collect()[0].age == 99

    execute(sp, 'INSERT EDGE like(likeness) VALUES "p1"->"p9"@0:(50)')
    assert sp.edge("like").filter("_dst = 'p9'").count() == 1

    execute(sp, 'DELETE VERTEX "p9" WITH EDGE')
    assert sp.tag("player").filter("_vid = 'p9'").count() == 0
    assert sp.edge("like").filter("_dst = 'p9'").count() == 0

    execute(sp, 'DELETE EDGE like "p1"->"p2"@0')
    assert sp.edge("like").filter("_src = 'p1' AND _dst = 'p2'").count() == 0


def test_dml_edge_update(spark, nba):
    sp = GraphSpace(spark, "dml2")
    sp.create_edge("serve", df=nba["serve"])
    # parallel edges discriminated by rank (Edge.h ranking)
    execute(sp, 'UPDATE EDGE ON serve "p1"->"t1"@1 SET end_year = 2019')
    rows = {r["_rank"]: r.end_year
            for r in sp.edge("serve").filter("_src = 'p1'").collect()}
    assert rows == {0: 2016, 1: 2019}


def test_explain_surface(space):
    # EXPLAIN returns the Catalyst physical plan, not results
    df = execute(space, 'EXPLAIN GO FROM "p1" OVER like YIELD dst(edge) AS d')
    rows = df.collect()
    assert len(rows) == 1 and "Physical Plan" in rows[0].plan

    from nebula_spark.plans.executor import explain
    txt = explain(space, 'MATCH (v:player) WHERE v.player.age > 40 '
                         'RETURN v.player.name AS name')
    assert "PushedFilters" in txt or "Filter" in txt


def test_show_tags_edges(space):
    df = execute(space, "SHOW TAGS")
    assert df.columns == ["Name"]
    assert {r.Name for r in df.collect()} == {"player", "team"}
    df = execute(space, "SHOW EDGES")
    assert {r.Name for r in df.collect()} == {"like", "serve"}


def test_describe_tag_edge(space):
    # DescTagExecutor shape (TypoError.feature): PROP rows only — the
    # vid/src/dst/rank keys are storage layout, not schema fields
    df = execute(space, "DESCRIBE TAG player")
    assert df.columns == ["Field", "Type", "Null", "Default", "Comment"]
    fields = {r.Field for r in df.collect()}
    assert {"name", "age"} <= fields and "vid" not in fields
    df = execute(space, "DESC EDGE like")
    efields = {r.Field for r in df.collect()}
    assert "likeness" in efields and not {"src", "dst", "_rank"} & efields
    with pytest.raises(KeyError):
        execute(space, "DESCRIBE TAG like")   # like is an edge, not a tag


def test_show_stats(space):
    df = execute(space, "SHOW STATS")
    assert df.columns == ["Type", "Name", "Count"]
    rows = {(r.Type, r.Name): r.Count for r in df.collect()}
    assert rows[("tag", "player")] > 0
    assert rows[("space", "edges")] == rows[("edge", "like")] + rows[("edge", "serve")]


def test_typed_null_strict_mode(space):
    """Reference typed-null kinds (Value.h:37-46): default mode normalizes
    to plain NULL (SURVEY §1.1 documented deviation); strict_nulls maps the
    raising kinds onto Spark ANSI errors. Reference raises these at
    validation time for constants (yield.feature:505 'Divide by 0',
    ':502 overflow'); with Catalyst the same queries raise at first action
    inside the context."""
    import pytest

    from nebula_spark.session import strict_nulls

    spark = space.spark

    # DIV_BY_ZERO on CONSTANTS is the reference's validation-time
    # SemanticError in every mode (yield.feature:505 'Divide by 0' —
    # the r9 sweep aligned the fold); runtime (column-typed) division
    # keeps the default-NULL / strict-raise split
    for q in ("YIELD 1/0 AS x", "YIELD 2%0 AS x"):
        with pytest.raises(ValueError, match="Divide by 0"):
            execute(space, q).collect()
    rt_div = ('LOOKUP ON player YIELD player.age AS a | '
              'YIELD $-.a/0 AS x | LIMIT 1')
    assert execute(space, rt_div).collect()[0].x is None
    with strict_nulls(spark):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO|Division"):
            execute(space, rt_div).collect()

    # ERR_OVERFLOW: constant overflow refuses at validation
    # (yield.feature:502, CalculateOverflow); runtime overflow wraps in
    # default mode (int64 two's complement — the same cells Spark
    # computes) and raises in strict
    with pytest.raises(ValueError, match="cannot be represented"):
        execute(space, "YIELD 9223372036854775807*-2 AS x").collect()
    rt_ovf = ('LOOKUP ON player YIELD player.age AS a | '
              'YIELD ($-.a*0+9223372036854775807)+($-.a*0+1) AS x | LIMIT 1')
    assert execute(space, rt_ovf).collect()[0].x == -2**63
    with strict_nulls(spark):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
            execute(space, rt_ovf).collect()

    # BAD_DATA: unparseable cast — default NULL, strict raises
    assert execute(space, 'YIELD (INT)"abc" AS x').collect()[0].x is None
    with strict_nulls(spark):
        with pytest.raises(Exception, match="CAST_INVALID_INPUT|cannot be cast"):
            execute(space, 'YIELD (INT)"abc" AS x').collect()

    # __NULL__ propagation stays NULL in BOTH modes (null + 1 is null,
    # not an error — reference Value arithmetic on kNullValue)
    assert execute(space, "YIELD null + 1 AS x").collect()[0].x is None
    with strict_nulls(spark):
        assert execute(space, "YIELD null + 1 AS x").collect()[0].x is None


def test_shortest_path_fn_both_direction(space):
    """BOTH-direction shortestPath routes to level-pruned BFS with the
    root pre-visited; the root-cycle rows (whose prefixes break the BFS
    minimality invariant) come from the meet-in-the-middle
    shortest_cycles search. From Tim(p1) over undirected like: p2/p3 at
    1 hop, p4/p5 at 2, and p1 itself at 2 via the p1→p2→p1 two-edge
    cycle (distinct stored edges, so edge-uniqueness allows it)."""
    df = execute(space,
                 'MATCH p = shortestPath('
                 '(v:player {name: "Tim"})-[:like*1..3]-(m:player)) '
                 'RETURN id(m) AS d, length(p) AS n')
    got = {(r.d, r.n) for r in df.collect()}
    assert got == {("p2", 1), ("p3", 1), ("p1", 2), ("p5", 2), ("p4", 2)}
    assert len(df.collect()) == 5


# -- USE / CREATE SPACE / DROP SPACE (parser.yy:2431 use_sentence,
# :3633 create_space_sentence; Validator.cpp:355 "Space was not chosen.")


def test_use_space_prefix_goldens_unchanged(space):
    """Reference TCK scripts open every file with `USE nba;` — the same
    leading USE over the wrapped single-space form must leave existing
    goldens byte-identical."""
    cases = [
        ('GO FROM "p1" OVER like WHERE like.likeness >= 90 '
         'YIELD dst(edge) AS d, like.likeness AS w',
         {("p2", 95), ("p3", 90)}),
        ('GO FROM "p1" OVER like REVERSELY YIELD like._dst AS d, '
         '1 AS w', {("p2", 1)}),
        ('LOOKUP ON player WHERE player.age > 40 '
         'YIELD player.name AS name, player.age AS age',
         {("Tim", 42), ("Manu", 41)}),
        ('FETCH PROP ON player "p1", "p2" YIELD player.name AS name, '
         '1 AS one', {("Tim", 1), ("Tony", 1)}),
        ('GO 2 STEPS FROM "p1" OVER like YIELD dst(edge) AS d '
         '| GROUP BY $-.d YIELD $-.d AS d, count(*) AS n',
         {("p1", 1), ("p4", 1), ("p3", 1), ("p5", 1)}),
        ('MATCH (v:player {name: "Tim"})-[:like]->(m:player) '
         'RETURN id(m) AS d, 0 AS z', {("p2", 0), ("p3", 0)}),
    ]
    for q, want in cases:
        got = {tuple(r) for r in execute(space, "USE nba; " + q).collect()}
        assert got == want, q


def test_use_unknown_space_and_no_space_chosen(spark):
    from nebula_spark.catalog import SpaceCatalog

    cat = SpaceCatalog(spark)
    with pytest.raises(KeyError, match="SpaceNotFound"):
        execute(cat, "USE nowhere")
    with pytest.raises(ValueError, match="Space was not chosen"):
        execute(cat, "YIELD 1 AS x")


def test_multi_space_script(spark):
    """A catalog-level script: two spaces created, populated and queried
    with USE switches; same-named tags stay isolated per space; DROP
    SPACE removes one and leaves the other intact."""
    from nebula_spark.catalog import SpaceCatalog

    cat = SpaceCatalog(spark)
    df = execute(cat, """
        CREATE SPACE s1(partition_num=10, vid_type=FIXED_STRING(20));
        CREATE SPACE IF NOT EXISTS s2;
        USE s1;
        CREATE TAG player(name string, age int);
        INSERT VERTEX player(name, age) VALUES "a": ("Ann", 30);
        USE s2;
        CREATE TAG player(name string, age int);
        INSERT VERTEX player(name, age) VALUES "b": ("Bob", 40),
                                               "c": ("Cy", 50);
        USE s1;
        LOOKUP ON player YIELD player.name AS name, player.age AS age
    """)
    assert {tuple(r) for r in df.collect()} == {("Ann", 30)}
    df2 = execute(cat, "USE s2; LOOKUP ON player "
                       "YIELD player.name AS name | ORDER BY $-.name")
    assert [r.name for r in df2.collect()] == ["Bob", "Cy"]
    assert cat.spaces["s1"].options["partition_num"] == "10"
    assert cat.spaces["s1"].options["vid_type"] == "FIXED_STRING(20)"
    shows = execute(cat, "SHOW SPACES")
    assert [r.Name for r in shows.collect()] == ["s1", "s2"]
    execute(cat, "DROP SPACE s1")
    assert cat.show_spaces() == ["s2"]
    with pytest.raises(KeyError):
        execute(cat, "USE s1; YIELD 1 AS x")
    # s2 survives untouched
    assert execute(cat, "USE s2; LOOKUP ON player "
                        "YIELD player.name AS n").count() == 2


def test_fuzz_found_refusals(space):
    """Round-7 executor-fuzz regressions: every one of these previously
    escaped as a Python/JVM traceback; all must raise the controlled
    refusal classes with reference-style phrasing."""
    # zero-arg graph fn with no binding in scope (was TypeError)
    with pytest.raises(ValueError, match="not a valid expression"):
        execute(space, "YIELD [x IN [1,2,id(vertex)] WHERE x > 1 | x] AS l")
    # a missing-tag access in a WITH projection is NULL-on-miss since the
    # struct/map field-chain rework (r11 build: `v.playername` is a tag
    # access on a vertex without that tag → NULL, the reference's
    # UNKNOWN_PROP fold; formerly pinned as a SemanticError refusal) —
    # collect() then drops the NULLs
    rows = execute(space, "MATCH (v) WHERE v.player.age > 3 "
                          "WITH v.playername AS n RETURN collect(n)").collect()
    assert len(rows) == 1 and rows[0][0] == []
    # undefined alias in WHERE (was AnalysisException)
    with pytest.raises(ValueError, match="SemanticError"):
        execute(space, "MATCH (v) WHERE vv.player.age > 3 RETURN v")


def test_executor_fuzz_smoke(space):
    """Deterministic executor-level fuzz smoke (the round-7 manual probe,
    pinned): mutate valid statements, execute every one that parses, and
    require the controlled refusal classes — plan-build time Catalyst
    errors surface as SemanticError ValueErrors, never raw tracebacks.

    Default 120 trials keep CI fast; set SPARK_GRAFT_DEEP_FUZZ (e.g.
    2000) for the nightly-depth run the r7 verdict asked for — same
    harness, same seed derivation, just more mutations."""
    import os
    import random
    import re as _re
    trials = int(os.environ.get("SPARK_GRAFT_DEEP_FUZZ", "120"))
    rnd = random.Random(20260815)
    corpus = [
        'GO FROM "p1" OVER like YIELD like._dst AS d',
        'FETCH PROP ON player "p1" YIELD player.name AS n',
        'LOOKUP ON player WHERE player.age > 3 YIELD id(vertex) as v',
        "MATCH (v:player)-[e:like*1..2]->(w) RETURN v, count(*)",
        "MATCH (v) WHERE v.player.age > 3 WITH v.player.name AS n "
        "RETURN collect(n)",
        "YIELD [x IN [1,2,3] WHERE x > 1 | x + 1] AS l",
        "UNWIND [1, 2, NULL] AS u RETURN u",
        'GO FROM "p1" OVER like YIELD dst(edge) AS d '
        '| GO FROM $-.d OVER like YIELD like._dst',
        'INSERT VERTEX player(name, age) VALUES "p9":("Z", 1)',
        'FETCH PROP ON like "p1"->"p2"@0 YIELD like._rank AS r',
        'LOOKUP ON player YIELD id(vertex) AS id '
        '| DELETE TAG player FROM $-.id',
        'DELETE EDGE like "p1"->"p2"@0',
        'MATCH (a:player)-->(b) RETURN b.player.name AS n',
        'RETURN 1 IN MAP{a:1} AS m, size(SET{}) AS z',
        'GO FROM "p1" OVER like YIELD id($$) AS v | RETURN $-.v AS v',
    ]
    pool = ["age", "name", "player", "like", "p1", "$-.d", "id(vertex)",
            "dst(edge)", "rank(edge)", "*", "0", "NULL", "count(*)",
            "edge", "vertex", "path"]
    from nebula_spark.plans import ngql as A
    executed = 0
    for _ in range(trials):
        q = rnd.choice(corpus)
        toks = _re.findall(r"\s+|\w+|.", q)
        i = rnd.randrange(len(toks))
        mode = rnd.randrange(4)
        if mode == 0:
            toks = toks[:i] + toks[i + 1:]
        elif mode == 1:
            j = rnd.randrange(len(toks))
            toks[i], toks[j] = toks[j], toks[i]
        elif mode == 2:
            toks[i] = rnd.choice(pool)
        else:
            toks = toks[:i] + [" ", rnd.choice(pool), " "] + toks[i:]
        q2 = "".join(toks)
        try:
            A.parse(q2)
        except (SyntaxError, ValueError, KeyError):
            continue
        try:
            execute(space, q2)       # plan build — no job needed to
            executed += 1            # surface the analysis-error class
        except (ValueError, KeyError, SyntaxError):
            executed += 1
        # anything else (TypeError, AttributeError, raw Py4J…) fails
    assert executed > 20             # the corpus must actually exercise


def test_fuzz_found_refusals_dml(spark, nba):
    """Round-7 fuzz batch 2: INSERT value-count mismatch crashed with
    IndexError (reference: MutateValidator.cpp:105,224), standalone
    GROUP BY crashed with NoneType.groupBy."""
    sp = GraphSpace(spark, "fzdml")
    sp.create_tag("player", df=nba["player"])
    with pytest.raises(ValueError, match="Column count doesn't match"):
        execute(sp, 'INSERT VERTEX player(name, age) VALUES "p9":("Z")')
    with pytest.raises(ValueError, match="Column count doesn't match"):
        execute(sp, 'INSERT VERTEX player(name) VALUES "p9":("Z", 1, 2)')
    with pytest.raises(ValueError, match="not exist prop"):
        execute(sp, "GROUP BY $-.d YIELD $-.d, count(*) AS c")
    # r8 fuzz batch: zero-arity aggregate crashed with IndexError
    with pytest.raises(ValueError, match="wrong number of arguments"):
        execute(sp, "YIELD sum() AS s")
