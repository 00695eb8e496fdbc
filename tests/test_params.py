"""Parameterized-query goldens ported from the reference's
tests/tck/features/yield/parameter.feature (and the vid/sample refusal
scenarios it shares with bugfix/ParameterQuery.feature).

The reference binds parameters per session and rewrites `$name` reads in
the validators (graph/util/ExpressionUtils rewriteParameter); here
`execute(space, query, params={...})` substitutes at parse time, folding
`$p.a.b[0]` attribute/subscript chains to constants so LIMIT and pattern
positions keep their integer/literal requirements.

Tests whose answers need the reference's NBA data run on ``nba_space``
(skipped when that corpus is absent); the literal `RETURN $p…` forms and
the refusals need no data and run on ``space``, a df-backed space over
the synthesized ``nba`` fixture (tests/conftest.py).
"""
import pytest

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans.executor import execute
from test_tck_goldens import nba_space  # noqa: F401 — shared fixture

# the Background block's parameter set, verbatim
PARAMS = {
    "p1": 1, "p2": True, "p3": "Tim Duncan", "p4": 3.3,
    "p5": [1, True, 3],
    "p6": {"a": 3, "b": False, "c": "Tim Duncan"},
    "p7": {"a": {"b": {"c": "Tim Duncan",
                       "d": [1, 2, 3, True, "Tim Duncan"]}}},
    "p8": "Manu Ginobili",
    "p9": ["Tim Duncan", "Tony Parker"],
    "p10": 90,
}


def rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def space(spark, nba):
    sp = GraphSpace(spark, "nba_params")
    for t in ("player", "team"):
        sp.create_tag(t, df=nba[t])
    for e in ("like", "serve"):
        sp.create_edge(e, df=nba[e])
    return sp


def test_param_without_define(space):
    # [param-test-001]
    with pytest.raises(SyntaxError,
                       match=r"Direct output of variable is prohibited "
                             r"near `\$p_not_exist'"):
        execute(space, "RETURN $p_not_exist AS v", PARAMS)


def test_param_null_predicates(space):
    # [param-test-002]
    assert rows(execute(space, "RETURN $p1 is not null AS v",
                        PARAMS)) == [(True,)]
    assert rows(execute(space, "RETURN $p1 is null AS v",
                        PARAMS)) == [(False,)]


def test_param_return_expressions(space):
    # [param-test-003] (the `$p5 AS lval` mixed-type list column is the
    # documented typed-array deviation — asserted separately without it)
    df = execute(space,
                 'RETURN abs($p1)+1 AS ival, $p2 and false AS bval, '
                 '$p3+"ef" AS sval, round($p4)+1.1 AS fval, '
                 "$p6.a AS mval, "
                 "all(item in $p7.a.b.d where item<4 or ((item>0) is null))"
                 " AS pval", PARAMS)
    assert rows(df) == [(2, False, "Tim Duncanef", 4.1, 3, True)]


def test_param_return_map(space):
    # [param-test-003] map value — struct-encoded like map literals
    df = execute(space, "RETURN $p6 AS v", PARAMS)
    [(v,)] = rows(df)
    assert v.a == 3 and v.b is False and v.c == "Tim Duncan"


def test_param_match_where(nba_space):
    # [param-test-004]
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v)==$p3 RETURN id(v) AS v", PARAMS)
    assert rows(df) == [("Tim Duncan",)]
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) IN [$p3,$p8] RETURN id(v) AS v",
                 PARAMS)
    assert sorted(rows(df)) == [("Manu Ginobili",), ("Tim Duncan",)]
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) == $p7.a.b.d[4] RETURN id(v) AS v",
                 PARAMS)
    assert rows(df) == [("Tim Duncan",)]
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) IN $p7.a.b.d RETURN id(v) AS v",
                 PARAMS)
    assert rows(df) == [("Tim Duncan",)]
    df = execute(nba_space,
                 "MATCH (v) WHERE id(v) IN $p9 RETURN v.player.name AS v",
                 PARAMS)
    assert sorted(rows(df)) == [("Tim Duncan",), ("Tony Parker",)]


def test_param_match_limit(nba_space):
    # [param-test-004] LIMIT arithmetic over parameters
    df = execute(nba_space,
                 "MATCH (v:player)-[:like]->(n) WHERE id(v)==$p3 and "
                 "n.player.age>$p1+29 "
                 "RETURN n.player.name AS dst LIMIT $p1+1", PARAMS)
    assert sorted(rows(df)) == [("Manu Ginobili",), ("Tony Parker",)]
    df = execute(nba_space,
                 "MATCH (v:player)-[:like]->(n:player{name:$p7.a.b.c}) "
                 "RETURN n.player.name AS dst LIMIT $p7.a.b.d[0]", PARAMS)
    assert rows(df) == [("Tim Duncan",)]


def test_param_with_clause(space):
    # [param-test-004] WITH clause
    df = execute(space,
                 "UNWIND abs($p1)+1 AS ival "
                 'WITH ival AS ival, $p2 and false AS bval, $p3+"ef" AS '
                 "sval, round($p4)+1.1 AS fval RETURN *", PARAMS)
    assert rows(df) == [(2, False, "Tim Duncanef", 4.1)]


def test_param_order_by_and_mixed_in(nba_space):
    # [param-test-004] ORDER BY a constant parameter; mixed-type IN list
    df = execute(nba_space,
                 "MATCH (v:player) WITH v AS v WHERE v.player.name in "
                 '[$p1,$p2,$p3,"Tony Parker",$p4,$p5,$p6] '
                 "RETURN v.player.name AS v ORDER BY v, $p3 LIMIT $p1",
                 PARAMS)
    assert rows(df) == [("Tim Duncan",)]


def test_param_lookup(nba_space):
    # [param-test-005]
    df = execute(nba_space,
                 "LOOKUP ON player where player.age>$p1+40 "
                 "YIELD player.name AS name", PARAMS)
    assert sorted(r.name for r in df.collect()) == sorted([
        "Grant Hill", "Jason Kidd", "Vince Carter", "Tim Duncan",
        "Shaquille O'Neal", "Steve Nash", "Ray Allen"])


def test_param_go(nba_space):
    # [param-test-006] yield + where clauses
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like '
                 "WHERE like.likeness>$p1 yield like._dst as dst", PARAMS)
    assert sorted(rows(df)) == [("Manu Ginobili",), ("Tony Parker",)]
    df = execute(nba_space,
                 'GO FROM "Tim Duncan" OVER like '
                 "yield like._dst as dst, $p3 AS c", PARAMS)
    assert sorted(rows(df)) == [("Manu Ginobili", "Tim Duncan"),
                                ("Tony Parker", "Tim Duncan")]


def test_param_vid_refusals(space):
    # [param-test-006..009] vid positions refuse parameters
    for q in [
        "GO FROM $p3 OVER like yield like._dst as dst;",
        "GO FROM $p3,$p4 OVER like YIELD like._dst AS d",
        "FETCH PROP ON player $p3,$p4",
        "find noloop path from $p3 to $p2 over like",
        "find all path from $p3 to $p2 over like",
        "find shortest path from $p3 to $p2 over like",
        "GET SUBGRAPH FROM $p3 BOTH like",
    ]:
        with pytest.raises(SyntaxError,
                           match=r"Parameter is not supported in vid "
                                 r"near `\$p[34]'"):
            execute(space, q, PARAMS)


def test_param_assign_refusal(space):
    # [param-test-006] $var= whose source reads a parameter-named var
    with pytest.raises(SyntaxError,
                       match=r"Variable definition conflicts with a "
                             r"parameter near `\$p1'"):
        execute(space,
                '$p1=GO FROM "Tim Duncan" OVER like WHERE '
                "like.likeness>$p1 yield like._dst as dst; "
                "GO FROM $p1.dst OVER like YIELD DISTINCT "
                "$$.player.name AS name", PARAMS)


def test_param_sample_refusal(space):
    # [param-test-006] SAMPLE clause
    with pytest.raises(SyntaxError,
                       match=r"Parameter is not supported in sample "
                             r"clause near `\[1,\$p1\]'"):
        execute(space,
                'GO 1 TO 2 STEPS FROM "Tim Duncan" OVER like YIELD '
                "like._dst AS dst SAMPLE [1,$p1]", PARAMS)


def test_param_fetch_bare_variable(space):
    # [param-test-007]
    with pytest.raises(SyntaxError,
                       match=r"Variable is not supported in vid near "
                             r"`\$nonexist'"):
        execute(space, "FETCH PROP ON player $nonexist", PARAMS)


def test_param_undefined(space):
    # [param-test-010] undefined parameters, joined in appearance order
    with pytest.raises(ValueError,
                       match=r"Undefined parameters: unknown_distance$"):
        execute(space,
                "MATCH (v:player) where v.player.age < $unknown_distance "
                "RETURN v.player.name AS n", PARAMS)
    with pytest.raises(ValueError,
                       match=r"Undefined parameters: unknown_distance, "
                             r"unknown_factor"):
        execute(space,
                "LOOKUP ON player WHERE player.age < "
                "$unknown_distance+$unknown_factor YIELD id(vertex)",
                PARAMS)
    with pytest.raises(ValueError,
                       match=r"Undefined parameters: unknown_distance"):
        execute(space,
                "GET SUBGRAPH FROM 'Tim Duncan' WHERE "
                "like.likeness < $unknown_distance YIELD edges as e",
                PARAMS)


def test_param_limit_type_error(space):
    # [param-test-010] non-integer parameter in LIMIT
    with pytest.raises(ValueError,
                       match=r"LIMIT should be of type integer"):
        execute(space,
                "MATCH (v:player) RETURN v LIMIT $p6", PARAMS)


def test_param_in_pipe_expression(nba_space):
    # [param-test-012] parameters inside piped YIELD expressions
    df = execute(nba_space,
                 'go from "Tim Duncan" over like yield like._dst as id '
                 "| yield $-.id+$p1 as v", PARAMS)
    assert sorted(rows(df)) == [("Manu Ginobili1",), ("Tony Parker1",)]
