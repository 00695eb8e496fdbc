"""Edge identity and pattern prop maps in MATCH.

An edge is identified by ``(src, dst, rank, type)`` in its stored
orientation (``traverse._edge_key``, the reference's ``Edge::keyEqual``),
however a pattern traverses it: an edge alias shared by two MATCH clauses
joins on that identity, as the WHERE pattern-predicate form does. A
``{prop: value}`` map is type-strict on every tag of a node pattern. The
space is the conftest ``nba`` fixture plus a ``follow`` edge parallel to
``like`` p1→p2 (same endpoints and rank, another type) and a ``bachelor``
tag on p1.
"""

from __future__ import annotations

from collections import Counter

import pytest

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans import execute


@pytest.fixture(scope="module")
def space(spark, nba):
    sp = GraphSpace(spark, "nba_identity")
    for name in ("player", "team"):
        sp.create_tag(name, df=nba[name])
    sp.create_tag("bachelor", df=spark.createDataFrame(
        [("p1", "Tim", "psychology")],
        "_vid string, name string, speciality string"))
    for name in ("like", "serve"):
        sp.create_edge(name, df=nba[name])
    sp.create_edge("follow", df=spark.createDataFrame(
        [("p1", "p2", 0, 90)],
        "_src string, _dst string, _rank long, degree long"))
    return sp


def _pairs(space, query: str) -> Counter:
    return Counter((r.a, r.b) for r in execute(space, query).collect())


def _edges(space, *names: str) -> Counter:
    return Counter((r["_src"], r["_dst"]) for n in names
                   for r in space.edge(n).collect())


FIRST = "MATCH (a:player)-[e:like]->(b:player) "
RET = " RETURN id(a) AS a, id(b) AS b"


@pytest.mark.parametrize("second", [
    "MATCH (b)<-[e]-(a)",        # the same edge walked from its other end
    "MATCH (a)-[e]-(b)",         # BOTH: each edge once, not its mirror too
    "MATCH (a)-[e]->(b)",        # untyped: the parallel follow edge differs
])
def test_shared_edge_joins_on_stored_identity(space, second):
    """Each like edge joins itself once: 6 rows (1, 10 and 7 when the
    join keyed on the traversal-oriented (src, dst, rank))."""
    assert _pairs(space, FIRST + second + RET) == _edges(space, "like")


def test_shared_edge_join_needs_the_same_type(space):
    """like p1→p2 and follow p1→p2 share endpoints and rank, not type."""
    q = "MATCH (a)-[e:like]->(b) MATCH (x)-[e:follow]->(y)" + RET
    assert _pairs(space, q) == Counter()


def test_shared_untyped_edge_joins_each_edge_once(space):
    q = "MATCH (a)-[e]->(b) MATCH (a)-[e]->(b)" + RET
    assert _pairs(space, q) == _edges(space, "like", "serve", "follow")


@pytest.mark.parametrize("join,where", [
    (FIRST + "MATCH (b)<-[e]-(a)", FIRST + "WHERE (b)<-[e]-(a)"),
    ("MATCH (a)-[e:like]->(b) MATCH (x)-[e:follow]->(y)",
     "MATCH (a)-[e:like]->(b) WHERE (a)-[e:follow]->(b)"),
])
def test_shared_edge_join_agrees_with_pattern_predicate(space, join, where):
    assert _pairs(space, join + RET) == _pairs(space, where + RET)


@pytest.mark.parametrize("query,want", [
    ('MATCH (v:bachelor:player{age:"42"}) RETURN id(v) AS v', []),
    ('MATCH (v:player{age:"42"}) RETURN id(v) AS v', []),
    ("MATCH (v:bachelor:player{age:42}) RETURN id(v) AS v", ["p1"]),
    ("MATCH (v:player:bachelor{speciality:\"psychology\"}) "
     "RETURN id(v) AS v", ["p1"]),
])
def test_extra_tag_prop_map_is_type_strict(space, query, want):
    """A string never equals the INT prop 42 (match/Base.feature "filter
    evaluable"), on the node's first tag or on an additional one."""
    assert [r.v for r in execute(space, query).collect()] == want


def test_edge_identity_has_one_builder():
    """The stored-orientation swap lives in ``traverse._edge_key`` alone:
    the MATCH, GO, FIND PATH and GET SUBGRAPH layers and the path
    searches read an edge's ``t``/``_dir`` only where the allowlist
    below says why, so none of them builds an identity of its own."""
    import ast
    from collections import Counter as C
    from pathlib import Path

    from nebula_spark.functions import graphfns
    from nebula_spark.operators import paths
    from nebula_spark.plans import executor

    def is_read(node) -> bool:
        if isinstance(node, ast.Subscript):          # hop["t"]
            return isinstance(node.slice, ast.Constant) \
                and node.slice.value == "t"
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value == "_dir" or node.value.endswith("___dir")
        if isinstance(node, ast.Tuple) and len(node.elts) == 3:
            kind, _, field = node.elts                 # ("attr", hop, "t")
            return all(isinstance(x, ast.Constant) for x in (kind, field)) \
                and (kind.value, field.value) == ("attr", "t")
        return False

    reads = C()
    for mod in (executor, paths, graphfns):
        tree = ast.parse(Path(mod.__file__).read_text())
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
                reads[top.name] += sum(map(is_read, ast.walk(top)))
    assert +reads == {
        # GO's type(edge): a reversely read entry has a negative type id
        "_exec_go": 2,
        # the hop struct's traversal direction t (single hop, var-len),
        # and `_dir` kept out of the single hop's prop columns
        "_build_pattern": 3,
        # `(v)-[ii]-(x)` over a comprehension's hop variable: an nGQL
        # expression, compiled where the hop is a lambda variable
        "_rewrite_pattern_values": 2,
        # src(e)/dst(e) and a bare edge value: `___dir` membership guards
        "_match_resolver": 2,
        # single-shortest tie-break: a forward entry sorts after reverse
        "_single_tie_key": 1,
        # a flipped half-path reverses each hop's direction
        "_flip_path": 1,
        # the rendered arrow: -[…]-> or <-[…]-
        "format_path": 1,
    }, reads
