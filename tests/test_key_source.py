"""One key source for keyed statements.

Every statement that names vertices or edges by key builds its key frame
in one place (``executor._key_frame``): a ``$-``/``$var`` ref resolves
through ``_runtime_input`` with one set of error messages, and the
write path checks its keys against the space's vid contract
(``executor._vid_contract``: INT/INT64 or FIXED_STRING(N)), read once.
The parser and the executor share one aggregate detector
(``ngql._is_agg``). The space is the conftest ``nba`` fixture; the
vid-type checks run in spaces made here with CREATE SPACE.
"""

from __future__ import annotations

import ast
import os

import pytest

from nebula_spark.catalog import GraphSpace, SpaceCatalog
from nebula_spark.plans import execute, parse

# each family reads one vid ref (s) or an edge key ref pair (s -> d)
FAMILIES = {
    "GO": "GO FROM {s} OVER like YIELD dst(edge) AS x",
    "FETCH vertices": "FETCH PROP ON player {s} YIELD player.name AS x",
    "FETCH edges": "FETCH PROP ON like {s} -> {d} YIELD like.likeness AS x",
    "UPDATE": "UPDATE VERTEX ON player {s} SET age = 1",
    "DELETE EDGE": "DELETE EDGE like {s} -> {d}",
    "DELETE VERTEX": "DELETE VERTEX {s}",
}
_PIPE = "GO FROM 'p1' OVER like YIELD src(edge) AS s, dst(edge) AS {d} "
REF_CASES = {
    "undefined variable": ("", "$x.s", "$x.d",
                           "`$x.s', not exist variable `x'"),
    "missing pipe column": (_PIPE.format(d="d") + "| ", "$-.nope", "$-.d",
                            "`$-.nope', not exist prop `nope'"),
    "missing variable column": ("$a = " + _PIPE.format(d="d") + "; ",
                                "$a.nope", "$a.d",
                                "`$a.nope', not exist prop `nope'"),
    "duplicated column": (_PIPE.format(d="s") + "| ", "$-.s", "$-.s",
                          "SemanticError: Duplicate Column Name : `s'"),
}


@pytest.fixture(scope="module")
def space(spark, nba):
    sp = GraphSpace(spark, "nba_keys")
    for name in ("player", "team"):
        sp.create_tag(name, df=nba[name])
    for name in ("like", "serve"):
        sp.create_edge(name, df=nba[name])
    return sp


def _error(space, query: str) -> str:
    with pytest.raises(ValueError) as err:
        execute(space, query).collect()
    return str(err.value)


@pytest.mark.parametrize("case", list(REF_CASES))
def test_every_family_phrases_a_bad_ref_the_same(space, case):
    """FETCH edges said "FETCH: no bound input for $x" and surfaced
    Spark's UNRESOLVED_COLUMN for a missing column."""
    head, s, d, want = REF_CASES[case]
    got = {fam: _error(space, head + q.format(s=s, d=d))
           for fam, q in FAMILIES.items()}
    assert got == {fam: want for fam in FAMILIES}


@pytest.mark.parametrize("vid_type,int_keys", [
    ("INT", True), ("int64", True), ("INT64", True),
    ("FIXED_STRING(5)", False)])
def test_vid_type_keys_ddl_and_pipe_delete(spark, vid_type, int_keys):
    """INT keyed its tables by string, so a pipe-DELETE of the space's
    own vids refused with "Wrong vid type `STRING`"."""
    cat = SpaceCatalog(spark)
    execute(cat, f"CREATE SPACE s(vid_type={vid_type}); USE s; "
                 "CREATE TAG t(n int); CREATE EDGE e(w int)")
    sp = cat.spaces["s"]
    key_type = "bigint" if int_keys else "string"
    assert dict(sp.tag("t").dtypes)["_vid"] == key_type
    assert {c: t for c, t in sp.edge("e").dtypes if c in ("_src", "_dst")} \
        == {"_src": key_type, "_dst": key_type}
    a, b = ("1", "2") if int_keys else ('"a"', '"b"')
    execute(cat, f"INSERT VERTEX t(n) VALUES {a}:(1), {b}:(2); "
                 f"INSERT EDGE e(w) VALUES {a}->{b}:(7)")
    execute(cat, f"GO FROM {a} OVER e YIELD dst(edge) AS d "
                 "| DELETE VERTEX $-.d").collect()
    assert [r["_vid"] for r in sp.tag("t").collect()] \
        == [1 if int_keys else "a"]
    # a ref of the other type refuses on the write path only
    other = '"x"' if int_keys else "1"
    msg = _error(cat, f"YIELD {other} AS d | DELETE VERTEX $-.d")
    assert msg == (f"Wrong vid type `{'STRING' if int_keys else 'INT'}`, "
                   "value")


@pytest.mark.parametrize("stmt", [
    'INSERT VERTEX t(n) VALUES "abcdef":(1)',
    'INSERT EDGE e(w) VALUES "a"->"abcdef":(1)',
    'UPDATE VERTEX ON t "abcdef" SET n = 1',
    'DELETE EDGE e "abcdef"->"a"',
    'DELETE VERTEX "abcdef"',
])
def test_fixed_string_length_refuses_on_write(spark, stmt):
    cat = SpaceCatalog(spark)
    execute(cat, "CREATE SPACE s(vid_type=FIXED_STRING(5)); USE s; "
                 "CREATE TAG t(n int); CREATE EDGE e(w int)")
    assert _error(cat, stmt) == (
        "Storage Error: The VID must be a 64-bit integer or a string "
        "fitting space vertex id length limit.")


@pytest.mark.parametrize("query,err", [
    ("UNWIND [collect(1)] AS x RETURN x", ValueError),
    ("UNWIND CASE WHEN true THEN collect(1) ELSE [] END AS x RETURN x",
     ValueError),
    ("UNWIND {a: collect(1)} AS x RETURN x", ValueError),
    ("$a = GO FROM 'p1' OVER like YIELD dst(edge) AS d; "
     "$b = GO FROM 'p2' OVER like YIELD dst(edge) AS d; "
     "YIELD CASE WHEN true THEN count($a.d) END AS c "
     "FROM $a INNER JOIN $b ON $a.d == $b.d", SyntaxError),
])
def test_parser_sees_aggregates_in_case_arms_and_maps(query, err):
    """The parser's detector skipped CASE arms and map pairs."""
    with pytest.raises(err, match="aggregating"):
        parse(query)


def test_map_of_aggregates_groups_by_the_other_items(space):
    """The executor's detector skipped map pairs too, so these failed
    with Spark's MISSING_GROUP_BY."""
    rows = execute(space, "MATCH (v:player) RETURN v.player.age > 40 AS "
                          "old, {n: count(*)} AS m").collect()
    assert sorted((r.old, r.m.n) for r in rows) == [(False, 3), (True, 2)]
    rows = execute(space, "GO FROM 'p1' OVER like YIELD dst(edge) AS d "
                          "| GROUP BY $-.d YIELD $-.d AS d, "
                          "{n: count(*)} AS m").collect()
    assert sorted((r.d, r.m.n) for r in rows) == [("p2", 1), ("p3", 1)]


def _owners(pred) -> list[str]:
    """The top-level function (or ``Class.method``) of every node of
    ``plans/executor.py`` that ``pred`` picks, ``<module>`` outside one."""
    path = os.path.join(os.path.dirname(__file__), "..", "nebula_spark",
                        "plans", "executor.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for top in tree.body:
        units = [(f"{top.name}.{getattr(m, 'name', '')}", m)
                 for m in top.body] \
            if isinstance(top, ast.ClassDef) else \
            [(getattr(top, "name", "<module>"), top)]
        for name, unit in units:
            out += [name for node in ast.walk(unit) if pred(node)]
    return out


def test_one_vid_type_reader_and_one_ref_resolver():
    """``vid_type`` is read in ``_vid_contract`` alone, and only
    ``_runtime_input`` tells a ``$-`` ref from a ``$var`` one."""
    assert _owners(lambda n: isinstance(n, ast.Constant)
                   and n.value == "vid_type") == ["_vid_contract"]
    assert _owners(lambda n: isinstance(n, ast.Compare) and any(
        isinstance(c, ast.Constant) and c.value == "$-"
        for c in [n.left, *n.comparators])) == ["_runtime_input"]
