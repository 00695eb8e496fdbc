"""Literal rows (vid lists, DML keys, INSERT rows) reach the JVM as
LocalRelations through ``session.local_frame``.

A ``createDataFrame(<list>)`` frame is a Python RDD: Spark scans it as
``Scan ExistingRDD`` through Python workers, and with no size estimate
every join against it is planned as a sort-merge join that shuffles the
table side. These tests pin the plan shape of statements with literal
keys, the stored values of the Arrow route, and the one-helper rule.
"""
from __future__ import annotations

import ast
import datetime as dt
import os
import pathlib
import time

import pytest

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans.executor import execute
from nebula_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "nebula_spark"


@pytest.fixture()
def space(spark, nba):
    """The synthesized nba graph, df-backed, over JVM-local tables."""
    sp = GraphSpace(spark, "nba_literal")
    for name, df in nba.items():
        local = local_frame(spark, df.collect(), df.schema)
        if name in ("player", "team"):
            sp.create_tag(name, df=local)
        else:
            sp.create_edge(name, df=local)
    return sp


def _run(df):
    """Collect ``df``; return its rows, initial plan and final plan."""
    qe = df._jdf.queryExecution()
    initial = qe.executedPlan().toString()
    rows = sorted(tuple(r) for r in df.collect())
    return rows, initial, qe.executedPlan().toString()


def _assert_local_broadcast(initial: str, final: str, anti_joins: int):
    for plan in (initial, final):
        assert "ExistingRDD" not in plan, plan
    assert "SortMergeJoin" not in initial, initial
    assert initial.count("BroadcastHashJoin") >= 1, initial
    assert initial.count("LeftAnti") >= anti_joins, initial


def test_literal_keys_plan_as_local_broadcasts(space):
    execute(space, 'DELETE VERTEX "p3" WITH EDGE').collect()

    rows, initial, final = _run(execute(
        space, 'FETCH PROP ON player "p1", "p3", "p5" '
               'YIELD player.name AS name, player.age AS age'))
    assert rows == [("Kobe", -1), ("Tim", 42)]
    # the player table carries the DELETE's anti-join on its literal key
    _assert_local_broadcast(initial, final, anti_joins=1)

    rows, initial, final = _run(execute(
        space, 'GO FROM "p1", "p2" OVER like '
               'YIELD like._dst AS d, like.likeness AS w'))
    assert rows == [("p1", 95), ("p2", 95), ("p4", 50)]
    # like lost p1->p3 through the src and dst anti-joins
    _assert_local_broadcast(initial, final, anti_joins=2)

    rows, initial, final = _run(execute(
        space, 'LOOKUP ON player YIELD id(vertex) AS v'))
    assert rows == [("p1",), ("p2",), ("p4",), ("p5",)]
    _assert_local_broadcast(initial, final, anti_joins=1)


# stored values of the list route (frozen): an int, a float rounded half
# away from zero into an int column, a string, a bool, an explicit NULL,
# date(…), datetime(…), a geography WKT and a FIXED_STRING(4) truncation
_TYPED_DDL = ("i int, f int, s string, b bool, n int, d date, "
              "t datetime, g geography(point), fs fixed_string(4)")
_TYPED_VALUES = ('(7, -2.5, "héllo", true, NULL, date("2021-03-04"), '
                 'datetime("2021-03-04T05:06:07.123456"), '
                 'ST_GeogFromText("POINT(3 8)"), "abcdef")')
_TYPED_EXPECTED = (7, -3, "héllo", True, None, dt.date(2021, 3, 4),
                   dt.datetime(2021, 3, 4, 5, 6, 7, 123456),
                   "POINT(3 8)", "abcd")
_TYPED_COLS = ("i", "f", "s", "b", "n", "d", "t", "g", "fs")


def test_insert_stores_list_route_values(spark):
    sp = GraphSpace(spark, "typed_insert")
    execute(sp, f"CREATE TAG typed({_TYPED_DDL}); "
                f"CREATE EDGE typed_e({_TYPED_DDL})")
    execute(sp, f"INSERT VERTEX typed({', '.join(_TYPED_COLS)}) "
                f'VALUES "v1":{_TYPED_VALUES}, "v2":(1, 0.4, "", false, '
                'NULL, NULL, NULL, NULL, NULL)')
    execute(sp, f"INSERT EDGE typed_e({', '.join(_TYPED_COLS)}) "
                f'VALUES "v1"->"v2"@3:{_TYPED_VALUES}')
    yld = ", ".join(f"typed.{c} AS {c}" for c in _TYPED_COLS)
    got = sorted(tuple(r) for r in execute(
        sp, f'FETCH PROP ON typed "v1", "v2" YIELD {yld}').collect())
    assert got == [(1, 0, "", False) + (None,) * 5, _TYPED_EXPECTED]
    yld = ", ".join(f"typed_e.{c} AS {c}" for c in _TYPED_COLS)
    got = [tuple(r) for r in execute(
        sp, f'FETCH PROP ON typed_e "v1"->"v2"@3 YIELD {yld}').collect()]
    assert got == [_TYPED_EXPECTED]
    schema = dict(sp.tag("typed").dtypes)
    assert schema["t"] == "timestamp_ntz" and schema["d"] == "date"


def test_naive_timestamps_read_in_process_zone(spark):
    """The list route stores a naive datetime in a TIMESTAMP column as
    Python-local time; the Arrow route must too, whatever the session
    zone, so rows round-trip through ``collect()``."""
    rows = [(dt.datetime(2021, 3, 4, 5, 6, 7, 123456),), (None,)]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        listed = spark.createDataFrame(rows, ["ts"])
        local = local_frame(spark, rows, ["ts"])
        assert local.schema == listed.schema
        as_text = "cast(ts as string) AS ts"
        assert local.selectExpr(as_text).collect() == \
            listed.selectExpr(as_text).collect()
        assert local.collect() == rows
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_local_frame_round_trips_nested_rows(spark):
    df = spark.sql(
        "SELECT 1 AS x, named_struct('a', 1, 'b', array(named_struct("
        "'t', timestamp'2020-01-01 00:00:00'))) AS st, "
        "map('k', named_struct('q', 2)) AS mp, "
        "timestamp_ntz'2021-01-01 01:02:03' AS ntz")
    rows = df.collect()
    local = local_frame(spark, rows, df.schema)
    assert local.collect() == rows
    assert "LocalTableScan" in local._jdf.queryExecution() \
        .executedPlan().toString()
    empty = local_frame(spark, [], "_src string, _rank bigint")
    assert empty.count() == 0 and empty.columns == ["_src", "_rank"]


def test_no_create_dataframe_outside_local_frame():
    """Every literal frame in the engine goes through ``local_frame``."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame" \
                    and path.name == "session.py":
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Attribute) \
                    and node.func.attr == "createDataFrame" \
                    and id(node) not in allowed:
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert offenders == []
