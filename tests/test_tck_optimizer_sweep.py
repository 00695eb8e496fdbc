"""Mechanical sweep of EVERY result table in the reference's
`tests/tck/features/optimizer/*.feature` corpus (r9 verdict item 4 —
completes the partial hand-transcribed sweep in
test_tck_optimizer_results.py, which keeps the cases that pin documented
deviations and hand-derived enumerations).

The optimizer directory pins the reference's PLAN SHAPES; those steps
are skipped by design (Catalyst owns plan shapes — SURVEY §2). Every
`Then the result should be` table, however, is engine semantics: the
tck_runner parses the feature files straight off the read-only reference
checkout, runs each query through `execute()`, and compares rows under
the comparator documented in tests/tck_runner.py.

Adjudicated skips are listed in SKIP with reasons; everything else must
pass. Scenario outlines over <space_name> run on nba (the nba_int_vid
example is the reference's IntVid duplicate fixture — obsolete here,
consistent with the TCK-coverage ruling since r5).
"""

from __future__ import annotations

import os

import pytest

from nebula_spark.plans import execute
from tests.tck_runner import parse_feature, run_assertion
from tests.test_tck_goldens import build_nba_space, nba_space  # noqa: F401
from tests.test_ngdata_goldens import ngdata_space  # noqa: F401

FEATURE_DIR = "/root/reference/tests/tck/features/optimizer"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(FEATURE_DIR), reason="reference TCK corpus absent")

# (feature-file, scenario-name) -> reason. Every entry is an adjudicated
# deviation or an obsolete surface, not an unimplemented result.
SKIP = {
    ("EmbedEdgeAllPredIntoTraverseRule.feature",
     "match (v:player)-[e:like*2..4{likeness: 90}]->(n) return e limit 3"):
        "var-len all()-pred full enumeration — documented deviation "
        "(README; test_tck_optimizer_results.py pins the full 19-path "
        "set the rule-pinned table truncates)",
}

# (feature, Then-line) → downgrade that one assertion to row-count-only,
# each with an adjudication note. Used where the reference's table pins
# rows beyond what its own ORDER BY determines.
RELAX_TO_COUNT = {
    ("PrunePropertiesRule.feature", 713):
        "ORDER BY year LIMIT 2 with a tie at year=1994 — which tied row "
        "survives the limit is undefined (two serve edges start 1994 "
        "with different end years); the table pins storage order",
    ("PrunePropertiesRule.feature", 769):
        "same ORDER BY year LIMIT 2 tie at year=1994, filtered through "
        "the ALTER-added degree default",
}


def _collect():
    out = []
    if not os.path.isdir(FEATURE_DIR):
        return out
    for f in sorted(os.listdir(FEATURE_DIR)):
        if f.endswith(".feature"):
            out.extend(parse_feature(os.path.join(FEATURE_DIR, f)))
    return out


SCENARIOS = _collect()


@pytest.fixture(scope="session")
def student_space(spark):
    """The reference's `student` fixture (tests/data/student/*.csv —
    typed self-describing headers: `:VID(string)`, `tag.prop:int`)."""
    from pyspark.sql import functions as F

    from nebula_spark.catalog import GraphSpace

    ddir = "/root/reference/tests/data/student"
    sp = GraphSpace(spark, "student")
    for fn in sorted(os.listdir(ddir)):
        if not fn.endswith(".csv"):
            continue
        name = fn[:-4]
        df = spark.read.option("header", True).csv(os.path.join(ddir, fn))
        cols = df.columns
        is_edge = cols[0].startswith(":SRC_VID")
        sel = []
        if is_edge:
            sel = [F.col(f"`{cols[0]}`").alias("src"),
                   F.col(f"`{cols[1]}`").alias("dst"),
                   F.lit(0).cast("long").alias("_rank")]
            props = cols[2:]
        else:
            sel = [F.col(f"`{cols[0]}`").alias("vid")]
            props = cols[1:]
        for c in props:
            pname, ptype = c.rsplit(":", 1)
            pname = pname.split(".", 1)[1]
            spark_t = {"int": "long", "double": "double",
                       "string": "string"}[ptype]
            sel.append(F.col(f"`{c}`").cast(spark_t).alias(pname))
        out = df.select(*sel)
        if is_edge:
            sp.create_edge(name, df=out.dropDuplicates(
                ["src", "dst", "_rank"]))
        else:
            sp.create_tag(name, df=out)
    return sp


@pytest.mark.parametrize(
    "sc", SCENARIOS,
    # getattr: with no corpus SCENARIOS is empty and pytest passes its
    # NOTSET placeholder here (the empty set then skips with a reason)
    ids=lambda s: (f"{getattr(s, 'feature', '')}::"
                   f"{getattr(s, 'name', s)}")[:120])
def test_optimizer_feature_results(sc, request, spark):
    if "@skip" in sc.tags:
        pytest.skip("upstream @skip — the reference's own runner "
                    "excludes this scenario")
    reason = SKIP.get((sc.feature, sc.name))
    if reason:
        pytest.skip(reason)
    if sc.unsupported:
        pytest.fail(f"unsupported step: {sc.unsupported}")
    if not sc.asserts:
        pytest.skip("scenario carries only plan-shape assertions")
    if sc.fresh_space:
        space = build_nba_space(spark, name=f"tck_{sc.feature[:-8]}")
    elif sc.space == "nba":
        space = request.getfixturevalue("nba_space")
    elif sc.space == "ngdata":
        space = request.getfixturevalue("ngdata_space")
    elif sc.space == "student":
        space = request.getfixturevalue("student_space")
    else:
        pytest.skip(f"space {sc.space!r} not modeled")
    for ddl in sc.setup:
        execute(space, ddl)
    for a in sc.asserts:
        if (sc.feature, a.line) in RELAX_TO_COUNT:
            a.mode = "count"
        run_assertion(space, a, execute)
