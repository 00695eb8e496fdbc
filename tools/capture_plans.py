"""Dump .explain('formatted') for every bench query to plans/r12/<q>_<tag>.txt.

The repo root is the checkout this script sits in, so running it from two
checkouts (say a parent commit and a change) captures and writes each
side's plans in its own tree. Named queries may be any ``queries()`` entry;
with none, every bench and front-end lane is dumped:

    python tools/capture_plans.py <tag> [query ...]

Operators that run their levels or supersteps while the caller builds the
frame (counted searches, connected components, k-core, weighted paths)
leave only a checkpoint scan in the final plan. So while a lane's frame is
built, every frame that ``operators.traverse.checkpoint_observe``
materializes has its formatted plan recorded too (the function is wrapped
in this process only); a dump lists those plans, numbered in the order
they ran, ahead of the final plan.

Each dump is masked before it is written, so dumps from two checkouts
diff clean: expression ids (``#12``), RDD numbers, ``plan_id`` values and
a FileScan's ``Location: …`` up to its ``PushedFilters`` (the checkout's
path, cut at a fixed width, and a ``PartitionFilters`` entry that shows
on one side only) become fixed placeholders.
"""
import importlib, os, re, sys, io
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
tag = sys.argv[1] if len(sys.argv) > 1 else "before"
only = sys.argv[2:] or None
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
import __spark_entry__ as entry
from nebula_spark.session import get_spark
from contextlib import redirect_stdout

# the module even in trees whose package re-exports traverse() under the
# module's name
T = importlib.import_module("nebula_spark.operators.traverse")
_observe = T.checkpoint_observe
materialized: list[str] = []


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _recording_observe(df, **metrics):
    materialized.append(_plan(df))
    return _observe(df, **metrics)


T.checkpoint_observe = _recording_observe

_MASKS = ((re.compile(r"#\d+"), "#N"), (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
          (re.compile(r"plan_id=\d+"), "plan_id=N"),
          (re.compile(r"Location: (?:[^\n]*\n){0,2}?[^\n]*?(?=PushedFilters)"),
           "Location: * "))


def mask(text: str) -> str:
    """``text`` with the ids and paths that differ between runs and
    checkouts replaced by placeholders."""
    for pat, rep in _MASKS:
        text = pat.sub(rep, text)
    return text


sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("plan_capture")
spark.sparkContext.setLogLevel("ERROR")
import bench
# named queries may be any entry of queries(), not only the bench lanes
names = only or list(bench.BENCH_QUERIES) + list(bench.FRONTEND_LANE)
for name in names:
    qn = bench.FRONTEND_LANE.get(name, name)
    fn = getattr(entry, f"q_{qn}", None) or entry.queries()[qn]
    materialized.clear()
    try:
        df = fn(spark, sf)
        out = "".join(f"== materialized {i} ==\n{p}\n"
                      for i, p in enumerate(materialized, 1))
        if materialized:
            out += "== final ==\n"
        out += _plan(df)
    except Exception as ex:
        out = f"ERROR building plan: {ex}\n"
    with open(os.path.join(ROOT, "plans", "r12", f"{name}_{tag}.txt"),
              "w") as f:
        f.write(mask(out))
    print(name, "->", len(materialized), "materialized,", len(out), "bytes")
