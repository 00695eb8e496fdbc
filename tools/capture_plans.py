"""Dump .explain('formatted') for every bench query to plans/r12/<q>_<tag>.txt.

The repo root is the checkout this script sits in, so running it from two
checkouts (say a parent commit and a change) captures and writes each
side's plans in its own tree. Named queries may be any ``queries()`` entry;
with none, every bench and front-end lane is dumped:

    python tools/capture_plans.py <tag> [query ...]
"""
import os, sys, io
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
tag = sys.argv[1] if len(sys.argv) > 1 else "before"
only = sys.argv[2:] or None
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
import __spark_entry__ as entry
from nebula_spark.session import get_spark
from contextlib import redirect_stdout

sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("plan_capture")
spark.sparkContext.setLogLevel("ERROR")
import bench
# named queries may be any entry of queries(), not only the bench lanes
names = only or list(bench.BENCH_QUERIES) + list(bench.FRONTEND_LANE)
for name in names:
    qn = bench.FRONTEND_LANE.get(name, name)
    fn = getattr(entry, f"q_{qn}", None) or entry.queries()[qn]
    try:
        df = fn(spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out = buf.getvalue()
    except Exception as ex:
        out = f"ERROR building plan: {ex}\n"
    with open(os.path.join(ROOT, "plans", "r12", f"{name}_{tag}.txt"),
              "w") as f:
        f.write(out)
    print(name, "->", len(out), "bytes")
