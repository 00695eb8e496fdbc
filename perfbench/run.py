"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload ngql_interactive --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository: the program is imported
from the working directory, and everything the run writes (inputs, the
path-backed tables it mutates, Spark scratch, span dumps) goes under
``.perfbench/`` there.

The run: write the seed's inputs (untimed, once per seed), start one Spark
session at ``local[nproc]``, set up several times (a fresh session plus the
catalog load; ``setup_s`` is the median), run one untimed warm-up cycle,
then a single closed-loop client runs whole timed cycles of ops until
``--seconds`` have passed. Every cycle holds every template of the workload
once, and every op ends by collecting its rows, as a caller would. The rows
are checked against references computed without the program after the
timed phase, those of the warm-up cycle too; a wrong output counts as a
failed op. With ``--trace 1`` the run times exactly one cycle with spans
and counters on and reports the per-layer metrics instead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it carries the
full detail: every metric with its unit and sample count, per-template
latencies, input sizes, machine load and failures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB"}
# detail line only: they exist for one workload, or are zero on a correct
# run, so they cannot carry a bound. op_p50_s is the latency of the
# cycle's middle template, one sample per run; it moves with that one
# op's luck far more than the cycle's throughput does.
DETAIL_UNITS = {"op_p50_s": "s", "read_p50_s": "s", "read_p90_s": "s",
                "write_p50_s": "s", "failed_share": "ratio", "launch_s": "s",
                "warmup_s": "s", "check_s": "s", "stop_s": "s"}
LAYER_UNITS = {
    "ngql.parse_s": "s", "ngql.calls": "count",
    "executor.build_s": "s", "executor.py4j_calls": "count",
    "executor.build_jobs": "count",
    "operators.call_s": "s", "operators.build_jobs": "count",
    "operators.py4j_calls": "count",
    "pipeline.call_s": "s", "pipeline.build_jobs": "count",
    "pipeline.py4j_calls": "count",
    "storage.bytes_written": "bytes", "storage.write_amp": "ratio",
    "storage.commits": "count",
    "catalog.load_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_bytes": "bytes",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s", "spark.slot_util": "ratio",
    "driver.py_cpu_s": "s", "driver.rss_mb": "MB",
    "share.build": "ratio", "share.exec": "ratio",
    "traced.ops_per_s": "1/s", "traced.op_p50_s": "s",
}
# per-op counters summed over the traced cycle
COUNTED = ("build_py4j", "build_jobs", "py_cpu_s", "spark.jobs",
           "spark.stages", "spark.tasks", "spark.failed_tasks",
           "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
           "spark.executor_run_ms", "catalyst.analysis_s",
           "catalyst.optimization_s", "catalyst.planning_s",
           "catalyst.plan_bytes", "storage.bytes_written", "storage.commits")


class Record:
    def __init__(self, op):
        self.op = op
        self.seconds = 0.0
        self.ok = True
        self.error = ""
        self.rows = None
        self.counts: dict[str, float] = {}


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat,
    or an empty list where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def machine_probe() -> float:
    """Seconds for a fixed single-threaded Python loop: a gauge of how fast
    the machine ran, recorded beside the run so a slow run can be told
    from a slow program."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Runner:
    """Runs ops one at a time. When tracing, it records spans around each
    layer call, sets a job group per op and phase, counts py4j commands and
    table commits, and reads the op's Spark counters after the op ends."""

    def __init__(self, spark, trace: bool):
        from spans import CommitCounter, Py4jCounter, Tracer
        self.spark = spark
        self.sc = spark.sparkContext
        self.trace = trace
        self.tracer = Tracer(trace)
        self.py4j = Py4jCounter(spark) if trace else None
        self.commits = CommitCounter() if trace else None
        self.n = 0

    def close(self) -> None:
        if self.trace:
            self.py4j.close()
            self.commits.close()

    def _group(self, name: str) -> None:
        with self.py4j.pause():
            self.sc.setJobGroup(name, name)

    def run(self, op) -> Record:
        """Run one op to completion; never raises."""
        from nebula_spark.plans import parse
        rec = Record(op)
        i = self.n
        self.n += 1
        tr = self.tracer
        tr.op = i
        if self.trace:
            self._group(f"op{i}-build")
            cpu0 = time.process_time()
            c0 = self.py4j.count
            w0 = (self.commits.commits, self.commits.bytes)
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                tr.building = True
                if self.trace and op.text:
                    with tr.span("ngql.parse"):
                        parse(op.text)
                with tr.span(f"{op.layer}.call"):
                    df = op.call()
                tr.building = False
                if self.trace:
                    rec.counts["build_py4j"] = self.py4j.count - c0
                    self._group(f"op{i}-exec")
                with tr.span("spark.exec"):
                    rec.rows = df.collect()
            rec.seconds = time.perf_counter() - t0
        except Exception:
            rec.seconds = time.perf_counter() - t0
            rec.ok = False
            rec.error = traceback.format_exc(limit=3)
            return rec
        if self.trace:
            rec.counts["py_cpu_s"] = time.process_time() - cpu0
            rec.counts["storage.commits"] = self.commits.commits - w0[0]
            rec.counts["storage.bytes_written"] = self.commits.bytes - w0[1]
            self._count(i, rec, df)
        return rec

    def _count(self, i: int, rec: Record, df) -> None:
        """Jobs, stages, tasks, shuffle bytes and Catalyst phases of op
        ``i``, read after it ended."""
        from spans import catalyst_phases, job_group_counts
        c = rec.counts
        with self.py4j.pause():
            self.sc.setJobGroup("perfbench", "perfbench")
            build_ids, build = job_group_counts(self.spark, f"op{i}-build")
            _, ex = job_group_counts(self.spark, f"op{i}-exec")
            ex.add(build)
            phases, c["catalyst.plan_bytes"] = catalyst_phases(df)
        c["build_jobs"] = len(build_ids)
        for k, v in vars(ex).items():
            c[f"spark.{k}"] = v
        for k, v in phases.items():
            c[f"catalyst.{k}_s"] = v


def timed_phase(runner: Runner, wl, seconds: float, trace: bool
                ) -> tuple[list[Record], float]:
    """Whole cycles, from cycle 1 on, until ``seconds`` have passed
    (exactly one when traced, so counts repeat run to run)."""
    records: list[Record] = []
    t0 = time.perf_counter()
    c = 1
    while True:
        for op in wl.cycle(c):
            records.append(runner.run(op))
        c += 1
        if trace or time.perf_counter() - t0 >= seconds:
            return records, time.perf_counter() - t0


def check(wl, records: list[Record]) -> list[str]:
    """Reference checks on every op's rows, outside its timed interval."""
    bad = []
    for r in records:
        if not r.ok:
            bad.append(f"{r.op.template}: {r.error.strip().splitlines()[-1]}")
            continue
        if r.op.expect is None:
            continue
        try:
            good = r.op.expect(r.rows)
        except Exception:       # a reference that cannot read the rows
            good = False
        if not good:
            r.ok = False
            bad.append(f"{r.op.template}: wrong result for {r.op.params}")
    return bad + wl.final_checks(records)


def layer_metrics(records: list[Record], spans, catalog: list[float],
                  phase_s: float, cores: int) -> dict:
    """Per-layer totals over the traced cycle."""
    from spans import rss_peak_mb
    m = {k: 0.0 for k in LAYER_UNITS}
    parse_s: dict[int, float] = {}
    for s in spans:
        if s.name == "ngql.parse":
            parse_s[s.op] = s.end - s.start
            m["ngql.parse_s"] += s.end - s.start
            m["ngql.calls"] += 1
    for s in spans:
        d = s.end - s.start
        if s.name == "executor.call":
            # execute() parses again inside; its plan build is the rest
            m["executor.build_s"] += max(0.0, d - parse_s.get(s.op, 0.0))
        elif s.name in ("operators.call", "pipeline.call"):
            m[f"{s.name}_s"] += d
        elif s.name == "spark.exec":
            m["spark.exec_s"] += d
    tot = {k: sum(r.counts.get(k, 0) for r in records) for k in COUNTED}
    for k in COUNTED:
        if k in m:
            m[k] = tot[k]
    for layer in ("executor", "operators", "pipeline"):
        mine = [r for r in records if r.op.layer == layer]
        m[f"{layer}.py4j_calls"] = sum(r.counts.get("build_py4j", 0)
                                       for r in mine)
        m[f"{layer}.build_jobs"] = sum(r.counts.get("build_jobs", 0)
                                       for r in mine)
    m["spark.executor_run_s"] = tot["spark.executor_run_ms"] / 1e3
    m["driver.py_cpu_s"] = tot["py_cpu_s"]
    payload = sum(r.op.payload_bytes for r in records if r.op.kind == "write")
    m["storage.write_amp"] = (m["storage.bytes_written"] / payload
                              if payload else 0.0)
    m["catalog.load_s"] = statistics.median(catalog)
    op_s = sum(r.seconds for r in records)
    build_s = (m["ngql.parse_s"] + m["executor.build_s"]
               + m["operators.call_s"] + m["pipeline.call_s"])
    m["spark.slot_util"] = m["spark.executor_run_s"] / (op_s * cores)
    m["share.build"] = build_s / op_s
    m["share.exec"] = m["spark.exec_s"] / op_s
    m["driver.rss_mb"] = rss_peak_mb(os.getpid())
    m["traced.ops_per_s"] = len(records) / phase_s
    m["traced.op_p50_s"] = statistics.median(r.seconds for r in records)
    return m


def result_line(values: dict, units: dict, records: list[Record],
                failures: list[str]) -> str:
    """The run's last output line: each metric of ``units`` with its value
    and unit, and the op counts."""
    return json.dumps({
        "correct": not failures, "attempted": len(records),
        "failed": sum(not r.ok for r in records),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = args.trace == 1

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "nebula_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "bench.py"))):
        print("perfbench: run from the root of a nebula_spark checkout "
              "(nebula_spark/ and bench.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of the run stays inside the checkout, including
    # those of the JVM that spark-submit starts to build its command line
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    import tempfile
    tempfile.tempdir = None
    cores = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # record the load, never wait for it: a run has a fixed time budget
    os.environ.setdefault("SPARK_GRAFT_LOAD_RETRIES", "0")

    import bench
    load_before, _, contended = bench.wait_for_quiet_machine()
    ticks0 = cpu_ticks()
    probe_before = machine_probe()

    wl = WORKLOADS[args.workload](args.seed, work)
    t = time.perf_counter()
    described = wl.prepare()
    gen_s = time.perf_counter() - t

    from nebula_spark.session import get_spark
    from spans import Tracer, rss_peak_mb
    t = time.perf_counter()
    base = get_spark(f"perfbench-{wl.name}", **{
        # a small fixed heap keeps the run's memory bounded, and its peak
        # resident size steadier, on a shared machine
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Xms2g {jvm_opts}",
        "spark.ui.showConsoleProgress": "false"})
    base.sparkContext.setLogLevel("ERROR")
    base.range(1).count()
    launch_s = time.perf_counter() - t
    jvm = base.sparkContext._gateway.proc
    try:
        setups, catalog, sessions = [], [], []
        setup_tracer = Tracer(trace)
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            s = base.newSession()
            with setup_tracer.span("catalog.load"):
                c0 = time.perf_counter()
                wl.setup(s)
                catalog.append(time.perf_counter() - c0)
            setups.append(time.perf_counter() - t)
            # keep every session alive: the library memoizes per id(session)
            sessions.append(s)
        spark = sessions[-1]
        t = time.perf_counter()
        warm = [Runner(spark, False).run(op) for op in wl.warmup()]
        warmup_s = time.perf_counter() - t
        runner = Runner(spark, trace)
        records, phase_s = timed_phase(runner, wl, args.seconds, trace)
        t = time.perf_counter()
        # the warm-up ops come first in the stream the checks replay
        failures = check(wl, warm + records)
        check_s = time.perf_counter() - t
        peak = rss_peak_mb(os.getpid()) + rss_peak_mb(jvm.pid)
        runner.close()
        self_s = runner.tracer.layer_self_seconds()
        if trace:
            layer = layer_metrics(records, runner.tracer.spans, catalog,
                                  phase_s, cores)
            runner.tracer.spans.extend(setup_tracer.spans)
            runner.tracer.dump(os.path.join(
                work, "trace", f"{wl.name}-{args.seed}.json"))
    finally:
        t = time.perf_counter()
        base.stop()
        # the JVM exits when its stdin closes; wait for it, so that the run
        # leaves no process behind
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        stop_s = time.perf_counter() - t

    probe_after = machine_probe()
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    lat = [r.seconds for r in records]
    reads = [r.seconds for r in records if r.op.kind == "read"]
    writes = [r.seconds for r in records if r.op.kind == "write"]
    e2e = {"setup_s": statistics.median(setups),
           "ops_per_s": len(records) / phase_s,
           "peak_rss_mb": peak}
    checked = warm + records
    shown = dict(e2e, op_p50_s=statistics.median(lat),
                 failed_share=sum(not r.ok for r in checked) / len(checked),
                 launch_s=launch_s, warmup_s=warmup_s, check_s=check_s,
                 stop_s=stop_s)
    if reads:
        shown.update(read_p50_s=statistics.median(reads),
                     read_p90_s=quantile(reads, 0.9))
    if writes:
        shown["write_p50_s"] = statistics.median(writes)
    if trace:
        shown.update(layer)
    units = {**E2E_UNITS, **DETAIL_UNITS, **LAYER_UNITS}
    samples = {"setup_s": len(setups), "ops_per_s": len(lat),
               "op_p50_s": len(lat), "read_p50_s": len(reads),
               "read_p90_s": len(reads), "write_p50_s": len(writes)}
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "why": wl.why, "inputs": described, "input_write_s": gen_s,
        "timed_phase_s": phase_s, "cores": cores,
        "metrics": {k: {"value": v, "unit": units[k],
                        **({"samples": samples[k]} if k in samples else {})}
                    for k, v in shown.items()},
        "per_template_p50_s": {
            t: statistics.median(r.seconds for r in records
                                 if r.op.template == t)
            for t in sorted({r.op.template for r in records})},
        "warmup_op_s": [[r.op.template, r.seconds] for r in warm],
        "per_op_counts": [dict(r.counts, template=r.op.template)
                          for r in records] if trace else [],
        # time inside each kind of span not covered by its children; the
        # "op" entry is what the benchmark itself adds to the ops
        "span_self_s": self_s,
        "failures": failures,
        "load_avg_1m": {"before": load_before, "after": os.getloadavg()[0],
                        "contended": contended},
        # share of the machine's CPU time the hypervisor gave to others
        "cpu_steal_share": ticks[7] / sum(ticks) if sum(ticks) else None,
        "machine_probe_s": {"before": probe_before, "after": probe_after},
    }))
    print(result_line(layer if trace else e2e,
                      LAYER_UNITS if trace else E2E_UNITS, checked, failures))
    return 0


if __name__ == "__main__":
    sys.exit(main())
