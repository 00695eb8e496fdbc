"""Spans, counters and the Spark status-store readout for the traced run.

Spans wrap the benchmark's own calls into each layer of the program; they
are kept in memory and written out when the run ends. Counts are taken at
the same boundaries: py4j commands sent by the driver, table commits and the
bytes they leave on disk, and the jobs, stages, tasks and shuffle bytes of
the job groups the benchmark sets per op.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# py4j command names counted as driver round trips: call, reflection and
# constructor. Memory-release and array commands follow Python GC timing,
# so they do not repeat from run to run and are left out.
PY4J_COUNTED = ("c", "r", "i")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    build: bool          # ran before the call returned its DataFrame


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are merged, and clipped to the
    parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


class Tracer:
    """Collects spans. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing but the context-manager entry."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self.building = True

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.op, self.building))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def layer_self_seconds(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s, t in zip(self.spans, self_times(self.spans)):
            out[s.name] = out.get(s.name, 0.0) + t
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class Py4jCounter:
    """Counts call/reflection/constructor commands the driver sends over
    the py4j gateway, by wrapping the gateway client's ``send_command``."""

    def __init__(self, spark):
        self.count = 0
        self.paused = False
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def send_command(command, *a, **kw):
            if not self.paused and command[:1] in PY4J_COUNTED:
                self.count += 1
            return self._orig(command, *a, **kw)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig

    @contextmanager
    def pause(self):
        self.paused = True
        try:
            yield
        finally:
            self.paused = False


class CommitCounter:
    """Counts table commits and the bytes of the committed table directory
    after each one, by wrapping the write path's ``commit_table``."""

    def __init__(self):
        from nebula_spark.operators import mutate
        self.commits = 0
        self.bytes = 0
        self._mod = mutate
        self._orig = mutate.commit_table

        def commit_table(df, path):
            self._orig(df, path)
            self.commits += 1
            self.bytes += sum(os.path.getsize(os.path.join(path, f))
                              for f in os.listdir(path))

        mutate.commit_table = commit_table

    def close(self) -> None:
        self._mod.commit_table = self._orig


@dataclass
class ExecCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    executor_run_ms: int = 0

    def add(self, other: "ExecCounts") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def job_group_counts(spark, group: str) -> tuple[list[int], ExecCounts]:
    """Jobs of ``group`` and the execution counters of their stages, read
    from the JVM status store.
    Stages that ran no task (skipped, reused shuffle output) are not
    counted."""
    sc = spark.sparkContext
    # the status store is fed by the listener bus, which runs behind the
    # action that fired the job; drain it so the last stage is complete
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    ids = sorted(tracker.getJobIdsForGroup(group))
    out = ExecCounts(jobs=len(ids))
    seen: set[int] = set()
    for j in ids:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:   # py4j error: stage never registered
                continue
            done = st.numCompleteTasks()
            if done == 0:
                continue
            out.stages += 1
            out.tasks += done
            out.failed_tasks += st.numFailedTasks()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.executor_run_ms += st.executorRunTime()
    return ids, out


def catalyst_phases(df) -> tuple[dict[str, float], int]:
    """Seconds spent in analysis / optimization / planning for ``df``'s
    query execution (forcing the physical plan if the action ran under
    another execution, as a write does), and the physical plan's size in
    bytes."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        # a Scala Map: get() would hand back an Option
        out[name] = (phases.apply(name).durationMs() / 1000.0
                     if phases.contains(name) else 0.0)
    return out, len(plan.encode())


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
