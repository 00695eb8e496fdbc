"""Tests of the benchmark itself; they need no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from workloads import Op  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def _write_all(seed: int, root: str) -> None:
    inputs.write_tables(inputs.tpch_tables(seed), os.path.join(root, "tpch"))
    inputs.write_tables({"link": inputs.deep_edges(seed)},
                        os.path.join(root, "deep"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    _write_all(8, str(tmp_path / "c"))
    for sub in ("tpch", "deep"):
        a, b, c = (str(tmp_path / x / sub) for x in "abc")
        names = sorted(os.listdir(a))
        assert names == sorted(os.listdir(b))
        match, mismatch, errors = filecmp.cmpfiles(a, b, names,
                                                   shallow=False)
        assert not mismatch and not errors
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        assert differ, f"seed does not reach {sub}"
    assert inputs.statement_stream(7, 3) == inputs.statement_stream(7, 3)
    assert inputs.statement_stream(7, 3) != inputs.statement_stream(8, 3)


def test_statement_stream_mix():
    s = inputs.statement_stream(3, 4)
    assert len(s) == 4 * inputs.CYCLE_LEN
    assert sum(x.write for x in s) == 4 * len(inputs.WRITE_TEMPLATES)
    assert [x.template for x in s] == list(inputs.CYCLE) * 4
    assert set(inputs.CYCLE) == set(inputs.READ_TEMPLATES) | set(
        inputs.WRITE_TEMPLATES)


def test_self_time_of_nested_spans():
    # op [0, 10] holds parse [1, 2] and call [2, 6]; call holds two
    # overlapping children [3, 5] and [4, 5.5] and one outside it [7, 8]
    spans = [Span("op", 0, 10, None, 0, True),
             Span("parse", 1, 2, 0, 0, True),
             Span("call", 2, 6, 0, 0, True),
             Span("job", 3, 5, 2, 0, True),
             Span("job", 4, 5.5, 2, 0, True),
             Span("late", 7, 8, 2, 0, False)]
    got = self_times(spans)
    assert got == pytest.approx([10 - 1 - 4, 1, 4 - 2.5, 2, 1.5, 1])


def test_tracer_records_parents_and_sums_self_time():
    t = Tracer(True)
    with t.span("op"):
        with t.span("ngql.parse"):
            pass
        with t.span("executor.call"):
            pass
    assert [s.parent for s in t.spans] == [None, 0, 0]
    total = sum(t.layer_self_seconds().values())
    assert total == pytest.approx(t.spans[0].end - t.spans[0].start)
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_benchmark_json_metrics_are_printed_with_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    required_e2e = {"setup_s", "ops_per_s", "op_p50_s", "read_p50_s",
                 "read_p90_s", "write_p50_s", "failed_share", "peak_rss_mb"}
    assert required_e2e <= set(run.E2E_UNITS) | set(run.DETAIL_UNITS)

    records = [_record("lookup", "read", 0.5), _record("insert", "write", 2.0)]
    values = {k: 1.5 for k in run.E2E_UNITS}
    line = json.loads(run.result_line(values, run.E2E_UNITS, records, []))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {k: {"value": 1.5, "unit": u}
                               for k, u in run.E2E_UNITS.items()}


def _record(template, kind, seconds, rows=None, expect=None):
    r = run.Record(Op(template, kind, "executor", None, expect=expect))
    r.seconds = seconds
    r.rows = rows
    return r


class _NoFinal:
    def final_checks(self, records):
        return []


def test_wrong_reference_counts_as_failed_op():
    rows = [(1, 2.0), (3, 4.0)]
    good = _record("lookup", "read", 0.1, rows,
                   lambda got: checks.same_rows(got, [(3, 4.0), (1, 2.0)]))
    wrong = _record("lookup", "read", 0.1, rows,
                    lambda got: checks.same_rows(got, [(1, 2.0), (3, 5.0)]))
    bad = run.check(_NoFinal(), [good, wrong])
    assert good.ok and not wrong.ok
    assert len(bad) == 1
    line = json.loads(run.result_line({}, {}, [good, wrong], bad))
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (2, 1)


def test_nearest_rank_quantile():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 6.0, 8.0, 7.0, 9.0, 10.0]
    assert run.quantile(xs, 0.9) == 9.0
    assert run.quantile(xs, 0.5) == 5.0
    assert run.quantile([3.0], 0.9) == 3.0


def test_same_rows_tolerates_float_noise_only():
    assert checks.same_rows([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not checks.same_rows([(1, 0.3)], [(1, 0.31)])
    assert not checks.same_rows([(1, 0.3)], [(1, 0.3), (1, 0.3)])


def test_graph_references_on_a_small_graph():
    pairs = [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6)]
    assert sorted(checks.bfs_dists(pairs, [1], 3)) == [
        (1, 2, 1), (1, 3, 1), (1, 4, 2)]
    assert sorted(checks.components(pairs)) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)]
    assert sorted(checks.k_core(pairs, 2)) == [(1, 2), (2, 2), (3, 2)]
