"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The first tests need no Spark session; the last two start one each.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys

import pytest

from perfbench import gen, harness
from perfbench.workloads import WORKLOADS, CdcMerge, Op, QuerySuite, suite_expected_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.per_layer_names(list(suite_expected_rows()))
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("n, pct", [(5, 50), (19, 50), (20, 50), (40, 75), (100, 90), (5000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert harness.tail_percentile(n) == pct
    xs = list(range(n))
    if pct > 50:
        assert sum(x > harness.tail_value(xs, pct) for x in xs) >= 10


def test_every_ingest_batch_brings_a_new_field():
    rng, seen = random.Random(1), set()
    for k in range(5):
        paths = gen.field_paths(gen.ingest_batch(rng, 2000 * k, 2000, f"attr-{k}"))
        assert f"attr_{k}" in paths - seen
        seen |= paths


def test_throughput_divides_by_timed_wall_time():
    ops = [{"s": 0.5, "cycle": 0.6, "rows": 10}, {"s": 1.5, "cycle": 1.6, "rows": 10}]
    values, _ = harness.e2e_from_ops(ops, wall=4.0)
    assert values["throughput_ops_per_s"] == 0.5 and values["throughput_rows_per_s"] == 5.0
    assert harness.e2e_from_ops(ops)[0]["throughput_ops_per_s"] == pytest.approx(2 / 2.2)


class _Stub:
    """A workload whose every second op returns a wrong output."""

    name = "stub"
    kinds = 1
    warmup_ops = 0

    def __init__(self) -> None:
        self.k = 0

    def next_op(self) -> Op:
        self.k += 1
        return Op("stub", self.k)

    def run_op(self, op: Op) -> int:
        return op.payload

    def check(self, op: Op, rows: int) -> list[str]:
        return [] if rows % 2 else [f"wrong output {rows}"]


def test_failed_output_check_counts_as_failed_op(tmp_path):
    args = argparse.Namespace(workload="stub", seed=0, seconds=0, trace=0, work=str(tmp_path))
    run = harness.Run(args, workload=_Stub())
    run.ops = [run.one_op(k, False) for k in range(4)]
    assert run.counts() == (4, 2)
    assert [o["ok"] for o in run.ops] == [True, False, True, False]


def test_injected_wrong_expected_rows_fail_the_query_check(tmp_path):
    wl = QuerySuite(1, str(tmp_path), tracer=None, expected={"q1_pricing_summary": 7})
    assert wl.check(Op("q1_pricing_summary", None), 6)
    assert not wl.check(Op("q1_pricing_summary", None), 7)


def test_cdc_read_back_differing_from_model_fails(tmp_path):
    wl = CdcMerge(1, str(tmp_path), tracer=None)
    wl.inputs()
    wl.data = str(tmp_path)
    op = wl.next_op()
    top = [{"o_orderkey": k, "o_totalprice": c / 100} for k, c in wl.model.top(wl.TOP)]
    right = {"n": len(wl.model.cents), "cents": sum(wl.model.cents.values())}
    op.result = (right, top)
    assert wl.check(op, 300) == []
    op.result = ({**right, "n": right["n"] + 1}, top)
    assert wl.check(op, 300)


def test_run_outside_a_checkout_fails_without_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_records",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
                           "--seconds", "2", "--trace", str(trace)],
                          cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.splitlines()[-1])


def test_traced_run_reports_every_per_layer_metric():
    result = _run("ingest_records", trace=1)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["warehouse.load_self_ms"]["value"] > 0


def test_wrong_expected_output_in_a_real_run_is_a_failed_op(tmp_path):
    args = argparse.Namespace(workload="query_suite", seed=1, seconds=1, trace=0, work=str(tmp_path))
    wl = QuerySuite(1, str(tmp_path), tracer=None, expected={"q1_pricing_summary": 7})
    run = harness.Run(args, workload=wl)
    wl.tr = run.tr
    try:
        run.run()
    finally:
        run.stop()
    attempted, failed = run.counts()
    assert attempted >= 2 and failed == attempted  # the cold call and every timed pass
    assert any("expected 7" in p for p in run.problems)
