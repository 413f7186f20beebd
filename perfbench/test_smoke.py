"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in ``BENCHMARK.json`` is printed with its
unit, that the traced run's span tree is well formed, and that the
MapReduce output check rejects a corrupted expected file.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import fixtures, spans, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_end_to_end_metrics_printed_with_units(workload):
    _, result = run_bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_run_metrics_and_span_tree(workload):
    info, result = run_bench(workload, trace=1)
    assert result["correct"]
    names = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    with open(info["env"]["trace_file"]) as fh:
        tree = [spans.Span(**json.loads(line)) for line in fh]
    assert any(s.name == "pass" for s in tree)
    assert any(s.name == "sinks.materialize" for s in tree)
    assert spans.check_tree(tree) == []
    # The per-pass self times add up to the pass: nothing is counted twice.
    kids = spans.children_of(tree)
    by_id = {s.id: s for s in tree}
    for root in (s for s in tree if s.name == "pass"):
        inside = [s for s in tree if _ancestor(s, root.id, by_id)]
        total = sum(spans.self_time(s, kids.get(s.id, [])) for s in inside + [root])
        assert abs(total - root.duration) < 1e-6


def _ancestor(span, root_id, by_id) -> bool:
    while span.parent is not None:
        if span.parent == root_id:
            return True
        span = by_id[span.parent]
    return False


def test_output_check_rejects_corrupted_expected_file(tmp_path):
    spec = fixtures.CorpusSpec(jobs=1, files_per_job=3, tokens_per_file=40, vocab=15)
    (job_dir,) = fixtures.write_corpus(str(tmp_path / "corpus"), 3, spec)
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    for kind in workloads.MR_FUNCTIONS:
        expected = workloads.expected_key_value_bytes(job_dir, kind)
        (out_dir / "part-00000.txt").write_bytes(expected)
        workloads.check_key_value_output(str(out_dir), expected)
        corrupted = expected.replace(b": ", b": 9", 1)
        with pytest.raises(AssertionError):
            workloads.check_key_value_output(str(out_dir), corrupted)


def test_wrappers_rebind_aliases_and_restore():
    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.plans import relational
    from simplemapreduce_spark.sources import tables

    catalog.load_all()
    orig = tables.load_table
    tracer = spans.Tracer()
    tracer.install()
    try:
        assert tables.load_table is not orig
        assert relational.load_table is tables.load_table
    finally:
        tracer.restore()
    assert tables.load_table is orig and relational.load_table is orig


def test_self_time_subtracts_overlapping_children():
    parent = spans.Span(0, "p", "x", None, 0.0, 10.0)
    kids = [spans.Span(1, "a", "x", 0, 1.0, 4.0), spans.Span(2, "b", "x", 0, 3.0, 5.0)]
    assert spans.self_time(parent, kids) == pytest.approx(6.0)
