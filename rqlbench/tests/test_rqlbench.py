"""Tests of the benchmark harness itself.

    python -m pytest rqlbench/tests -q

The smoke runs start Spark (one process per workload, tiny inputs).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bytes(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("make", [
    lambda d, s: gen.tpch(d, s, 0.01),
    lambda d, s: gen.curation_corpus(d, s, 3, 300),
    lambda d, s: gen.ingest_inputs(d, s, 200, 2, 60),
])
def test_generator_is_seeded(tmp_path, make):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert make(a, 7) == make(b, 7)
    assert _bytes(a) == _bytes(b)
    make(c, 8)
    assert _bytes(a).keys() == _bytes(c).keys()
    assert all(_bytes(a)[f] != _bytes(c)[f] for f in _bytes(a))


def test_curation_corpora_are_fresh_per_repetition(tmp_path):
    gen.curation_corpus(str(tmp_path / "0"), 1, 0, 300)
    gen.curation_corpus(str(tmp_path / "1"), 1, 1, 300)
    texts = [set(pq.read_table(str(tmp_path / r / "docs.parquet"))["text"].to_pylist())
             for r in "01"]
    assert not texts[0] & texts[1]


def _span(i, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "op": "op-0", "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 5.0, 1),   # overlaps span 2: covered is [1, 5]
        _span(4, 9.0, 12.0, 1),  # clipped to the parent: covers [9, 10]
        _span(5, 2.0, 3.0, 2),
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)


def test_op_summary_groups_jobs_by_layer():
    job = dict(_span(3, 1.0, 2.0, 2, tracing.JOB), stages=2, tasks=8,
               executor_ms=100, shuffle_read_bytes=0, shuffle_write_bytes=5,
               spill_bytes=0)
    spans = [_span(1, 0.0, 3.0, None, "build"), _span(2, 0.5, 2.5, 1, "fetch"), job]
    s = tracing.op_summary(spans)
    assert s["s"] == {"build": 3.0, "fetch": 2.0}
    assert s["self_s"]["fetch"] == pytest.approx(1.0)
    assert s["jobs"]["fetch"]["tasks"] == 8
    assert s["jobs"]["fetch"]["job_s"] == pytest.approx(1.0)


def test_tail_percentile_leaves_ten_ops_above():
    assert run.tail_percentile(list(range(19))) is None
    pct, val = run.tail_percentile([float(x) for x in range(100)])
    assert pct == 90 and val == 89.0
    pct, _ = run.tail_percentile([1.0] * 25)
    assert 25 - round(pct / 100 * 25) >= 10


def test_metric_names_and_benchmark_file():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    names = [w["name"] for w in spec["workloads"]] + list(run.E2E) + list(run.PER_LAYER)
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert m["unit"] == run.E2E[m["name"]] and m["bound"] <= 0.25
    for w in spec["workloads"]:
        assert w["name"] in run.WORKLOADS


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_run(workload, traced):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(traced), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if traced else run.E2E
    assert {n: m["unit"] for n, m in res["metrics"].items()} == want
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
    report = json.loads(lines[-2])["report"]
    assert report["calib_sec"] > 0 and report["calib_sec_end"] > 0
    if traced:
        m = {n: v["value"] for n, v in res["metrics"].items()}
        assert (m["ann.probe_s"] > 0) == (workload == "ingest_loop")
        if workload == "feature_chains":
            assert m["exec.s"] > m["build.s"]
