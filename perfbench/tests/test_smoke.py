"""Smoke test of the benchmark: each workload at a tiny scale prints every
metric ``BENCHMARK.json`` names, with its unit, and the oracle rejects a
result whose score is off.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark; the four runs take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--files", "200"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


def _model():
    m = oracle.Model(str.split)
    for i, text in enumerate(["a b c", "a a d", "b d e", "c c c a", "e f"]):
        m.add(100 + i, f"org0/repo{i:02d}", text)
    return m


def test_oracle_accepts_exact_and_rejects_perturbed_score():
    m = _model()
    want = m.match(0, "a c")
    got = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert oracle.compare(got, want, 2) is None
    doc, score = got[0]
    bad = [(doc, score + 1e-4), *got[1:]]
    assert "scored" in oracle.compare(bad, want, 2)
    # a missing hit and a deleted document are caught too
    assert oracle.compare(got[:1], want, 2) is not None
    m.apply_bulk([], [got[0][0]])
    assert oracle.compare(got, m.match(1, "a c"), 2) is not None


def test_oracle_bool_semantics():
    m = _model()
    body = {"query": {"bool": {
        "must": [{"match": {"content": "a"}}],
        "should": [{"match": {"content": "c"}}],
        "must_not": [{"match": {"content": "d"}}],
        "filter": [{"range": {"repo": {"gte": "org0/repo00", "lt": "org0/repo04"}}}],
    }}}
    got = m.body(0, body)
    # doc 101 has d (must_not), 104 is outside the range, 102 lacks a
    assert set(got) == {100, 103}
    assert got[103] > got[100]  # three c's outscore one
