"""The benchmark's own checks. Each fixture makes one short benchmark run
(``--seconds 0``: the two-pass minimum, ~1 minute on 4 vCPUs), so run
them on their own:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _load(path: str):
    with open(path) as f:
        return json.load(f)


SPEC = _load(os.path.join(ROOT, "BENCHMARK.json"))
WORKLOAD = "query_fanout"


def _run(*extra: str) -> tuple[dict, dict]:
    """One shortest run; returns (result object, context line)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
           "--seed", "7", "--seconds", "0", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    context = next(json.loads(x[len("context "):]) for x in lines if x.startswith("context "))
    return json.loads(lines[-1]), context


@pytest.fixture(scope="module")
def untraced():
    return _run("--trace", "0")


@pytest.fixture(scope="module")
def traced():
    return _run("--trace", "1")


def test_untraced_run_prints_exactly_the_end_to_end_metrics(untraced):
    result, _ = untraced
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert m["value"] > 0
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 1


def test_wrong_digest_counts_as_failed(tmp_path):
    book = _load(os.path.join(HERE, "digests.json"))
    for entries in book.values():
        entries["agg_group_sum"]["digest"] = "0" * 64
    path = tmp_path / "digests.json"
    path.write_text(json.dumps(book))
    result, context = _run("--trace", "0", "--digests", str(path))
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] > 0
    assert context["check"]["agg_group_sum"]["ok"] is False


def test_traced_run_prints_exactly_the_per_layer_metrics(traced):
    result, _ = traced
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert result["correct"] is True


def test_traced_run_writes_a_span_tree_with_nonnegative_self_time(traced):
    _, context = traced
    spans = _load(context["detail"])["spans"]
    ids = {s["id"] for s in spans}
    assert any(s["parent"] is not None for s in spans)
    for s in spans:
        assert s["parent"] is None or s["parent"] in ids
        assert s["self_s"] >= -1e-9
        assert s["duration_s"] >= s["self_s"]
    queries = [s for s in spans if s["layer"] == "query"]
    assert queries
    for q in queries:
        kids = [s for s in spans if s["parent"] == q["id"]]
        assert [k["layer"] for k in kids] == ["build", "plan", "exec"]
        assert all(k["trace"] == q["id"] for k in kids)
    assert any(s["layer"] == "sources" and s["trace"] for s in spans)
    layers = {s["layer"] for s in spans}
    assert {"run", "pass", "session.start", "session.warmup", "direct"} <= layers
