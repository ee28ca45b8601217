"""The benchmark's own test: its counts are deterministic.

Two traced runs at one seed must give identical counts: jobs, stages
and tasks per span and per query shape, chunks, postings, bytes and the
index-bytes-per-text-byte ratio. A second seed must change the corpus
but not the jobs per query shape.

Each workload runs three traced runs (about five minutes per workload):

    python3 -m pytest perfbench/test_counts.py -q
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import workloads  # noqa: E402


def traced(workload: str, seed: int):
    """(metrics, first span counts per (name, shape)) of one traced run."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    spans = {}
    trace = ROOT / ".perfbench_work" / "traces" / f"{workload}-{seed}.jsonl"
    for line in trace.read_text().splitlines():
        s = json.loads(line)
        spans.setdefault((s["name"], s.get("shape")),
                         (s["jobs"], s["stages"], s["tasks"]))
    return {k: v["value"] for k, v in result["metrics"].items()}, spans


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_counts_repeat_for_a_seed(workload):
    a, spans_a = traced(workload, 5)
    b, spans_b = traced(workload, 5)
    assert spans_a == spans_b
    assert {k: a[k] for k in layers.COUNT_METRICS} \
        == {k: b[k] for k in layers.COUNT_METRICS}

    c, _ = traced(workload, 6)
    assert c["index.codec.postings"] != a["index.codec.postings"]
    for shape in workloads.SHAPES:
        key = f"query.executor.{shape}.jobs"
        assert c[key] == a[key], key
