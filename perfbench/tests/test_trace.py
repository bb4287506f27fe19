"""Traced runs emit every per-layer metric BENCHMARK.json names, and no
span's self time exceeds its duration."""

import json
import os
import subprocess
import sys

from perfbench.trace import Span, layer_metrics, self_time
from perfbench.workloads import REGISTRY_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["per_layer"]}


def test_self_time_subtracts_children_once():
    root = Span(0, "request.search", None, 0, 0.0, 10.0)
    kids = [
        Span(1, "sources.load_index", 0, 0, 1.0, 4.0),
        Span(2, "search.plan", 0, 0, 3.0, 6.0),  # overlaps the previous child
        Span(3, "search.exec", 0, 0, 9.0, 12.0),  # runs past the parent's end
        Span(4, "search.inner", 3, 0, 9.5, 10.0),  # grandchild: not the root's child
    ]
    spans = [root, *kids]
    assert self_time(root, spans) == 10.0 - 5.0 - 1.0
    assert all(0.0 <= self_time(s, spans) <= s.duration for s in spans)


def test_layer_metrics_cover_the_declared_set():
    names = set(layer_metrics([], REGISTRY_QUERIES)) | {"trace.overhead_ratio"}
    assert names == _declared()


def test_traced_search_run_emits_every_per_layer_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search_serving",
         "--seed", "2", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == _declared()
    for name in ("session.start_s", "sources.load_index_s", "sources.read_corpus_s", "search.plan_s",
                 "search.exec_s", "search.catalyst_ms", "search.jobs", "search.tasks",
                 "search.bytes_scanned", "index.plan_s", "index.write_s", "index.jobs",
                 "index.store_bytes", "search.self_s", "index.self_s", "trace.overhead_ratio"):
        assert metrics[name] > 0, name
    with open(os.path.join(ROOT, ".perfbench_work", "spans.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    assert any(s.name == "search.exec" for s in spans)
    for s in spans:
        assert 0.0 <= self_time(s, spans) <= s.duration
