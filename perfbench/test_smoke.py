"""Smoke tests for the benchmark: every workload at tiny size, in both
modes, prints each declared metric with its unit, measures every metric
of the layers it calls, and passes the oracle gate.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    DECLARED = json.load(fh)
WORKLOADS = [w["name"] for w in DECLARED["workloads"]]
# operation latencies each workload reports on every run
OPS = {"jaccard_allpairs": set(), "vector_serve": {"search_s", "upsert_s", "delete_s", "compact_s"}}
# acceptance checks on the traced run
POSITIVE = {"jaccard_allpairs": ["jaccard.kept", "jaccard.pairs_s"],
            "vector_serve": ["vector_index.tombstones", "vector_index.lsh_search_s"]}


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    proc = run_bench(
        ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    *_, detail_line, result_line = proc.stdout.strip().splitlines()
    result, detail = json.loads(result_line), json.loads(detail_line)["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    section = DECLARED["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in section} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    measured = detail["measured"]
    assert measured["error_rate"]["value"] == 0.0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        assert {"setup_s", "cpu_s", "run_s", "peak_rss_mb", "error_rate"} | OPS[workload] <= set(measured)
        assert len(detail["setup_phases"]["setup_s"]) == 3
        return
    # every declared layer metric is either measured or belongs to a layer
    # the workload never calls, and those read 0
    not_called = set(detail["layers_not_called"])
    assert not_called.isdisjoint(measured)
    assert set(result["metrics"]) == (set(measured) & set(result["metrics"])) | not_called
    assert all(result["metrics"][n]["value"] == 0.0 for n in not_called)
    for name in POSITIVE[workload]:
        assert measured[name]["value"] > 0, name
    assert "trace.overhead_s" in measured and measured["spark.jobs"]["value"] > 0
    assert measured["run_s"]["value"] > 0 and measured["cpu_s"]["value"] > 0


def test_declared_workloads_exist():
    from perfbench.workloads import WORKLOADS as registry

    assert set(WORKLOADS) == set(registry) == set(OPS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = run_bench(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_same_seed_same_inputs():
    spec = gen.CorpusSpec(n_docs=50, tokens_per_doc=12, n_topics=3, vocab_topic=20,
                          vocab_global=30, dup_share=0.2, dup_edit=0.1)
    a = gen.topic_corpus(np.random.default_rng(3), spec)
    b = gen.topic_corpus(np.random.default_rng(3), spec)
    c = gen.topic_corpus(np.random.default_rng(4), spec)
    assert a.equals(b)
    assert not a.equals(c)
    assert len(a) == 50 and a["doc_id"].is_unique
