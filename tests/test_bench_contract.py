"""The benchmark under ``perfbench/`` calls the operator API directly
(``get_spark``, ``prepare_dims``, every layer's public function with a
positional ``cfg``, ``run_pipeline``, ``run_checkpointed`` and
``sink_aggregates``).  This runs its traced mode on a tiny input so an API
change that breaks it fails here, not only when the benchmark runs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _per_layer_names() -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["per_layer"]}


@pytest.mark.parametrize("workload", ["pipeline_mixed", "traces_parse"])
def test_traced_run_reports_every_layer(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", "1", "--turns", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, context_line, result_line = proc.stdout.strip().splitlines()
    context, result = json.loads(context_line)["context"], json.loads(result_line)
    assert result["correct"] and result["failed"] == 0, context["failures"]
    metrics = result["metrics"]
    assert set(metrics) == _per_layer_names()
    if workload == "traces_parse":
        # run_checkpointed wrote the sink and its manifests matched
        # sink_aggregates of the written output (a mismatch fails the run)
        assert context["sink_pass"] == "ran"
        assert metrics["sink.files"]["value"] > 0
        assert metrics["sink.written_mb"]["value"] > 0
