"""Smoke tests of the benchmark on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402


def test_same_seed_same_input_other_seed_other_input():
    a = gen.gen_transcripts("mixed", 7, 400)
    assert a.equals(gen.gen_transcripts("mixed", 7, 400))
    b = gen.gen_transcripts("mixed", 8, 400)
    assert a.num_rows == b.num_rows == 400
    assert a.column("text") != b.column("text")


def test_traces_mix_is_all_stack_traces():
    from symspark.operators.route import STACKTRACE_DETECTOR

    t = gen.gen_transcripts("traces", 3, 300).to_pydict()
    assert set(t["language"]) <= {"javascript", "java", "swift"}
    assert all(re.search(STACKTRACE_DETECTOR, text) for text in t["text"])


def test_cached_input_is_reused_and_read_back(tmp_path):
    d = gen.write_inputs(str(tmp_path), "traces", 5, 250)
    mtime = os.path.getmtime(os.path.join(d, "_COMPLETE"))
    assert gen.write_inputs(str(tmp_path), "traces", 5, 250) == d
    assert os.path.getmtime(os.path.join(d, "_COMPLETE")) == mtime
    assert gen.read_back_turns(d) == 250


@pytest.fixture(scope="module")
def spark():
    from symspark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s


def test_output_check_fails_on_corrupted_output(spark, tmp_path):
    from pyspark.sql import functions as F

    from checks import PassChecks, digest_exprs, digest_of
    from symspark.pipeline import load_lookups, run_pipeline

    def digest(df):
        vals = df.agg(*digest_exprs(df)).first().asDict()
        return vals["turns"], digest_of(vals)

    d = gen.write_inputs(str(tmp_path), "mixed", 11, 300)
    out = run_pipeline(spark.read.parquet(os.path.join(d, "transcripts.parquet")),
                       load_lookups(spark, d)).cache()
    checks = PassChecks(300)
    assert checks.check("first", *digest(out))
    assert checks.check("same", *digest(out))
    # one symbolicated text changed
    changed = out.withColumn(
        "text", F.when((F.col("conv_id") == "conv000000") & (F.col("turn_idx") == 0),
                       F.concat(F.col("text"), F.lit("!"))).otherwise(F.col("text")))
    assert not checks.check("changed", *digest(changed))
    # one row lost
    assert not checks.check("dropped", *digest(out.limit(299)))
    assert checks.attempted == 4 and checks.failed == 2
    out.unpersist()


@pytest.mark.parametrize("workload", ["pipeline_mixed", "traces_parse"])
def test_tiny_run_prints_correct_result(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", "0", "--turns", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == {
        "turns_per_s", "cpu_ms_per_turn", "cold_pass_cpu_s", "setup_s", "ops_ok_share"}
    assert all(m["value"] > 0 for m in result["metrics"].values())
