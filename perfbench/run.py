#!/usr/bin/env python3
"""The symspark benchmark.

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One driver process runs Spark on
``local[N]`` (N = min(4, cores)).  It generates the workload's inputs from
the seed (cached under ``perfbench/.cache``), sets up once, runs a cold
pass and then warm passes one at a time (a closed loop) for ``--seconds``,
checks every pass's output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
layer-by-layer measurement instead (layers.py) and reports the per-layer
metrics.  Progress goes to stderr; a ``context`` JSON line (digest,
measured input mix, host noise) precedes the result.  README.md describes
the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")


@dataclass(frozen=True)
class Workload:
    mix: str  # input mix (gen.py)
    turns: int  # turns per pass
    dims: bool  # set-up pins the symbol-store dims (prepare_dims)
    last_layer: str  # a pass runs the pipeline layers up to this one
    min_warm: int  # warm passes per run at least, whatever --seconds says


# A pass re-plans the whole pipeline, so the JVM keeps compiling Spark's
# optimizer and the generated code for many passes (on pipeline_mixed the
# JIT compiler takes 9 CPU-s of the first warm pass and 3 of the sixth),
# and passes of one run differ by 10-30% on a shared host: the metrics are
# medians over at least four warm passes.  Sized so that one run takes
# about 70 s (pipeline_mixed, warm passes of 5-7 s) and 45 s
# (traces_parse, 2.5-3.5 s).
WORKLOADS = {
    "pipeline_mixed": Workload("mixed", 10_000, True, "assemble", 4),
    "traces_parse": Workload("traces", 8_000, False, "explode", 4),
}
LAYERS = ("route", "parse", "explode", "enrich_js", "enrich_jvm", "enrich_apple",
          "regroup", "assemble")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """One workload on one seed: inputs, session, passes and checks."""

    def __init__(self, name: str, seed: int, turns: int | None = None, tracer=None):
        from gen import read_back_turns, write_inputs

        self.name, self.seed = name, seed
        self.workload = WORKLOADS[name]
        self.cores = min(4, os.cpu_count() or 1)
        t0 = time.perf_counter()
        self.input_dir = write_inputs(os.path.join(CACHE, "inputs"), self.workload.mix, seed,
                                      turns or self.workload.turns)
        self.n_turns = read_back_turns(self.input_dir)
        log(f"inputs {self.input_dir} ({self.n_turns} turns, "
            f"{time.perf_counter() - t0:.1f}s)")
        self.out_dir = os.path.join(CACHE, "out", f"{name}-s{seed}")
        self.tracer = tracer
        self.spark = self.lookups = self.dims = self.transcripts = None
        self.setup_times: dict = {}

    def span(self, name: str, jobs: bool = False):
        return self.tracer.span(name, jobs) if self.tracer else contextlib.nullcontext()

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Start the session (which launches the JVM), load the symbol
        stores and, for a workload that pins them, prepare the dims: what a
        batch job pays before its first pass."""
        from symspark.pipeline import load_lookups, prepare_dims
        from symspark.session import get_spark

        with self.span("setup"):
            t0 = time.perf_counter()
            with self.span("session.start"):
                self.spark = get_spark(
                    app_name="perfbench", master=f"local[{self.cores}]",
                    shuffle_partitions=self.cores,
                    extra_conf={"spark.ui.showConsoleProgress": "false"},
                )
            t1 = time.perf_counter()
            with self.span("dims.prepare", jobs=True):
                self.lookups = load_lookups(self.spark, self.input_dir)
                if self.workload.dims:
                    self.dims = prepare_dims(self.lookups)
            t2 = time.perf_counter()
        self.setup_times = {"session": t1 - t0, "dims": t2 - t1, "total": t2 - t0}
        self.transcripts = self.spark.read.parquet(
            os.path.join(self.input_dir, "transcripts.parquet"))

    # -- passes -----------------------------------------------------------

    def layer_calls(self):
        """(layer, call) in pipeline order: each layer's public function,
        as ``run_pipeline`` calls it."""
        from symspark.config import DEFAULT_CONFIG as cfg
        from symspark.operators import assemble, dsym, frames, proguard, route, sourcemap

        lk, d = self.lookups, self.dims
        calls = {
            "route": lambda df: route.gate_and_route(df, cfg),
            "parse": lambda df: frames.attach_parsed(df, cfg),
            "explode": lambda df: frames.explode_frames(df, cfg),
            "enrich_js": lambda df: sourcemap.enrich_js(
                df, lk.sourcemap_tokens, lk.sourcemap_store, cfg,
                dims=d.sourcemap if d else None),
            "enrich_jvm": lambda df: proguard.enrich_jvm(
                df, lk.proguard_mapping, lk.proguard_store, cfg,
                dims=d.proguard if d else None),
            "enrich_apple": lambda df: dsym.enrich_apple(
                df, lk.dsym_symbols, lk.dsym_store, cfg, dims=d.dsym if d else None),
            "regroup": assemble.regroup,
            "assemble": lambda df: assemble.assemble_records(df, cfg),
        }
        last = LAYERS.index(self.workload.last_layer)
        return [(name, calls[name]) for name in LAYERS[:last + 1]]

    def build(self):
        """The workload's output DataFrame: ``run_pipeline`` for the full
        pipeline, else the layer calls up to the workload's last layer."""
        if self.workload.last_layer == "assemble":
            from symspark.pipeline import run_pipeline

            return run_pipeline(self.transcripts, self.lookups, dims=self.dims)
        df = self.transcripts
        for _name, call in self.layer_calls():
            df = call(df)
        return df

    @staticmethod
    def force_observed(df, exprs) -> dict:
        """Write ``df`` to the noop sink, observing ``exprs`` on the way."""
        from pyspark.sql import Observation

        obs = Observation("perfbench")
        df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        return obs.get

    @staticmethod
    def force(df, *extra) -> dict:
        """Write ``df`` to the noop sink, observing its digest (and any
        ``extra`` aggregates) on the way."""
        from checks import digest_exprs

        return Bench.force_observed(df, [*digest_exprs(df), *extra])

    @staticmethod
    def mix_exprs(df):
        """Aggregates of the measured input mix, observed on the cold pass:
        turns routed to skip and to MetricKit, and frames."""
        from pyspark.sql import functions as F

        route = F.col("route")
        if "sink" in df.columns:
            turn = F.lit(True)
            frames = F.sum(F.col("frames_processed") + F.col("frames_failed"))
        else:  # exploded frames: one row per frame, first frame pos 0
            turn = F.coalesce(F.col("pos") == 0, F.lit(True))
            frames = F.count("pos")
        return [
            F.count_if(turn & (route == "skip")).alias("mix_skip"),
            F.count_if(turn & (route == "mk")).alias("mix_mk"),
            F.coalesce(frames, F.lit(0)).alias("mix_frames"),
        ]

    def timed_passes(self, seconds: float, checks) -> dict:
        """The cold pass (plan build plus first run), then warm passes that
        re-run the built plan one at a time until ``seconds`` have passed
        and at least the workload's ``min_warm`` ran.  A warm pass's CPU
        time leaves out the JIT compiler's; the cold pass's keeps it."""
        from checks import digest_of
        from procfs import cpu_times, noise_between, tree_cpu_s

        df, cold, cold_cpu, warm, warm_cpu, noise, mix = None, None, None, [], [], [], {}
        start, min_warm = None, self.workload.min_warm
        while start is None or len(warm) < min_warm or time.perf_counter() - start < seconds:
            label = "cold" if start is None else f"warm{len(warm)}"
            before, cpu0, prog0 = cpu_times(), tree_cpu_s(), tree_cpu_s(jit=False)
            dt = None
            try:
                t0 = time.perf_counter()
                if df is None:
                    df = self.build()
                    vals = self.force(df, *self.mix_exprs(df))
                    mix = {k: v for k, v in vals.items() if k.startswith("mix_")}
                else:
                    vals = self.force(df)
                dt = time.perf_counter() - t0
            except Exception as e:  # a failing pass is counted, not fatal
                log(f"{label} pass failed:\n{traceback.format_exc()}")
                checks.record(label, [repr(e)])
            else:
                ok = checks.check(label, vals["turns"], digest_of(vals))
                log(f"{label} pass {dt:.3f}s" + ("" if ok else f" FAILED: {checks.failures[-1]}"))
                dt = dt if ok else None
            noise.append(noise_between(before, cpu_times()))
            if start is None:
                cold, cold_cpu, start = dt, tree_cpu_s() - cpu0, time.perf_counter()
            elif dt is not None:
                warm.append(dt)
                warm_cpu.append(tree_cpu_s(jit=False) - prog0)
            if checks.attempted > 4 * min_warm and not warm:
                break  # every warm pass fails: stop early, report it
        return {"cold": cold, "cold_cpu": cold_cpu, "warm": warm, "warm_cpu": warm_cpu,
                "noise": noise, "mix": mix}

    def input_mix(self, observed: dict) -> dict:
        """The input as measured: turns read back from the files, and the
        shares observed on the cold pass."""
        from gen import opera_share

        n = self.n_turns
        traced = n - observed.get("mix_skip", n)
        return {
            "turns": n,
            "skip_share": observed.get("mix_skip", 0) / n,
            "metrickit_share": observed.get("mix_mk", 0) / n,
            "opera_share": opera_share(self.input_dir),
            "frames_per_trace_row": observed.get("mix_frames", 0) / traced if traced else 0.0,
        }

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_e2e(bench: Bench, seconds: float) -> dict:
    """The untraced run: every end-to-end metric."""
    from checks import PassChecks
    from procfs import peak_rss_mb

    bench.setup()
    checks = PassChecks(bench.n_turns)
    res = bench.timed_passes(seconds, checks)
    rss = peak_rss_mb()
    if not res["warm"] or res["cold"] is None:
        raise RuntimeError(f"no cold or no warm pass succeeded: {checks.failures[:3]}")
    context = {
        "workload": bench.name,
        "digest": checks.reference,
        "input_mix": bench.input_mix(res["mix"]),
        "setup_s": bench.setup_times,
        "cold_pass_s": res["cold"],
        "cold_pass_cpu_s": res["cold_cpu"],
        "warm_passes_s": res["warm"],
        "warm_passes_cpu_no_jit_s": res["warm_cpu"],
        "peak_rss_mb": rss,
        "host_noise_per_pass": res["noise"],
        "failures": checks.failures,
    }
    print(json.dumps({"context": context}))
    metrics = {
        "turns_per_s": (bench.n_turns / statistics.median(res["warm"]), "turns/s"),
        "cpu_ms_per_turn": (1e3 * statistics.median(res["warm_cpu"]) / bench.n_turns, "ms"),
        "cold_pass_cpu_s": (res["cold_cpu"], "s"),
        "setup_s": (bench.setup_times["total"], "s"),
        "ops_ok_share": (1.0 - checks.failed / checks.attempted, "ratio"),
    }
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _isolate_scratch() -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout (the
    JVM's performance-counter file would otherwise go to /tmp), and keep
    the JVM's JIT compiler threads alive."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # the JIT compiler threads (as many as HotSpot would start anyway) start
    # with the JVM and never end, so that procfs can leave their CPU time
    # out of a pass's (cpu_ms_per_turn)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="override the workload's turn count (smoke tests)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "symspark", "pipeline.py")):
        log(f"no symspark package under {ROOT}; run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    _isolate_scratch()

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer()
    bench = Bench(args.workload, args.seed, args.turns, tracer)
    try:
        if args.trace:
            from layers import run_traced

            result = run_traced(bench, args.seconds)
        else:
            result = run_e2e(bench, args.seconds)
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
