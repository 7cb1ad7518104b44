"""The traced run: per-layer costs measured from outside the program.

After the set-up and a cold pass, each round (alternating their order)

- runs one untraced pass of the workload (the plan built in the cold pass,
  as an end-to-end warm pass runs it), and
- calls the layers' public functions in pipeline order.  After each call it
  cuts the plan there and forces that prefix to the noop sink, under a job
  group of its own, observing the layer's row counts on the way.

A layer's ``marginal_s`` is the median forced time of its cut minus that of
the previous cut (reported as measured, negative or not).  Spark's status
store (UI off) gives each cut's jobs and stages: run, CPU and GC time,
shuffle and spill bytes.  The executed plan of the last cut gives the plan
shape.  For ``traces_parse`` the run ends with one ``sinks.run_checkpointed``
pass of the full pipeline over the same input, which measures the sink.

Every span (name, start, end, parent, pass id) is kept in memory and
written to ``perfbench/.cache/traces/<workload>-s<seed>.json`` at the end.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from statistics import median

from gen import OPERA_MARKER
from run import CACHE, LAYERS, ROOT, Bench, log

MB = 1e6
SINK_BUCKETS = 4  # conv_id buckets of the checkpointed write: one per core
# the sink pass (a cold full pipeline plus the write) takes 25-75 s on 4
# cores; started later than this into the run, it could pass the 180 s a
# run may take, so it is skipped and the context line says so
SINK_START_DEADLINE_S = 95
ROUTES = ("skip", "js", "js_structured", "jvm", "jvm_structured", "apple", "mk")
ENRICHERS = {  # enricher -> routes whose frames it symbolicates
    "enrich_js": ("js", "js_structured"),
    "enrich_jvm": ("jvm", "jvm_structured"),
    "enrich_apple": ("apple", "mk"),
}


class Tracer:
    """In-memory spans.  A span opened with ``jobs=True`` runs its Spark
    jobs under a job group of its own, and on exit gets a child span per job
    and per stage, read from Spark's status store."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.pass_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False):
        from pyspark import SparkContext

        sp = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
              "parent": self._open[-1]["id"] if self._open else None,
              "pass": self.pass_id}
        self.spans.append(sp)
        self._open.append(sp)
        sc = SparkContext._active_spark_context if jobs else None
        if sc is not None:
            group = f"{self.pass_id}:{name}:{sp['id']}"
            sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._open.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                self._add_spark_spans(sc, sp, group)

    def _add_spark_spans(self, sc, parent: dict, group: str) -> None:
        store = sc._jsc.sc().statusStore()

        def epoch(opt):
            return opt.get().getTime() / 1000.0 if opt.isDefined() else None

        for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(job_id)
            job = {"id": len(self.spans), "name": "spark.job", "job_id": job_id,
                   "start": epoch(jd.submissionTime()), "end": epoch(jd.completionTime()),
                   "parent": parent["id"], "pass": parent["pass"]}
            self.spans.append(job)
            sids = jd.stageIds()
            for i in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(i))
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                self.spans.append({
                    "id": len(self.spans), "name": "spark.stage", "stage_id": sd.stageId(),
                    "start": epoch(sd.submissionTime()), "end": epoch(sd.completionTime()),
                    "parent": job["id"], "pass": parent["pass"],
                    "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3, "tasks": sd.numTasks(),
                    "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
                    "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
                    "output_mb": sd.outputBytes() / MB,
                })

    def children(self, sp: dict, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] == sp["id"] and (name is None or s["name"] == name)]

    def stages(self, sp: dict) -> list[dict]:
        return [st for job in self.children(sp, "spark.job")
                for st in self.children(job, "spark.stage")]

    def self_time(self, sp: dict) -> float:
        """The span's duration minus the part its children cover."""
        cover, last = 0.0, sp["start"]
        ivs = sorted((max(c["start"], sp["start"]), min(c["end"], sp["end"]))
                     for c in self.children(sp) if c["start"] and c["end"])
        for a, b in ivs:
            a = max(a, last)
            if b > a:
                cover += b - a
                last = b
        return (sp["end"] - sp["start"]) - cover

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _sum(stages: list[dict], key: str) -> float:
    return sum(st[key] for st in stages)


def _cut_exprs(layer: str, df):
    """Row counts observed on a layer's cut."""
    from pyspark.sql import functions as F

    route = F.col("route")
    exprs = [F.count(F.lit(1)).alias("rows")]
    if layer == "route":
        exprs += [F.count_if(route == r).alias(f"rows_{r}") for r in ROUTES]
    elif layer == "parse":
        marked = F.coalesce(F.col("text"), F.lit("")).rlike(OPERA_MARKER) | F.coalesce(
            F.col("exception_message"), F.lit("")).rlike(OPERA_MARKER)
        exprs.append(F.count_if((route == "mk") | ((route == "js") & marked)).alias("udf_input"))
    elif layer == "explode":
        exprs.append(F.count("pos").alias("frames"))
    elif layer == "assemble":
        for name, routes in ENRICHERS.items():
            mine = route.isin(*routes)
            exprs += [
                F.sum(F.when(mine, F.col("frames_processed"))).alias(f"{name}.processed"),
                F.sum(F.when(mine, F.col("frames_failed"))).alias(f"{name}.failed"),
                F.sum(F.when(mine, F.col("fetch_failures"))).alias(f"{name}.fetch_failures"),
            ]
    return exprs


def _plan_nodes(plan) -> list[str]:
    """Node names of a physical plan, walking into adaptive plans and query
    stages (a cached relation's own plan is not part of the query)."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        names.append(name)
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _plan_shape(df) -> dict:
    """Node counts of the executed plan, and the optimizer's time."""
    qe = df._jdf.queryExecution()
    nodes = _plan_nodes(qe.executedPlan())
    opt = qe.tracker().phases().get("optimization")
    return {
        "plan.exchanges": nodes.count("Exchange"),
        "plan.broadcast_joins": nodes.count("BroadcastHashJoin"),
        "plan.sort_merge_joins": nodes.count("SortMergeJoin"),
        "plan.python_eval_nodes": sum(n.endswith("EvalPython") for n in nodes),
        "plan.optimize_s": opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0,
    }


def _cut_round(bench: Bench, tracer: Tracer, cuts: dict) -> dict:
    """Build the layers one public call at a time and force each prefix.
    Returns the last cut's observed values."""
    df, vals = bench.transcripts, {}
    for layer, call in bench.layer_calls():
        with tracer.span(f"build.{layer}"):
            df = call(df)
        exprs = _cut_exprs(layer, df)
        if layer == bench.workload.last_layer:
            from checks import digest_exprs

            exprs += digest_exprs(df)
        with tracer.span(f"cut.{layer}", jobs=True) as sp:
            vals = Bench.force_observed(df, exprs)
        cuts.setdefault(layer, []).append((sp, vals, df))
    return vals


def _sink_pass(bench: Bench, tracer: Tracer, checks) -> dict:
    """One ``run_checkpointed`` pass to partitioned parquet plus manifests,
    then the manifest check (untimed)."""
    from symspark.pipeline import sink_aggregates
    from symspark.sinks import aggregate_manifests, run_checkpointed

    from checks import manifest_mismatches

    shutil.rmtree(bench.out_dir, ignore_errors=True)
    with tracer.span("sink.run_checkpointed", jobs=True) as sp:
        summary = run_checkpointed(bench.spark, bench.transcripts, bench.lookups, bench.out_dir,
                                   n_buckets=SINK_BUCKETS)
    root = os.path.join(bench.out_dir, "sinks")
    written = bench.spark.read.option("basePath", root).parquet(root)
    errs = manifest_mismatches(aggregate_manifests(bench.out_dir),
                               sink_aggregates(written).collect())
    if summary["rows"] != bench.n_turns:
        errs.append(f"run_checkpointed wrote {summary['rows']} rows, not {bench.n_turns}")
    checks.record("sink", errs)
    stages = tracer.stages(sp)
    writing = [st for st in stages if st["output_mb"] > 0]
    write_end = max((st["end"] for st in writing), default=sp["start"])
    files = [f for _d, _s, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
    shutil.rmtree(bench.out_dir, ignore_errors=True)
    return {
        "sink.write_s": write_end - sp["start"],
        "sink.commit_s": sp["end"] - write_end,
        "sink.written_mb": _sum(writing, "output_mb"),
        "sink.files": len(files),
    }


def run_traced(bench: Bench, seconds: float) -> dict:
    from checks import PassChecks, digest_of
    from procfs import cpu_times, noise_between, peak_rss_mb

    tracer = bench.tracer
    run_start, before = time.perf_counter(), cpu_times()
    bench.setup()
    checks = PassChecks(bench.n_turns)

    tracer.pass_id = "cold"
    with tracer.span("pass.cold") as cold:
        full = bench.build()
        vals = Bench.force(full)
    checks.check("cold", vals["turns"], digest_of(vals))

    cuts: dict[str, list] = {}
    untraced: list[float] = []
    start = time.perf_counter()
    while not untraced or time.perf_counter() - start < seconds:
        r = len(untraced)
        tracer.pass_id = f"round{r}"
        for step in ("cuts", "untraced") if r % 2 == 0 else ("untraced", "cuts"):
            if step == "cuts":
                last = _cut_round(bench, tracer, cuts)
                checks.check(f"round{r}.traced", last["turns"], digest_of(last))
                continue
            t0 = time.perf_counter()
            vals = Bench.force(full)  # the untraced pass: no span, no job group
            untraced.append(time.perf_counter() - t0)
            checks.check(f"round{r}.untraced", vals["turns"], digest_of(vals))
        log(f"round {r}: untraced {untraced[-1]:.3f}s, cuts "
            + ", ".join(f"{k} {_dur(v[-1][0]):.2f}s" for k, v in cuts.items()))

    metrics = {m: 0.0 for m in PER_LAYER}
    tracer.pass_id = "sink"
    sink = "not run on this workload"
    if bench.workload.mix == "traces":
        if time.perf_counter() - run_start < SINK_START_DEADLINE_S:
            metrics.update(_sink_pass(bench, tracer, checks))
            sink = "ran"
        else:
            sink = f"skipped: {SINK_START_DEADLINE_S} s into the run before it could start"
            log(f"sink pass {sink}")
    noise = noise_between(before, cpu_times())
    metrics["mem.peak_rss_mb"] = peak_rss_mb()

    # set-up
    setup = {s["name"]: s for s in tracer.spans if s["pass"] == "setup"}
    metrics["session.start_s"] = _dur(setup["session.start"])
    metrics["dims.prepare_s"] = _dur(setup["dims.prepare"])
    metrics["pass.cold_s"] = _dur(cold)
    if bench.dims is not None:
        d = bench.dims
        metrics["dims.rows"] = sum(x.count() for x in (*d.sourcemap, *d.proguard, *d.dsym))

    # marginals and cut counts
    prev = 0.0
    for layer, runs in cuts.items():
        t = median([_dur(sp) for sp, _v, _df in runs])
        metrics[f"{layer}.marginal_s"] = t - prev
        prev = t
    last_runs = cuts[bench.workload.last_layer]
    first = {layer: runs[0][1] for layer, runs in cuts.items()}
    for r in ROUTES:
        metrics[f"route.rows_{r}"] = first["route"][f"rows_{r}"]
    parse_sp, parse_vals, parse_df = cuts["parse"][0]
    shape = _plan_shape(parse_df)
    metrics["parse.python_rows"] = parse_vals["rows"] if shape["plan.python_eval_nodes"] else 0
    metrics["parse.python_useful_share"] = (
        parse_vals["udf_input"] / metrics["parse.python_rows"]
        if metrics["parse.python_rows"] else 0.0)
    parse_stages = tracer.stages(parse_sp)
    metrics["parse.cpu_share"] = _sum(parse_stages, "cpu_s") / max(1e-9, _sum(parse_stages, "run_s"))
    metrics["explode.frames"] = first["explode"]["frames"]
    if "assemble" in first:
        out = first["assemble"]
        for name in ENRICHERS:
            done = (out[f"{name}.processed"] or 0) + (out[f"{name}.failed"] or 0)
            metrics[f"{name}.hit_share"] = (out[f"{name}.processed"] or 0) / done if done else 0.0
            metrics[f"{name}.fetch_failures"] = out[f"{name}.fetch_failures"] or 0
    if "regroup" in cuts:
        st = tracer.stages(cuts["regroup"][0][0])
        metrics["regroup.shuffle_write_mb"] = _sum(st, "shuffle_write_mb")
        metrics["regroup.spill_mb"] = _sum(st, "spill_mb")

    # the last cut is the workload's full pass, traced
    per_pass = [tracer.stages(sp) for sp, _v, _df in last_runs]
    for key in ("run_s", "cpu_s", "gc_s", "shuffle_write_mb"):
        metrics[f"spark.{key}"] = median([_sum(st, key) for st in per_pass])
    metrics.update(_plan_shape(last_runs[0][2]))
    traced_s = median([_dur(sp) for sp, _v, _df in last_runs])
    full_s = median(untraced)
    metrics["cuts.sum_marginal_s"] = sum(metrics[f"{layer}.marginal_s"] for layer in cuts)
    metrics["cuts.full_pass_s"] = full_s
    metrics["cuts.disagreement_share"] = abs(metrics["cuts.sum_marginal_s"] - full_s) / full_s
    metrics["trace.turns_per_s"] = bench.n_turns / traced_s
    metrics["trace.untraced_turns_per_s"] = bench.n_turns / full_s
    metrics["trace.overhead_share"] = traced_s / full_s - 1.0
    forced = [sp for runs in cuts.values() for sp, _v, _df in runs]
    metrics["trace.driver_self_share"] = (
        sum(tracer.self_time(sp) for sp in forced) / sum(_dur(sp) for sp in forced))
    metrics["host.steal_share"] = noise["steal_share"]
    metrics["host.iowait_share"] = noise["iowait_share"]

    path = os.path.join(CACHE, "traces", f"{bench.name}-s{bench.seed}.json")
    tracer.dump(path)
    marginals = {layer: metrics[f"{layer}.marginal_s"] for layer in cuts}
    context = {
        "workload": bench.name,
        "spans": path,
        "rounds": len(untraced),
        "digest": checks.reference,
        "marginals_s": marginals,
        "costliest_layers": sorted(marginals, key=marginals.get, reverse=True)[:2],
        "self_check": {
            "sum_marginal_s": metrics["cuts.sum_marginal_s"], "full_pass_s": full_s,
            "flagged": metrics["cuts.disagreement_share"] > _throughput_bound(),
        },
        "tracing_overhead_share": metrics["trace.overhead_share"],
        "sink_pass": sink,
        "failures": checks.failures,
    }
    print(json.dumps({"context": context}))
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()},
    }


def _throughput_bound() -> float:
    """The bound BENCHMARK.json fixes for ``turns_per_s``: the summed
    marginals disagreeing with the full pass by more is flagged."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == "turns_per_s")


def _per_layer() -> dict[str, str]:
    """Every per-layer metric and its unit."""
    m = {"session.start_s": "s", "dims.prepare_s": "s", "dims.rows": "count",
         "mem.peak_rss_mb": "MB", "pass.cold_s": "s"}
    m |= {f"{layer}.marginal_s": "s" for layer in LAYERS}
    m |= {f"route.rows_{r}": "count" for r in ROUTES}
    m |= {"parse.python_rows": "count", "parse.python_useful_share": "ratio",
          "parse.cpu_share": "ratio", "explode.frames": "count"}
    for name in ENRICHERS:
        m |= {f"{name}.hit_share": "ratio", f"{name}.fetch_failures": "count"}
    m |= {"regroup.shuffle_write_mb": "MB", "regroup.spill_mb": "MB",
          "sink.write_s": "s", "sink.written_mb": "MB", "sink.files": "count",
          "sink.commit_s": "s",
          "spark.run_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
          "spark.shuffle_write_mb": "MB",
          "plan.exchanges": "count", "plan.broadcast_joins": "count",
          "plan.sort_merge_joins": "count", "plan.python_eval_nodes": "count",
          "plan.optimize_s": "s",
          "cuts.sum_marginal_s": "s", "cuts.full_pass_s": "s",
          "cuts.disagreement_share": "ratio",
          "trace.turns_per_s": "turns/s", "trace.untraced_turns_per_s": "turns/s",
          "trace.overhead_share": "ratio", "trace.driver_self_share": "ratio",
          "host.steal_share": "ratio", "host.iowait_share": "ratio"}
    return m


PER_LAYER = _per_layer()
