"""Routed fan-out sinks + resumable checkpointed execution
(SURVEY.md §2.7 R4, §4 item 4).

The reference routes each record to exactly one exporter path
(config.yaml:27-36); here one cached enriched DataFrame fans out as a
single partitioned write — ``partitionBy(route, outcome[, role])`` gives
per-sink directories (partition pruning makes per-sink re-reads free) with
no extra shuffle per sink.

Writer abstraction: Iceberg when the runtime has the iceberg-spark-runtime
jar (``format="iceberg"`` + ``saveAsTable``), else a parquet directory
layout with identical partitioning (the in-sandbox fallback; SURVEY.md §7
Stage 4).

Resumability: the output is partitioned by conv_id hash bucket; ONE
pipeline pass writes every remaining ``bucket=NNNNN`` partition via
dynamic partition overwrite, and only after that job a manifest JSON per
bucket (row counts, per-sink counters, lineage) commits via atomic rename.
On restart, manifested buckets are filtered out at the input scan and
every unmanifested one is re-overwritten.  The guarantee is an idempotent
restart: a committed bucket is never redone and a redo never duplicates
rows, but a job killed during the write redoes all of its buckets (they
commit together, after the write).  A driver-side protocol, deliberately
not a Spark concern.

Layout note: a ``base_path`` holds ONE sink layout — either flat
``write_fanout`` output (``sinks/route=…``) or bucketed/streaming output
(``sinks/bucket=…`` / ``sinks/batch=…``).  Mixing both under one root
breaks parquet partition discovery; use a fresh base_path per protocol.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from symspark.config import DEFAULT_CONFIG, PipelineConfig
from symspark.pipeline import SINK_COUNTERS, sink_aggregates

DEFAULT_PARTITION_KEYS = ("route", "outcome")


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_fanout(
    enriched: DataFrame,
    base_path: str,
    partition_keys: tuple[str, ...] = DEFAULT_PARTITION_KEYS,
    mode: str = "append",
    subdir: str | None = None,
) -> None:
    """One partitioned write = N routed sinks.

    ``subdir`` scopes the write to ``sinks/<subdir>/`` (a ``key=value``
    name registers as an extra partition column on read) - the unit of
    idempotent redo: callers that may replay a slice (checkpoint resume,
    streaming batch retry) write it to its own subdir with
    ``mode="overwrite"`` so a replay cannot duplicate rows."""
    target = os.path.join(base_path, "sinks", subdir) if subdir else os.path.join(base_path, "sinks")
    enriched.write.mode(mode).partitionBy(*partition_keys).parquet(target)


def iceberg_fanout_partition_spec(
    partition_keys: tuple[str, ...] = DEFAULT_PARTITION_KEYS, conv_buckets: int = 32
) -> list:
    """Partition transforms of the Iceberg fan-out table:
    ``bucket(conv_buckets, conv_id)`` + identity on the sink keys.
    Factored out so the spec is constructible (and asserted in tests)
    without the iceberg jar on the classpath."""
    return [
        F.bucket(conv_buckets, F.col("conv_id")),
        *[F.col(k) for k in partition_keys],
    ]


def write_fanout_iceberg(
    enriched: DataFrame,
    table: str,
    partition_keys: tuple[str, ...] = DEFAULT_PARTITION_KEYS,
    conv_buckets: int = 32,
    overwrite_filter=None,
) -> None:
    """Iceberg-table fan-out (requires the iceberg-spark-runtime jar; see
    iceberg_available()).  The table is partitioned by the sink keys plus
    ``bucket(conv_buckets, conv_id)`` - the same explicit conv_id
    hash-bucketing the parquet layout gets from run_checkpointed, but
    tracked in Iceberg metadata so readers prune on conv_id too.

    ``overwrite_filter`` (a Column predicate) makes a replayed slice
    idempotent via Iceberg's overwrite-by-filter commit; otherwise append.
    """
    spark = enriched.sparkSession
    writer = enriched.writeTo(table).using("iceberg")
    if not spark.catalog.tableExists(table):
        writer.partitionedBy(
            *iceberg_fanout_partition_spec(partition_keys, conv_buckets)
        ).create()
        return
    if overwrite_filter is not None:
        writer.overwrite(overwrite_filter)
    else:
        writer.append()


def read_sink(spark: SparkSession, base_path: str, route: str, outcome: str) -> DataFrame:
    """Partition-pruned read of one routed sink.  Works on both the flat
    (``sinks/route=…``) and bucketed (``sinks/bucket=…/route=…``) layouts —
    but not on a root that mixes them (see module docstring)."""
    root = os.path.join(base_path, "sinks")
    df = spark.read.option("basePath", root).parquet(root)
    return df.where((F.col("route") == route) & (F.col("outcome") == outcome))


# ---------------------------------------------------------------------------
# checkpointed / resumable run
# ---------------------------------------------------------------------------

def _manifest_path(base_path: str, bucket: int) -> str:
    return os.path.join(base_path, "_manifests", f"bucket-{bucket:05d}.json")


def completed_buckets(base_path: str) -> set[int]:
    d = os.path.join(base_path, "_manifests")
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket-") and name.endswith(".json"):
            out.add(int(name[len("bucket-"):-len(".json")]))
    return out


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    lookups,
    base_path: str,
    n_buckets: int = 16,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    input_lineage: str = "",
) -> dict:
    """Process the input in conv_id hash buckets: one job overwrites every
    unmanifested bucket, then a per-bucket manifest (rows, per-sink
    counters, lineage) commits for each.  A re-run skips manifested
    buckets and redoes the rest without duplicating rows; a job killed
    before its manifests commit is redone in full (idempotent restart).

    Returns a summary dict {buckets_run, buckets_skipped, rows}.
    """
    from symspark.pipeline import run_pipeline

    os.makedirs(os.path.join(base_path, "_manifests"), exist_ok=True)
    done = completed_buckets(base_path)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return {"buckets_run": 0, "buckets_skipped": len(done), "rows": 0}

    bucket_int = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

    # ONE input scan + ONE pipeline DAG for every remaining bucket (the
    # round-2 per-bucket filter loop scanned the fact table n_buckets
    # times).  Completed buckets are filtered out at the scan, the bucket
    # id becomes a partition column, and dynamic partition overwrite
    # replaces exactly the in-flight bucket=NNNNN directories - a crash
    # mid-write leaves only unmanifested partitions, which the resume
    # re-overwrites identically (idempotent redo, same protocol).
    part = transcripts if not done else transcripts.where(bucket_int.isin(todo))
    enriched = run_pipeline(part, lookups, cfg)
    with_bucket = enriched.withColumn("bucket", F.format_string("%05d", bucket_int))

    sinks_root = os.path.join(base_path, "sinks")
    conf = enriched.sparkSession.conf
    prev_mode = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        with_bucket.write.mode("overwrite").partitionBy(
            "bucket", "route", "outcome"
        ).parquet(sinks_root)
    finally:
        conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    # per-bucket counters from the WRITTEN output (partition-pruned read of
    # this run's buckets - output-sized, never a second input scan)
    run_dirs = [
        p for p in (os.path.join(sinks_root, f"bucket={b:05d}") for b in todo)
        if os.path.isdir(p)
    ]
    per_bucket: dict[int, dict] = {b: {} for b in todo}
    if run_dirs:
        written = spark.read.option("basePath", sinks_root).parquet(*run_dirs)
        for r in sink_aggregates(written, keys=("bucket",)).collect():
            per_bucket[int(r["bucket"])][r["sink"]] = {k: r[k] for k in SINK_COUNTERS}

    ran, rows_total = 0, 0
    for b in todo:
        counters = per_bucket[b]
        rows = sum(c["rows"] for c in counters.values())
        manifest = {
            "bucket": b,
            "n_buckets": n_buckets,
            "rows": rows,
            "sinks": counters,
            "lineage": {
                "input": input_lineage,
                "engine": "symspark",
                "committed_at_epoch": int(time.time()),
            },
        }
        tmp = _manifest_path(base_path, b) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, _manifest_path(base_path, b))  # atomic commit
        ran += 1
        rows_total += rows
    return {"buckets_run": ran, "buckets_skipped": len(done), "rows": rows_total}


def aggregate_manifests(base_path: str) -> dict:
    """Roll the per-bucket counters up into job totals (A1-A3)."""
    totals: dict[str, dict] = {}
    for b in sorted(completed_buckets(base_path)):
        with open(_manifest_path(base_path, b)) as f:
            m = json.load(f)
        for sink, c in m["sinks"].items():
            t = totals.setdefault(sink, dict.fromkeys(SINK_COUNTERS, 0))
            for k in t:
                t[k] += c[k]
    return totals
