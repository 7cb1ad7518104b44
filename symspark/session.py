"""SparkSession construction with the engine's recommended configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "symspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session tuned for this pipeline.

    AQE is on (runtime coalescing + skew-join splitting as a backstop to our
    explicit conv_id salting); Arrow is on for the catalog's pandas UDFs
    and the parity harness.

    Three deployment settings come from the environment:
    ``SPARK_GRAFT_MASTER`` (master when none is passed),
    ``SPARK_GRAFT_CPUS`` (local thread count and shuffle partitions) and
    ``SYMSPARK_DRIVER_MEM`` (driver heap).  Any other Spark conf goes in
    ``extra_conf``, applied last.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores and master == "local[*]":
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = int(n)
    # local mode: the driver heap is the only memory knob; size it to the
    # thread count or concurrent tasks GC-thrash (observed: 32 threads in an
    # 8g heap spent 28% of run time in GC and amplified work ~20x)
    n_threads = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        n_threads = int(master[6:-1])
    # capped at 24g: G1 young pauses on this class of host scale with heap
    # (observed: 70g heap -> 611ms avg young pause, 114s GC per bench run;
    # 24g -> 10-40ms pauses, ~5s GC) and the pipeline's live set is ~10g
    default_mem = f"{min(24, 6 + 2 * n_threads)}g"
    # Scan split sizing: the cluster default (128m bins + 4m file-open
    # cost) packs a small-fixture multi-file table into ~2 input
    # partitions, serializing the whole scan->parse->join mega-stage no
    # matter how many cores exist (the round-2 scaling-floor bug).  In
    # local mode use 4m bins so each fixture shard is its own partition
    # and all cores engage; a cluster master keeps the production value,
    # where 100TB inputs dwarf any sane bin size.
    max_part = "4m" if master.startswith("local[") else "128m"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # AQE coalescing merges by BYTES; our post-shuffle assembly stage is
        # CPU-heavy per byte (array-expression record assembly), so letting
        # AQE collapse the ~100MB regroup shuffle to 2 partitions serializes
        # the job (observed: 32-core run using 1.6 cores).  We size
        # spark.sql.shuffle.partitions to the core count instead.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SYMSPARK_DRIVER_MEM", default_mem))
        # the fused explode-stage consume method lands just over HotSpot's
        # 8KB JIT ceiling; without this flag it runs interpreted (~10x cost).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # collect_list groups (one per record) always exceed the 128-entry
        # object-hash-aggregate default, which forces a sort per partition
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        .config("spark.sql.files.maxPartitionBytes", max_part)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
