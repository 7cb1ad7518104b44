"""SparkSession construction with the engine's recommended configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _mem_total_gb() -> int:
    """Physical memory in whole GiB (``MemTotal`` of /proc/meminfo); 0
    where that file is missing or unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 0


def default_driver_mem(master: str) -> str:
    """Driver heap when ``SYMSPARK_DRIVER_MEM`` is unset.

    In local mode the driver heap is the only memory knob; size it to the
    thread count or concurrent tasks GC-thrash (observed: 32 threads in an
    8g heap spent 28% of run time in GC and amplified work ~20x).  Capped
    at 24g: G1 young pauses on this class of host scale with heap
    (observed: 70g heap -> 611ms avg young pause, 114s GC per bench run;
    24g -> 10-40ms pauses, ~5s GC) and the pipeline's live set is ~10g.
    Also capped at half the physical memory, so the heap never claims a
    small host.
    """
    n_threads = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        n_threads = int(master[6:-1])
    total = _mem_total_gb()
    cap = min(24, max(1, total // 2)) if total else 24
    return f"{min(cap, 6 + 2 * n_threads)}g"


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
    ``SYMSPARK_DRIVER_MEM`` (driver heap, default ``default_driver_mem``).
    Scan splits follow Spark's own rule, ``min(maxPartitionBytes,
    max(openCost, totalBytes / defaultParallelism))`` with each file
    counted at its size plus ``openCost``: a small table gets about one
    split per core, a large one 128 MB splits.  Any other Spark conf
    goes in ``extra_conf``, applied last.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores and master == "local[*]":
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = int(n)
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
        .config("spark.driver.memory",
                os.environ.get("SYMSPARK_DRIVER_MEM", default_driver_mem(master)))
        # the fused explode-stage consume method lands just over HotSpot's
        # 8KB JIT ceiling; without this flag it runs interpreted (~10x cost).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        # collect_list groups (one per record) always exceed the 128-entry
        # object-hash-aggregate default, which forces a sort per partition
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
