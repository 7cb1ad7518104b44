"""Session defaults: scan split sizing and the driver heap."""

import os

from symspark import session
from symspark.plans import queries


def test_small_table_scans_one_split_per_core(spark, fixture_dir):
    """Spark's split rule sizes bins to totalBytes / defaultParallelism, so
    the 32-shard fixture table scans in one split per core, not per file."""
    path = os.path.join(fixture_dir, "transcripts.parquet")
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 32
    n = spark.read.parquet(path).rdd.getNumPartitions()
    assert n == spark.sparkContext.defaultParallelism


def test_spread_widens_single_file_table(spark, tmp_path):
    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    narrow = spark.read.parquet(path)
    assert narrow.rdd.getNumPartitions() == 1
    spread = queries._spread(narrow)
    assert spread.rdd.getNumPartitions() == p
    assert sorted(r[0] for r in spread.collect()) == list(range(1000))
    wide = narrow.repartition(p)
    assert queries._spread(wide) is wide


def test_driver_heap_at_most_half_of_memory(monkeypatch):
    monkeypatch.setattr(session, "_mem_total_gb", lambda: 8)
    assert int(session.default_driver_mem("local[4]")[:-1]) <= 4
    assert session.default_driver_mem("local[32]") == "4g"
    monkeypatch.setattr(session, "_mem_total_gb", lambda: 1)
    assert session.default_driver_mem("local[4]") == "1g"
    # unknown memory: the thread-count rule alone
    monkeypatch.setattr(session, "_mem_total_gb", lambda: 0)
    assert session.default_driver_mem("local[4]") == "14g"
    assert session.default_driver_mem("local[*]") == "24g"
