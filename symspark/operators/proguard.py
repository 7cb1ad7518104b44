"""ProGuard enrichment (SURVEY.md §2.4 J3, §2.2 F8, §2.5 M5).

The mapping table is pre-aggregated per (uuid, obf_class, obf_method) into
a line-range-sorted array, so RemapFrame's (class, method, line) -> 0..N
frames lookup (proguardprocessor/symbolicator.go:70-143) becomes a 1:1
broadcast equi-join plus a range filter — the theta part of the join
(line BETWEEN range bounds) runs as a higher-order filter on the joined
array rather than a nested-loop join.

Semantics mirrored from proguardprocessor/log_processor.go:215-305:
- line < -2 or > 2^32-1 -> "Invalid line number", partial failure, and the
  processed-frames counter is NOT incremented (:240-245).
- store miss -> FetchError per frame; fetch-failure counter once per
  (record, uuid) (the per-record negative cache, :253-265).
- 0 mapped frames -> keep the original frame with Android's -2/-1
  conventions (:275-293); N mapped frames -> N output lines (:295-304).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from symspark.config import PipelineConfig
from symspark.operators.common import MAX_UINT32, fill_outcomes

# symbol-store root named in the fetch-error text of a missing mapping
PROGUARD_STORE_PREFIX = "/proguard"


def build_proguard_dims(mapping: DataFrame, store: DataFrame) -> tuple[DataFrame, DataFrame]:
    ranges = mapping.groupBy(
        F.col("proguard_uuid").alias("pg_uuid"),
        F.col("obf_class").alias("pg_cls"),
        F.col("obf_method").alias("pg_method"),
    ).agg(
        F.sort_array(F.collect_list(F.struct("line_start", "line_end", "mapped"))).alias("pg_ranges")
    )
    store_dim = store.select(
        F.col("proguard_uuid").alias("pgs_uuid"), F.lit(True).alias("pgs_hit")
    )
    return ranges, store_dim


def enrich_jvm(
    frames: DataFrame,
    mapping: DataFrame,
    store: DataFrame,
    cfg: PipelineConfig,
    dims: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    if dims is None:
        dims = tuple(F.broadcast(d) for d in build_proguard_dims(mapping, store))
    ranges_dim, store_dim = dims

    is_jvm = F.col("kind") == "jvm"
    is_raw = F.col("kind") == "jvm_raw"
    uuid = F.col("proguard_uuid")

    frames = frames.join(
        store_dim, F.when(is_jvm, uuid) == store_dim["pgs_uuid"], "left"
    ).drop("pgs_uuid")
    frames = frames.join(
        ranges_dim,
        (F.when(is_jvm, uuid) == ranges_dim["pg_uuid"])
        & (F.col("cls") == ranges_dim["pg_cls"])
        & (F.col("method") == ranges_dim["pg_method"]),
        "left",
    ).drop("pg_uuid", "pg_cls", "pg_method")

    cls, method, line, src = F.col("cls"), F.col("method"), F.col("line"), F.col("src")
    line_bad = (line < -2) | (line > MAX_UINT32)
    store_miss = F.col("pgs_hit").isNull()
    fetch_err = F.format_string(
        "failed to fetch ProGuard mapping for %s: failed to fetch proguard mapping: "
        "open %s/%s.txt: no such file or directory",
        uuid, F.lit(PROGUARD_STORE_PREFIX), uuid,
    )
    matched = F.try_element_at(
        F.filter(F.col("pg_ranges"), lambda r: (line >= r["line_start"]) & (line <= r["line_end"])),
        F.lit(1),
    )
    # store hit but unknown class/method/line-range -> RemapFrame returns 0
    # frames -> keep original (log_processor.go:275-293).  Materialized ONCE
    # (same rationale as sourcemap.py sm_tok: interpreted HOF trees
    # duplicate per python-side reference - 12 copies observed here)
    frames = frames.withColumn(
        "pg_mapped",
        F.coalesce(
            matched["mapped"],
            F.array().cast(
                "array<struct<class_name:string,method_name:string,source_file:string,line_number:bigint>>"
            ),
        ),
    )
    mapped = F.col("pg_mapped")
    has_mapped = F.size(mapped) > 0

    keep_chunk = (
        F.when(line == -2, F.format_string("\tat %s.%s(Native Method)", cls, method))
        .when(line == -1, F.format_string("\tat %s.%s(Unknown Source)", cls, method))
        .otherwise(F.format_string("\tat %s.%s(%s:%d)", cls, method, src, line))
    )
    mapped_chunk = F.array_join(
        F.transform(
            mapped,
            lambda m: F.format_string(
                "\tat %s.%s(%s:%d)",
                m["class_name"], m["method_name"], m["source_file"], m["line_number"],
            ),
        ),
        "\n",
    )
    keep_m = F.array(F.struct(cls.alias("class_name"), method.alias("method_name"), line.alias("line_number")))
    mapped_m = F.transform(
        mapped,
        lambda m: F.struct(
            m["class_name"].alias("class_name"),
            m["method_name"].alias("method_name"),
            m["line_number"].alias("line_number"),
        ),
    )

    branches = [
        (is_jvm & line_bad, dict(  # counters untouched (log_processor.go:240-247)
            chunk=F.format_string("\tInvalid line number %d for %s.%s", line, cls, method),
            f_failed=F.lit(True), proc_inc=F.lit(0), fail_inc=F.lit(0),
        )),
        (is_jvm & store_miss, dict(
            chunk=F.format_string("\tFailed to symbolicate %s.%s(%d): %s", cls, method, line, fetch_err),
            f_failed=F.lit(True), proc_inc=F.lit(1), fail_inc=F.lit(1), fetch_key=uuid,
        )),
        (is_jvm & has_mapped, dict(
            chunk=mapped_chunk, f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            m_jvm=mapped_m,
        )),
        (is_jvm, dict(
            chunk=keep_chunk, f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            m_jvm=keep_m,
        )),
        (is_raw, dict(
            chunk=F.col("raw"), f_failed=F.lit(False), proc_inc=F.lit(0), fail_inc=F.lit(0)
        )),
    ]
    return fill_outcomes(frames, branches).drop("pgs_hit", "pg_ranges", "pg_mapped")
