"""dSYM enrichment for Apple crash lines and MetricKit frames
(SURVEY.md §2.4 J4, §2.2 F9, §2.5 M6-M8).

The address-range symbol table is pre-aggregated per (uuid, binary) into a
start-address-sorted range array, so symcache Lookup(addr)
(dsymprocessor/symbolicator.go:71-130) becomes a 1:1 broadcast equi-join
plus ``filter(ranges, r -> addr BETWEEN ...)``; the 1->N inline chain is
the matched range's ``locs`` array.

Reference quirks mirrored exactly (see tests):
- uuid-vs-binary discrimination on the 4th token; unknown binaries pass
  through silently (logs_processor.go:228-238).
- a MISSING dSYM passes the frame through on first encounter but marks the
  record failed on subsequent frames of the same uuid, because the cached
  FetchError is returned as a plain error (logs_processor.go:240-258) —
  the rank-based override lives in operators/assemble.py.
- MetricKit aborts the whole record on the first non-"not found" frame
  error; output is never written (logs_processor.go:362-393).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from symspark.config import PipelineConfig
from symspark.operators.common import fill_outcomes

# symbol-store root named in fetch-error text (dsymprocessor/store.go:28-38)
DSYM_STORE_PREFIX = "/dsyms"

_UUID_RE = "[0-9A-Z]{8}-[0-9A-Z]{4}-[0-9A-Z]{4}-[0-9A-Z]{4}-[0-9A-Z]{12}"


def build_dsym_dims(symbols: DataFrame, store: DataFrame) -> tuple[DataFrame, DataFrame]:
    ranges = symbols.groupBy(
        F.col("build_uuid").alias("ds_uuid"), F.col("binary_name").alias("ds_bin")
    ).agg(
        F.sort_array(
            F.collect_list(F.struct("sym_start_addr", "sym_end_addr", "locs"))
        ).alias("ds_ranges")
    )
    store_dim = store.select(
        F.col("build_uuid").alias("dss_uuid"),
        F.col("binary_name").alias("dss_bin"),
        F.lit(True).alias("dss_hit"),
    )
    return ranges, store_dim


def enrich_apple(
    frames: DataFrame,
    symbols: DataFrame,
    store: DataFrame,
    cfg: PipelineConfig,
    dims: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Adds ``apple_out`` (kinds apple/apple_raw) and ``mk_out`` (kind mk)."""
    if dims is None:
        dims = tuple(F.broadcast(d) for d in build_dsym_dims(symbols, store))
    ranges_dim, store_dim = dims

    is_apple = F.col("kind") == "apple"
    is_apple_raw = F.col("kind") == "apple_raw"
    is_mk = F.col("kind") == "mk"

    binary_name = F.col("app_executable")  # app.bundle.executable
    record_uuid = F.col("build_uuid")  # app.debug.build_uuid

    tok_is_uuid = F.col("tok").rlike(_UUID_RE)  # logs_processor.go:211,272-274
    # apple: resolve (uuid, bin) from the token (logs_processor.go:228-238)
    a_uuid = F.when(tok_is_uuid, F.col("tok")).when(F.col("tok") == binary_name, record_uuid)
    a_bin = F.when(tok_is_uuid, F.col("lib")).when(F.col("tok") == binary_name, binary_name)
    # mk: uuid/bin straight from the frame (logs_processor.go:449)
    uuid = F.when(is_apple, a_uuid).when(is_mk, F.col("buuid"))
    bin_ = F.when(is_apple, a_bin).when(is_mk, F.col("bin"))
    uuid_lc = F.lower(uuid)

    frames = frames.withColumns({"ds_q_uuid": uuid, "ds_q_bin": bin_})
    frames = frames.join(
        store_dim,
        (F.lower(frames["ds_q_uuid"]) == store_dim["dss_uuid"])
        & (frames["ds_q_bin"] == store_dim["dss_bin"]),
        "left",
    ).drop("dss_uuid", "dss_bin")
    frames = frames.join(
        ranges_dim,
        (F.lower(frames["ds_q_uuid"]) == ranges_dim["ds_uuid"])
        & (frames["ds_q_bin"] == ranges_dim["ds_bin"]),
        "left",
    ).drop("ds_uuid", "ds_bin")

    uuid, bin_ = F.col("ds_q_uuid"), F.col("ds_q_bin")
    addr = F.col("addr")
    store_miss = F.col("dss_hit").isNull()
    # materialize the range lookup ONCE (same rationale as sourcemap.py
    # sm_tok: interpreted HOF trees duplicate per python-side reference -
    # this one showed 26 copies of the per-frame range scan in the plan)
    frames = frames.withColumn(
        "ds_match",
        F.try_element_at(
            F.filter(
                F.col("ds_ranges"),
                lambda r: (addr >= r["sym_start_addr"]) & (addr <= r["sym_end_addr"]),
            ),
            F.lit(1),
        ),
    )
    matched = F.col("ds_match")
    locs = matched["locs"]
    # FetchError text: dsymprocessor/symbolicator.go:23-25 wrapping store.go:28-38
    fetch_err = F.format_string(
        "failed to fetch dSYM for %s: failed to find dSYM file: %s/%s.dSYM/Contents/Resources/DWARF/%s",
        uuid, F.lit(DSYM_STORE_PREFIX), uuid, bin_,
    )

    # ---- apple crash-line outcomes (logs_processor.go:213-270) ----
    apple_found_chunk = F.array_join(
        F.transform(
            locs,
            lambda l: F.format_string(
                "%s %s (in %s) (%s:%d) + %d",
                F.col("prefix"), l["symbol"], bin_, l["path"], l["line"], addr,
            ),
        ),
        "\n",
    )
    apple_branches = [
        (is_apple & uuid.isNull(), dict(  # unknown binary token: silent passthrough (:236-238)
            chunk=F.col("raw"), f_failed=F.lit(False), proc_inc=F.lit(0), fail_inc=F.lit(0),
        )),
        (is_apple & store_miss, dict(  # first-encounter passthrough; later frames flip in assembly
            chunk=F.col("raw"), f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            fetch_key=uuid, miss_uuid=uuid, miss_err=fetch_err,
        )),
        (is_apple & matched.isNull(), dict(  # in-store but address unmapped (symbolicator.go:115-117)
            chunk=F.col("raw"), f_failed=F.lit(True), proc_inc=F.lit(1), fail_inc=F.lit(1),
        )),
        (is_apple, dict(
            chunk=apple_found_chunk, f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
        )),
        (is_apple_raw, dict(
            chunk=F.col("raw"), f_failed=F.lit(False), proc_inc=F.lit(0), fail_inc=F.lit(0),
        )),
    ]

    # ---- MetricKit outcomes (logs_processor.go:435-469) ----
    mk_found_chunk = F.array_join(
        F.transform(
            locs,
            lambda l: F.format_string(
                "%s\t\t\t0x%s %s (%s:%d) + %d",
                bin_, F.hex(addr), l["symbol"], l["path"], l["line"], l["sym_addr"],
            ),
        ),
        "\n",
    )
    mk_branches = [
        (is_mk & store_miss, dict(  # fallback line, not a failure (:460-462)
            chunk=F.format_string("%s(%s) +%d", bin_, uuid, addr),
            f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            fetch_key=uuid, miss_uuid=uuid, miss_err=fetch_err,
        )),
        (is_mk & matched.isNull(), dict(  # aborts the record (:463-466)
            f_err=F.format_string("could not find symbol at location %d", addr),
            f_failed=F.lit(True), proc_inc=F.lit(1), fail_inc=F.lit(1),
        )),
        (is_mk, dict(
            chunk=mk_found_chunk, f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
        )),
        (F.col("kind") == "mk_empty", dict(
            chunk=F.lit(""), f_failed=F.lit(False), proc_inc=F.lit(0), fail_inc=F.lit(0),
        )),
    ]
    return fill_outcomes(frames, apple_branches + mk_branches).drop(
        "dss_hit", "ds_ranges", "ds_q_uuid", "ds_q_bin", "ds_match"
    )
