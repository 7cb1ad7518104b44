"""Regroup + record assembly (SURVEY.md §2.5 M3-M12, §2.6).

Frame outcomes regroup per (conv_id, turn_idx) into a pos-sorted struct
array (record payload rides along via ``first``); ALL record-level
semantics — the dSYM negative-cache quirks, headers, text reassembly,
failure flags, counter totals, preserve-originals, stamps — are JVM
expressions over that array.  The whole pipeline therefore has exactly one
exchange (the regroup) and stays inside whole-stage codegen.

Reference quirks mirrored as array transforms (tests pin them):
- apple: a missing dSYM passes through the FIRST frame per (record, uuid)
  without failure, but every LATER frame of that uuid gets the cached
  FetchError and marks the record failed
  (dsymprocessor/logs_processor.go:240-243 vs :256-258).
- MetricKit: the cached FetchError (or a symbol-lookup failure) ABORTS the
  record at that frame: output is never written and later frames are not
  counted (logs_processor.go:362-393,435-447).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from symspark.config import PipelineConfig
from symspark.operators.common import let

ERR_PARTIAL = "symbolication failed for some stack frames"  # errPartialSymbolication

# processor stamps (honeycomb_processor_type/_version, processor.go:152-154)
JS_PROCESSOR_TYPE = "source_map_symbolicator"  # sourcemapprocessor/factory.go:16
JS_PROCESSOR_VERSION = "1.0.4"  # factory.go:20
JVM_PROCESSOR_TYPE = "proguard_symbolicator"  # proguardprocessor/factory.go:18
JVM_PROCESSOR_VERSION = "1.0.1"  # factory.go:23
APPLE_PROCESSOR_TYPE = "dsym_symbolicator"  # dsymprocessor/factory.go:16
APPLE_PROCESSOR_VERSION = "1.0.2"  # factory.go:20

# frame fields produced by the parse/explode stage (schemas.FRAME_SCHEMA)
_FRAME_FIELDS = [
    "pos", "stack_idx", "kind", "url", "func", "line", "col", "cls", "method",
    "src", "raw", "prefix", "lib", "tok", "addr", "bin", "buuid",
]

_EF_FIELDS = [
    "pos", "stack_idx", "kind", "chunk", "f_failed", "f_err", "miss_uuid",
    "miss_err", "proc_inc", "fail_inc", "fetch_key",
    "m_col", "m_func", "m_line", "m_url", "m_jvm",
]


def regroup(frames: DataFrame) -> DataFrame:
    """Collect enriched frames back into per-record pos-sorted arrays; the
    packed record payload (``rec``, present on the first frame only) and the
    flat join-key columns ride along via ``first``.  Null-frame rows
    (skip / no frames) collect to an empty array.

    The outcome fields arrive as flat ``o_*`` columns (operators/common.py)
    and are packed into the per-frame struct only here — the one place a
    struct is genuinely needed (collect_list element)."""
    ef_cols = [F.col("pos").alias("pos"), F.col("stack_idx").alias("stack_idx"),
               F.col("kind").alias("kind")]
    ef_cols += [F.col(f"o_{f}").alias(f) for f in _EF_FIELDS if f not in ("pos", "stack_idx", "kind")]
    ef = F.when(F.col("pos").isNotNull(), F.struct(*ef_cols))

    flat_cols = [
        c for c in frames.columns
        if c not in _FRAME_FIELDS and c not in ("rec", "conv_id", "turn_idx")
        and not c.startswith("o_")
    ]
    aggs = [F.first(c).alias(c) for c in flat_cols]
    aggs.append(F.first("rec", ignorenulls=True).alias("rec"))
    aggs.append(F.sort_array(F.collect_list(ef)).alias("efs"))
    grouped = frames.groupBy("conv_id", "turn_idx").agg(*aggs)
    # unpack the payload struct back to top-level columns for assembly
    return grouped.select("conv_id", "turn_idx", *flat_cols, "efs", "rec.*")


def _patched_frames(efs: Column) -> Column:
    """Apply the dSYM negative-cache quirks as pure array transforms.

    Pass 1: a later frame of an already-missed uuid hits the cached
    FetchError.  Pass 2: MetricKit aborts at the first erroring frame, so
    its later frames are never reached (no counters, no fetches, no error
    text).  The pass-1 flags and the abort position are each bound once
    per record, and each frame struct is rebuilt once, patching only the
    fields that change."""
    hits = F.transform(efs, lambda x, i: x["miss_uuid"].isNotNull() & F.exists(
        F.slice(efs, F.lit(1), i),
        lambda y: y["miss_uuid"].isNotNull() & (y["miss_uuid"] == x["miss_uuid"]),
    ))

    def frame(x: Column, hit: Column, abort: Column) -> Column:
        mk_hit = hit & (x["kind"] == "mk")
        past = (x["pos"] > abort) & x["kind"].startswith("mk")  # null: no abort
        gone = hit | past  # counters and fetch key dropped
        patched = dict(
            chunk=F.when(mk_hit, F.lit(None)).otherwise(x["chunk"]),
            f_failed=F.when(hit, F.lit(True)).otherwise(x["f_failed"]),
            proc_inc=F.when(gone, F.lit(0)).otherwise(x["proc_inc"]),
            fail_inc=F.when(gone, F.lit(0)).otherwise(x["fail_inc"]),
            fetch_key=F.when(gone, F.lit(None)).otherwise(x["fetch_key"]),
            f_err=F.when(past, F.lit(None)).when(mk_hit, x["miss_err"]).otherwise(x["f_err"]),
        )
        return F.struct(*[patched.get(f, x[f]).alias(f) for f in _EF_FIELDS])

    # abort: the pos of the first pass-1 error (null when none errs)
    return let(hits, lambda h: let(
        F.array_min(F.transform(efs, lambda x, i: F.when(
            x["f_err"].isNotNull() | (h[i] & (x["kind"] == "mk")), x["pos"]
        ))),
        lambda abort: F.transform(efs, lambda x, i: frame(x, h[i], abort)),
    ))


def _mk_text(efs: Column) -> Column:
    """Two-level MetricKit join: frames within a stack joined with
    "\\n    ", stacks joined with "\\n\\n\\n" (logs_processor.go:395-398)."""
    acc0 = F.struct(F.lit("").alias("t"), F.lit(-1).alias("si"))
    return F.aggregate(
        efs,
        acc0,
        lambda acc, x: F.struct(
            F.concat(
                acc["t"],
                F.when(acc["si"] == -1, F.lit(""))
                .when(x["stack_idx"] != acc["si"], F.lit("\n\n\n"))
                .otherwise(F.lit("\n    ")),
                F.coalesce(x["chunk"], F.lit("")),
            ).alias("t"),
            x["stack_idx"].alias("si"),
        ),
        lambda acc: acc["t"],
    )


def _isum(efs: Column, field: str) -> Column:
    return F.aggregate(
        efs, F.lit(0), lambda acc, x: acc + F.coalesce(x[field], F.lit(0))
    ).cast("long")


def assemble_records(grouped: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Build the final record columns from the regrouped frame arrays.
    ``_pre_err``, ``_first_err`` and ``_any_failed``, which most output
    columns read, are built once as columns (multi-referenced, so they
    survive CollapseProject) and dropped at the end."""
    df = grouped.withColumn("efs", _patched_frames(F.col("efs")))

    route = F.col("route")
    is_js = route.isin("js", "js_structured")
    is_jvm = route.isin("jvm", "jvm_structured")
    parsed_route = route.isin("js", "jvm")
    structured_route = route.isin("js_structured", "jvm_structured")
    processed = route != "skip"
    text = F.col("text")
    efs = F.col("efs")

    # --- record-level pre-frame errors, first MetricKit error, any failure ---
    missing = "missing attribute: %s"
    pre_err = (
        F.when(is_jvm & F.col("proguard_uuid").isNull(),
               F.lit(missing % "app.debug.proguard_uuid"))  # log_processor.go:117-124
        .when(is_jvm | is_js, F.col("p_error"))  # parse error / mismatched lengths
        .when((route == "apple") & F.col("build_uuid").isNull(),
              F.lit(missing % "app.debug.build_uuid"))  # logs_processor.go:169-171
        .when((route == "apple") & F.col("app_executable").isNull(),
              F.lit(missing % "app.bundle.executable"))  # logs_processor.go:174-176
        .when(route == "mk", F.col("p_error"))  # invalid MetricKit JSON
    )
    df = df.withColumns({
        "_pre_err": pre_err,
        "_first_err": F.try_element_at(
            F.filter(efs, lambda x: x["f_err"].isNotNull()), F.lit(1)
        )["f_err"],
        "_any_failed": F.exists(efs, lambda x: F.coalesce(x["f_failed"], F.lit(False))),
    })
    pre_err, first_err, any_failed = (F.col(c) for c in ("_pre_err", "_first_err", "_any_failed"))
    mk_abort = (route == "mk") & first_err.isNotNull()
    failed_out = F.when(processed, pre_err.isNotNull() | any_failed | mk_abort)
    error_out = F.when(
        processed,
        F.coalesce(pre_err, F.when(mk_abort, first_err),
                   F.when(any_failed, F.lit(ERR_PARTIAL))),
    )

    # --- text reassembly ---
    body = F.array_join(F.transform(efs, lambda x: x["chunk"]), "\n")
    header = F.when(
        parsed_route, F.format_string("%s: %s", F.col("p_name"), F.col("p_message"))  # M3
    ).when(
        structured_route
        & F.col("exception_type").isNotNull()
        & F.col("exception_message").isNotNull(),
        F.format_string("%s: %s", F.col("exception_type"), F.col("exception_message")),
    )
    # header and/or body, joined by a newline when both are there
    js_jvm_text = F.concat_ws("\n", header, F.nullif(body, F.lit("")))
    text_out = (
        F.when(~processed | pre_err.isNotNull() | mk_abort, text)
        .when(is_js | is_jvm, js_jvm_text)
        .when(route == "apple", body)
        .when(route == "mk", F.coalesce(_mk_text(efs), F.lit("")))
    )

    # --- preserve originals (M9) ---
    preserve = F.lit(cfg.preserve_stack_trace)
    orig_ok = processed & pre_err.isNull() & (route != "mk") & preserve
    orig_text = F.when(orig_ok, text)
    mk_success = (route == "mk") & pre_err.isNull() & ~mk_abort
    # MetricKit input attribute: on success the reference removes it unless
    # PreserveStackTrace (dsymprocessor/logs_processor.go:398-400); on
    # failure it is left untouched.  When absent on input (flattened
    # eventName case) the parsed JSON (= text) is preserved on success.
    mk_attr_in = (
        F.col("metrickit_stacktrace_json")
        if "metrickit_stacktrace_json" in grouped.columns
        else F.lit(None).cast("string")
    )
    mk_json_out = F.when(mk_success & ~preserve, F.lit(None).cast("string")).otherwise(
        F.coalesce(mk_attr_in, F.when(mk_success & preserve, text))
    )

    # --- structured-array outputs ---
    def arr(field: str, typ: str) -> Column:
        return F.transform(efs, lambda x: x[field]).cast(typ)

    empty_l, empty_s = F.array().cast("array<bigint>"), F.array().cast("array<string>")
    js_ok = (route == "js_structured") & pre_err.isNull()
    js_mismatch = (route == "js_structured") & F.col("p_error").isNotNull()
    jvm_ok = (route == "jvm_structured") & pre_err.isNull()
    # the reference empties the arrays before the mismatch check
    # (processor.go:254-267, log_processor.go:192-204); proguard checks the
    # uuid first, so a missing uuid leaves the arrays untouched
    jvm_mismatch = (
        (route == "jvm_structured")
        & F.col("p_error").isNotNull()
        & F.col("proguard_uuid").isNotNull()
    )

    jvm_flat = F.flatten(F.filter(F.transform(efs, lambda x: x["m_jvm"]), lambda a: a.isNotNull()))

    out_cols = {
        "text": text_out,
        "exception_type": (
            F.when(parsed_route & pre_err.isNull(), F.col("p_name"))
            .when(mk_success, F.lit("Unknown Error"))  # M12 fallback
            .otherwise(F.col("exception_type"))
        ),
        "exception_message": (
            F.when(parsed_route & pre_err.isNull(), F.col("p_message"))
            .when(mk_success, F.lit("Unknown Error"))
            .otherwise(F.col("exception_message"))
        ),
        "st_columns": F.when(js_ok, arr("m_col", "array<bigint>"))
        .when(js_mismatch, empty_l).otherwise(F.col("st_columns")),
        "st_functions": F.when(js_ok, arr("m_func", "array<string>"))
        .when(js_mismatch, empty_s).otherwise(F.col("st_functions")),
        "st_lines": F.when(js_ok, arr("m_line", "array<bigint>"))
        .when(js_mismatch, empty_l).otherwise(F.col("st_lines")),
        "st_urls": F.when(js_ok, arr("m_url", "array<string>"))
        .when(js_mismatch, empty_s).otherwise(F.col("st_urls")),
        "st_classes": F.when(jvm_ok, F.transform(jvm_flat, lambda m: m["class_name"]))
        .when(jvm_mismatch, empty_s).otherwise(F.col("st_classes")),
        "st_methods": F.when(jvm_ok, F.transform(jvm_flat, lambda m: m["method_name"]))
        .when(jvm_mismatch, empty_s).otherwise(F.col("st_methods")),
        "st_jvm_lines": F.when(jvm_ok, F.transform(jvm_flat, lambda m: m["line_number"]))
        .when(jvm_mismatch, empty_l).otherwise(F.col("st_jvm_lines")),
        # st_source_files is never rewritten (no mapped source-files slice in
        # the reference, log_processor.go:180-194)
        "exception_stacktrace_original": orig_text,
        "st_columns_original": F.when(js_ok & preserve, F.col("st_columns")),
        "st_functions_original": F.when(js_ok & preserve, F.col("st_functions")),
        "st_lines_original": F.when(js_ok & preserve, F.col("st_lines")),
        "st_urls_original": F.when(js_ok & preserve, F.col("st_urls")),
        "st_classes_original": F.when(jvm_ok & preserve, F.col("st_classes")),
        "st_methods_original": F.when(jvm_ok & preserve, F.col("st_methods")),
        "st_jvm_lines_original": F.when(jvm_ok & preserve, F.col("st_jvm_lines")),
        "st_source_files_original": F.when(jvm_ok & preserve, F.col("st_source_files")),
        "metrickit_stacktrace_json": mk_json_out,
        "exception_symbolicator_parsing_method": (
            F.when(parsed_route & pre_err.isNull(), F.lit("processor_parsed"))
            .when(structured_route & ~(is_jvm & F.col("proguard_uuid").isNull()),
                  F.lit("structured_stacktrace_attributes"))
        ),
        "honeycomb_processor_type": (
            F.when(is_js, F.lit(JS_PROCESSOR_TYPE))
            .when(is_jvm, F.lit(JVM_PROCESSOR_TYPE))
            .when(route.isin("apple", "mk"), F.lit(APPLE_PROCESSOR_TYPE))
        ),
        "honeycomb_processor_version": (
            F.when(is_js, F.lit(JS_PROCESSOR_VERSION))
            .when(is_jvm, F.lit(JVM_PROCESSOR_VERSION))
            .when(route.isin("apple", "mk"), F.lit(APPLE_PROCESSOR_VERSION))
        ),
        "exception_symbolicator_failed": failed_out,
        "exception_symbolicator_error": error_out,
        "frames_processed": F.when(processed & pre_err.isNull(), _isum(efs, "proc_inc")).otherwise(
            F.when(processed, F.lit(0))
        ),
        "frames_failed": F.when(processed & pre_err.isNull(), _isum(efs, "fail_inc")).otherwise(
            F.when(processed, F.lit(0))
        ),
        "fetch_failures": F.when(
            processed & pre_err.isNull(),
            F.size(
                F.array_distinct(
                    F.filter(F.transform(efs, lambda x: x["fetch_key"]), lambda k: k.isNotNull())
                )
            ).cast("long"),
        ).otherwise(F.when(processed, F.lit(0))),
        "outcome": F.when(~processed, F.lit("skip")).otherwise(
            F.when(failed_out, F.lit("failed")).otherwise(F.lit("ok"))
        ),
        "sink": F.when(~processed, F.lit("skip")).otherwise(
            F.concat(route, F.lit("/"), F.when(failed_out, F.lit("failed")).otherwise(F.lit("ok")))
        ),
    }
    return df.withColumns(out_cols).drop(
        "efs", "p_name", "p_message", "p_error", "_pre_err", "_first_err", "_any_failed"
    )
