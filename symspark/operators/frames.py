"""Parse stage wiring: attach the parsed struct and explode the unified
frame IR.

Every route is parsed by JVM expressions, so the plan holds no Python-eval
node.  Raw-text routes use functions/parse_sql.py; structured-array routes
build their frames here with ``arrays_zip`` + ``transform``, and the
mismatched-length check reproduces sourcemapprocessor/processor.go:260-267 /
proguardprocessor/log_processor.go:197-204 (including the reference's
quirk that the output arrays are emptied *before* the check, so a
mismatch leaves empty arrays behind).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from symspark.config import PipelineConfig
from symspark.functions import parse_sql
from symspark.schemas import FRAME_SCHEMA


# per structured kind: the reference's attribute keys (named in the
# mismatch error), the four input columns, and the frame field each fills
_STRUCTURED = {
    "js": (  # sourcemapprocessor/factory.go:29-33
        ["exception.structured_stacktrace.columns", "exception.structured_stacktrace.functions",
         "exception.structured_stacktrace.lines", "exception.structured_stacktrace.urls"],
        ["st_columns", "st_functions", "st_lines", "st_urls"],
        ["col", "func", "line", "url"],
    ),
    "jvm": (  # proguardprocessor/factory.go:31-34
        ["exception.structured_stacktrace.classes", "exception.structured_stacktrace.methods",
         "exception.structured_stacktrace.lines", "exception.structured_stacktrace.source_files"],
        ["st_classes", "st_methods", "st_jvm_lines", "st_source_files"],
        ["cls", "method", "line", "src"],
    ),
}


def _structured_parsed(kind: str) -> Column:
    """Parsed struct for a structured-array route (JVM-only expressions)."""
    ref_keys, cols, fields = _STRUCTURED[kind]
    zipped = F.arrays_zip(*[F.col(c).alias(f[0]) for c, f in zip(cols, fields)])
    frames = F.transform(
        zipped,
        lambda x, i: parse_sql.frame_struct(
            pos=i, kind=F.lit(kind), **{f: x[f[0]] for f in fields}
        ),
    )
    # iteration count = first column's length (processor.go:253)
    sizes = [F.size(c) for c in cols]
    sizes_equal = (sizes[0] == sizes[1]) & (sizes[0] == sizes[2]) & (sizes[0] == sizes[3])
    mismatch_err = F.format_string(
        "mismatched stacktrace attribute lengths: (%s %d) (%s %d) (%s %d) (%s %d)",
        *[v for key, n in zip(ref_keys, sizes) for v in (F.lit(key), n)],
    )
    empty_frames = F.array().cast(f"array<{FRAME_SCHEMA.simpleString()}>")
    return F.struct(
        F.col("exception_type").alias("name"),
        F.col("exception_message").alias("message"),
        F.lit(None).cast("string").alias("mode"),
        F.when(~sizes_equal, mismatch_err).alias("error"),
        F.when(sizes_equal, frames).otherwise(empty_frames).alias("frames"),
    )


def attach_parsed(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add the ``parsed`` column: js / jvm / apple / mk rows are parsed by
    the JVM expressions of functions/parse_sql.py, the structured routes
    by :func:`_structured_parsed`.  No Python runs, so the plan keeps the
    input's partitioning."""
    route = F.col("route")
    # the MetricKit path reads the MetricKit attribute when present
    # (logs_processor.go:344 — even in the eventName-routed case); the
    # flattened transcript model falls back to text when the attribute is
    # absent (SURVEY.md §1.3)
    mk_src = (
        F.coalesce(F.col("metrickit_stacktrace_json"), F.col("text"))
        if "metrickit_stacktrace_json" in df.columns
        else F.col("text")
    )
    # stage A: expensive per-line arrays, materialized ONCE as a
    # multi-referenced non-cheap alias (survives CollapseProject)
    df = df.withColumn(
        "_pp",
        parse_sql.pre_parsed_expr(
            F.col("text"), route, F.col("exception_message"), mk_src
        ),
    )
    parsed = (
        F.when(
            route.isin("js", "jvm", "apple", "mk"),
            parse_sql.parsed_expr(
                F.col("_pp"), route,
                F.col("exception_type"), F.col("exception_message"),
            ),
        )
        .when(route == "js_structured", _structured_parsed("js"))
        .when(route == "jvm_structured", _structured_parsed("jvm"))
    )
    return df.withColumn("parsed", parsed).drop("_pp")


# record-level columns the frame enrichment joins need on every frame row
FRAME_FLAT_COLS = [
    "conv_id",
    "turn_idx",
    "route",
    "source_map_uuid",
    "build_uuid",
    "app_executable",
    "proguard_uuid",
]


def explode_frames(parsed_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """OUTER-explode the unified frames array (linear plan: one scan, one
    parse, one downstream shuffle — the regroup).  Rows without frames
    (skip / parse-error / empty) survive as a single null-frame row, so no
    second branch re-reads the input.

    Only the join-key columns ride flat on every frame row; the rest of the
    record payload is packed into one ``rec`` struct attached to the FIRST
    frame only, so the regroup shuffle moves each record's payload once
    instead of once per frame."""
    parsed = F.col("parsed")
    # parsed["mode"] (the TraceKit parse mode) is deliberately NOT carried:
    # record assembly never reads it, and every column here rides the rec
    # payload across the regroup exchange — shuffle bytes are the scaling
    # bottleneck, so the payload carries exactly what assembly consumes.
    df = parsed_df.withColumns(
        {
            "p_name": parsed["name"],
            "p_message": parsed["message"],
            "p_error": parsed["error"],
        }
    )
    payload_cols = [c for c in df.columns if c != "parsed" and c not in FRAME_FLAT_COLS]
    exploded = df.select(
        *FRAME_FLAT_COLS,
        F.struct(*payload_cols).alias("_rec_full"),
        F.explode_outer("parsed.frames").alias("fr"),
    )
    rec = F.when(F.col("fr").isNull() | (F.col("fr.pos") == 0), F.col("_rec_full"))
    from symspark.operators.common import init_outcome_cols

    return init_outcome_cols(
        exploded.select(*FRAME_FLAT_COLS, rec.alias("rec"), "fr.*")
    )
