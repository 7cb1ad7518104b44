"""A/B parity harness (SURVEY.md §2.5 M13).

The reference's parity-checking mode runs a stack trace through BOTH the
structured route (client-side TraceKit arrays) and the collector-side
parser and emits the comparison as attributes
(sourcemapprocessor/parity.go:41-127).  Full surface, attribute -> column:

    tracekit.lines/columns/functions/urls   -> tracekit_*
    processorParser.lines/columns/functions/urls -> processor_parser_*
    parity.stackframe.comparison            -> parity_frame_verdicts
    parity.status                           -> parity_status
    parity.totalMismatches                  -> parity_mismatch_count
    parity.processorParsingDuration         -> parity_parse_duration

Semantics mirrored from parity.go:
- processor arrays null-code Go's empty values: url/func "" -> null,
  line/col nil -> null (parity.go:60-85; our frame IR's -1 coding is the
  SYMBOLICATION convention, processor.go:288-297, and is undone here)
- tracekit route is "valid" when all four arrays have equal length
  (parity.go:87-89); the processor route when the parse succeeded
- status enum: consistent / different / tracekit-failed /
  processor-parser-failed / all-parsing-failed (parity.go:16-27), plus
  ``not_applicable`` for rows the caller never runs through the harness
  (no structured arrays / no text - the processor only adds parity
  attributes on dual-route records)
- the per-frame comparison array is emitted only when both routes are
  valid AND lengths match (parity.go:98-120)
- duration: the reference times the per-record parse.  The harness times
  the scalar parser (functions/parse.py, the pipeline parse's oracle) in
  a minimal Arrow UDF and reports the batch wall-clock amortized per row
  (seconds, double).

The comparison itself is pure column algebra over the parsed frame IR: no
extra Python pass beyond the (timed) parse.  The pipeline never calls the
harness.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_type

from symspark.config import DEFAULT_CONFIG, PipelineConfig
from symspark.functions.parse import _parse_js
from symspark.schemas import PARSED_SCHEMA

# status enum (parity.go:16-27)
STATUS_CONSISTENT = "consistent"
STATUS_DIFFERENT = "different"
STATUS_TRACEKIT_FAILED = "tracekit-failed"
STATUS_PROCESSOR_FAILED = "processor-parser-failed"
STATUS_ALL_FAILED = "all-parsing-failed"
STATUS_NOT_APPLICABLE = "not_applicable"

_TIMED_SCHEMA = T.StructType(
    [
        T.StructField("parsed", PARSED_SCHEMA, True),
        T.StructField("duration_sec", T.DoubleType(), True),
    ]
)


_TIMED_PA = to_arrow_type(_TIMED_SCHEMA)


@F.arrow_udf(_TIMED_SCHEMA)
def _timed_parse_udf(text: pa.Array, name: pa.Array, message: pa.Array) -> pa.Array:
    t0 = time.perf_counter()
    parsed = [
        _parse_js(*row)
        for row in zip(text.to_pylist(), name.to_pylist(), message.to_pylist())
    ]
    per_row = (time.perf_counter() - t0) / max(len(text), 1)
    return pa.array(
        [{"parsed": p, "duration_sec": per_row} for p in parsed], type=_TIMED_PA
    )


def add_parity_columns(df: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """For rows that carry BOTH the structured JS arrays and a raw stack
    text, parse the raw text (timed) and compare frame-by-frame."""
    has_both = (
        F.col("st_columns").isNotNull()
        & F.col("st_functions").isNotNull()
        & F.col("st_lines").isNotNull()
        & F.col("st_urls").isNotNull()
        & F.col("text").isNotNull()
    )
    timed = _timed_parse_udf(
        F.when(has_both, F.col("text")),
        F.col("exception_type"),
        F.col("exception_message"),
    )
    df = df.withColumn("_tp", timed)
    p = F.col("_tp")["parsed"]
    parser_frames = p["frames"]
    processor_valid = p["error"].isNull()

    # processor arrays, Go-empty -> null (parity.go:60-85)
    pp_urls = F.transform(parser_frames, lambda q: F.nullif(q["url"], F.lit("")))
    pp_funcs = F.transform(parser_frames, lambda q: F.nullif(q["func"], F.lit("")))
    pp_lines = F.transform(parser_frames, lambda q: F.when(q["line"] != -1, q["line"]))
    pp_cols = F.transform(parser_frames, lambda q: F.when(q["col"] != -1, q["col"]))

    n_l, n_c = F.size("st_lines"), F.size("st_columns")
    n_f, n_u = F.size("st_functions"), F.size("st_urls")
    tracekit_valid = (n_l == n_c) & (n_l == n_f) & (n_l == n_u)
    n_parsed = F.size(parser_frames)

    # per-frame verdict with Go zero-value compare semantics: empty
    # pcommon values read as ""/0 (parity.go:109-113)
    zipped = F.zip_with(
        F.arrays_zip(
            F.col("st_urls").alias("u"),
            F.col("st_functions").alias("f"),
            F.col("st_lines").alias("l"),
            F.col("st_columns").alias("c"),
        ),
        parser_frames,
        lambda s, q: (
            (F.coalesce(s["u"], F.lit("")) == F.coalesce(F.nullif(q["url"], F.lit("")), F.lit("")))
            & (F.coalesce(s["f"], F.lit("")) == F.coalesce(F.nullif(q["func"], F.lit("")), F.lit("")))
            & (F.coalesce(s["l"], F.lit(0)) == F.coalesce(F.when(q["line"] != -1, q["line"]), F.lit(0)))
            & (F.coalesce(s["c"], F.lit(0)) == F.coalesce(F.when(q["col"] != -1, q["col"]), F.lit(0)))
        ),
    )
    comparable = tracekit_valid & processor_valid & (n_c == n_parsed)
    verdicts = F.when(
        comparable,
        F.transform(
            zipped, lambda ok: F.when(ok, STATUS_CONSISTENT).otherwise(STATUS_DIFFERENT)
        ),
    )
    mismatches = F.when(comparable, F.size(F.filter(zipped, lambda ok: ~ok))).otherwise(0)

    status = (
        F.when(~has_both, F.lit(STATUS_NOT_APPLICABLE))
        .when(~tracekit_valid & ~processor_valid, F.lit(STATUS_ALL_FAILED))
        .when(~tracekit_valid, F.lit(STATUS_TRACEKIT_FAILED))
        .when(~processor_valid, F.lit(STATUS_PROCESSOR_FAILED))
        .when((n_c != n_parsed) | (mismatches > 0), F.lit(STATUS_DIFFERENT))
        .otherwise(F.lit(STATUS_CONSISTENT))
    )
    gate = lambda c: F.when(has_both, c)  # noqa: E731
    return (
        df.withColumn("parity_status", status)
        .withColumn("parity_mismatch_count", gate(mismatches))
        .withColumn("parity_frame_verdicts", gate(verdicts))
        .withColumn("tracekit_lines", gate(F.col("st_lines")))
        .withColumn("tracekit_columns", gate(F.col("st_columns")))
        .withColumn("tracekit_functions", gate(F.col("st_functions")))
        .withColumn("tracekit_urls", gate(F.col("st_urls")))
        .withColumn("processor_parser_lines", gate(pp_lines))
        .withColumn("processor_parser_columns", gate(pp_cols))
        .withColumn("processor_parser_functions", gate(pp_funcs))
        .withColumn("processor_parser_urls", gate(pp_urls))
        .withColumn("parity_parse_duration", gate(F.col("_tp")["duration_sec"]))
        .drop("_tp")
    )


def parity_report(df: DataFrame) -> DataFrame:
    """Aggregate parity outcomes (the reference reports these as span
    attributes; here they roll up per status)."""
    return (
        df.groupBy("parity_status")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.coalesce(F.col("parity_mismatch_count"), F.lit(0))).alias("total_mismatches"),
        )
        .orderBy("parity_status")
    )
