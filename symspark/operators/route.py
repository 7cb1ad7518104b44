"""Gate + route stage (SURVEY.md §2.2 F1-F3, §2.7 R1-R3).

The reference gates on presence of the stack-trace attribute
(sourcemapprocessor/processor.go:121-124) and routes by pipeline +
per-processor language allow-list (config.yaml:27-36, README.md:88-108)
plus the MetricKit eventName prefix (dsymprocessor/logs_processor.go:100-117).

In the transcript model the record body IS the stack-trace attribute, so
the presence gate becomes a cheap JVM-side structural detector: rows whose
text has no stack-trace shape are modeled as "attribute absent" and pass
through untouched.  Routing decides which parser/enricher a row gets:

    skip | js | js_structured | jvm | jvm_structured | apple | metrickit

Structured routes are taken when all four structured-stacktrace arrays are
present (sourcemapprocessor/processor.go:177-185,
proguardprocessor/log_processor.go:133-142).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from symspark.config import PipelineConfig

# One regex pass over text; any alternative marks the row as "has a stack trace".
STACKTRACE_DETECTOR = (
    r"(?m)(^\s*at\s+\S"  # Chrome/RN/WinJS/Java 'at' frames
    r"|@[^\n]*:\d"  # Gecko func@url:line
    r"|^[0-9]+\s+[\w _\-\.]+\s+0x[0-9a-f]"  # Apple crash lines
    r"|\"callStacks\""  # MetricKit JSON
    r"|Line \d+ of "  # Opera 9/10
    r"| line \d+, column \d+)"  # Opera 11+
)


# Per-processor language allow-lists: the reference's suggested routing
# config (README.md:88-108,225-245,352-372), matched case-insensitively.
JS_LANGUAGES = ("javascript", "webjs", "nodejs")
JVM_LANGUAGES = ("java", "kotlin", "jvm", "android")
APPLE_LANGUAGES = ("swift", "objc", "objective-c")


def _lang_in(lang: Column, allowed: tuple[str, ...]) -> Column:
    # case-insensitive membership; missing attribute => not allowed
    # (processor.go:126-143, isLanguageAllowed :405-413)
    return F.lower(lang).isin(list(allowed))


def gate_and_route(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Add the ``route`` column."""
    text = F.col("text")
    lang = F.col("language")
    has_st = text.isNotNull() & text.rlike(STACKTRACE_DETECTOR)

    js_ok = _lang_in(lang, JS_LANGUAGES)
    jvm_ok = _lang_in(lang, JVM_LANGUAGES)
    apple_ok = _lang_in(lang, APPLE_LANGUAGES)

    js_structured = (
        F.col("st_columns").isNotNull()
        & F.col("st_functions").isNotNull()
        & F.col("st_lines").isNotNull()
        & F.col("st_urls").isNotNull()
    )
    jvm_structured = (
        F.col("st_classes").isNotNull()
        & F.col("st_methods").isNotNull()
        & F.col("st_jvm_lines").isNotNull()
        & F.col("st_source_files").isNotNull()
    )
    is_mk = apple_ok & F.col("event_name").startswith("metrickit.diagnostic.")
    # Backwards-compat leg (dsymprocessor/logs_processor.go:113-117): no
    # stack-trace attribute, but the MetricKit attribute is present -> the
    # record still takes the MetricKit path.
    mk_attr = (
        F.col("metrickit_stacktrace_json")
        if "metrickit_stacktrace_json" in df.columns
        else F.lit(None).cast("string")
    )
    is_mk_legacy = apple_ok & ~has_st & mk_attr.isNotNull()

    route = (
        F.when(is_mk_legacy, F.lit("mk"))
        .when(~has_st, F.lit("skip"))
        .when(is_mk, F.lit("mk"))
        .when(apple_ok, F.lit("apple"))
        .when(js_ok & js_structured, F.lit("js_structured"))
        .when(js_ok, F.lit("js"))
        .when(jvm_ok & jvm_structured, F.lit("jvm_structured"))
        .when(jvm_ok, F.lit("jvm"))
        .otherwise(F.lit("skip"))
    )
    return df.withColumn("route", route)
