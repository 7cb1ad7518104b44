"""Pipeline configuration.

Mirrors the reference processors' config surface (attribute keys + defaults):
- sourcemapprocessor/factory.go:26-51 (default attribute keys)
- proguardprocessor/factory.go:28-51
- dsymprocessor/factory.go:26-43

In the reference every input/output is a dynamic attribute map keyed by these
strings; here each configured attribute key is a DataFrame column name.  Dots
in OTel attribute names are mapped to underscores so columns never need
backtick quoting (the mapping is mechanical: ``.`` -> ``_``).
"""

from __future__ import annotations

from dataclasses import dataclass


def colname(attr_key: str) -> str:
    """Map an OTel attribute key to a safe Spark column name."""
    return attr_key.replace(".", "_")


@dataclass(frozen=True)
class PipelineConfig:
    # --- record identity / ordering (BASELINE.json input_hint) ---
    conv_id_col: str = "conv_id"

    # --- shared stack-trace attributes (sourcemapprocessor/factory.go:34-40) ---
    stack_trace_col: str = "exception_stacktrace"
    exception_type_col: str = "exception_type"
    exception_message_col: str = "exception_message"
    failed_col: str = "exception_symbolicator_failed"
    error_col: str = "exception_symbolicator_error"
    parsing_method_col: str = "exception_symbolicator_parsing_method"
    original_stack_trace_col: str = "exception_stacktrace_original"

    # --- routing attributes ---
    language_col: str = "language"  # telemetry.sdk.language (factory.go:50)
    event_name_col: str = "event_name"  # MetricKit routing (dsym logs_processor.go:102)

    # --- JS structured-stacktrace array columns (sourcemapprocessor/factory.go:29-33) ---
    js_columns_col: str = "st_columns"
    js_functions_col: str = "st_functions"
    js_lines_col: str = "st_lines"
    js_urls_col: str = "st_urls"

    # --- Java structured-stacktrace array columns (proguardprocessor/factory.go:31-34) ---
    jvm_classes_col: str = "st_classes"
    jvm_methods_col: str = "st_methods"
    jvm_lines_col: str = "st_jvm_lines"
    jvm_source_files_col: str = "st_source_files"

    # --- resource-level attributes (conv-level columns in the transcript table) ---
    source_map_uuid_col: str = "source_map_uuid"  # app.debug.source_map_uuid
    build_uuid_col: str = "build_uuid"  # app.debug.build_uuid (dSYM)
    app_executable_col: str = "app_executable"  # app.bundle.executable
    proguard_uuid_col: str = "proguard_uuid"  # app.debug.proguard_uuid

    # --- MetricKit (dsymprocessor/factory.go:29-32) ---
    metrickit_stack_trace_col: str = "metrickit_stacktrace_json"
    # output of the MetricKit route is written to the shared stack_trace column
    # (OutputMetricKitStackTraceAttributeKey defaults to exception.stacktrace).

    # --- behavior flags (defaults per reference factories) ---
    preserve_stack_trace: bool = True  # factory.go:43 (all three processors)
    # Per-processor language allow-lists (README.md:88-108,225-245,352-372).
    # Empty list = process all languages (reference default); the shipped
    # pipeline config routes by language like the reference's suggested config.
    js_allowed_languages: tuple[str, ...] = ("javascript", "webjs", "nodejs")
    jvm_allowed_languages: tuple[str, ...] = ("java", "kotlin", "jvm", "android")
    apple_allowed_languages: tuple[str, ...] = ("swift", "objc", "objective-c")

    # --- symbol store identity (store path prefixes; used only in error text,
    #     mirroring sourcemapprocessor/store.go:47,56) ---
    sourcemap_store_prefix: str = "/maps"
    dsym_store_prefix: str = "/dsyms"
    proguard_store_prefix: str = "/proguard"

    # --- processor stamps (processor.go:152-154 etc.) ---
    processor_type_col: str = "honeycomb_processor_type"
    processor_version_col: str = "honeycomb_processor_version"
    js_processor_type: str = "source_map_symbolicator"  # sourcemapprocessor/factory.go:16
    js_processor_version: str = "1.0.4"  # factory.go:20
    jvm_processor_type: str = "proguard_symbolicator"  # proguardprocessor/factory.go:18
    jvm_processor_version: str = "1.0.1"  # factory.go:23
    apple_processor_type: str = "dsym_symbolicator"  # dsymprocessor/factory.go:16
    apple_processor_version: str = "1.0.2"  # factory.go:20

    # Reproduce the reference's *shipped* source-map lookup behavior: its
    # symbolic-go boundary effectively swaps (line, column) when querying the
    # map, clamping to the lexicographically-last token at-or-before
    # generated position (column, line) — that is the only reading under
    # which its own golden holds (symbolicator_test.go:41-44:
    # Lookup(line=0, col=34) on test_assets/basic-mapping.js ->
    # "    at bar(basic-mapping.js:8:1)", whereas the spec-orientation
    # lookup of the same map yields token (line 4, col 10)).  False = spec
    # orientation (the engine default); True = byte-match the reference.
    sourcemap_reference_compat: bool = False

    route_col: str = "route"  # js | jvm | apple | metrickit | skip
    sink_col: str = "sink"  # fan-out key: route + outcome


DEFAULT_CONFIG = PipelineConfig()
