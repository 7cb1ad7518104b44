"""End-to-end pipeline golden tests.

Each case is a hand-built transcript row; expected outputs are derived by
following the reference processors' semantics exactly (file:line citations
in symspark/operators/*).  Text assertions are byte-exact.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from symspark.config import DEFAULT_CONFIG as CFG
from symspark.pipeline import Lookups, run_pipeline, sink_aggregates
from symspark.schemas import TRANSCRIPTS_SCHEMA
from symspark.sources import datagen

TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
KNOWN = datagen.DSYM_UUID_KNOWN
MISS1 = datagen.DSYM_UUID_MISS
MISS2 = datagen.DSYM_UUID_MISS2
BIN = datagen.APP_BINARY
PARTIAL = "symbolication failed for some stack frames"

_FIELDS = [f.name for f in TRANSCRIPTS_SCHEMA.fields]


def row(conv, **kw):
    base = dict.fromkeys(_FIELDS)
    base.update(conv_id=conv, turn_idx=0, role="user", tool="", ts=TS)
    base.update(kw)
    return tuple(base[f] for f in _FIELDS)


APP = "https://cdn.example.com/assets/app.js"
VENDOR = "https://cdn.example.com/assets/vendor.js"
MISSING = "https://cdn.example.com/assets/missing.js"

ROWS = [
    row("js1", language="javascript", exception_type="Error", exception_message="Test error!",
        text=("Error: Test error!\n"
              f"    at myFunction ({APP}:10:15)\n"
              f"    at anotherFunc ({VENDOR}:20:25)")),
    row("js2", language="javascript",
        text=f"TypeError: x\n    at foo ({APP}:10:15)"),
    row("js3", language="javascript", exception_type="Error", exception_message="x",
        text=("Error: x\n"
              "    at call (native)\n"
              "    at baz (<anonymous>)\n"
              f"    at f ({MISSING}:5:2)")),
    row("js4", language="javascript", exception_type="Error", exception_message="x",
        text=f"Error: x\nfoo@{APP}:10"),
    row("js5", language="javascript", exception_type="E", exception_message="m",
        source_map_uuid=datagen.SM_UUID,
        text=f"E: m\n    at a ({APP}:10:15)\n    at b ({VENDOR}:20:25)"),
    row("js6", language="javascript",
        text="    at brokenFrame (app.js:xx:yy)"),
    row("js7", language="javascript", exception_type="E", exception_message="m",
        text="structured\n    at x (y)",
        st_columns=[15, 25], st_functions=["f1", "f2"], st_lines=[10, 20],
        st_urls=[APP, VENDOR]),
    row("js8", language="javascript",
        text="structured\n    at x (y)",
        st_columns=[15], st_functions=["f1", "f2"], st_lines=[10, 20],
        st_urls=[APP, VENDOR]),
    row("jvm1", language="java", proguard_uuid="test-uuid-0001",
        text=("java.lang.IllegalStateException: boom\n"
              "\tat a.a.a(SourceFile:42)\n"
              "\tat a.b.b(SourceFile:150)\n"
              "Caused by: inner\n"
              "\tat b.c.a(Native Method)\n"
              "\tat zz.yy.xx(F.java:77)")),
    row("jvm2", language="java",
        text="java.lang.E: x\n\tat a.a.a(SourceFile:42)"),
    row("jvm3", language="java", proguard_uuid="missing-uuid",
        text="java.lang.E: x\n\tat a.a.a(SourceFile:42)\n\tat a.b.b(SourceFile:150)"),
    row("jvm4", language="java", proguard_uuid="test-uuid-0001",
        text="java.lang.E: x\n\tat a.a.a(File.java:5000000000)\n\tat a.a.b(SourceFile:42)"),
    row("jvm5", language="java", proguard_uuid="test-uuid-0001",
        exception_type="E", exception_message="m",
        text="ignored\n\tat q.q.q(F:1)",
        st_classes=["a.a", "a.b"], st_methods=["a", "b"],
        st_jvm_lines=[42, 150], st_source_files=["SourceFile", "SourceFile"]),
    row("apple1", language="swift", build_uuid=KNOWN, app_executable=BIN,
        text=("Thread 0 Crashed:\n"
              f"0   {BIN}   0x0000000000001b39 {BIN} + 6969\n"
              f"1   {BIN}   0x0000000000001f4d {KNOWN} + 7021\n"
              "2   SomeOtherApp   0x0000000000000037 SomeOtherApp + 55")),
    row("apple2", language="swift", build_uuid=KNOWN, app_executable=BIN,
        text=(f"0   libfoo.dylib   0x0000000000000064 {MISS2} + 100\n"
              f"1   libfoo.dylib   0x00000000000000c8 {MISS2} + 200\n"
              f"2   libbar.dylib   0x000000000000012c {MISS1} + 300")),
    row("apple3", language="swift", build_uuid=KNOWN, app_executable=BIN,
        text=f"0   {BIN}   0x0000000000000001 {BIN} + 99999999"),
    row("apple4", language="swift", app_executable=BIN,
        text=f"0   {BIN}   0x0000000000000001 {BIN} + 55"),
    row("apple5", language="swift", build_uuid=KNOWN,
        text=f"0   {BIN}   0x0000000000000001 {BIN} + 55"),
    row("mk1", language="swift", event_name="metrickit.diagnostic.crash",
        text=('{"callStacks":[{"callStackFrames":['
              f'{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetAddress":1500}},'
              f'{{"binaryName":"libswiftCore.dylib","binaryUUID":"{MISS1}","offsetAddress":7}}'
              "]}]}")),
    row("mk2", language="swift", event_name="metrickit.diagnostic.crash",
        text=('{"callStacks":['
              f'{{"callStackFrames":[{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetAddress":1500}}]}},'
              f'{{"callStackFrames":[{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetAddress":2500}}]}}'
              "]}")),
    row("mk3", language="swift", event_name="metrickit.diagnostic.crash",
        text=('{"callStacks":[{"callStackFrames":['
              f'{{"binaryName":"libswiftCore.dylib","binaryUUID":"{MISS1}","offsetAddress":7}},'
              f'{{"binaryName":"libswiftCore.dylib","binaryUUID":"{MISS1}","offsetAddress":9}}'
              "]}]}")),
    # frames past the aborting one (the second MISS1 frame)
    row("mk8", language="swift", event_name="metrickit.diagnostic.crash",
        text=('{"callStacks":[{"callStackFrames":['
              f'{{"binaryName":"libswiftCore.dylib","binaryUUID":"{MISS1}","offsetAddress":7}},'
              f'{{"binaryName":"libswiftCore.dylib","binaryUUID":"{MISS1}","offsetAddress":9}},'
              f'{{"binaryName":"libfoo.dylib","binaryUUID":"{MISS2}","offsetAddress":5}}'
              "]}]}")),
    row("mk4", language="swift", event_name="metrickit.diagnostic.crash",
        text='{"callStacks": [}'),
    row("mk5", language="swift", event_name="metrickit.diagnostic.crash",
        text=('{"callStacks":[{"callStackRootFrames":['
              f'{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetIntoBinaryTextSegment":1500,'
              f'"subFrames":[{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetIntoBinaryTextSegment":2500}}]}}'
              "]}]}")),
    # legacy MetricKit attribute, no stack trace in text
    # (dsymprocessor/logs_processor.go:113-117)
    row("mk6", language="swift", text="plain prose, no trace here",
        metrickit_stacktrace_json=('{"callStacks":[{"callStackFrames":['
                                   f'{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetAddress":1500}}'
                                   "]}]}")),
    row("mk7", language="swift", text="plain prose, no trace here",
        metrickit_stacktrace_json='{"callStacks": [}'),
    row("skip1", language="javascript", text="just some plain prose with no trace"),
    row("skip2", language="other", text=f"Error: x\n    at foo ({APP}:10:15)"),
    row("skip3", language=None, text="java.lang.E: x\n\tat a.a.a(SourceFile:42)"),
]



def input_text(conv):
    return ROWS[[t[0] for t in ROWS].index(conv)][_FIELDS.index("text")]

@pytest.fixture(scope="module")
def results(spark, fixture_dir):
    from symspark.pipeline import load_lookups

    transcripts = spark.createDataFrame(ROWS, TRANSCRIPTS_SCHEMA)
    lookups = load_lookups(spark, fixture_dir)
    out = run_pipeline(transcripts, lookups).collect()
    return {r["conv_id"]: r.asDict() for r in out}


def test_js_parsed_golden(results):
    r = results["js1"]
    assert r["text"] == (
        "Error: Test error!\n"
        "    at orig_app_10_10(webpack:///src/app.ts:20:20)\n"
        "    at orig_vendor_20_10(webpack:///src/vendor.ts:40:20)"
    )
    assert r["exception_symbolicator_failed"] is False
    assert r["exception_symbolicator_error"] is None
    assert r["exception_symbolicator_parsing_method"] == "processor_parsed"
    assert r["exception_stacktrace_original"] == input_text("js1")
    assert r["exception_type"] == "Error"
    assert r["exception_message"] == "Test error!"
    assert r["honeycomb_processor_type"] == "source_map_symbolicator"
    assert r["honeycomb_processor_version"] == "1.0.4"
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (2, 0, 0)
    assert r["sink"] == "js/ok"


def test_js_empty_header_quirk(results):
    # absent exception attrs become "" after the parse overwrite -> ": " header
    # (processor.go:199-205,234-236)
    r = results["js2"]
    assert r["text"] == ": \n    at orig_app_10_10(webpack:///src/app.ts:20:20)"
    assert r["exception_type"] == "" and r["exception_message"] == ""


def test_js_skips_and_fetch_miss(results):
    r = results["js3"]
    assert r["text"] == (
        "Error: x\n"
        "    at call (native)\n"
        "    at baz (<anonymous>)\n"
        f"\tFailed to symbolicate f at {MISSING}:5:2: "
        f"failed to fetch source map for {MISSING}: "
        "failed to find source file: /maps/missing.js"
    )
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"] == PARTIAL
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (3, 1, 1)
    assert r["sink"] == "js/failed"


def test_js_column_validation(results):
    r = results["js4"]
    assert r["text"] == (
        "Error: x\n"
        f"\tFailed to symbolicate foo at {APP}:10:-1: column must be uint32: -1"
    )
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (1, 1, 0)


def test_js_uuid_scoped(results):
    r = results["js5"]
    assert r["text"] == (
        "E: m\n"
        "    at orig_app_10_10(webpack:///src/app_u.ts:20:20)\n"
        f"\tFailed to symbolicate b at {VENDOR}:20:25: "
        f"failed to fetch source map for {VENDOR}: "
        f"failed to find source file: /maps/{datagen.SM_UUID}/vendor.js"
    )
    assert r["fetch_failures"] == 1


def test_js_parse_failure(results):
    r = results["js6"]
    assert r["text"] == "    at brokenFrame (app.js:xx:yy)"  # untouched
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"] == (
        "failed to parse raw stack trace from exception.stacktrace: failed to parse stack trace"
    )
    assert r["exception_symbolicator_parsing_method"] is None
    assert r["exception_stacktrace_original"] is None
    assert r["honeycomb_processor_type"] == "source_map_symbolicator"
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (0, 0, 0)
    assert r["sink"] == "js/failed"


def test_js_structured_success(results):
    r = results["js7"]
    assert r["text"] == (
        "E: m\n"
        "    at orig_app_10_10(webpack:///src/app.ts:20:20)\n"
        "    at orig_vendor_20_10(webpack:///src/vendor.ts:40:20)"
    )
    assert r["st_columns"] == [20, 20]
    assert r["st_functions"] == ["orig_app_10_10", "orig_vendor_20_10"]
    assert r["st_lines"] == [20, 40]
    assert r["st_urls"] == ["webpack:///src/app.ts", "webpack:///src/vendor.ts"]
    assert r["st_columns_original"] == [15, 25]
    assert r["st_urls_original"] == [APP, VENDOR]
    assert r["exception_stacktrace_original"] == "structured\n    at x (y)"
    assert r["exception_symbolicator_parsing_method"] == "structured_stacktrace_attributes"
    assert r["exception_type"] == "E"  # structured route: attrs NOT overwritten
    assert r["sink"] == "js_structured/ok"


def test_js_structured_mismatch(results):
    r = results["js8"]
    assert r["text"] == "structured\n    at x (y)"  # untouched
    # arrays are emptied BEFORE the length check (processor.go:254-267)
    assert r["st_columns"] == [] and r["st_functions"] == []
    assert r["st_lines"] == [] and r["st_urls"] == []
    assert r["st_columns_original"] is None
    assert r["exception_symbolicator_error"] == (
        "mismatched stacktrace attribute lengths: "
        "(exception.structured_stacktrace.columns 1) "
        "(exception.structured_stacktrace.functions 2) "
        "(exception.structured_stacktrace.lines 2) "
        "(exception.structured_stacktrace.urls 2)"
    )
    assert r["exception_symbolicator_parsing_method"] == "structured_stacktrace_attributes"
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (0, 0, 0)


def test_jvm_parsed_golden(results):
    r = results["jvm1"]
    assert r["text"] == (
        "java.lang.IllegalStateException: boom\n"
        "\tat com.example.DeobA_A.orig_a0(Source.java:10)\n"
        "\tat com.example.DeobA_B.orig_b0(Source.java:1010)\n"
        "\tat com.example.DeobA_B.orig_b1(Source.java:1011)\n"
        "Caused by: inner\n"
        "\tat b.c.a(Native Method)\n"
        "\tat zz.yy.xx(F.java:77)"
    )
    assert r["exception_symbolicator_failed"] is False
    assert r["exception_type"] == "java.lang.IllegalStateException"
    assert r["exception_message"] == "boom"
    assert r["honeycomb_processor_type"] == "proguard_symbolicator"
    assert r["honeycomb_processor_version"] == "1.0.1"
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (4, 0, 0)
    assert r["sink"] == "jvm/ok"


def test_jvm_missing_uuid(results):
    r = results["jvm2"]
    assert r["text"] == "java.lang.E: x\n\tat a.a.a(SourceFile:42)"
    assert r["exception_symbolicator_error"] == "missing attribute: app.debug.proguard_uuid"
    assert r["exception_symbolicator_parsing_method"] is None
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (0, 0, 0)


def test_jvm_store_miss(results):
    r = results["jvm3"]
    ferr = (
        "failed to fetch ProGuard mapping for missing-uuid: failed to fetch "
        "proguard mapping: open /proguard/missing-uuid.txt: no such file or directory"
    )
    assert r["text"] == (
        "java.lang.E: x\n"
        f"\tFailed to symbolicate a.a.a(42): {ferr}\n"
        f"\tFailed to symbolicate a.b.b(150): {ferr}"
    )
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (2, 2, 1)
    assert r["exception_symbolicator_error"] == PARTIAL


def test_jvm_invalid_line(results):
    r = results["jvm4"]
    assert r["text"] == (
        "java.lang.E: x\n"
        "\tInvalid line number 5000000000 for a.a.a\n"
        "\tat com.example.DeobA_A.orig_b0(Source.java:10)"
    )
    # invalid-line frames touch neither counter (log_processor.go:240-247)
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (1, 0, 0)
    assert r["exception_symbolicator_failed"] is True


def test_jvm_structured_success(results):
    r = results["jvm5"]
    assert r["text"] == (
        "E: m\n"
        "\tat com.example.DeobA_A.orig_a0(Source.java:10)\n"
        "\tat com.example.DeobA_B.orig_b0(Source.java:1010)\n"
        "\tat com.example.DeobA_B.orig_b1(Source.java:1011)"
    )
    assert r["st_classes"] == ["com.example.DeobA_A", "com.example.DeobA_B", "com.example.DeobA_B"]
    assert r["st_methods"] == ["orig_a0", "orig_b0", "orig_b1"]
    assert r["st_jvm_lines"] == [10, 1010, 1011]
    assert r["st_source_files"] == ["SourceFile", "SourceFile"]  # never rewritten
    assert r["st_classes_original"] == ["a.a", "a.b"]
    assert (r["frames_processed"], r["frames_failed"]) == (2, 0)


def test_apple_golden(results):
    r = results["apple1"]
    assert r["text"] == (
        "Thread 0 Crashed:\n"
        f"0   {BIN}   0x0000000000001b39 func_6 (in {BIN}) (/src/MyFile.swift:7) + 6969\n"
        f"1   {BIN}   0x0000000000001f4d inlined_into_7 (in {BIN}) (/src/Inline.swift:23) + 7021\n"
        f"1   {BIN}   0x0000000000001f4d func_7 (in {BIN}) (/src/MyFile.swift:8) + 7021\n"
        "2   SomeOtherApp   0x0000000000000037 SomeOtherApp + 55"
    )
    assert r["exception_symbolicator_failed"] is False
    assert r["honeycomb_processor_type"] == "dsym_symbolicator"
    assert r["exception_stacktrace_original"].startswith("Thread 0 Crashed:")
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (2, 0, 0)
    assert r["sink"] == "apple/ok"


def test_apple_miss_quirk(results):
    # first frame per missing uuid passes silently; later frames of the same
    # uuid hit the cached FetchError and mark the record failed
    # (logs_processor.go:240-258)
    r = results["apple2"]
    assert r["text"] == input_text("apple2")  # all lines kept
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"] == PARTIAL
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (2, 0, 2)


def test_apple_lookup_miss(results):
    r = results["apple3"]
    assert r["text"] == input_text("apple3")
    assert r["exception_symbolicator_failed"] is True
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (1, 1, 0)


def test_apple_missing_attrs(results):
    r = results["apple4"]
    assert r["exception_symbolicator_error"] == "missing attribute: app.debug.build_uuid"
    assert r["text"] == input_text("apple4")
    r = results["apple5"]
    assert r["exception_symbolicator_error"] == "missing attribute: app.bundle.executable"


def test_mk_flat_golden(results):
    r = results["mk1"]
    assert r["text"] == (
        f"{BIN}\t\t\t0x5DC func_1 (/src/MyFile.swift:2) + 1000\n"
        f"    libswiftCore.dylib({MISS1}) +7"
    )
    assert r["exception_symbolicator_failed"] is False
    assert r["exception_type"] == "Unknown Error"
    assert r["exception_message"] == "Unknown Error"
    assert r["metrickit_stacktrace_json"] == input_text("mk1")
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (2, 0, 1)
    assert r["sink"] == "mk/ok"


def test_mk_two_stacks(results):
    r = results["mk2"]
    assert r["text"] == (
        f"{BIN}\t\t\t0x5DC func_1 (/src/MyFile.swift:2) + 1000"
        "\n\n\n"
        f"{BIN}\t\t\t0x9C4 func_2 (/src/MyFile.swift:3) + 2000"
    )


def test_mk_cached_fetch_abort(results):
    r = results["mk3"]
    assert r["text"] == input_text("mk3")  # output never written
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"] == (
        f"failed to fetch dSYM for {MISS1}: failed to find dSYM file: "
        f"/dsyms/{MISS1}.dSYM/Contents/Resources/DWARF/libswiftCore.dylib"
    )
    assert r["metrickit_stacktrace_json"] is None
    assert r["exception_type"] is None  # attrs only set on success
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (1, 0, 1)


def test_mk_frames_past_abort(results):
    # the abort ends the record's walk (logs_processor.go:362-393): the
    # MISS2 frame after it adds no counter, no fetch key and no error text
    r = results["mk8"]
    assert r["text"] == input_text("mk8")
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"] == (
        f"failed to fetch dSYM for {MISS1}: failed to find dSYM file: "
        f"/dsyms/{MISS1}.dSYM/Contents/Resources/DWARF/libswiftCore.dylib"
    )
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (1, 0, 1)
    assert r["sink"] == "mk/failed"


def test_mk_invalid_json(results):
    r = results["mk4"]
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"].startswith("invalid MetricKit JSON")
    assert (r["frames_processed"], r["frames_failed"], r["fetch_failures"]) == (0, 0, 0)


def test_mk_recursive_subframes(results):
    r = results["mk5"]
    assert r["text"] == (
        f"{BIN}\t\t\t0x5DC func_1 (/src/MyFile.swift:2) + 1000\n"
        f"    {BIN}\t\t\t0x9C4 func_2 (/src/MyFile.swift:3) + 2000"
    )


def test_mk_legacy_attribute_routes(results):
    """No stack-trace attr + MetricKit attr present -> MetricKit path
    (logs_processor.go:113-117); the attribute itself passes through."""
    r = results["mk6"]
    assert r["route"] == "mk"
    assert r["text"] == f"{BIN}\t\t\t0x5DC func_1 (/src/MyFile.swift:2) + 1000"
    assert r["exception_symbolicator_failed"] is False
    assert r["metrickit_stacktrace_json"] == (
        '{"callStacks":[{"callStackFrames":['
        f'{{"binaryName":"{BIN}","binaryUUID":"{KNOWN}","offsetAddress":1500}}'
        "]}]}"
    )
    assert r["sink"] == "mk/ok"


def test_mk_legacy_invalid_json(results):
    r = results["mk7"]
    assert r["route"] == "mk"
    assert r["exception_symbolicator_failed"] is True
    assert r["exception_symbolicator_error"].startswith("invalid MetricKit JSON")
    assert r["text"] == input_text("mk7")  # untouched on failure
    assert r["metrickit_stacktrace_json"] == '{"callStacks": [}'


def test_skip_rows(results):
    for key in ("skip1", "skip2", "skip3"):
        r = results[key]
        assert r["sink"] == "skip"
        assert r["exception_symbolicator_failed"] is None
        assert r["honeycomb_processor_type"] is None
        assert r["text"] == input_text(key)


def test_preserve_stack_trace_false(spark, fixture_dir):
    """preserve_stack_trace=False: originals are dropped and the MetricKit
    input attribute is REMOVED on success (logs_processor.go:398-400) but
    left untouched on failure."""
    import dataclasses

    cfg = dataclasses.replace(CFG, preserve_stack_trace=False)
    keys = ("js1", "mk1", "mk6", "mk7")
    rows = [ROWS[[t[0] for t in ROWS].index(k)] for k in keys]
    transcripts = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    out = run_pipeline(transcripts, load_lookups_cached(spark, fixture_dir), cfg=cfg)
    r = {x["conv_id"]: x.asDict() for x in out.collect()}
    # js: no originals kept
    assert r["js1"]["exception_stacktrace_original"] is None
    assert r["js1"]["sink"] == "js/ok"
    # mk success, attr came from text (flattened): nothing to remove, no preserve
    assert r["mk1"]["sink"] == "mk/ok"
    assert r["mk1"]["metrickit_stacktrace_json"] is None
    # mk success, legacy input attribute present: removed
    assert r["mk6"]["sink"] == "mk/ok"
    assert r["mk6"]["metrickit_stacktrace_json"] is None
    # mk failure: input attribute untouched
    assert r["mk7"]["sink"] == "mk/failed"
    assert r["mk7"]["metrickit_stacktrace_json"] == '{"callStacks": [}'


def load_lookups_cached(spark, fixture_dir):
    from symspark.pipeline import load_lookups

    return load_lookups(spark, fixture_dir)


def test_sink_aggregates_shape(spark, fixture_dir, results):
    from symspark.pipeline import load_lookups

    transcripts = spark.createDataFrame(ROWS, TRANSCRIPTS_SCHEMA)
    agg = sink_aggregates(run_pipeline(transcripts, load_lookups(spark, fixture_dir)))
    rows = {r["sink"]: r for r in agg.collect()}
    assert rows["skip"]["rows"] == 3
    assert rows["js/ok"]["rows"] == 2  # js1, js2
    assert rows["js/failed"]["frames_failed"] >= 2


@pytest.mark.parametrize(
    "change, column",
    [
        (lambda t: t.withColumnRenamed("conv_id", "conversation_id"), "conv_id"),
        (lambda t: t.drop("proguard_uuid"), "proguard_uuid"),
    ],
    ids=["conv_id_renamed", "proguard_uuid_dropped"],
)
def test_off_schema_input_fails_at_plan_build(spark, fixture_dir, change, column):
    """Column names are the TRANSCRIPTS_SCHEMA contract: an input that
    renames or lacks one fails while the plan is built, naming the column,
    before any row is computed."""
    from pyspark.errors import AnalysisException

    t = change(spark.read.parquet(f"{fixture_dir}/transcripts.parquet"))
    with pytest.raises(AnalysisException, match=column):
        run_pipeline(t, load_lookups_cached(spark, fixture_dir))
