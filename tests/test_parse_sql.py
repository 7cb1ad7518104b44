"""The JVM parse engine (functions/parse_sql.py) must produce parsed structs
byte-equal to the scalar oracle (functions/parse.py ``_parse_js`` /
``_parse_jvm`` / ``_parse_apple`` / ``_parse_mk``, run as a Python UDF over
the same rows) on every input: the parser corpora of the other test
modules, the cases below, and the fixture transcripts.  The limits of
functions/limits.py apply in both."""

import os

import pytest
from pyspark.sql import functions as F

import tests.test_apple_parser as apple_corpus
import tests.test_java_parser as java_corpus
import tests.test_js_parser as js_corpus
from symspark.config import PipelineConfig
from symspark.functions import limits
from symspark.functions import parse as P
from symspark.operators import frames as frames_op, route as route_op
from symspark.schemas import PARSED_SCHEMA

APP = "https://cdn.example.com/assets/app.js"

# (name, message, stack)
JS_CASES = [
    ("SomeError", "msg", ""),
    (None, None, None),
    ("e", "m", "\n\n\n"),
    ("e", "m", "completely unparseable garbage"),
    ("TypeError", "boom", f"TypeError: boom\n    at foo ({APP}:1:2)\n    at http://x/b.js:3:4"),
    ("e", "m", "  at fn (webpack:///src/index.ts:78:20)\n junk line\n  at page (webpack:///p.ts:8:1)"),
    ("e", "m", "trace@http://x/a.js:10:5\n@http://x/b.js:2:1"),
    ("e", "m", "    at Object.<anonymous> (native)"),
    ("e", "m", "    at eval (eval at foo (http://x/a.js:1:2), <anonymous>:3:4)"),
    ("e", "m", "    at fnname (ms-appx://pkg/js/app.js:10:5)"),
    ("e", "m", "    at [object Object].method (file:///C:/app/x.js:5)"),
    ("e", "m", "  at whatever (address at index.android.bundle:1:2)"),
    ("e", "m", "obj.method@resource://gre/modules/X.jsm:92"),
    ("e", "m", "    at  (http://x/a.js:1:2)"),  # empty func -> ?
    ("e", "m", "    at f (http://x/a.js)"),  # no line/col -> -1
    ("e", "m", "    at f (http://x/a.js:1:2)\r\n    at g (http://x/b.js:3:4)\r"),
    # Gecko "line N > eval" urls (the Opera marker routes them through the
    # full cascade)
    ("e", "m", "x@http://y/f.js line 2 > eval:1:1"),
    ("e", "m", "f@http://y/f.js line 7 > eval line 1 > eval:3:9\ng@http://y/g.js:4:2"),
    # the batch-parser corpus cases, verbatim
    ("e", "m",
     "Error thrown at line 42, column 3 in fn(a) in http://opera.example/x.js:\n"
     "    called from line 1, column 0 in <anonymous function: outer>(b) in http://opera.example/y.js:"),
    ("e",
     "Statement on line 44: whatever\nBacktrace:\n  Line 44 of linked script http://o.example/t.js\n"
     "    fn();\n  Line 31 of linked script http://o.example/u.js\n    g();",
     ""),
    ("e", "m", "  Line 12 of inline#2 script in http://o.example/i.html: in function foo\n    x();\n"
     "  Line 5 of function script\n    y();"),
    # Opera 11, both regexes
    ("e", "m",
     "Error thrown at line 42, column 3 in fn(a) in http://opera.example/x.js:\n"
     "    x();\n"
     "called from line 1, column 0 in <anonymous function: outer>(b) in http://opera.example/y.js:\n"
     "    y();\n"
     "called from line 9, column 12 in http://opera.example/z.js:"),
    ("e", "m",
     "  Line 31 of linked script http://o.example/t.js: in function go\n"
     "    go();\n"
     "  Line 7 of inline#1 script in http://o.example/i.html: in function foo\n"
     "    foo();\n"
     "  Line 3 of linked script file://localhost/t.js\n"),
    ("e", "m", "<anonymous function>([arguments not available])@http://o.example/x.js:27\n"
     "  Error thrown at line 4, column 2 in http://o.example/y.js:"),
    # Opera 11 stacktrace-property lines ("... line N ... script ...")
    ("e", "m",
     "  ... Line 44 of linked script http://o.example/t.js: in function dumpException3\n"
     "    dumpException();\n"
     "  ... Line 31 of inline#1 script in http://o.example/i.html\n"
     "    x();"),
    # Opera 10 (Opera 9 line formats on the stacktrace property)
    ("e", "m",
     "  Line 12 of inline#2 script in http://o.example/i.html: in function foo\n"
     "    x();\n"
     "  Line 5 of function script\n"
     "    y();\n"
     "  Line 8 of linked script https://o.example/l.js\n"
     "    z();"),
    ("e", "m", "  Line 12 of inline#2 script in http://o.example/i.html: in function foo\n    x();"),
    ("e", "m", "  Line 12 of inline#2 script in http://o.example/i.html"),  # one line: no Opera 10
    # Opera 9 message form: frames from message line 2, stride 2; the
    # message is cut to its first line
    ("e",
     "Statement on line 44: whatever\nBacktrace:\n"
     "  Line 44 of linked script http://o.example/t.js\n    fn();\n"
     "  Line 31 of linked script http://o.example/u.js: in function g\n    g();\n"
     "  Line 5 of inline#3 script in http://o.example/i.html\n    h();\n"
     "  Line 2 of function script\n    k();",
     ""),
    ("e", "Statement on line 3\nBacktrace:\n  Line 3 of function script", ""),  # < 4 lines
    ("e", "first\nsecond\n  Line 1 of linked script http://o.example/t.js\n    f();",
     "garbage that matches nothing"),
    ("e", "Line 1 of nothing\nx\ny\nz", "still nothing"),  # marker, no frames: error
    # adversarial: over-LINE_CAP lines and the group-separator control chars
    # are non-matching in both engines (functions/limits.py)
    ("e", "m", "x" * 9000 + "@http://x/a.js:1:2"),
    ("e", "m", "    at f" + "o" * 9000 + " (http://x/a.js:1:2)\n    at ok (http://x/b.js:3:4)"),
    ("e", "m", "    at fo\x01o (http://x/a.js:1:2)\n    at ok (http://x/b.js:3:4)"),
    ("e", "m", "f\x02n@http://x/a.js:10:5"),
    ("e", "m", " line 1 script " + "s" * 9000 + "\n\n called from line 2 script http://x/y.js"),
    # non-ASCII: `\d`, `\s` and `(?i)` are ASCII in both engines (an
    # Arabic-Indic digit, a no-break space, the Kelvin sign for `k`)
    ("e", "m", "    at f (http://x/a.js:\u0663:4)\n    at g (http://x/b.js:3:\u0664)"),
    ("e", "m", "\u00a0   at f (http://x/a.js:1:2)\n    at\u00a0g (http://x/b.js:3:4)"),
    ("e", "m", "x@webpac\u212a:///src/a.js:1:2\ny@http://x/b.js:\u0663"),
    ("e", "m", "  Line \u0663 of linked script http://o.example/t.js\n    f();\n"
     "  Line 4 of linked script http://o.example/u.js\u00a0\n    g();"),
]

JVM_CASES = [
    "",
    None,
    "no-colon-header line\n\tat a.b.c(F.java:1)",
    "java.lang.E: msg only, no frames",
    "java.lang.E: x\n\n   \n",  # blank tail -> no frames error
    "java.lang.E: x\n\tat a.a.a(SourceFile:42)\n\tat a.b.b(SourceFile:150)",
    "java.lang.E: x\n\tat b.c.a(Native Method)\n\tat zz.yy.xx(F.java:77)",
    "java.lang.E: x\n\tat a.a.a(F.java)\nrandom raw line\n\tat a.b(G.java:-1)",
    "java.lang.E:\n\tat a.a.a(SourceFile:42)",  # empty message
    "java.lang.E: x\nCaused by: inner\n\tat b.c.a(SourceFile:9)",
    "java.lang.E: x\n\tat a.a.a(File.java:5000000000)",
    "java.lang.E: x\r\n\tat a.a.a(F.java:1)\r",
    "java.lang.E: x\n\tat a." + "b" * 9000 + ".c(F.java:1)\n\tat a.a.a(F.java:2)",
    "java.lang.E: x\n\tat a.b\x01.c(F.java:1)\n\tat q\x02.w.e(G.java:2)",
    # non-ASCII digit and no-break spaces: not `\d` / `\s` in either engine
    "java.lang.E: x\n\tat a.a.a(F.java:\u0663)\n\u00a0at a.b.c(G.java:2)\n\u00a0\n\tat b.b.b(H.java:3)",
    "\u00a0java.lang.E:\u00a0x\n\tat a.a.a(F.java:1)",
]

APPLE_CASES = [
    "",
    None,
    "0   MyApp   0x0000000000001000 4c4c4408-aaaa-3333-bbbb-111122223333 + 55",
    "0   MyApp   0x0000000000001000 MyApp + 55\nnot a crash line\n"
    "1   libfoo.dylib   0x0000000000002040 libfoo.dylib + 64",
    "Thread 0 Crashed:\n0   CoreFoundation   0x00000001 CF + 1",
    "0   MyApp   0x0000000000001000 MyApp + 55 " + "z" * 9000,
    "0   My\x01App   0x0000000000001000 MyApp + 55\n"
    "1   My\x02App   0x0000000000001040 MyApp + 119",
]


def _chain(depth: int) -> str:
    node = '{"binaryName":"B%d","binaryUUID":"U","offsetAddress":%d'
    text = "".join(node % (i, i) + ',"subFrames":[' for i in range(depth - 1))
    text += node % (depth - 1, depth - 1) + "}" + "]}" * (depth - 1)
    return '{"callStacks":[{"callStackRootFrames":[' + text + "]}]}"


_FLAT = '{"binaryName":"A","binaryUUID":"U1","offsetAddress":1500}'

MK_CASES = [
    None,
    "",
    '{"callStacks": [}',  # malformed
    '{"callStacks":[]} trailing text',  # text after the first value is ignored
    '{"a":NaN}',
    '{"callStacks":[],"callStacks":[]}',  # duplicate key
    "[1, 2]",  # not an object
    "null",
    "{}",
    '{"callStacks": null}',
    '{"callStacks": 0}',
    '{"callStacks": false}',
    '{"callStacks": ""}',
    '{"callStacks": {}}',
    '{"callStacks": 7}',  # not a list
    '{"callStacks": "x"}',
    '{"callStacks": {"a": 1}}',
    '{"callStacks": true}',
    '{"callStacks":[%s]}' % ('{"callStackFrames":[%s]}' % _FLAT),
    # a non-object call stack is an empty stack
    '{"callStacks":[5, null, "x", {"callStackFrames":[%s]}]}' % _FLAT,
    '{"callStacks":[{}]}',  # empty stack
    '{"callStacks":[{"callStackFrames":[]},{"callStackRootFrames":[]}]}',
    # string and float offsets; preference; non-integer falls back
    '{"callStacks":[{"callStackFrames":['
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":"123"},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":" -45 "},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":1.9},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":-2.5},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":1e2},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":true},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":"1.5"},'
    '{"binaryName":"A","binaryUUID":"U","offsetIntoBinaryTextSegment":"x","offsetAddress":9},'
    '{"binaryName":"A","binaryUUID":"U","offsetIntoBinaryTextSegment":null,"offsetAddress":8},'
    '{"binaryName":"A","binaryUUID":"U","offsetIntoBinaryTextSegment":7,"offsetAddress":9},'
    '{"binaryName":"A","binaryUUID":"U","offsetAddress":99999999999999999999},'
    '{"binaryName":5,"binaryUUID":{"x":1}},'
    '{"binaryName":"","binaryUUID":null}'
    "]}]}",
    # both forms in one stack: the chain first, then the flat list
    '{"callStacks":[{"callStackRootFrames":[{"binaryName":"R","binaryUUID":"U",'
    '"offsetIntoBinaryTextSegment":10,"subFrames":[{"binaryName":"S","binaryUUID":"U",'
    '"offsetIntoBinaryTextSegment":20,"subFrames":[]}]},{"binaryName":"ignored"}],'
    '"callStackFrames":[%s]}]}' % _FLAT,
    # only the first sub-frame is walked; a non-object ends the chain; a
    # non-list root/sub-frame/flat value is ignored
    '{"callStacks":[{"callStackRootFrames":[{"binaryName":"R","subFrames":['
    '{"binaryName":"S","subFrames":[3]},{"binaryName":"T"}]}]}]}',
    '{"callStacks":[{"callStackRootFrames":{"binaryName":"R"},'
    '"callStackFrames":{"binaryName":"F"}},'
    '{"callStackRootFrames":[{"binaryName":"R","subFrames":{"binaryName":"S"}}],'
    '"callStackFrames":[1,{"binaryName":"F"},null]}]}',
    '{"callStacks":[{"callStackFrames":[%s]},{"threadAttributed":false},'
    '{"callStackFrames":[%s]}]}' % (_FLAT, _FLAT),
    _chain(39),
    _chain(limits.MK_DEPTH_CAP),  # at the cap
    _chain(limits.MK_DEPTH_CAP + 1),  # one level over: the record fails
]

_TEXT_COLS = "id string, text string, route string, exception_type string, exception_message string"
_ST_COLS = (
    ("st_columns", "array<bigint>"), ("st_functions", "array<string>"),
    ("st_lines", "array<bigint>"), ("st_urls", "array<string>"),
    ("st_classes", "array<string>"), ("st_methods", "array<string>"),
    ("st_jvm_lines", "array<bigint>"), ("st_source_files", "array<string>"),
)


def _recorded(module, attr: str) -> list[tuple]:
    """Every argument tuple the corpus tests of ``module`` pass to
    ``module.<attr>``, recorded by running them."""
    seen, real = [], getattr(module, attr)

    def record(*args):
        seen.append(args)
        return real(*args)

    mp = pytest.MonkeyPatch()
    mp.setattr(module, attr, record)
    try:
        for name, fn in list(vars(module).items()):
            if not name.startswith("test_"):
                continue
            marks = [m for m in getattr(fn, "pytestmark", []) if m.name == "parametrize"]
            for args in marks[0].args[1] if marks else [()]:
                fn(*args)
    finally:
        mp.undo()
    return seen


def _rows():
    js = JS_CASES + [(n, m, s) for n, m, s in _recorded(js_corpus, "compute_stack_trace")]
    jvm = JVM_CASES + [t for (t,) in _recorded(java_corpus, "parse_java_stack_trace")]
    jvm += ["java.lang.E: x\n" + l for (l,) in _recorded(java_corpus, "parse_java_frame")]
    apple = APPLE_CASES + [l for (l,) in _recorded(apple_corpus, "parse_apple_line")]
    mk = MK_CASES + [t for (t,) in _recorded(apple_corpus, "flatten_metrickit")]
    out = [(f"js{i}", s, "js", n, m) for i, (n, m, s) in enumerate(js)]
    out += [(f"jvm{i}", t, "jvm", None, None) for i, t in enumerate(jvm)]
    out += [(f"ap{i}", t, "apple", None, None) for i, t in enumerate(apple)]
    out += [(f"mk{i}", t, "mk", None, None) for i, t in enumerate(mk)]
    return out


def _mismatches(df, key) -> tuple[int, list]:
    """Parse the raw-text rows of ``df`` with the JVM engine and with the
    scalar oracle run as a Python UDF over the same rows; returns the row
    count and the (key, jvm, oracle) triples that differ."""
    mk = "metrickit_stacktrace_json"
    out = frames_op.attach_parsed(df, PipelineConfig()).where(
        F.col("route").isin("js", "jvm", "apple", "mk")
    )
    route, text = F.col("route"), F.col("text")
    if mk in df.columns:
        text = F.when(route == "mk", F.coalesce(F.col(mk), text)).otherwise(text)
    udf = F.udf(lambda *record: P.parse_record(*record), PARSED_SCHEMA)(
        route, text, "exception_type", "exception_message"
    )
    rows = out.select(key, "parsed", udf.alias("want")).collect()
    as_dict = [(r[0], r[1] and r[1].asDict(True), r[2] and r[2].asDict(True)) for r in rows]
    return len(rows), [t for t in as_dict if t[1] != t[2]]


def test_sql_engine_matches_udf_on_corpus(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, _TEXT_COLS)
    # attach_parsed's structured branches reference the st_* array columns
    for c, t in _ST_COLS:
        df = df.withColumn(c, F.lit(None).cast(t))
    n, bad = _mismatches(df, "id")
    assert n == len(rows)
    assert not bad, f"{len(bad)} of {n} differ; first: {bad[0][0]}:\nsql={bad[0][1]}\nscalar={bad[0][2]}"


def test_sql_engine_matches_udf_on_fixtures(spark, fixture_dir):
    """Full datagen corpus (every raw-text route, malformed and legacy-mk
    rows): the JVM parse equals the scalar oracle on every record."""
    t = spark.read.parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    routed = route_op.gate_and_route(t, PipelineConfig())
    assert {r[0] for r in routed.select("route").distinct().collect()} >= {
        "js", "jvm", "apple", "mk"
    }
    n, bad = _mismatches(routed, F.concat_ws(":", "conv_id", "turn_idx"))
    assert n > 0
    assert not bad, f"{len(bad)} of {n} differ; first: {bad[0][0]}:\nsql={bad[0][1]}\nscalar={bad[0][2]}"


def test_metrickit_limits():
    """The two MetricKit deviations, pinned in the oracle (the corpus test
    pins the JVM to it): a fixed invalid-JSON reason, and a depth cap."""
    assert P._parse_mk('{"callStacks": [}') == {"error": limits.ERR_MK_JSON}
    assert P._parse_mk("") == {"error": limits.ERR_MK_JSON}
    ok = P._parse_mk(_chain(limits.MK_DEPTH_CAP))["frames"]
    assert [f["bin"] for f in ok] == [f"B{i}" for i in range(limits.MK_DEPTH_CAP)]
    assert P._parse_mk(_chain(limits.MK_DEPTH_CAP + 1)) == {"error": limits.ERR_MK_DEPTH}
    # far deeper than Python's recursion limit: a record error, not a crash
    assert P._parse_mk(_chain(5000)) == {"error": limits.ERR_MK_JSON}
