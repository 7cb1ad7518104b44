"""The parse engine: every raw-text route parsed by JVM expressions.

js, jvm, apple and MetricKit records are parsed inside the JVM executor
threads with Spark SQL expressions (``split`` + ``transform`` +
``regexp_*`` cascades, and VARIANT reads for MetricKit JSON), so the
executed plan holds no Python-eval node: no Python worker, no Arrow
round trip, and a bucketed input keeps its partitioning through the
parse.  The scalar parsers (functions/parse.py and the modules it calls)
are the test oracle: tests/test_parse_sql.py pins this engine byte-equal
to them, with the limits of functions/limits.py applied in both.

Route coverage:
- js:    the TraceKit cascade of js_parser.compute_stack_trace
         (sourcemapprocessor/stack_trace_parser.go:399-430).  Rows without
         an Opera ``line N`` marker can only match the standard ``stack``
         property (RN / Chrome+eval+native / WinJS / Gecko per line), so
         only marker rows evaluate the Opera 11 / stack / Opera 10 /
         Opera 9 message cascade, with its modes and message rewrite.
- jvm:   header + frame/raw preserve with the -2/-1 Android sentinels
         (proguardprocessor/stack_trace_parser.go:100-152)
- apple: per-line crash regex, non-matching lines preserved
         (dsymprocessor/logs_processor.go:210-217)
- mk:    ``try_parse_json`` + typed ``try_variant_get`` reads; the
         first-sub-frame chain walk is an ``aggregate`` loop bounded by
         ``MK_DEPTH_CAP`` (dsymprocessor/logs_processor.go:292-398)

Expression-duplication discipline: every value is built once.  Inside a
lambda nothing removes a repeated subtree, and the per-line cascades are
interpreted (HOFs are CodegenFallback), so each re-reference would paste
the subtree into the plan again and re-run it per line.  So all expensive
work is built once per row inside a single ``_pp`` struct column (a
multi-referenced non-cheap alias survives CollapseProject) that the
PARSED_SCHEMA struct reads by cheap attribute lookups; a value used
several times inside a lambda (the Opera marker, a frame's eval-rewritten
url/line/col, each MetricKit step) is bound once with ``common.let``; and
a line's match flag is its groups' non-nullness, not a second regex run.

The regexes are the scalar parsers' patterns in java.util.regex syntax
with ``(?d)`` (only ``\\n`` ends a line, as in Python ``re``); both engines
are leftmost-first backtracking matchers.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from symspark.functions.js_parser import UNKNOWN_FUNCTION
from symspark.functions.limits import (
    ERR_MK_DEPTH,
    ERR_MK_JSON,
    ERR_MK_NOT_LIST,
    ERR_MK_NOT_OBJECT,
    LINE_CAP,
    LINE_SENTINELS,
    MK_DEPTH_CAP,
)
from symspark.functions.parse import PARSE_WRAP
from symspark.operators.common import let
from symspark.schemas import FRAME_SCHEMA

# --- regexes (java.util.regex; group numbering noted inline) ---------------

RE_OPERA_MARKER = r"(?im)(?:^|\s)line\s+\d"
# 1 func, 2 url, 3 line, 4 col
RE_RN = r"(?di)^\s*at (.*?) ?\(address at (.+?)(?::(\d+))?(?::(\d+))?\)\s*$"
RE_CHROME = (
    r"(?di)^\s*at (.*?) ?\(((?:file|https?|blob|chrome-extension"
    r"|native|eval|webpack|<anonymous>|/).*?)(?::(\d+))?(?::(\d+))?\)?\s*$"
)
# 1 url, 2 line, 3 col (no (?i), as js_parser._RE_CHROME_EVAL)
RE_CHROME_EVAL = r"(?d)\((\S*)(?::(\d+))(?::(\d+))\)"
# 1 func, 2 url, 3 line, 4 col
RE_WINJS = (
    r"(?di)^\s*at (?:((?:\[object object\])?.+) )?\(?"
    r"((?:file|ms-appx|https?|webpack|blob):.*?):(\d+)(?::(\d+))?\)?\s*$"
)
# 1 func, 2 url, 3 line, 4 col (js_parser's args group is not captured:
# nothing reads it, so every stack-property strategy yields the same groups)
RE_GECKO = (
    r"(?di)^\s*(.*?)(?:\(.*?\))?(?:^|@)"
    r"((?:file|https?|blob|chrome|webpack|resource|\[native).*?|[^@]*bundle)"
    r"(?::(\d+))?(?::(\d+))?\s*$"
)
# 1 url, 2 line
RE_GECKO_EVAL = r"(?di)(\S+) line (\d+)(?: > eval line \d+)* > eval"
# 1 line, 2 url, 3 func
RE_OPERA11 = r"(?di) line (\d+).*script (?:in )?(\S+)(?:: in function (\S+))?$"
# 1 line, 2 col, 3 anonymous func, 4 func, 5 args, 6 url
RE_OPERA11_COL = (
    r"(?di) line (\d+), column (\d+)\s*(?:in (?:<anonymous function: ([^>]+)>"
    r"|([^\)]+))\((.*)\))? in (.*):\s*$"
)
# 1 line, 2 url, 3 func
RE_OPERA9_LINKED = (
    r"(?di)^\s*Line (\d+) of linked script ((?:file|https?|blob)\S+)"
    r"(?:: in function (\S+))?\s*$"
)
# 1 line, 2 script index, 3 url, 4 func
RE_OPERA9_INLINE = (
    r"(?di)^\s*Line (\d+) of inline#(\d+) script in ((?:file|https?|blob)\S+)"
    r"(?:: in function (\S+))?\s*$"
)
RE_OPERA9_FUNC = r"(?di)^\s*Line (\d+) of function script\s*$"
# 1 prefix, 2 idx, 3 lib, 4 hex, 5 tok, 6 off
RE_APPLE = (
    r"^(([0-9]+)\s+([\w _\-\.]+[\w_\-\.])\s+(0x[\da-f]+))"
    r"\s+([\w _\-\.]*) \+ ([0-9]+)"
)
RE_JAVA_HEADER = r"(?d)^([^\s:]+)\s*:\s*(.*)$"
RE_JAVA_FRAME = r"(?d)^\s*at\s+([^\s(]+)\.([^\s.(]+)\(([^:)]+)(?::(-?\d+))?\)\s*$"


def _line_ok(l: Column) -> Column:
    """limits.line_ok as an expression (LINE_CAP note there)."""
    ok = F.length(l) <= LINE_CAP
    for s in LINE_SENTINELS:
        ok = ok & ~l.contains(s)
    return ok


ERR_PARSE = PARSE_WRAP + "failed to parse stack trace"
ERR_EMPTY = PARSE_WRAP + "stack trace is empty"
ERR_INVALID = PARSE_WRAP + "invalid stack trace format"
ERR_NO_FRAMES = PARSE_WRAP + "no valid stack frames found in stack trace"

_FRAME_FIELDS = [(f.name, f.dataType.simpleString()) for f in FRAME_SCHEMA.fields]
_FRAMES_T = f"array<{FRAME_SCHEMA.simpleString()}>"


def frame_struct(**given: Column) -> Column:
    """Full FRAME_SCHEMA struct with unspecified fields null."""
    return F.struct(
        *[given.get(n, F.lit(None)).cast(t).alias(n) for n, t in _FRAME_FIELDS]
    )


def _nz(c: Column) -> Column:
    """'' -> null (regexp_extract returns '' for absent optional groups)."""
    return F.nullif(c, F.lit(""))


def _int_or(c: Column, default: int) -> Column:
    return F.coalesce(_nz(c).try_cast("long"), F.lit(default))


def _trim_ws(c: Column) -> Column:
    # full whitespace trim (F.trim strips spaces only)
    return F.regexp_replace(c, r"^\s+|\s+$", "")


# Group-separator for single-execution extraction: one regexp_replace of an
# anchored, pre-rlike-gated pattern rewrites the line to its capture groups
# joined by this sentinel; splitting yields every group with ONE regex run
# (each regexp_extract call would re-run the matcher per group).  Lines
# carrying the sentinel chars never reach it (_line_ok).
_SEP = "".join(LINE_SENTINELS)


def _groups(l: Column, pattern: str, n: int) -> Column:
    """All n capture groups of an ANCHORED pattern in one regex execution.
    The pattern must consume the whole line (``^…$``) so the replacement
    output is exactly the joined groups — callers gate on ``rlike`` first.
    For non-anchored patterns use :func:`_groups_find` instead."""
    repl = _SEP.join(f"${i}" for i in range(1, n + 1))
    return F.split(F.regexp_replace(l, pattern, repl), _SEP)


def _groups_find(l: Column, pattern: str, n: int) -> Column:
    """find-first semantics for a non-anchored pattern: a lazy ``^.*?``
    prefix and greedy ``.*$`` suffix consume the unmatched stretches, so
    the replacement output is the first match's groups alone."""
    repl = _SEP.join(f"${i}" for i in range(1, n + 1))
    return F.split(
        F.regexp_replace(l, r"^(?s:.*?)" + pattern + r"(?s:.*)$", repl), _SEP
    )


def _tag(strategy: int, groups: Column) -> Column:
    return F.struct(F.lit(strategy).alias("s"), groups.alias("g"))


def _js_frame(i: Column, url: Column, func: Column, line: Column, col: Column) -> Column:
    return frame_struct(
        pos=i,
        kind=F.lit("js"),
        url=url,
        func=F.coalesce(_nz(func), F.lit(UNKNOWN_FUNCTION)),
        line=_int_or(line, -1),
        col=_int_or(col, -1),
    )


def _matched_frames(lines: Column, candidate, build) -> Column:
    """Per-line strategy cascade: ``candidate(line)`` tags the first matching
    strategy with its capture groups in one regex run (null if none) and
    ``build(tag, pos)`` reads the fields of the MATERIALIZED tag, so no
    regex runs twice.  Unmatched lines are dropped."""
    cands = F.filter(F.transform(lines, candidate), lambda x: x.isNotNull())
    return F.transform(cands, build)


# --- js: the standard stack property ----------------------------------------

def _stack_prop_candidate(l: Column) -> Column:
    """RN > Chrome > WinJS > Gecko; null if the line matches none."""
    cascade = (
        F.when(
            l.contains("address at") & l.rlike(RE_RN),
            _tag(0, _groups(l, RE_RN, 4)),
        )
        .when(l.rlike(RE_CHROME), _tag(1, _groups(l, RE_CHROME, 4)))
        .when(l.rlike(RE_WINJS), _tag(2, _groups(l, RE_WINJS, 4)))
        .when(l.rlike(RE_GECKO), _tag(3, _groups(l, RE_GECKO, 4)))
    )
    return F.when(_line_ok(l), cascade)


def _stack_prop_frame(x: Column, i: Column) -> Column:
    s, g = x["s"], x["g"]
    url0 = g[1]
    # Chrome eval / native and Gecko "> eval" rewrites of (url, line, col),
    # bound once (rare: their extra regex runs only on rows whose url
    # carries the token)
    is_ch = s == F.lit(1)
    ulc = (
        F.when(is_ch & url0.startswith("eval") & url0.rlike(RE_CHROME_EVAL),
               _groups_find(url0, RE_CHROME_EVAL, 3))
        .when(is_ch & url0.startswith("native"), F.array(F.lit("(native)"), g[2], g[3]))
        .when((s == F.lit(3)) & url0.contains(" > eval") & url0.rlike(RE_GECKO_EVAL),
              F.array_append(_groups_find(url0, RE_GECKO_EVAL, 2), F.lit(None)))
        .otherwise(F.slice(g, 2, 3))
    )
    return let(ulc, lambda u: _js_frame(i, u[0], g[0], u[1], u[2]))


# --- js: the Opera formats ---------------------------------------------------

def _opera11_candidate(l: Column) -> Column:
    return F.when(
        _line_ok(l),
        F.when(l.rlike(RE_OPERA11), _tag(0, _groups_find(l, RE_OPERA11, 3)))
        .when(l.rlike(RE_OPERA11_COL), _tag(1, _groups_find(l, RE_OPERA11_COL, 6))),
    )


def _opera11_frame(x: Column, i: Column) -> Column:
    s, g = x["s"], x["g"]
    o11 = s == F.lit(0)
    return _js_frame(
        i,
        url=F.when(o11, g[1]).otherwise(g[5]),
        func=F.when(o11, g[2]).otherwise(F.coalesce(_nz(g[2]), g[3])),
        line=g[0],
        col=F.when(~o11, g[1]),
    )


def _opera9_candidate(l: Column) -> Column:
    return F.when(
        _line_ok(l),
        F.when(l.rlike(RE_OPERA9_LINKED), _tag(0, _groups(l, RE_OPERA9_LINKED, 3)))
        .when(l.rlike(RE_OPERA9_INLINE), _tag(1, _groups(l, RE_OPERA9_INLINE, 4)))
        .when(l.rlike(RE_OPERA9_FUNC), _tag(2, F.array().cast("array<string>"))),
    )


def _opera9_frame(x: Column, i: Column) -> Column:
    s, g = x["s"], x["g"]
    return _js_frame(
        i,
        url=F.when(s == 0, g[1]).when(s == 1, g[2]).otherwise(F.lit("")),
        func=F.when(s == 0, g[2]).when(s == 1, g[3]),
        line=F.when(s != 2, g[0]),
        col=F.lit(None),
    )


def _strided(lines: Column, start: int) -> Column:
    """Every second line from ``start`` (the Opera stacktrace stride)."""
    return F.filter(lines, lambda l, i: (i >= start) & (i % 2 == start % 2))


def _js_pack(text: Column, message: Column) -> Column:
    """``compute_stack_trace``: Opera 11, stack property, Opera 10, Opera 9
    message, first non-empty wins.  Only Opera-marker rows evaluate the
    Opera entries; the rest can only match the stack property."""
    stack = F.coalesce(text, F.lit(""))
    msg = F.coalesce(message, F.lit(""))
    lines = F.split(stack, "\n")
    msg_lines = F.split(msg, "\n")
    opera11 = _matched_frames(_strided(lines, 0), _opera11_candidate, _opera11_frame)
    stack_prop = _matched_frames(lines, _stack_prop_candidate, _stack_prop_frame)
    opera10 = F.when(
        F.size(lines) >= 2,
        _matched_frames(_strided(lines, 0), _opera9_candidate, _opera9_frame),
    )
    opera9 = F.when(
        F.size(msg_lines) >= 4,
        _matched_frames(_strided(msg_lines, 2), _opera9_candidate, _opera9_frame),
    )
    cascade = let(stack.rlike(RE_OPERA_MARKER) | msg.rlike(RE_OPERA_MARKER), lambda marked: F.array(
        _pack(F.when(marked, opera11), mode=F.lit("stacktrace")),
        _pack(stack_prop, mode=F.lit("stack")),
        _pack(F.when(marked, opera10), mode=F.lit("stacktrace")),
        _pack(F.when(marked, opera9), mode=F.lit("multiline")),
    ))
    return F.try_element_at(F.filter(cascade, lambda p: F.size(p["frames"]) > 0), F.lit(1))


# --- jvm --------------------------------------------------------------------

def _jvm_frames(lines: Column) -> Column:
    kept = F.filter(
        F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0))),
        lambda l: _trim_ws(l) != "",
    )
    # step 1: one regex run per line (all groups, null if no match), materialized
    parsed = F.transform(
        kept,
        lambda l: F.struct(
            l.alias("raw"),
            F.when(_line_ok(l) & l.rlike(RE_JAVA_FRAME),
                   _groups(l, RE_JAVA_FRAME, 4)).alias("g"),
        ),
    )

    def build(x: Column, i: Column) -> Column:
        g = x["g"]
        line = F.when(g[2] == "Native Method", F.lit(-2)).otherwise(_int_or(g[3], -1))
        return F.when(
            g.isNotNull(),
            frame_struct(
                pos=i, kind=F.lit("jvm"),
                cls=g[0], method=g[1], src=g[2], line=line,
            ),
        ).otherwise(frame_struct(pos=i, kind=F.lit("jvm_raw"), raw=x["raw"]))

    return F.transform(parsed, build)


def _jvm_pack(text: Column) -> Column:
    txt = F.coalesce(text, F.lit(""))
    lines = F.split(txt, "\n")
    first = _trim_ws(F.get(lines, 0))
    return _pack(
        _jvm_frames(lines),
        is_empty=txt == "",
        hdr_ok=first.rlike(RE_JAVA_HEADER),
        hdr_typ=F.regexp_extract(first, RE_JAVA_HEADER, 1),
        hdr_msg=F.regexp_extract(first, RE_JAVA_HEADER, 2),
    )


# --- apple ------------------------------------------------------------------

def _apple_frames(text: Column) -> Column:
    lines = F.split(F.coalesce(text, F.lit("")), "\n")
    parsed = F.transform(
        lines,
        lambda l: F.struct(
            l.alias("raw"),
            F.when(_line_ok(l) & l.rlike(RE_APPLE),
                   _groups_find(l, RE_APPLE, 6)).alias("g"),
        ),
    )

    def build(x: Column, i: Column) -> Column:
        g = x["g"]
        return F.when(
            g.isNotNull(),
            frame_struct(
                pos=i, kind=F.lit("apple"), raw=x["raw"],
                prefix=g[0], lib=g[2], tok=g[4],
                addr=_nz(g[5]).try_cast("long"),
            ),
        ).otherwise(frame_struct(pos=i, kind=F.lit("apple_raw"), raw=x["raw"]))

    return F.transform(parsed, build)


# --- MetricKit --------------------------------------------------------------

_MK_LEAF_FIELDS = ("binaryName", "binaryUUID", "offsetIntoBinaryTextSegment", "offsetAddress")
_MK_LEAF = ",".join(f"{n}:variant" for n in _MK_LEAF_FIELDS)
_MK_LEAF_T = f"struct<{_MK_LEAF}>"
_MK_NODE_T = f"struct<{_MK_LEAF},subFrames:variant>"
_MK_STACK_T = "struct<callStackRootFrames:variant,callStackFrames:variant>"


def _mk_text(v: Column) -> Column:
    """A JSON string as itself; any other value (or none) as ''."""
    return F.when(
        F.schema_of_variant(v) == "STRING", F.try_variant_get(v, "$", "string")
    ).otherwise(F.lit(""))


def _mk_frame(f: Column, si: Column) -> Column:
    off = F.coalesce(
        F.try_variant_get(f["offsetIntoBinaryTextSegment"], "$", "bigint"),
        F.try_variant_get(f["offsetAddress"], "$", "bigint"),
        F.lit(0),
    )
    return frame_struct(
        kind=F.lit("mk"), stack_idx=si,
        bin=_mk_text(f["binaryName"]), buuid=_mk_text(f["binaryUUID"]), addr=off,
    )


def _mk_leaf(f: Column) -> Column:
    return F.struct(*[f[n] for n in _MK_LEAF_FIELDS])


def _mk_stack(c: Column, si: Column, steps: Column) -> Column:
    """struct(frames, over) of one call stack: the first-sub-frame chain
    walked for ``steps`` levels, then the flat list; ``over`` is set when
    the chain goes on past the walk."""
    walk = F.aggregate(
        F.sequence(F.lit(1), steps),
        F.struct(
            F.try_variant_get(c["callStackRootFrames"], "$[0]", _MK_NODE_T).alias("f"),
            F.array().cast(f"array<{_MK_LEAF_T}>").alias("out"),
        ),
        lambda acc, _: F.when(acc["f"].isNull(), acc).otherwise(
            F.struct(
                F.try_variant_get(acc["f"]["subFrames"], "$[0]", _MK_NODE_T).alias("f"),
                F.array_append(acc["out"], _mk_leaf(acc["f"])).alias("out"),
            )
        ),
    )
    flat = F.filter(
        F.try_variant_get(c["callStackFrames"], "$", f"array<{_MK_LEAF_T}>"),
        lambda f: f.isNotNull(),
    )
    return let(walk, lambda w: F.struct(
        F.transform(
            F.concat(w["out"], F.coalesce(flat, F.array().cast(f"array<{_MK_LEAF_T}>"))),
            lambda f: _mk_frame(f, si),
        ).alias("frames"),
        w["f"].isNotNull().alias("over"),
    ))


def _mk_falsy(v: Column) -> Column:
    """Python truthiness of a JSON value is false (null, false, 0, "", {})."""
    typ = F.schema_of_variant(v)
    return (
        v.isNull() | F.is_variant_null(v) | (typ == "OBJECT<>")
        | ((typ == "STRING") & (F.try_variant_get(v, "$", "string") == ""))
        | ((typ != "STRING") & F.coalesce(F.try_variant_get(v, "$", "double") == 0, F.lit(False)))
    )


def _mk_pack(src: Column) -> Column:
    """``metrickit.flatten_metrickit`` + ``parse._parse_mk``.  Each step is
    bound once with ``let``; a step past a failed one reads NULL."""
    # every chain level is a JSON object, so the text's '{' count bounds
    # the walk (keeps short reports from paying MK_DEPTH_CAP steps)
    braces = F.length(src) - F.length(F.replace(src, F.lit("{"), F.lit("")))
    steps = F.greatest(F.least(F.lit(MK_DEPTH_CAP), braces), F.lit(1))
    doc = F.struct(F.try_parse_json(src).alias("v"), steps.alias("n"))

    def pack(v: Column, top: Column, stacks: Column, per: Column) -> Column:
        error = (
            F.when(v.isNull(), F.lit(ERR_MK_JSON))
            .when(top.isNull(), F.lit(ERR_MK_NOT_OBJECT))
            .when(stacks.isNull() & ~_mk_falsy(top["callStacks"]), F.lit(ERR_MK_NOT_LIST))
            .when(F.exists(per, lambda p: p["over"]), F.lit(ERR_MK_DEPTH))
        )
        # an empty call stack still contributes an mk_empty entry
        items = F.flatten(F.transform(per, lambda p, si: F.when(
            F.size(p["frames"]) > 0, p["frames"]
        ).otherwise(F.array(frame_struct(kind=F.lit("mk_empty"), stack_idx=si)))))
        frames = F.coalesce(
            F.transform(items, lambda x, i: x.withField("pos", i)), F.array().cast(_FRAMES_T)
        )
        return _pack(F.when(error.isNull(), frames), error=error)

    return let(doc, lambda d: let(
        F.try_variant_get(d["v"], "$", "struct<callStacks:variant>"),
        lambda top: let(
            F.try_variant_get(top["callStacks"], "$", f"array<{_MK_STACK_T}>"),
            lambda stacks: let(
                F.transform(stacks, lambda c, si: _mk_stack(c, si, d["n"])),
                lambda per: pack(d["v"], top, stacks, per),
            ),
        ),
    ))


# --- the two-stage assembly -------------------------------------------------

def _pack(frames: Column | None, mode=None, error=None, is_empty=None,
          hdr_ok=None, hdr_typ=None, hdr_msg=None) -> Column:
    """One route's stage-A result, in the single struct type every route
    shares."""
    def c(v, t):
        return (F.lit(None) if v is None else v).cast(t)

    return F.struct(
        c(frames, _FRAMES_T).alias("frames"),
        c(mode, "string").alias("mode"),
        c(error, "string").alias("error"),
        c(is_empty, "boolean").alias("is_empty"),
        c(hdr_ok, "boolean").alias("hdr_ok"),
        c(hdr_typ, "string").alias("hdr_typ"),
        c(hdr_msg, "string").alias("hdr_msg"),
    )


def pre_parsed_expr(text: Column, route: Column, message: Column, mk_src: Column) -> Column:
    """Stage A: the route's expensive per-line arrays (plus the jvm header
    fields and the MetricKit error), computed exactly once per row inside
    one struct.  ``mk_src`` is the MetricKit JSON of mk rows."""
    return (
        F.when(route == "js", _js_pack(text, message))
        .when(route == "jvm", _jvm_pack(text))
        .when(route == "apple", _pack(_apple_frames(text)))
        .when(route == "mk", _mk_pack(mk_src))
    )


def parsed_expr(pp: Column, route: Column, name: Column, message: Column) -> Column:
    """Stage B: PARSED_SCHEMA struct from cheap attribute reads of the
    stage-A ``pp`` struct column."""
    frames = pp["frames"]
    n = F.size(frames)

    js_ok = F.coalesce(n > 0, F.lit(False))
    jvm_empty = pp["is_empty"]
    jvm_no_hdr = ~jvm_empty & ~pp["hdr_ok"]
    jvm_no_frames = ~jvm_empty & ~jvm_no_hdr & (n == 0)
    jvm_ok = ~(jvm_empty | jvm_no_hdr | jvm_no_frames)

    js_message = F.coalesce(message, F.lit(""))
    out_name = (
        F.when(route == "js", F.when(js_ok, F.coalesce(name, F.lit(""))))
        .when(route == "jvm", F.when(jvm_ok, pp["hdr_typ"]))
    )
    out_message = (
        F.when(route == "js", F.when(js_ok, F.when(
            pp["mode"] == "multiline", F.split(js_message, "\n")[0]
        ).otherwise(js_message)))
        .when(route == "jvm", F.when(jvm_ok, pp["hdr_msg"]))
    )
    out_mode = F.when((route == "js") & js_ok, pp["mode"])
    out_error = (
        F.when(route == "js", F.when(~js_ok, F.lit(ERR_PARSE)))
        .when(
            route == "jvm",
            F.when(jvm_empty, F.lit(ERR_EMPTY))
            .when(jvm_no_hdr, F.lit(ERR_INVALID))
            .when(jvm_no_frames, F.lit(ERR_NO_FRAMES)),
        )
        .when(route == "mk", pp["error"])
    )
    out_frames = (
        F.when(route == "js", F.when(js_ok, frames))
        .when(route == "jvm", F.when(jvm_ok, frames))
        .when(route.isin("apple", "mk"), frames)
    ).cast(_FRAMES_T)
    return F.struct(
        out_name.cast("string").alias("name"),
        out_message.cast("string").alias("message"),
        out_mode.cast("string").alias("mode"),
        out_error.cast("string").alias("error"),
        out_frames.alias("frames"),
    )
