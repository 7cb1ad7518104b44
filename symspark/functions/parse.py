"""Scalar parse front end: the test oracle of the JVM parse engine.

Runs the route's scalar parser (js_parser / java_parser / apple_parser /
metrickit) on one record and shapes the result as a ``PARSED_SCHEMA`` row,
the frame IR the pipeline explodes.  The runtime parse is
functions/parse_sql.py; tests/test_parse_sql.py pins it byte-equal to
these functions.  Mirrors the reference's parse dispatch:
sourcemapprocessor/processor.go:183-206 (JS),
proguardprocessor/log_processor.go:139-161 (Java),
dsymprocessor/logs_processor.go:179-195 (Apple lines),
dsymprocessor/logs_processor.go:350-393 (MetricKit JSON).
"""

from __future__ import annotations

from symspark.functions.apple_parser import parse_apple_line
from symspark.functions.java_parser import parse_java_stack_trace
from symspark.functions.js_parser import compute_stack_trace
from symspark.functions.metrickit import flatten_metrickit

# The stacktrace attribute key named in parse-error messages
# (sourcemapprocessor/processor.go:186-196).
STACK_TRACE_ATTR = "exception.stacktrace"
PARSE_WRAP = f"failed to parse raw stack trace from {STACK_TRACE_ATTR}: "


def _js_result_to_row(res: dict | None, err: str | None) -> dict:
    if err:
        return {"error": PARSE_WRAP + err}
    frames = [
        {
            "pos": i,
            "kind": "js",
            "url": f["url"],
            "func": f["func"],
            "line": int(f["line"]) if f["line"] is not None else -1,
            "col": int(f["col"]) if f["col"] is not None else -1,
        }
        for i, f in enumerate(res["frames"])
    ]
    return {
        "name": res["name"],
        "message": res["message"],
        "mode": res["mode"],
        "frames": frames,
    }


def _parse_js(text: str, name: str, message: str) -> dict:
    res, err = compute_stack_trace(name or "", message or "", text or "")
    return _js_result_to_row(res, err)


def _parse_jvm(text: str) -> dict:
    res, err = parse_java_stack_trace(text or "")
    if err:
        return {"error": PARSE_WRAP + err}
    frames = []
    for i, el in enumerate(res["elements"]):
        if "frame" in el:
            f = el["frame"]
            frames.append(
                {
                    "pos": i,
                    "kind": "jvm",
                    "cls": f["cls"],
                    "method": f["method"],
                    "line": f["line"],
                    "src": f["src"],
                }
            )
        else:
            frames.append({"pos": i, "kind": "jvm_raw", "raw": el["raw"]})
    return {
        "name": res["exception_type"],
        "message": res["exception_message"],
        "frames": frames,
    }


def _parse_apple(text: str) -> dict:
    frames = []
    for i, line in enumerate((text or "").split("\n")):
        f = parse_apple_line(line)
        if f is None:
            frames.append({"pos": i, "kind": "apple_raw", "raw": line})
        else:
            frames.append(
                {
                    "pos": i,
                    "kind": "apple",
                    "raw": line,
                    "prefix": f["prefix"],
                    "lib": f["lib"],
                    "tok": f["tok"],
                    "addr": f["addr"],
                }
            )
    return {"frames": frames}


def _parse_mk(text: str) -> dict:
    stacks, err = flatten_metrickit(text or "")
    if err:
        return {"error": err}
    out = []
    for si, stack in enumerate(stacks):
        if not stack:
            # an empty callStack still contributes an empty entry to the
            # "\n\n\n" join (logs_processor.go:357-398)
            out.append({"pos": len(out), "kind": "mk_empty", "stack_idx": si})
            continue
        for f in stack:
            out.append(
                {
                    "pos": len(out),
                    "kind": "mk",
                    "stack_idx": f["stack_idx"],
                    "bin": f["bin"],
                    "buuid": f["buuid"],
                    "addr": f["offset"],
                }
            )
    return {"frames": out}


_BY_ROUTE = {
    "js": _parse_js,
    "jvm": lambda text, name, message: _parse_jvm(text),
    "apple": lambda text, name, message: _parse_apple(text),
    "mk": lambda text, name, message: _parse_mk(text),
}


def parse_record(route: str, text: str | None, name: str | None, message: str | None) -> dict:
    """One record through its route's scalar parser; ``text`` is the
    MetricKit JSON for an mk record."""
    return _BY_ROUTE[route](text, name, message)
