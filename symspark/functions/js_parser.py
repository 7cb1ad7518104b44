"""JavaScript stack-trace parsing (TraceKit strategy cascade).

A from-scratch Python implementation of the multi-browser stack-trace
parsing algorithm originally published by the MIT-licensed TraceKit project
(github.com/csnover/TraceKit), matching the behavior of the reference's Go
adaptation (sourcemapprocessor/stack_trace_parser.go:399-430): try the
Opera 11+ stacktrace format, then the standard ``stack`` property
(React-Native -> Chrome/V8 -> WinJS -> Gecko per line), then Opera 10,
then the Opera 9 message format.

Pure Python, unit-tested against the reference's parser corpus; it is the
test oracle of the JVM engine (functions/parse_sql.py), so it applies the
same ``LINE_CAP`` gate (functions/limits.py) to every line.

Returned frames are dicts ``{url, func, line, col}`` with ``line``/``col``
``None`` when absent (nullable ints, stack_trace_parser.go:69-70).
"""

from __future__ import annotations

import re

from symspark.functions.limits import line_ok

UNKNOWN_FUNCTION = "?"

# Strategy regexes (stack_trace_parser.go:20-46).  Go RE2 and Python `re`
# agree on leftmost-first capture semantics for these patterns, and no
# backreferences are used.  re.ASCII makes `\s`/`\d` ASCII as in RE2 and
# the JVM engine; `(?i)` folds ASCII only, as in the JVM engine (RE2 folds
# Unicode: README "Known deviations").
_RE_REACT_NATIVE = re.compile(
    r"^\s*at (.*?) ?\(address at (.+?)(?::(\d+))?(?::(\d+))?\)\s*$", re.I | re.ASCII
)
_RE_CHROME = re.compile(
    r"^\s*at (.*?) ?\(((?:file|https?|blob|chrome-extension|native|eval|webpack|<anonymous>|\/).*?)(?::(\d+))?(?::(\d+))?\)?\s*$",
    re.I | re.ASCII,
)
_RE_GECKO = re.compile(
    r"^\s*(.*?)(?:\((.*?)\))?(?:^|@)((?:file|https?|blob|chrome|webpack|resource|\[native).*?|[^@]*bundle)(?::(\d+))?(?::(\d+))?\s*$",
    re.I | re.ASCII,
)
_RE_WINJS = re.compile(
    r"^\s*at (?:((?:\[object object\])?.+) )?\(?((?:file|ms-appx|https?|webpack|blob):.*?):(\d+)(?::(\d+))?\)?\s*$",
    re.I | re.ASCII,
)
_RE_GECKO_EVAL = re.compile(r"(\S+) line (\d+)(?: > eval line \d+)* > eval", re.I | re.ASCII)
_RE_CHROME_EVAL = re.compile(r"\((\S*)(?::(\d+))(?::(\d+))\)", re.ASCII)  # intentionally no /i
_RE_OPERA11 = re.compile(r" line (\d+).*script (?:in )?(\S+)(?:: in function (\S+))?$", re.I | re.ASCII)
_RE_OPERA11_COL = re.compile(
    r" line (\d+), column (\d+)\s*(?:in (?:<anonymous function: ([^>]+)>|([^\)]+))\((.*)\))? in (.*):\s*$",
    re.I | re.ASCII,
)
_RE_OPERA9_LINKED = re.compile(
    r"^\s*Line (\d+) of linked script ((?:file|https?|blob)\S+)(?:: in function (\S+))?\s*$",
    re.I | re.ASCII,
)
_RE_OPERA9_INLINE = re.compile(
    r"^\s*Line (\d+) of inline#(\d+) script in ((?:file|https?|blob)\S+)(?:: in function (\S+))?\s*$",
    re.I | re.ASCII,
)
_RE_OPERA9_FUNC = re.compile(r"^\s*Line (\d+) of function script\s*$", re.I | re.ASCII)


def _to_int(s: str | None) -> int | None:
    """strconv.Atoi semantics: None on empty/invalid."""
    if s is None or s == "":
        return None
    try:
        return int(s)
    except ValueError:
        return None


def _frame(url: str, func: str, line: int | None, col: int | None) -> dict:
    return {
        "url": url,
        "func": func if func else UNKNOWN_FUNCTION,
        "line": line,
        "col": col,
    }


def _from_stack_prop(stack: str) -> list[dict] | None:
    """Standard stack property: RN -> Chrome -> WinJS -> Gecko per line
    (stack_trace_parser.go:82-207)."""
    if not stack:
        return None
    frames: list[dict] = []
    for line in stack.split("\n"):
        if not line_ok(line):
            continue
        m = _RE_REACT_NATIVE.search(line)
        if m:
            frames.append(_frame(m.group(2), m.group(1), _to_int(m.group(3)), _to_int(m.group(4))))
            continue
        m = _RE_CHROME.search(line)
        if m:
            url, line_no, col_no = m.group(2), m.group(3), m.group(4)
            if url.startswith("eval"):
                em = _RE_CHROME_EVAL.search(url)
                if em:
                    url, line_no, col_no = em.group(1), em.group(2), em.group(3)
            if m.group(2).startswith("native"):
                url = "(native)"
            frames.append(_frame(url, m.group(1), _to_int(line_no), _to_int(col_no)))
            continue
        m = _RE_WINJS.search(line)
        if m:
            frames.append(_frame(m.group(2), m.group(1) or "", _to_int(m.group(3)), _to_int(m.group(4))))
            continue
        m = _RE_GECKO.search(line)
        if m:
            url, line_no, col_no = m.group(3), m.group(4), m.group(5)
            if " > eval" in url:
                em = _RE_GECKO_EVAL.search(url)
                if em:
                    url, line_no, col_no = em.group(1), em.group(2), None
            frames.append(_frame(url, m.group(1), _to_int(line_no), _to_int(col_no)))
            continue
    return frames or None


def _from_opera11(stacktrace: str) -> list[dict] | None:
    """Opera 11+ stacktrace property, frames on every 2nd line
    (stack_trace_parser.go:210-270)."""
    if not stacktrace:
        return None
    lines = stacktrace.split("\n")
    frames: list[dict] = []
    for line in lines[::2]:
        if not line_ok(line):
            continue
        m = _RE_OPERA11.search(line)
        if m:
            frames.append(_frame(m.group(2), m.group(3) or "", _to_int(m.group(1)), None))
            continue
        m = _RE_OPERA11_COL.search(line)
        if m:
            func = m.group(3) or m.group(4) or ""
            frames.append(_frame(m.group(6), func, _to_int(m.group(1)), _to_int(m.group(2))))
    return frames or None


def _opera9_line(line: str) -> dict | None:
    if not line_ok(line):
        return None
    m = _RE_OPERA9_LINKED.search(line)
    if m:
        return _frame(m.group(2), m.group(3) or "", _to_int(m.group(1)), None)
    m = _RE_OPERA9_INLINE.search(line)
    if m:
        return _frame(m.group(3), m.group(4) or "", _to_int(m.group(1)), None)
    m = _RE_OPERA9_FUNC.search(line)
    if m:
        return _frame("", "", None, None)
    return None


def _from_opera10(stacktrace: str) -> list[dict] | None:
    """Opera 10 stacktrace property (Opera 9 line formats, stride 2 from 0,
    stack_trace_parser.go:335-394)."""
    lines = stacktrace.split("\n")
    if len(lines) < 2:
        return None
    frames = [f for i in range(0, len(lines), 2) if (f := _opera9_line(lines[i]))]
    return frames or None


def _from_opera9_message(message: str) -> list[dict] | None:
    """Opera 9 message property: frames from line 2, stride 2
    (stack_trace_parser.go:273-332)."""
    lines = message.split("\n")
    if len(lines) < 4:
        return None
    frames = [f for i in range(2, len(lines), 2) if (f := _opera9_line(lines[i]))]
    return frames or None


def compute_stack_trace(name: str, message: str, stack: str) -> tuple[dict | None, str | None]:
    """Full strategy cascade (stack_trace_parser.go:399-430).

    Returns ``(result, error)`` where result is
    ``{name, message, mode, frames}`` and error is the parse-failure string.
    """
    if stack:
        frames = _from_opera11(stack)
        if frames:
            return {"name": name, "message": message, "mode": "stacktrace", "frames": frames}, None
        frames = _from_stack_prop(stack)
        if frames:
            return {"name": name, "message": message, "mode": "stack", "frames": frames}, None
        frames = _from_opera10(stack)
        if frames:
            return {"name": name, "message": message, "mode": "stacktrace", "frames": frames}, None
    frames = _from_opera9_message(message)
    if frames:
        # Opera 9 overwrites the message with the first message line
        # (stack_trace_parser.go:326-331)
        return {
            "name": name,
            "message": message.split("\n")[0],
            "mode": "multiline",
            "frames": frames,
        }, None
    return None, "failed to parse stack trace"
