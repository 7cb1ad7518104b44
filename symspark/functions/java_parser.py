"""Java/Kotlin stack-trace parsing.

From-scratch implementation of the reference's behavior
(proguardprocessor/stack_trace_parser.go:51-155): first line must match the
exception header ``Type: message``; each following non-empty line is parsed
as ``at cls.method(Source[:line])`` or preserved verbatim as a raw element
(a tagged union — frame XOR raw line).  Line-number conventions follow
the Android StackTraceElement docs: ``Native Method`` -> -2, missing ->
-1.
"""

from __future__ import annotations

import re

from symspark.functions.limits import line_ok

ERR_EMPTY = "stack trace is empty"
ERR_INVALID = "invalid stack trace format"
ERR_NO_FRAMES = "no valid stack frames found in stack trace"

# re.ASCII: `\s`/`\d` are ASCII, as in Go RE2 and the JVM engine
_RE_HEADER = re.compile(r"^([^\s:]+)\s*:\s*(.*)$", re.ASCII)
_RE_FRAME = re.compile(
    r"^\s*at\s+([^\s(]+)\.([^\s.(]+)\(([^:)]+)(?::(-?\d+))?\)\s*$", re.ASCII
)
# the ASCII `\s` set, for trimming (str.strip() also strips Unicode spaces)
_WS = " \t\n\r\f\v"


def parse_java_frame(line: str) -> dict | None:
    """Parse one stack line; None if it is not a frame
    (stack_trace_parser.go:125-155); a line failing ``line_ok`` is not one."""
    m = _RE_FRAME.search(line) if line_ok(line) else None
    if not m:
        return None
    cls, method, source, line_no = m.groups()
    line_num = -1
    if source == "Native Method":
        line_num = -2
    elif line_no:
        try:
            line_num = int(line_no)
        except ValueError:
            line_num = -1
    return {"cls": cls, "method": method, "src": source, "line": line_num}


def parse_java_stack_trace(text: str) -> tuple[dict | None, str | None]:
    """Returns ``({exception_type, exception_message, elements}, error)``.

    ``elements`` entries are ``{"frame": {...}}`` or ``{"raw": line}``
    (stack_trace_parser.go:72-121).
    """
    if not text:
        return None, ERR_EMPTY
    lines = text.split("\n")
    first = lines[0].strip(_WS)
    m = _RE_HEADER.search(first) if first else None
    if not m:
        return None, ERR_INVALID
    elements: list[dict] = []
    for line in lines[1:]:
        if not line.strip(_WS):
            continue
        frame = parse_java_frame(line)
        elements.append({"frame": frame} if frame else {"raw": line})
    if not elements:
        return None, ERR_NO_FRAMES
    return {
        "exception_type": m.group(1),
        "exception_message": m.group(2),
        "elements": elements,
    }, None

