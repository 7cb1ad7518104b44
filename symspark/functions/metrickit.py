"""MetricKit crash-report JSON flattening.

From-scratch implementation of the reference's walk
(dsymprocessor/logs_processor.go:292-316,350-398): a crash report is
``{"callStacks": [...]}``; each call stack carries either the original
Apple recursive form (``callStackRootFrames`` with nested ``subFrames`` —
walked by taking the FIRST sub-frame at each level) or the flattened OTel
form (``callStackFrames``).  Both may be present; the Apple walk runs
first, then the flat list is appended (logs_processor.go:366-393).

Offset preference: ``offsetIntoBinaryTextSegment`` over ``offsetAddress``,
0 when neither is present (logs_processor.go:276-283,441-447).

This is the test oracle of the JVM engine (functions/parse_sql.py), so it
reads the report with the JVM's typed rules (limits.py has the two caps):
- JSON is what Spark's ``parse_json`` accepts: no NaN/Infinity, no
  duplicate keys, nesting within the parser's limit, and text after the
  first value ignored.  Any failure is the fixed ``ERR_MK_JSON`` reason.
- A value of the wrong type counts as absent: a non-list root, sub-frame or
  flat-frame list, a non-object frame (which ends a chain or is skipped in
  a flat list), a non-string binary name or uuid ("").
- An offset is a 64-bit integer: JSON integers, floats truncated toward
  zero, booleans and decimal-integer strings; anything else counts as
  absent, so the other offset key (then 0) is used.
"""

from __future__ import annotations

import json
import math
import re

from symspark.functions.limits import (
    ERR_MK_DEPTH,
    ERR_MK_JSON,
    ERR_MK_NOT_LIST,
    ERR_MK_NOT_OBJECT,
    MK_DEPTH_CAP,
)

_INT_STR = re.compile(r"\s*[+-]?[0-9]+\s*", re.ASCII)
_I64 = (-(2**63), 2**63 - 1)


def _reject_constant(name: str):
    raise ValueError(f"{name} is not JSON")


def _no_duplicate_keys(pairs: list) -> dict:
    obj = dict(pairs)
    if len(obj) != len(pairs):
        raise ValueError("duplicate key")
    return obj


_DECODER = json.JSONDecoder(
    parse_constant=_reject_constant, object_pairs_hook=_no_duplicate_keys
)


def _loads(text: str):
    """The first JSON value of ``text``; raises ValueError if there is none."""
    try:
        return _DECODER.raw_decode(text, json.decoder.WHITESPACE.match(text).end())[0]
    except RecursionError as e:
        raise ValueError("nesting too deep") from e


def _int64(v) -> int | None:
    if isinstance(v, float):
        v = int(v) if math.isfinite(v) else None
    elif isinstance(v, str):
        v = int(v) if _INT_STR.fullmatch(v) else None
    elif isinstance(v, int):
        v = int(v)  # bool -> 0/1
    else:
        return None
    return v if v is not None and _I64[0] <= v <= _I64[1] else None


def _offset(frame: dict) -> int:
    for key in ("offsetIntoBinaryTextSegment", "offsetAddress"):
        off = _int64(frame.get(key))
        if off is not None:
            return off
    return 0


def _text(v) -> str:
    return v if isinstance(v, str) else ""


def _first(v):
    return v[0] if isinstance(v, list) and v else None


def flatten_metrickit(text: str) -> tuple[list[list[dict]] | None, str | None]:
    """Returns ``(stacks, error)``: one frame list per callStack (possibly
    empty — an empty call stack still contributes an empty entry to the
    output join, logs_processor.go:357-398).  Each frame is
    ``{stack_idx, bin, buuid, offset}`` in symbolication order."""
    try:
        report = _loads(text)
    except ValueError:
        return None, ERR_MK_JSON
    if not isinstance(report, dict):
        return None, ERR_MK_NOT_OBJECT
    call_stacks = report.get("callStacks") or []
    if not isinstance(call_stacks, list):
        return None, ERR_MK_NOT_LIST
    stacks: list[list[dict]] = []
    for si, cs in enumerate(call_stacks):
        stack: list[dict] = []
        stacks.append(stack)
        if not isinstance(cs, dict):
            continue
        chain = []
        frame = _first(cs.get("callStackRootFrames"))
        while isinstance(frame, dict):
            if len(chain) == MK_DEPTH_CAP:
                return None, ERR_MK_DEPTH
            chain.append(frame)
            frame = _first(frame.get("subFrames"))
        flat = cs.get("callStackFrames")
        flat = [f for f in flat if isinstance(f, dict)] if isinstance(flat, list) else []
        for frame in chain + flat:
            stack.append(
                {
                    "stack_idx": si,
                    "bin": _text(frame.get("binaryName")),
                    "buuid": _text(frame.get("binaryUUID")),
                    "offset": _offset(frame),
                }
            )
    return stacks, None
