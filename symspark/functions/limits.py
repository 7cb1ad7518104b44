"""Input limits shared by the JVM parse engine and the scalar oracle.

Each limit is a deliberate, tested deviation from an unbounded parse,
applied identically in both engines so that the JVM parse stays byte-equal
to the scalar parsers on every input (tests/test_parse_sql.py).

- ``LINE_CAP``: java.util.regex backtracks, and the stacked lazy/optional
  groups of the JS regexes can go superlinear on long adversarial lines
  (an executor CPU hazard RE2, the Go reference's engine, cannot hit).  No
  legitimate stack-frame line approaches this length, so a longer line is
  non-matching: a JS line is skipped, a JVM or Apple line is kept raw.  The
  same gate rejects lines carrying the JVM engine's group-separator
  control chars (``\\x01``, ``\\x02``), which would mis-split its
  single-execution group extraction.
- ``MK_DEPTH_CAP``: the JVM walks a MetricKit ``subFrames`` chain with a
  bounded loop.  A chain deeper than the cap fails its record with
  ``ERR_MK_DEPTH``; before, a chain that deep could hit Python's recursion
  limit and fail the whole task.
- ``ERR_MK_JSON``: the JVM JSON parser reports no error detail, so a
  report that is not JSON fails with this fixed reason in both engines.
"""

from __future__ import annotations

LINE_CAP = 8192
LINE_SENTINELS = ("\x01", "\x02")

MK_DEPTH_CAP = 256
ERR_MK_JSON = "invalid MetricKit JSON: not valid JSON"
ERR_MK_NOT_OBJECT = "invalid MetricKit JSON: not an object"
ERR_MK_NOT_LIST = "invalid MetricKit JSON: callStacks is not a list"
ERR_MK_DEPTH = f"MetricKit subFrames chain deeper than {MK_DEPTH_CAP} frames"


def line_ok(line: str) -> bool:
    """True if a stack line may be matched at all (``LINE_CAP`` note)."""
    return len(line) <= LINE_CAP and not any(s in line for s in LINE_SENTINELS)
