"""Apple crash-report line parsing.

From-scratch implementation of the reference's line format
(dsymprocessor/logs_processor.go:209-274): a crash line is
``idx  lib  0xADDR  (uuid|binary) + offset``; non-matching lines pass
through unsymbolicated.  The rewritten line preserves the original prefix
up to the end of the hex-address match group (logs_processor.go:264-269).
"""

from __future__ import annotations

import re

from symspark.functions.limits import line_ok

# groups: 1 stack index, 2 library name, 3 hex address, 4 uuid-or-binary,
# 5 offset (logs_processor.go:210).  re.ASCII matches Go RE2's ASCII \w.
_RE_STACK_LINE = re.compile(
    r"^([0-9]+)\s+([\w _\-\.]+[\w_\-\.])\s+(0x[\da-f]+)\s+([\w _\-\.]*) \+ (\d+)",
    re.ASCII,
)
_RE_UUID = re.compile(r"[0-9A-Z]{8}-[0-9A-Z]{4}-[0-9A-Z]{4}-[0-9A-Z]{4}-[0-9A-Z]{12}")


def is_uuid(s: str) -> bool:
    return bool(_RE_UUID.search(s))


def parse_apple_line(line: str) -> dict | None:
    """Parse one crash line; None when the line does not match (passthrough,
    logs_processor.go:214-217) or fails ``line_ok``.

    Returns ``{prefix, lib, tok, addr}`` where ``prefix`` is the original
    line up to the end of the hex-address group and ``tok`` is the
    uuid-or-binary discriminator token.
    """
    m = _RE_STACK_LINE.search(line) if line_ok(line) else None
    if not m:
        return None
    return {
        "prefix": line[: m.end(3)],
        "lib": m.group(2),
        "tok": m.group(4),
        "addr": int(m.group(5)),
    }

