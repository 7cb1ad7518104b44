"""Pipeline configuration: the two behaviour switches of the reference
processors that a caller can flip.

The reference makes every attribute key configurable because an OTel
collector reads arbitrary attribute maps from YAML
(sourcemapprocessor/factory.go:26-51, proguardprocessor/factory.go:28-51,
dsymprocessor/factory.go:26-43).  symspark reads a fixed-schema table, so
its column names are the ``schemas.TRANSCRIPTS_SCHEMA`` contract (the OTel
attribute key with ``.`` mapped to ``_``); a caller with other names
renames its columns before calling.  The reference's processor stamps,
store path prefixes and language allow-lists are constants next to their
one reader in ``symspark/operators``.

Every operator takes a ``cfg`` so all layer calls share one shape.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # factory.go:43 (all three processors): keep the original stack trace
    # (and structured arrays) next to the symbolicated one
    preserve_stack_trace: bool = True

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


DEFAULT_CONFIG = PipelineConfig()
