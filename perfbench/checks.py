"""Output checks.

- Every pass keeps every turn: turns out equal turns in.
- Each pass's order-independent digest equals the first pass's.  The digest
  is the turn count plus two sums of 64-bit row hashes (seeded
  differently), so it does not depend on partitioning or row order, and it
  is printed for comparing two commits.  Pipeline output is hashed over
  (conv_id, turn_idx, sink, text, frame counters); exploded frames over all
  their columns.
- For a checkpointed run, the manifest totals equal the per-sink counters
  recomputed from the written output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

PIPELINE_COLS = (
    "conv_id", "turn_idx", "sink", "text",
    "frames_processed", "frames_failed", "fetch_failures",
)
COUNTERS = ("rows", "frames_processed", "frames_failed", "fetch_failures")


def digest_exprs(df: DataFrame) -> list[Column]:
    """Aggregates for one digest of ``df``: pipeline records, or exploded
    frames (one row per frame; a turn's first frame has pos 0, and a turn
    without frames is one row with a NULL pos)."""
    if "sink" in df.columns:
        cols = [F.col(c) for c in PIPELINE_COLS]
        turns = F.count(F.lit(1))
    else:
        cols = [F.col(c) for c in df.columns]
        turns = F.count_if(F.coalesce(F.col("pos") == 0, F.lit(True)))
    return [
        turns.alias("turns"),
        F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("h1"),
        F.sum(F.xxhash64(F.lit("perfbench"), *cols).cast("decimal(20,0)")).alias("h2"),
    ]


def digest_of(values: dict) -> str:
    """Canonical text of one digest, from observed or collected values."""
    return f"{values['turns']}:{values['h1']}:{values['h2']}"


class PassChecks:
    """Checks each pass's output against the input size and the first pass;
    counts attempts and failures."""

    def __init__(self, n_turns: int):
        self.n_turns = n_turns
        self.reference: str | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, label: str, turns: int, digest_text: str) -> bool:
        errs = []
        if turns != self.n_turns:
            errs.append(f"turns out {turns} != turns in {self.n_turns}")
        if self.reference is None:
            self.reference = digest_text
        elif digest_text != self.reference:
            errs.append(f"digest {digest_text} != first pass {self.reference}")
        self.record(label, errs)
        return not errs

    def record(self, label: str, errs) -> None:
        self.attempted += 1
        self.failed += bool(errs)
        self.failures.extend(f"{label}: {e}" for e in errs)


def manifest_mismatches(manifest_totals: dict, written_aggs: list) -> list[str]:
    """Compare ``sinks.aggregate_manifests`` totals with
    ``pipeline.sink_aggregates`` rows of the written output."""
    written = {r["sink"]: {k: r[k] for k in COUNTERS} for r in written_aggs}
    errs = []
    for sink in sorted(set(written) | set(manifest_totals)):
        m, w = manifest_totals.get(sink), written.get(sink)
        if m is None or w is None or any(m[k] != w[k] for k in COUNTERS):
            errs.append(f"sink {sink}: manifests {m} != written {w}")
    return errs
