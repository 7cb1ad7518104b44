"""Seeded transcript inputs for the benchmark workloads.

The row formats come from ``symspark.sources.datagen`` (its trace-format
generators and symbol-store constants), so every generated trace resolves
against the same symbol stores the program ships.  What this module adds
is the seed: it is mixed into every row's hash, so two seeds differ in
trace format, URL, line/column, Apple address and per-conversation uuid
choice, not just in ids.

Two mixes:

- ``mixed``: the datagen default mix (about 71% prose turns, MetricKit,
  JS/JVM/Apple text and structured-array traces, 1% hot conversations).
- ``traces``: every turn carries a stack trace from the same format
  generators (no prose, no malformed text, no legacy MetricKit attribute).

Inputs are written once per (mix, seed, turn count) under the cache
directory and reused by later runs.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from symspark.sources import datagen as D

MIXES = ("mixed", "traces")
N_SHARDS = 16

_COLUMNS = (
    "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "language", "event_name", "metrickit_stacktrace_json",
    "exception_type", "exception_message",
    "st_columns", "st_functions", "st_lines", "st_urls",
    "st_classes", "st_methods", "st_jvm_lines", "st_source_files",
    "source_map_uuid", "build_uuid", "app_executable", "proguard_uuid",
)
_TRACE_LANGS = ("javascript", "java", "swift")


def _language(mix: str, h) -> str | None:
    r = h("lang") % 100
    if mix == "traces":
        return _TRACE_LANGS[r % 3]
    if r < 25:
        return "javascript"
    if r < 45:
        return "java"
    if r < 65:
        return "swift"
    return "other" if r < 90 else None


def _resources(h) -> tuple:
    """Per-conversation uuid choice: (source_map_uuid, build_uuid,
    app_executable, proguard_uuid), with datagen's hit/miss proportions."""
    r = h("res") % 100
    sm_uuid = D.SM_UUID if r < 15 else ""
    if r < 70:
        build_uuid, app_exe = D.DSYM_UUID_KNOWN, D.APP_BINARY
    elif r < 90:
        build_uuid, app_exe = D.DSYM_UUID_MISS, D.APP_BINARY
    elif r < 95:
        build_uuid, app_exe = None, D.APP_BINARY
    else:
        build_uuid, app_exe = D.DSYM_UUID_KNOWN, None
    if r < 45:
        pg_uuid = D.PG_UUIDS[0]
    elif r < 70:
        pg_uuid = D.PG_UUIDS[1]
    elif r < 90:
        pg_uuid = D.PG_UUID_MISS
    else:
        pg_uuid = None
    return sm_uuid, build_uuid, app_exe, pg_uuid


def _text_kind(mix: str, lang: str | None, roll: int) -> str:
    if mix == "traces":
        # the datagen split between text and structured traces, given a trace
        roll = 55 + roll % 40
    if lang in _TRACE_LANGS and roll >= 55:
        if roll >= 95:
            return "malformed"
        if lang == "javascript":
            return "js_structured" if roll >= 85 else "js"
        if lang == "java":
            return "java_structured" if roll >= 85 else "java"
        return "metrickit" if roll >= 83 else "apple"
    if lang == "swift" and 52 <= roll < 55:
        return "metrickit_legacy"
    return "prose"


def _row(kind: str, s: int) -> dict:
    """The text and attribute columns of one turn of the given kind."""
    row: dict = {}
    if kind == "prose":
        row["text"] = D._prose(s)
    elif kind in ("js", "js_structured"):
        row["text"] = D._js_text(s)
        if kind == "js" and s % 3:
            row["exception_type"], row["exception_message"] = "TypeError", f"boom {s % 97}"
        if kind == "js_structured":
            urls = list(D.SM_URLS)
            n = 2 + s % 3
            row["st_columns"] = [(s // (3 + i)) % 60 for i in range(n)]
            row["st_lines"] = [10 + (s // (7 + i)) % 90 for i in range(n)]
            row["st_functions"] = [f"fn{i}" for i in range(n)]
            row["st_urls"] = [urls[(s + i) % 5] for i in range(n)]
            if s % 17 == 0:  # mismatched lengths: a record error
                row["st_columns"] = row["st_columns"][:-1]
            row["exception_type"], row["exception_message"] = "Error", f"structured {s % 23}"
    elif kind in ("java", "java_structured"):
        row["text"] = D._java_text(s)
        if kind == "java_structured":
            n = 2 + s % 3
            row["st_classes"] = [D.PG_CLASSES[(s + i) % 4][0] for i in range(n)]
            row["st_methods"] = [D.PG_CLASSES[(s + i) % 4][1] for i in range(n)]
            row["st_jvm_lines"] = [1 + (s // (3 + i)) % 300 for i in range(n)]
            row["st_source_files"] = ["SourceFile"] * n
            if s % 17 == 0:
                row["st_classes"] = row["st_classes"][:-1]
            row["exception_type"], row["exception_message"] = "java.lang.Error", f"structured {s % 23}"
    elif kind == "apple":
        row["text"] = D._apple_text(s)
    elif kind == "metrickit":
        row["text"] = D._metrickit_text(s) if s % 11 else '{"callStacks": [}'
        row["event_name"] = "metrickit.diagnostic.crash"
    elif kind == "metrickit_legacy":
        row["text"] = D._prose(s)
        row["metrickit_stacktrace_json"] = D._metrickit_text(s) if s % 13 else '{"callStacks": [}'
    else:
        row["text"] = D._malformed_text(s)
    return row


def gen_transcripts(mix: str, seed: int, n_turns: int) -> pa.Table:
    """Exactly ``n_turns`` transcript rows of the given mix, determined by
    ``seed``.  1% of conversations are hot (320 turns), the rest have 8."""
    if mix not in MIXES:
        raise ValueError(f"unknown mix {mix!r}; expected one of {MIXES}")
    cols: dict[str, list] = {c: [] for c in _COLUMNS}
    ci = 0
    while len(cols["conv_id"]) < n_turns:
        conv_id = f"conv{ci:06d}"

        def h(*parts, _c=ci):
            return D._h(seed, _c, *parts)

        size = min(320 if h("hot") % 100 == 0 else 8, n_turns - len(cols["conv_id"]))
        lang = _language(mix, h)
        sm_uuid, build_uuid, app_exe, pg_uuid = _resources(h)
        for t in range(size):
            s = h("turn", t)
            row = _row(_text_kind(mix, lang, s % 100), s)
            row.update(
                conv_id=conv_id, turn_idx=t, role=D._ROLES[(ci + t) % 4],
                tool=D._TOOLS[s % 4],
                ts=D.EPOCH + _dt.timedelta(minutes=h("ts", t) % 525600),
                language=lang, source_map_uuid=sm_uuid, build_uuid=build_uuid,
                app_executable=app_exe, proguard_uuid=pg_uuid,
            )
            for c in _COLUMNS:
                cols[c].append(row.get(c))
        ci += 1
    return pa.table(cols, schema=transcript_schema())


def transcript_schema() -> pa.Schema:
    lst = pa.list_
    types = {
        "turn_idx": pa.int32(), "ts": pa.timestamp("us", tz="UTC"),
        "st_columns": lst(pa.int64()), "st_functions": lst(pa.string()),
        "st_lines": lst(pa.int64()), "st_urls": lst(pa.string()),
        "st_classes": lst(pa.string()), "st_methods": lst(pa.string()),
        "st_jvm_lines": lst(pa.int64()), "st_source_files": lst(pa.string()),
    }
    return pa.schema([(c, types.get(c, pa.string())) for c in _COLUMNS])


def write_inputs(cache_dir: str, mix: str, seed: int, n_turns: int) -> str:
    """Write (or reuse) the input directory for (mix, seed, n_turns): the
    sharded transcript table plus the six symbol-store tables."""
    out = os.path.join(cache_dir, f"{mix}-s{seed}-n{n_turns}")
    if os.path.isfile(os.path.join(out, "_COMPLETE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, fn in D.TABLES.items():
        pq.write_table(fn(), os.path.join(out, f"{name}.parquet"))
    table = gen_transcripts(mix, seed, n_turns)
    tdir = os.path.join(out, "transcripts.parquet")
    os.makedirs(tdir)
    step = -(-table.num_rows // N_SHARDS)
    for s, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step), os.path.join(tdir, f"part-{s:05d}.parquet"))
    open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


def read_back_turns(input_dir: str) -> int:
    """The turn count as stored, read from the parquet footers."""
    tdir = os.path.join(input_dir, "transcripts.parquet")
    return sum(
        pq.ParquetFile(os.path.join(tdir, f)).metadata.num_rows
        for f in sorted(os.listdir(tdir)) if f.endswith(".parquet")
    )


# a JS trace in the Opera format carries "line N" markers; those rows (with
# MetricKit) are what the program sends through its Python parse UDF
OPERA_MARKER = r"(?im)(?:^|\s)line\s+\d"


def opera_share(input_dir: str) -> float:
    """Share of turns that are JS text traces in the Opera format, read
    back from the stored transcripts."""
    import pyarrow.compute as pc

    t = pq.read_table(os.path.join(input_dir, "transcripts.parquet"),
                      columns=["text", "language", "st_urls"])
    opera = pc.and_(
        pc.and_(pc.equal(t["language"], "javascript"), pc.is_null(t["st_urls"])),
        pc.match_substring_regex(t["text"], OPERA_MARKER),
    )
    return pc.sum(pc.fill_null(opera, False).cast("int64")).as_py() / max(1, t.num_rows)
