"""Deterministic synthetic data generation (FIXTURES.md §1-4).

Pure Python + pyarrow (no Spark) so fixtures are cheap to build in tests and
identical across runs: all randomness is ``md5(seed parts)``-derived, never
``random``/``hash()``.

Generates:
- ``transcripts``        — the primary input table (BASELINE.json input_hint
  columns + companion attribute columns from FIXTURES.md §1)
- ``sourcemap_tokens`` / ``sourcemap_store`` — JS enrichment lookup
- ``proguard_mapping`` / ``proguard_store``  — Java enrichment lookup
- ``dsym_symbols`` / ``dsym_store``          — Apple enrichment lookup

The transcripts embed stack traces in formats drawn from the reference's
parser corpus (sourcemapprocessor/stack_trace_parser_test.go,
proguardprocessor/stack_trace_parser_test.go,
dsymprocessor/logs_processor_test.go:77-84,160-202), with ~1% "hot"
conversations (100x turns) to exercise skew salting.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)

# ---- symbol universe constants -------------------------------------------

SM_UUID = "e63db37d-9886-452a-8e56-2250dcc20102"  # uuid-scoped sourcemap dir
DSYM_UUID_KNOWN = "6A8CB813-45F6-3652-AD33-778FD1EAB196"
DSYM_UUID_MISS = "7821F73C-5FDD-409A-B0F1-B3962D7CDD0E"
DSYM_UUID_MISS2 = "DCB9E73A-0A04-4E48-AA9D-B807C80DF3BE"
APP_BINARY = "Chateaux Bufeaux"

SM_URLS = {  # full url -> (url_base incl. query, scoped?)
    "https://cdn.example.com/assets/app.js": "app.js",
    "https://cdn.example.com/assets/vendor.js": "vendor.js",
    "https://cdn.example.com/p/page.js": "page.js",
    "https://cdn.example.com/assets/app.js?v=3": "app.js?v=3",
    "https://app.example.com/js/index.android.bundle": "index.android.bundle",
    "https://cdn.example.com/assets/missing.js": "missing.js",  # not in store
    "https://cdn.example.com/assets/broken.js": "broken.js",  # store error
}
SM_STORE_KEYS = [
    ("app.js", ""),
    ("vendor.js", ""),
    ("page.js", ""),
    ("app.js?v=3", ""),
    ("index.android.bundle", ""),
    ("app.js", SM_UUID),
]
SM_BROKEN = ("broken.js", "")  # present, but no sourceMappingURL comment
SM_LINES = range(0, 121)
SM_COLS = (0, 10, 40)

PG_UUIDS = ("test-uuid-0001", "test-uuid-0002")
PG_UUID_MISS = "missing-uuid"
PG_CLASSES = (("a.a", "a"), ("a.a", "b"), ("a.b", "b"), ("b.c", "a"))

DSYM_RANGE = 1000  # symbol size; ranges [k*1000, k*1000+999] for k in 0..999
DSYM_MAX_K = 1000


def _h(*parts: object) -> int:
    """Deterministic 64-bit hash of the given parts."""
    s = "|".join(str(p) for p in parts)
    return int(hashlib.md5(s.encode()).hexdigest()[:16], 16)


# ---------------------------------------------------------------------------
# text corpora
# ---------------------------------------------------------------------------

_PROSE_WORDS = (
    "please run the tests and check the output of the build then summarize "
    "what changed in the diff and open a ticket for the regression we saw "
    "yesterday the deploy looks fine but latency increased slightly"
).split()


def _prose(seed: int) -> str:
    n = 8 + seed % 24
    return " ".join(_PROSE_WORDS[(seed + i * 7) % len(_PROSE_WORDS)] for i in range(n))


def _js_text(seed: int) -> str:
    """A JS stack trace in one of the reference-corpus formats."""
    urls = list(SM_URLS)
    u1 = urls[seed % 5]  # resolvable urls for the first frame
    u2 = urls[(seed // 5) % len(urls)]  # any url, incl. missing/broken
    l1, c1 = 10 + seed % 90, (seed // 3) % 60
    l2, c2 = 5 + (seed // 7) % 100, (seed // 11) % 60
    kind = seed % 6
    if kind == 0:  # Chrome/V8 (stack_trace_parser.go:25)
        return (
            f"TypeError: boom {seed % 97}\n"
            f"    at foo ({u1}:{l1}:{c1})\n"
            f"    at bar ({u2}:{l2}:{c2})"
        )
    if kind == 1:  # Chrome with native + anonymous skips (processor.go:308-335)
        return (
            f"Error: skipme {seed % 97}\n"
            f"    at call (native)\n"
            f"    at baz (<anonymous>)\n"
            f"    at foo ({u1}:{l1}:{c1})"
        )
    if kind == 2:  # Gecko/Firefox (stack_trace_parser.go:27)
        return f"trace@{u1}:{l1}:{c1}\nonclick@{u2}:{l2}:{c2}"
    if kind == 3:  # React Native "address at" (stack_trace_parser.go:23)
        return (
            f"Error: rn {seed % 97}\n"
            f"    at render (address at {u1}:{l1}:{c1})\n"
            f"    at run (address at index.android.bundle:{l2}:{c2})"
        )
    if kind == 4:  # WinJS (stack_trace_parser.go:29)
        return (
            f"Error: win {seed % 97}\n"
            f"   at Anonymous function ({u1}:{l1}:{c1})\n"
            f"   at run ({u2}:{l2}:{c2})"
        )
    # Opera 11 stacktrace property (stack_trace_parser.go:36-38): stride-2 lines
    return (
        f"Error thrown at line {l1}, column {c1} in fn() in {u1}:\n"
        f"    this.fn();\n"
        f"called from line {l2}, column {c2} in run() in {u2}:\n"
        f"    obj.fn();"
    )


def _java_text(seed: int) -> str:
    cls1, m1 = PG_CLASSES[seed % 4]
    cls2, m2 = PG_CLASSES[(seed // 4) % 4]
    l1 = 1 + seed % 400  # mapping ranges cover 1..300
    kind = seed % 5
    head = f"java.lang.IllegalStateException: state {seed % 89}"
    if kind == 0:
        return (
            f"{head}\n"
            f"\tat {cls1}.{m1}(SourceFile:{l1})\n"
            f"\tat {cls2}.{m2}(SourceFile:{1 + (seed // 9) % 300})"
        )
    if kind == 1:  # Native Method / Unknown Source (stack_trace_parser.go:146-152)
        return (
            f"{head}\n"
            f"\tat {cls1}.{m1}(Native Method)\n"
            f"\tat {cls2}.{m2}(Unknown Source)"
        )
    if kind == 2:  # raw "Caused by" line preserved (stack_trace_parser.go:111)
        return (
            f"{head}\n"
            f"\tat {cls1}.{m1}(SourceFile:{l1})\n"
            f"Caused by: java.lang.RuntimeException: inner {seed % 13}\n"
            f"\tat {cls2}.{m2}(SourceFile:{2 + (seed // 9) % 290})"
        )
    if kind == 3:  # invalid line number (log_processor.go:240-245)
        return f"{head}\n\tat {cls1}.{m1}(File.java:5000000000)\n\tat {cls2}.{m2}(SourceFile:{l1})"
    return f"{head}\n\tat {cls1}.{m1}(SourceFile)"  # missing line -> -1


def _apple_text(seed: int) -> str:
    off1 = (seed % 900) * 1000 + seed % 997  # within known symbol ranges
    off2 = ((seed // 7) % 900) * 1000 + 17
    kind = seed % 4
    lines = [f"Thread {seed % 4} Crashed:"]
    lines.append(f"0   {APP_BINARY}   0x{4096 + off1:016x} {APP_BINARY} + {off1}")
    if kind == 0:
        lines.append(f"1   libsystem_kernel.dylib   0x{8192 + off2:016x} {DSYM_UUID_MISS} + {off2}")
    elif kind == 1:  # two frames against the same missing uuid (cache quirk)
        lines.append(f"1   libfoo.dylib   0x{8192 + off2:016x} {DSYM_UUID_MISS2} + {off2}")
        lines.append(f"2   libfoo.dylib   0x{8192 + off2 + 64:016x} {DSYM_UUID_MISS2} + {off2 + 64}")
    elif kind == 2:  # unknown binary token -> passthrough (logs_processor.go:236-238)
        lines.append(f"1   SomeOtherApp   0x{8192 + off2:016x} SomeOtherApp + {off2}")
    else:
        lines.append(f"1   {APP_BINARY}   0x{4096 + off2:016x} {APP_BINARY} + {off2}")
    return "\n".join(lines)


def _metrickit_text(seed: int) -> str:
    off1 = (seed % 900) * 1000 + seed % 991
    off2 = ((seed // 5) % 900) * 1000 + 23
    kind = seed % 3
    if kind == 0:  # Apple recursive subFrames form (logs_processor.go:300,312)
        report = {
            "callStacks": [
                {
                    "threadAttributed": True,
                    "callStackRootFrames": [
                        {
                            "binaryName": APP_BINARY,
                            "binaryUUID": DSYM_UUID_KNOWN,
                            "offsetIntoBinaryTextSegment": off1,
                            "subFrames": [
                                {
                                    "binaryName": APP_BINARY,
                                    "binaryUUID": DSYM_UUID_KNOWN,
                                    "offsetIntoBinaryTextSegment": off2,
                                }
                            ],
                        }
                    ],
                }
            ]
        }
    elif kind == 1:  # flat OTel form (logs_processor.go:303)
        report = {
            "callStacks": [
                {
                    "threadAttributed": True,
                    "callStackFrames": [
                        {
                            "binaryName": APP_BINARY,
                            "binaryUUID": DSYM_UUID_KNOWN,
                            "offsetAddress": off1,
                        },
                        {
                            "binaryName": "libswiftCore.dylib",
                            "binaryUUID": DSYM_UUID_MISS,
                            "offsetAddress": off2,
                        },
                    ],
                }
            ]
        }
    else:  # two call stacks, joined with \n\n\n (logs_processor.go:398)
        report = {
            "callStacks": [
                {
                    "threadAttributed": True,
                    "callStackFrames": [
                        {
                            "binaryName": APP_BINARY,
                            "binaryUUID": DSYM_UUID_KNOWN,
                            "offsetAddress": off1,
                        }
                    ],
                },
                {
                    "threadAttributed": False,
                    "callStackFrames": [
                        {
                            "binaryName": APP_BINARY,
                            "binaryUUID": DSYM_UUID_KNOWN,
                            "offsetAddress": off2,
                        }
                    ],
                },
            ]
        }
    return json.dumps(report, separators=(",", ":"))


def _malformed_text(seed: int) -> str:
    opts = (
        "Error thrown but nothing else useful here at all",
        "    at brokenFrame (app.js:xx:yy)",  # bare filename: no scheme -> unparseable
        "stack trace follows\n\tat 123(",
    )
    return opts[seed % len(opts)]


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------

_ROLES = ("user", "assistant", "tool", "system")
_TOOLS = ("bash", "search", "editor", "")
_LANGS = ("javascript", "java", "swift", "other", None)


def _conv_language(ci: int) -> str | None:
    r = _h("lang", ci) % 100
    if r < 25:
        return "javascript"
    if r < 45:
        return "java"
    if r < 65:
        return "swift"
    if r < 90:
        return "other"
    return None


def gen_transcripts(n_turns: int = 6000) -> pa.Table:
    """Build the transcript table with ~n_turns rows, deterministic."""
    # conversation sizing: 1% hot (320 turns), else 8 turns
    convs: list[tuple[str, int]] = []
    total = 0
    ci = 0
    while total < n_turns:
        size = 320 if _h("hot", ci) % 100 == 0 else 8
        convs.append((f"conv{ci:06d}", size))
        total += size
        ci += 1

    cols: dict[str, list] = {name: [] for name in (
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "language", "event_name", "metrickit_stacktrace_json",
        "exception_type", "exception_message",
        "st_columns", "st_functions", "st_lines", "st_urls",
        "st_classes", "st_methods", "st_jvm_lines", "st_source_files",
        "source_map_uuid", "build_uuid", "app_executable", "proguard_uuid",
    )}

    for conv_id, size in convs:
        ci = int(conv_id[4:])
        lang = _conv_language(ci)
        r = _h("res", ci) % 100
        sm_uuid = SM_UUID if r < 15 else ""
        if r < 70:
            build_uuid, app_exe = DSYM_UUID_KNOWN, APP_BINARY
        elif r < 90:
            build_uuid, app_exe = DSYM_UUID_MISS, APP_BINARY
        elif r < 95:
            build_uuid, app_exe = None, APP_BINARY
        else:
            build_uuid, app_exe = DSYM_UUID_KNOWN, None
        if r < 45:
            pg_uuid = PG_UUIDS[0]
        elif r < 70:
            pg_uuid = PG_UUIDS[1]
        elif r < 90:
            pg_uuid = PG_UUID_MISS
        else:
            pg_uuid = None

        for t in range(size):
            seed = _h(conv_id, t)
            kind_roll = seed % 100
            text_kind = "prose"
            if lang in ("javascript", "java", "swift") and kind_roll >= 55:
                if kind_roll >= 95:
                    text_kind = "malformed"
                elif lang == "javascript":
                    text_kind = "js_structured" if kind_roll >= 85 else "js"
                elif lang == "java":
                    text_kind = "java_structured" if kind_roll >= 85 else "java"
                else:
                    text_kind = "metrickit" if kind_roll >= 83 else "apple"
            elif lang == "swift" and 52 <= kind_roll < 55:
                # legacy MetricKit: JSON in its own attribute, no stack trace
                # in text (dsymprocessor/logs_processor.go:113-117)
                text_kind = "metrickit_legacy"

            st_cols = st_funcs = st_lines = st_urls = None
            st_classes = st_methods = st_jvm_lines = st_srcs = None
            event_name = None
            exc_type = exc_msg = None
            mk_json = None

            if text_kind == "prose":
                text = _prose(seed)
            elif text_kind == "js":
                text = _js_text(seed)
                if seed % 3 != 0:  # some rows carry exception attrs
                    exc_type, exc_msg = "TypeError", f"boom {seed % 97}"
            elif text_kind == "js_structured":
                text = _js_text(seed)  # raw text present but structured wins
                urls = list(SM_URLS)
                n = 2 + seed % 3
                st_cols = [(seed // (3 + i)) % 60 for i in range(n)]
                st_lines = [10 + (seed // (7 + i)) % 90 for i in range(n)]
                st_funcs = [f"fn{i}" for i in range(n)]
                st_urls = [urls[(seed + i) % 5] for i in range(n)]
                if seed % 17 == 0:  # mismatched lengths -> record error
                    st_cols = st_cols[:-1]
                exc_type, exc_msg = "Error", f"structured {seed % 23}"
            elif text_kind == "java":
                text = _java_text(seed)
            elif text_kind == "java_structured":
                text = _java_text(seed)
                n = 2 + seed % 3
                st_classes = [PG_CLASSES[(seed + i) % 4][0] for i in range(n)]
                st_methods = [PG_CLASSES[(seed + i) % 4][1] for i in range(n)]
                st_jvm_lines = [1 + (seed // (3 + i)) % 300 for i in range(n)]
                st_srcs = ["SourceFile" for _ in range(n)]
                if seed % 17 == 0:
                    st_classes = st_classes[:-1]
                exc_type, exc_msg = "java.lang.Error", f"structured {seed % 23}"
            elif text_kind == "apple":
                text = _apple_text(seed)
            elif text_kind == "metrickit":
                text = _metrickit_text(seed) if seed % 11 else '{"callStacks": [}'
                event_name = "metrickit.diagnostic.crash"
            elif text_kind == "metrickit_legacy":
                text = _prose(seed)
                mk_json = _metrickit_text(seed) if seed % 13 else '{"callStacks": [}'
            else:
                text = _malformed_text(seed)

            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(_ROLES[(ci + t) % 4])
            cols["text"].append(text)
            cols["tool"].append(_TOOLS[seed % 4])
            cols["ts"].append(EPOCH + _dt.timedelta(minutes=int(_h("ts", conv_id, t) % 525600)))
            cols["language"].append(lang)
            cols["event_name"].append(event_name)
            cols["metrickit_stacktrace_json"].append(mk_json)
            cols["exception_type"].append(exc_type)
            cols["exception_message"].append(exc_msg)
            cols["st_columns"].append(st_cols)
            cols["st_functions"].append(st_funcs)
            cols["st_lines"].append(st_lines)
            cols["st_urls"].append(st_urls)
            cols["st_classes"].append(st_classes)
            cols["st_methods"].append(st_methods)
            cols["st_jvm_lines"].append(st_jvm_lines)
            cols["st_source_files"].append(st_srcs)
            cols["source_map_uuid"].append(sm_uuid)
            cols["build_uuid"].append(build_uuid)
            cols["app_executable"].append(app_exe)
            cols["proguard_uuid"].append(pg_uuid)

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("language", pa.string()),
            ("event_name", pa.string()),
            ("metrickit_stacktrace_json", pa.string()),
            ("exception_type", pa.string()),
            ("exception_message", pa.string()),
            ("st_columns", pa.list_(pa.int64())),
            ("st_functions", pa.list_(pa.string())),
            ("st_lines", pa.list_(pa.int64())),
            ("st_urls", pa.list_(pa.string())),
            ("st_classes", pa.list_(pa.string())),
            ("st_methods", pa.list_(pa.string())),
            ("st_jvm_lines", pa.list_(pa.int64())),
            ("st_source_files", pa.list_(pa.string())),
            ("source_map_uuid", pa.string()),
            ("build_uuid", pa.string()),
            ("app_executable", pa.string()),
            ("proguard_uuid", pa.string()),
        ]
    )
    return pa.table(cols, schema=schema)


# ---------------------------------------------------------------------------
# lookup tables
# ---------------------------------------------------------------------------

def _stem(url_base: str) -> str:
    return url_base.split("?")[0].rsplit(".js", 1)[0].split(".")[0]


def gen_sourcemap_tokens() -> pa.Table:
    """Token table: deterministic mapping mirroring the reference's mock
    (processor_test.go:67-79): src_line = 2*min_line, src_col = min_col+10."""
    rows = {k: [] for k in (
        "url_base", "build_uuid", "min_line", "min_col",
        "src_file", "src_line", "src_col", "func_name",
    )}
    for url_base, uuid in SM_STORE_KEYS:
        stem = _stem(url_base)
        for line in SM_LINES:
            for col in SM_COLS:
                rows["url_base"].append(url_base)
                rows["build_uuid"].append(uuid)
                rows["min_line"].append(line)
                rows["min_col"].append(col)
                rows["src_file"].append(f"webpack:///src/{stem}{'_u' if uuid else ''}.ts")
                rows["src_line"].append(2 * line)
                rows["src_col"].append(col + 10)
                rows["func_name"].append(f"orig_{stem}_{line}_{col}")
    return pa.table(rows)


def gen_sourcemap_store() -> pa.Table:
    keys = SM_STORE_KEYS + [SM_BROKEN]
    errors = [None] * len(SM_STORE_KEYS) + [
        f"failed to find source map location: /maps/{SM_BROKEN[0]}"
    ]
    return pa.table(
        {
            "url_base": [k[0] for k in keys],
            "build_uuid": [k[1] for k in keys],
            "error": errors,
        }
    )


def render_proguard_mapping_txt(uuid: str) -> str:
    """Deterministic R8/ProGuard mapping.txt for one fixture uuid.

    Ranges per key: [1,100] -> 1 frame, [101,200] -> 2 frames (an inline
    chain: two method lines sharing the obfuscated range, innermost
    first); [201,300] intentionally ABSENT - a real mapping file encodes
    "RemapFrame returns 0 frames / keep-original"
    (log_processor.go:275-293) by having no entry for those lines.
    """
    out = []
    deob = sorted(
        {f"com.example.Deob{cls.replace('.', '_').upper()}" for cls, _ in PG_CLASSES}
    )
    for d in deob:
        out.append(f"{d} -> {d}_obf:")
        out.append('# {"id":"sourceFile","fileName":"Source.java"}')
    by_cls: dict[str, list[str]] = {}
    for cls, method in PG_CLASSES:
        dcls = f"com.example.Deob{cls.replace('.', '_').upper()}"
        lines = by_cls.setdefault(cls, [])
        for lo, hi, nmapped in ((1, 100, 1), (101, 200, 2)):
            for k in range(nmapped):
                lines.append(
                    f"    {lo}:{hi}:void {dcls}.orig_{method}{k}():{lo * 10 + k}"
                    f" -> {method}"
                )
    for cls, lines in by_cls.items():
        out.append(f"com.example.Original{cls.replace('.', '_').capitalize()} -> {cls}:")
        out.extend(lines)
    return "\n".join(out) + "\n"


def gen_proguard_mapping() -> pa.Table:
    """(uuid, obf_class, obf_method, line range) -> 1..N mapped frames.

    Rendered as real mapping.txt text and parsed back through
    sources.proguard_build - the offline builder is the tested source of
    truth for this dimension (VERDICT r1 item 5), not a parallel
    synthesizer.
    """
    from symspark.sources.proguard_build import parse_mapping_text, rows_to_table

    rows: list[dict] = []
    for uuid in PG_UUIDS:
        rows.extend(parse_mapping_text(uuid, render_proguard_mapping_txt(uuid)))
    return rows_to_table(rows)


def gen_proguard_store() -> pa.Table:
    return pa.table({"proguard_uuid": list(PG_UUIDS)})


def gen_dsym_symbols() -> pa.Table:
    """Address-range symbol table for the known dSYM: ranges [k*1000, k*1000+999],
    inline chains (2 locations) when k % 7 == 0 (dsymprocessor/symbolicator.go:109-129)."""
    rows = {k: [] for k in (
        "build_uuid", "binary_name", "sym_start_addr", "sym_end_addr", "locs",
    )}
    for k in range(DSYM_MAX_K):
        locs = [
            {
                "symbol": f"func_{k}",
                "path": "/src/MyFile.swift",
                "line": k + 1,
                "sym_addr": k * DSYM_RANGE,
            }
        ]
        if k % 7 == 0:
            locs.insert(
                0,
                {
                    "symbol": f"inlined_into_{k}",
                    "path": "/src/Inline.swift",
                    "line": 3 * k + 2,
                    "sym_addr": k * DSYM_RANGE,
                },
            )
        rows["build_uuid"].append(DSYM_UUID_KNOWN.lower())
        rows["binary_name"].append(APP_BINARY)
        rows["sym_start_addr"].append(k * DSYM_RANGE)
        rows["sym_end_addr"].append(k * DSYM_RANGE + DSYM_RANGE - 1)
        rows["locs"].append(locs)
    locs_type = pa.list_(
        pa.struct(
            [
                ("symbol", pa.string()),
                ("path", pa.string()),
                ("line", pa.int64()),
                ("sym_addr", pa.int64()),
            ]
        )
    )
    return pa.table(
        rows,
        schema=pa.schema(
            [
                ("build_uuid", pa.string()),
                ("binary_name", pa.string()),
                ("sym_start_addr", pa.int64()),
                ("sym_end_addr", pa.int64()),
                ("locs", locs_type),
            ]
        ),
    )


def gen_dsym_store() -> pa.Table:
    return pa.table(
        {"build_uuid": [DSYM_UUID_KNOWN.lower()], "binary_name": [APP_BINARY]}
    )


TABLES = {
    "sourcemap_tokens": gen_sourcemap_tokens,
    "sourcemap_store": gen_sourcemap_store,
    "proguard_mapping": gen_proguard_mapping,
    "proguard_store": gen_proguard_store,
    "dsym_symbols": gen_dsym_symbols,
    "dsym_store": gen_dsym_store,
}


def write_all(
    outdir: str, n_turns: int = 6000, force: bool = False, n_shards: int = 32
) -> dict[str, str]:
    """Write transcripts + lookup tables as parquet; skip if already present.

    The transcript table is sharded into ``n_shards`` files, a directory
    like any real table, so the scan is a multi-file scan.  The shard count
    does not set the scan's parallelism: Spark packs small files into
    splits of about ``totalBytes / defaultParallelism`` (session.py), so a
    small table scans in about one split per core whatever its file count.
    """
    os.makedirs(outdir, exist_ok=True)
    paths = {}
    for name, fn in TABLES.items():
        path = os.path.join(outdir, f"{name}.parquet")
        if force or not os.path.exists(path):
            pq.write_table(fn(), path)
        paths[name] = path
    tpath = os.path.join(outdir, "transcripts.parquet")
    if force or not os.path.isdir(tpath):
        if os.path.isfile(tpath):  # stale single-file layout from older runs
            os.remove(tpath)
        table = gen_transcripts(n_turns)
        os.makedirs(tpath, exist_ok=True)
        n = table.num_rows
        step = max(1, (n + n_shards - 1) // n_shards)
        for s, lo in enumerate(range(0, n, step)):
            pq.write_table(
                table.slice(lo, step), os.path.join(tpath, f"part-{s:05d}.parquet")
            )
    paths["transcripts"] = tpath
    return paths
