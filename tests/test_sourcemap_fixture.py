"""Source-map store behaviours on a small self-contained store
(tests/fixtures/sourcemaps): the last ``sourceMappingURL`` wins, compat vs
spec lookup orientation, uuid-scoped maps, and the missing-file fetch
error.  The reference's own byte-for-byte goldens live in
test_sourcemap_build.py.

The store holds one minified ``app.js`` (one generated line) at the root
and a copy under a build uuid.  Its map's ``mappings`` field is five
base64-VLQ tokens on generated line 0:

    gen col   source line:col (1-based)   name
    0         1:1                         -
    9         2:11                        foo
    20        3:3                         helper
    34        4:10                        bar
    50        7:1                         baz

The uuid-scoped map is the same but names its source ``app.v2.src.js``.
"""

import os

import pyarrow.parquet as pq
import pytest

from symspark.config import PipelineConfig
from symspark.sources.sourcemap_build import (
    build_store_from_dir,
    build_tokens,
    extract_sourcemap_url,
    vlq_decode,
)
from tests.test_sourcemap_build import _run_one as run_one

STORE = os.path.join(os.path.dirname(__file__), "fixtures", "sourcemaps")
UUID = "3f0c2a51-7d1e-4b8a-9c6f-0e5d4a3b2c10"
MAPPINGS = "AAAA,SACUA,WACRC,cACOC,gBAGTC"
FRAME = "Error: x\n    at b (https://cdn.example.com/js/{file}:0:34)"


def test_fixture_mappings_decode():
    assert [vlq_decode(s) for s in MAPPINGS.split(",")] == [
        [0, 0, 0, 0], [9, 0, 1, 10, 0], [11, 0, 1, -8, 1],
        [14, 0, 1, 7, 1], [16, 0, 3, -9, 1],
    ]
    with open(os.path.join(STORE, "app.js.map")) as f:
        toks = build_tokens(f.read())
    assert [(t["gen_line"], t["gen_col"], t["src_line"], t["src_col"], t.get("name"))
            for t in toks] == [
        (0, 0, 1, 1, None), (0, 9, 2, 11, "foo"), (0, 20, 3, 3, "helper"),
        (0, 34, 4, 10, "bar"), (0, 50, 7, 1, "baz"),
    ]


def test_last_mapping_url_wins():
    with open(os.path.join(STORE, "app.js")) as f:
        src = f.read()
    # an earlier sourceMappingURL sits inside a string literal
    assert "sourceMappingURL=decoy.js.map" in src
    assert extract_sourcemap_url(src) == "app.js.map"


def test_build_store_from_fixture_dir():
    tokens, store = build_store_from_dir(STORE)
    assert sorted(zip(*(store.column(c).to_pylist() for c in store.column_names))) == [
        ("app.js", "", None), ("app.js", UUID, None),
    ]
    assert tokens.num_rows == 10  # five tokens per map
    scoped = tokens.filter(tokens.column("build_uuid").to_numpy(zero_copy_only=False) == UUID)
    assert set(scoped.column("src_file").to_pylist()) == {"app.v2.src.js"}


@pytest.fixture(scope="module")
def store_lookups(spark, fixture_dir, tmp_path_factory):
    from symspark.pipeline import Lookups, load_lookups

    d = tmp_path_factory.mktemp("fixturemaps")
    tokens, store = build_store_from_dir(STORE)
    pq.write_table(tokens, os.path.join(d, "sourcemap_tokens.parquet"))
    pq.write_table(store, os.path.join(d, "sourcemap_store.parquet"))
    base = load_lookups(spark, fixture_dir)
    return Lookups(
        sourcemap_tokens=spark.read.parquet(os.path.join(d, "sourcemap_tokens.parquet")),
        sourcemap_store=spark.read.parquet(os.path.join(d, "sourcemap_store.parquet")),
        proguard_mapping=base.proguard_mapping,
        proguard_store=base.proguard_store,
        dsym_symbols=base.dsym_symbols,
        dsym_store=base.dsym_store,
    )


def test_compat_orientation(spark, store_lookups):
    """Compat swaps (line, col): (0, 34) is queried as line 34, col 0, which
    clamps to the last token of line 0."""
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = run_one(spark, store_lookups, cfg, FRAME.format(file="app.js"))
    assert r["text"] == "Error: x\n    at baz(app.src.js:7:1)"
    assert r["exception_symbolicator_failed"] is False


def test_spec_orientation(spark, store_lookups):
    """Spec orientation: (0, 34) hits the token AT generated column 34."""
    cfg = PipelineConfig(sourcemap_reference_compat=False)
    r = run_one(spark, store_lookups, cfg, FRAME.format(file="app.js"))
    assert r["text"] == "Error: x\n    at bar(app.src.js:4:10)"


def test_uuid_scoped_map(spark, store_lookups):
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = run_one(spark, store_lookups, cfg, FRAME.format(file="app.js"), sm_uuid=UUID)
    assert r["text"] == "Error: x\n    at baz(app.v2.src.js:7:1)"


def test_missing_file_fetch_error(spark, store_lookups):
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = run_one(spark, store_lookups, cfg, FRAME.format(file="does-not-exist.js"))
    assert r["exception_symbolicator_failed"] is True
    assert "failed to find source file" in r["text"]
