"""Real source-map decoding + end-to-end parity with the reference's own
golden test (sourcemapprocessor/symbolicator_test.go:41-56) using the real
artifacts of the reference checkout's test_assets directory.  Tests that
read those artifacts skip when the checkout is absent; the same behaviours
are pinned on a self-contained store in test_sourcemap_fixture.py."""

import os

import pyarrow.parquet as pq
import pytest

from symspark.config import PipelineConfig
from symspark.schemas import TRANSCRIPTS_SCHEMA
from symspark.sources.sourcemap_build import (
    build_store_from_dir,
    build_tokens,
    extract_sourcemap_url,
    vlq_decode,
)

ASSETS = "/root/reference/test_assets"
needs_assets = pytest.mark.skipif(
    not os.path.isdir(ASSETS),
    reason=f"reference test assets not present at {ASSETS}",
)


def test_vlq_decode():
    assert vlq_decode("AAAA") == [0, 0, 0, 0]
    assert vlq_decode("SAASA") == [9, 0, 0, 9, 0]
    assert vlq_decode("MACP") == [6, 0, 1, -7]
    # continuation bit: 'gB' = 32+... -> 16? g=32 -> cont, B=1 -> value 16
    assert vlq_decode("gB") == [16]


@needs_assets
def test_decode_basic_mapping():
    toks = build_tokens(open(os.path.join(ASSETS, "basic-mapping.js.map")).read())
    assert len(toks) == 12
    assert toks[1] == {
        "gen_line": 0, "gen_col": 9, "src_file": "basic-mapping.js",
        "src_line": 1, "src_col": 10, "name": "foo",
    }
    assert toks[-1] == {
        "gen_line": 0, "gen_col": 56, "src_file": "basic-mapping.js",
        "src_line": 8, "src_col": 1, "name": "bar",
    }


@needs_assets
def test_extract_mapping_url_last_wins():
    src = open(os.path.join(ASSETS, "basic-mapping.js")).read()
    # the file embeds earlier sourceMappingURL comments inside Blob strings;
    # the LAST one wins (store.go:58-66)
    assert extract_sourcemap_url(src) == "basic-mapping.js.map"


@needs_assets
def test_build_store_from_dir():
    tokens, store = build_store_from_dir(ASSETS)
    keys = set(zip(store.column("url_base").to_pylist(), store.column("build_uuid").to_pylist()))
    assert ("basic-mapping.js", "") in keys
    assert ("uuid-mapping.js", "e63db37d-9886-452a-8e56-2250dcc20102") in keys
    assert tokens.num_rows == 24  # 12 tokens per map


@pytest.fixture(scope="module")
def real_lookups(spark, fixture_dir, tmp_path_factory):
    from symspark.pipeline import Lookups, load_lookups

    d = tmp_path_factory.mktemp("realmaps")
    tokens, store = build_store_from_dir(ASSETS)
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


def _run_one(spark, lookups, cfg, text, sm_uuid=""):
    from symspark.pipeline import run_pipeline
    from tests.test_pipeline import row

    rows = [row("c1", language="javascript", text=text, source_map_uuid=sm_uuid,
                exception_type="Error", exception_message="x")]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    return run_pipeline(df, lookups, cfg).collect()[0]


@needs_assets
def test_reference_golden_compat_mode(spark, real_lookups):
    """Replicates symbolicator_test.go:41-44: frame (line 0, col 34) on
    https://www.honeycomb.io/assets/js/basic-mapping.js symbolicates to
    '    at bar(basic-mapping.js:8:1)' under the reference's shipped lookup
    orientation."""
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = _run_one(
        spark, real_lookups, cfg,
        "Error: x\n    at b (https://www.honeycomb.io/assets/js/basic-mapping.js:0:34)",
    )
    assert r["text"] == "Error: x\n    at bar(basic-mapping.js:8:1)"
    assert r["exception_symbolicator_failed"] is False


@needs_assets
def test_reference_golden_uuid_scoped(spark, real_lookups):
    """symbolicator_test.go:53-56: uuid-scoped map, same mapping."""
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = _run_one(
        spark, real_lookups, cfg,
        "Error: x\n    at b (https://x.example/uuid-mapping.js:0:34)",
        sm_uuid="e63db37d-9886-452a-8e56-2250dcc20102",
    )
    assert r["text"] == "Error: x\n    at bar(uuid-mapping.js:8:1)"


@needs_assets
def test_spec_orientation_lookup(spark, real_lookups):
    """Engine default (spec orientation): (line 0, col 34) hits the token AT
    generated column 34 -> the 'bar' declaration at source 4:10."""
    cfg = PipelineConfig(sourcemap_reference_compat=False)
    r = _run_one(
        spark, real_lookups, cfg,
        "Error: x\n    at b (https://www.honeycomb.io/assets/js/basic-mapping.js:0:34)",
    )
    assert r["text"] == "Error: x\n    at bar(basic-mapping.js:4:10)"


@needs_assets
def test_missing_file_errors(spark, real_lookups):
    """symbolicator_test.go:59-61: unknown file -> fetch error."""
    cfg = PipelineConfig(sourcemap_reference_compat=True)
    r = _run_one(
        spark, real_lookups, cfg,
        "Error: x\n    at b (https://www.honeycomb.io/assets/js/does-not-exist.js:0:34)",
    )
    assert r["exception_symbolicator_failed"] is True
    assert "failed to find source file" in r["text"]
