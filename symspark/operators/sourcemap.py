"""JS source-map enrichment (SURVEY.md §2.4 J1/J2, §2.2 F5-F7, §2.5 M1-M2).

Spark-first design: the token table is pre-aggregated per
(url_base, build_uuid, generated line) into a min_col-sorted array, so the
source-map "greatest token at or before the queried column" lookup
(the as-of semantics of symbolic's SourceMapCache.Lookup,
sourcemapprocessor/symbolicator.go:78-147) becomes

    1:1 broadcast equi-join  +  element_at(filter(toks, t -> t.min_col <= col), F.lit(-1))

— one BroadcastHashJoin and a higher-order function, no row explosion on
the dim side and no extra shuffle.  Store presence/errors are a second
broadcast join replacing the reference's fetch + LRU + per-record negative
cache (store.go:33-78, symbolicator.go:124-142): broadcast makes every
lookup O(1) in-memory and the distinct (record, cache-key) pairs reproduce
the fetch-failure counter semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from symspark.config import PipelineConfig
from symspark.operators.common import MAX_UINT32, fill_outcomes

# symbol-store root named in fetch-error text (sourcemapprocessor/store.go:47,56)
SOURCEMAP_STORE_PREFIX = "/maps"

_SCHEME_AUTH = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*"
_SCHEME_ONLY = r"^[A-Za-z][A-Za-z0-9+.\-]*:"


def url_base_cols(url: Column) -> tuple[Column, Column, Column]:
    """Reproduce the reference's store-key derivation
    (sourcemapprocessor/store.go:33-50): base name of the URL path, query
    string retained, fragment dropped; opaque URLs (scheme without //)
    resolve to ".", matching Go's url.Parse + filepath.Base.

    Returns (base, query, url_base) columns.
    """
    no_frag = F.substring_index(url, "#", 1)
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    path0 = F.regexp_replace(no_frag, r"\?.*$", "")
    opaque = path0.rlike(_SCHEME_ONLY) & ~path0.rlike(_SCHEME_AUTH)
    path1 = F.regexp_replace(path0, _SCHEME_AUTH, "")
    path2 = F.regexp_replace(path1, "/+$", "")
    base = F.when(opaque | (path2 == ""), F.lit(".")).otherwise(
        F.substring_index(path2, "/", -1)
    )
    url_base = F.concat(base, F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")))
    return base, query, url_base


def build_sourcemap_dims(
    tokens: DataFrame, store: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Pre-aggregate the token table into per-line sorted token arrays plus a
    per-file line summary.

    Source-map lookup is lexicographic over (generated line, column): the
    greatest token at-or-before the query, FALLING BACK ACROSS LINES.  The
    per-line dim gives the fast equality path; ``sm_prev`` (last token of any
    earlier line, via a window over the tiny dim) and the per-file
    ``sm_lines`` summary cover the cross-line and missing-line fallbacks —
    minified files have very few generated lines, so both structures stay
    small."""
    from pyspark.sql import Window as W

    toks_by_line = tokens.groupBy(
        F.col("url_base").alias("sm_url_base"),
        F.col("build_uuid").alias("sm_uuid"),
        F.col("min_line").alias("sm_line"),
    ).agg(
        F.sort_array(
            F.collect_list(F.struct("min_col", "src_file", "src_line", "src_col", "func_name"))
        ).alias("sm_toks")
    )
    w = (
        W.partitionBy("sm_url_base", "sm_uuid")
        .orderBy("sm_line")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    toks_by_line = toks_by_line.withColumn(
        "sm_prev", F.last(F.try_element_at(F.col("sm_toks"), F.lit(-1))).over(w)
    )
    summary = toks_by_line.groupBy(
        F.col("sm_url_base").alias("smu_url_base"), F.col("sm_uuid").alias("smu_uuid")
    ).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("sm_line").alias("line"),
                    F.try_element_at(F.col("sm_toks"), F.lit(-1)).alias("last_tok"),
                )
            )
        ).alias("sm_lines")
    )
    store_dim = store.select(
        F.col("url_base").alias("sms_url_base"),
        F.col("build_uuid").alias("sms_uuid"),
        F.col("error").alias("sms_err"),
        F.lit(True).alias("sms_hit"),
    )
    return toks_by_line, store_dim, summary


def enrich_js(
    frames: DataFrame,
    tokens: DataFrame,
    store: DataFrame,
    cfg: PipelineConfig,
    dims: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Broadcast-join enrichment for ``kind == 'js'`` frames; adds the
    ``js_out`` outcome-struct column (null for other kinds).  Pass ``dims``
    (build_sourcemap_dims's output as pipeline.prepare_dims returns it:
    small dims local relations, large ones distributed) to skip
    per-action dim aggregation."""
    if dims is None:
        # inline-built dims are fixture-small: hint broadcast; pre-built
        # dims carry their own hint decision (pipeline.prepare_dims gates
        # on size - large stores go through plain/AQE-planned joins)
        dims = tuple(F.broadcast(d) for d in build_sourcemap_dims(tokens, store))
    toks_by_line, store_dim, summary = dims

    is_js = F.col("kind") == "js"
    url = F.when(is_js, F.col("url"))
    base, query, url_base = url_base_cols(url)
    uuid = F.coalesce(F.col("source_map_uuid"), F.lit(""))

    # lookup orientation: spec = (row=line, col=col); reference-compat swaps
    # the two (see PipelineConfig.sourcemap_reference_compat)
    if cfg.sourcemap_reference_compat:
        q_row, q_col = F.col("col"), F.col("line")
    else:
        q_row, q_col = F.col("line"), F.col("col")

    frames = frames.withColumns(
        {"sm_base": base, "sm_query": query, "sm_url_base": F.when(is_js, url_base)}
    )
    frames = frames.join(
        store_dim,
        (frames["sm_url_base"] == store_dim["sms_url_base"]) & (uuid == store_dim["sms_uuid"]),
        "left",
    ).drop("sms_url_base", "sms_uuid")
    frames = frames.join(
        toks_by_line,
        (frames["sm_url_base"] == toks_by_line["sm_url_base"])
        & (uuid == toks_by_line["sm_uuid"])
        & (q_row == toks_by_line["sm_line"]),
        "left",
    ).drop(toks_by_line["sm_url_base"]).drop("sm_uuid", "sm_line")
    frames = frames.join(
        summary,
        (frames["sm_url_base"] == summary["smu_url_base"]) & (uuid == summary["smu_uuid"]),
        "left",
    ).drop("smu_url_base", "smu_uuid")

    line, col, func = F.col("line"), F.col("col"), F.col("func")
    # cache key: url|uuid (symbolicator.go:18-23)
    cache_key = F.when(uuid == "", url).otherwise(F.concat(url, F.lit("|"), uuid))
    # file-store path used in fetch-error text (store.go:47-56)
    store_path = F.concat(
        F.lit(SOURCEMAP_STORE_PREFIX),
        F.when(uuid != "", F.concat(F.lit("/"), uuid)).otherwise(F.lit("")),
        F.when(F.col("sm_base") == ".", F.lit("")).otherwise(F.concat(F.lit("/"), F.col("sm_base"))),
        F.when(F.col("sm_query") != "", F.concat(F.lit("?"), F.col("sm_query"))).otherwise(F.lit("")),
    )

    anon = url == "<anonymous>"  # processor.go:308-320
    native = url.isin("(native)", "[native code]")  # processor.go:322-335
    col_bad = (col < 0) | (col > MAX_UINT32)  # symbolicator.go:79-81
    line_bad = (line < 0) | (line > MAX_UINT32)  # symbolicator.go:83-85
    empty_url = url == ""  # symbolicator.go:87-95
    store_miss = F.col("sms_hit").isNull()
    store_err = F.col("sms_err").isNotNull()
    # lexicographic as-of: greatest token <= (q_row, q_col) — in-line token,
    # else last token of an earlier line (same-line dim or per-file summary)
    in_line = F.try_element_at(
        F.filter(F.col("sm_toks"), lambda t: t["min_col"] <= q_col), F.lit(-1)
    )
    summary_prev = F.try_element_at(
        F.filter(F.col("sm_lines"), lambda e: e["line"] < q_row), F.lit(-1)
    )["last_tok"]
    # materialize the as-of result ONCE: array higher-order functions are
    # interpreted (CodegenFallback), and every python-side reference to this
    # expression tree would duplicate the whole per-frame array scan in the
    # projection (observed: 8 copies of each filter -> allocation storm, GC
    # collapse at high thread counts).  A multi-referenced non-cheap alias
    # survives CollapseProject, so downstream reads are attribute lookups.
    frames = frames.withColumn(
        "sm_tok", F.coalesce(in_line, F.col("sm_prev"), summary_prev)
    )
    tok = F.col("sm_tok")

    err = (
        F.when(col_bad, F.format_string("column must be uint32: %d", col))
        .when(line_bad, F.format_string("line must be uint32: %d", line))
        .when(empty_url, F.lit(None))
        .when(
            store_miss,
            F.format_string(
                "failed to fetch source map for %s: failed to find source file: %s",
                url, store_path,
            ),
        )
        .when(store_err, F.format_string("failed to fetch source map for %s: %s", url, F.col("sms_err")))
        .when(tok.isNull(), F.format_string("could not map frame at %d:%d", line, col))
    )

    # mapped frame: identity when url is empty (J2), else the as-of token
    m_func = F.when(empty_url, func).otherwise(tok["func_name"])
    m_url = F.when(empty_url, url).otherwise(tok["src_file"])
    m_line = F.when(empty_url, line).otherwise(tok["src_line"])
    m_col = F.when(empty_url, col).otherwise(tok["src_col"])

    ok_chunk = F.format_string("    at %s(%s:%d:%d)", m_func, m_url, m_line, m_col)  # M1
    err_chunk = F.format_string(
        "\tFailed to symbolicate %s at %s:%d:%d: %s", func, url, line, col, err
    )  # M2 (processor.go:359)

    branches = [
        (is_js & anon, dict(
            chunk=F.format_string("    at %s (<anonymous>)", func),
            f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            m_col=col, m_func=func, m_line=line, m_url=url,
        )),
        (is_js & native, dict(
            chunk=F.format_string("    at %s (native)", func),
            f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            m_col=col, m_func=func, m_line=line, m_url=url,
        )),
        (is_js & err.isNotNull(), dict(
            chunk=err_chunk, f_failed=F.lit(True), proc_inc=F.lit(1), fail_inc=F.lit(1),
            fetch_key=F.when(store_miss | store_err, cache_key),
            m_col=F.lit(-1), m_func=F.lit(""), m_line=F.lit(-1), m_url=F.lit(""),
        )),
        (is_js, dict(
            chunk=ok_chunk, f_failed=F.lit(False), proc_inc=F.lit(1), fail_inc=F.lit(0),
            m_col=m_col, m_func=m_func, m_line=m_line, m_url=m_url,
        )),
    ]
    return fill_outcomes(frames, branches).drop(
        "sms_hit", "sms_err", "sm_toks", "sm_prev", "sm_lines",
        "sm_base", "sm_query", "sm_url_base", "sm_tok"
    )
