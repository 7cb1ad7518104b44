"""Shared frame-outcome struct for the enrichment operators, and the one
expression-binding helper of the parse and assembly layers.

Each operator (sourcemap / proguard / dsym) fills the flat ``o_*`` outcome
columns for its frame kinds; the regroup packs them into one struct per
frame.  All fields are JVM-side expressions — no
Python in the enrich stage.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

OUTCOME_SCHEMA = T.StructType(
    [
        T.StructField("chunk", T.StringType(), True),  # output line(s) for the frame
        T.StructField("f_failed", T.BooleanType(), True),  # frame marks partial failure
        T.StructField("proc_inc", T.IntegerType(), True),  # processed-frames counter inc
        T.StructField("fail_inc", T.IntegerType(), True),  # failed-frames counter inc
        T.StructField("fetch_key", T.StringType(), True),  # distinct fetch-failure key (A3)
        T.StructField("f_err", T.StringType(), True),  # MetricKit abort error
        T.StructField("miss_uuid", T.StringType(), True),  # dSYM store-miss uuid (quirk)
        T.StructField("miss_err", T.StringType(), True),  # cached FetchError text (quirk)
        # structured-route JS outputs (sentinels per processor.go:363-366)
        T.StructField("m_col", T.LongType(), True),
        T.StructField("m_func", T.StringType(), True),
        T.StructField("m_line", T.LongType(), True),
        T.StructField("m_url", T.StringType(), True),
        # structured-route proguard outputs (1->N)
        T.StructField(
            "m_jvm",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("class_name", T.StringType(), True),
                        T.StructField("method_name", T.StringType(), True),
                        T.StructField("line_number", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

_OUT_FIELDS = [(f.name, f.dataType.simpleString()) for f in OUTCOME_SCHEMA.fields]


def init_outcome_cols(df):
    """Add the flat ``o_*`` outcome columns as typed nulls.

    Outcomes are kept FLAT (one column per field, filled per frame kind with
    scalar-branch CASE WHENs) rather than struct-valued CASE WHENs: each
    column codegens into its own small, splittable method that the JVM can
    JIT — a single struct-churning mega-expression exceeds the 8KB JIT limit
    and runs interpreted (observed ~10x per-row cost)."""
    return df.withColumns(
        {f"o_{name}": F.lit(None).cast(typ) for name, typ in _OUT_FIELDS}
    )


def let(value: Column, body) -> Column:
    """``body(v)`` with ``value`` evaluated once however often body uses v."""
    return F.transform(F.array(value), body)[0]


def fill_outcomes(df, branches: list):
    """Apply [(condition, {field: Column})] outcome branches to the flat
    ``o_*`` columns: the FIRST matching branch sets its fields (the others
    null), a frame no branch matches keeps its values.  Conditions across
    operators are disjoint (frame kind).  The branch is picked once per
    frame, as the ``_br`` index column every ``o_*`` column switches on (a
    multi-referenced non-cheap alias survives CollapseProject), so each
    condition and each field value is built once."""
    pick = F.when(branches[0][0], 0)
    for k, (cond, _) in enumerate(branches[1:], 1):
        pick = pick.when(cond, k)
    br = F.col("_br")
    updates = {}
    for name, typ in _OUT_FIELDS:
        expr = F.when(br.isNull(), F.col(f"o_{name}"))
        for k, (_, fields) in enumerate(branches):
            if name in fields:
                expr = expr.when(br == k, fields[name].cast(typ))
        updates[f"o_{name}"] = expr
    return df.withColumn("_br", pick).withColumns(updates).drop("_br")


MAX_UINT32 = 4294967295
