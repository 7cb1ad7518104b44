"""Shared frame-outcome struct for the enrichment operators.

Each operator (sourcemap / proguard / dsym) fills the flat ``o_*`` outcome
columns for its frame kinds; the regroup packs them into one struct per
frame.  All fields are JVM-side expressions — no
Python in the enrich stage.
"""

from __future__ import annotations

from pyspark.sql import functions as F
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


def fill_outcomes(df, branches: list):
    """Apply [(condition, {field: Column})] outcome branches to the flat
    ``o_*`` columns.  Earlier operators' values win only for their own
    kinds; conditions across operators are disjoint (frame kind)."""
    updates = {}
    for name, typ in _OUT_FIELDS:
        expr = F.col(f"o_{name}")
        # build when-chain in reverse so the FIRST matching branch wins
        for cond, fields in reversed(branches):
            if name in fields:
                expr = F.when(cond, fields[name].cast(typ)).otherwise(expr)
            else:
                expr = F.when(cond, F.lit(None).cast(typ)).otherwise(expr)
        updates[f"o_{name}"] = expr
    return df.withColumns(updates)


MAX_UINT32 = 4294967295
