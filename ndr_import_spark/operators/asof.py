"""As-of join: for each left row, the most recent right row at or before its
timestamp, per key.

No reference counterpart (net-new scale operator; the reference gem has no
joins at all — SURVEY §2 "Missing entirely"). Spark lacks a built-in as-of
join; the naive formulations don't scale:

* range join (l.ts >= r.ts) explodes to O(|L|·|R|) per key before the
  per-row max — quadratic on active keys;
* per-left-row subquery is driver-side.

This implementation is the standard union+window technique: tag both inputs,
union them, and carry the latest right-payload forward with
``last(..., ignorenulls=True)`` over a per-key window ordered by
(ts, tag) — right rows sort BEFORE left rows at equal timestamps, so an
exact-tie right row is visible to the left row (ts >= semantics, matching
DuckDB/pandas ``ASOF JOIN``/``merge_asof`` defaults).

Cost: ONE shuffle on the key + a per-key sort — the same price as a regular
sort-merge join, regardless of time-range density. Skewed keys fall to AQE
or pre-salting like any other shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    how: str = "inner",
) -> DataFrame:
    """Join each left row to the latest right row with
    ``right.right_on <= left.left_on`` and matching by-key.

    Returns left columns + right payload columns (right_by/right_on keep
    their names; clashes with left column names get ``_r``). `how` is
    'inner' (drop unmatched left rows) or 'left' (keep, right side NULL).
    """
    lcols = left.columns
    rcols = right.columns
    payload = [c for c in rcols if c != right_by]
    renamed = {c: (c + "_r" if c in lcols else c) for c in payload}

    lt = left.select(
        F.col(left_by).alias("_k"),
        F.col(left_on).alias("_t"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}") for c in payload],
    )
    rt = right.select(
        F.col(right_by).alias("_k"),
        F.col(right_on).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_p_{c}") for c in payload],
    )

    unioned = lt.unionByName(rt)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"_p_{c}"), ignorenulls=True).over(w).alias(f"_c_{c}")
            for c in payload
        ],
    ).filter(F.col("_side") == 1)

    out_cols = [F.col(c) for c in lcols] + [
        F.col(f"_c_{c}").alias(renamed[c]) for c in payload
    ]
    out = carried.select(*out_cols)
    if how == "inner":
        # matched ⇔ every carried payload col non-null is wrong for nullable
        # payloads; use the right_on carry as the match witness
        witness = renamed[right_on] if right_on in renamed else right_on
        out = out.filter(F.col(witness).isNotNull())
    return out
