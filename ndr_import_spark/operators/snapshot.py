"""Incremental corpus maintenance: snapshot-to-snapshot diff.

No reference counterpart (the gem is single-batch); this is the change
audit a continuously-refreshed 100 TB corpus runs between crawl
snapshots before deciding what to re-process: which documents appeared,
vanished, or changed content — detected by content hash, never by
comparing raw text.

Plan shape: both snapshots project to (id, md5(text)) at scan time —
the full-width rows never shuffle — then ONE full-outer equi-join on the
id. At 100 TB both sides bucket/partition by the same id, so the join
co-locates; the output is a narrow (id, status) frame feeding whatever
reprocessing fan-out follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-document change status between two corpus snapshots:
    'added' (only in new), 'removed' (only in old), 'changed' (both, but
    content hash differs), 'unchanged'. Returns (id, status)."""
    # presence comes from explicit side markers, NOT hash nullability —
    # a present row whose text is NULL must not masquerade as added/removed
    o = old.select(
        F.col("doc_id").alias("_id"),
        F.md5(F.col("text")).alias("_ho"),
        F.lit(1).alias("_po"),
    )
    n = new.select(
        F.col("doc_id").alias("_id"),
        F.md5(F.col("text")).alias("_hn"),
        F.lit(1).alias("_pn"),
    )
    joined = o.join(n, "_id", "full")
    status = (
        F.when(F.col("_po").isNull(), F.lit("added"))
        .when(F.col("_pn").isNull(), F.lit("removed"))
        # null-safe equality: NULL text on both sides is "unchanged",
        # NULL on exactly one side is "changed"
        .when(~F.col("_ho").eqNullSafe(F.col("_hn")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(F.col("_id").alias("doc_id"), status.alias("status"))


def delete_cascade(
    deletes: DataFrame,
    artifacts: list[tuple[str, DataFrame, str]],
) -> DataFrame:
    """Right-to-erasure impact report: for every derived artifact, how
    many rows reference a deleted source document and must go.

    `artifacts` is [(name, frame, provenance_col)] — e.g. the corpus
    itself, its chunk table, its embedding table, its dedup-group table.
    Returns one row per artifact: (artifact, n_before, n_removed,
    n_after), the audit record a takedown pipeline logs before running
    the actual anti-join deletes.

    Plan shape at 100 TB: each artifact is scanned once and LEFT-joins
    the distinct delete list on its provenance key — keyed equi-joins
    with no forced broadcast (delete lists are usually tiny and AQE will
    broadcast them, but a court-ordered mass takedown stays
    shuffle-plannable). The per-artifact summaries are 1-row aggregates
    unioned driver-side — plan-level composition, zero extra actions."""
    if not artifacts:
        raise ValueError("delete_cascade requires at least one artifact")
    d = (
        deletes.select(F.col("doc_id").alias("_del"))
        .distinct()
        .withColumn("_hit", F.lit(1))
        # one artifact join per entry re-plans the delete list's whole
        # subtree (r12: q_delete_propagation's initial plan carried the
        # documents scan once PER artifact). Takedown-list-sized narrow
        # rows — materialise once, every artifact joins the stored frame.
        .localCheckpoint(eager=False)
    )
    parts = []
    for name, df, key in artifacts:
        flagged = df.join(
            d.withColumnRenamed("_del", key), key, "left"
        )
        parts.append(
            flagged.agg(
                F.count(F.lit(1)).alias("n_before"),
                F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_removed"),
            ).select(
                F.lit(name).alias("artifact"),
                "n_before",
                "n_removed",
                (F.col("n_before") - F.col("n_removed")).alias("n_after"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
