"""Record sinks and the reference-shaped iterator surface.

The reference gem has NO sinks — it yields `(klass, fields, index)` tuples
to caller code (README.md:38-48). Parity surface here:

* `iter_records` — the same tuple stream, driver-side, via
  `toLocalIterator` (one partition in memory at a time, not a full
  collect);
* `write_records` — the Spark-native sink: partitioned parquet keyed by
  klass (partition pruning for per-entity consumers downstream);
* `write_errors` — the quarantine channel for non-strict runs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iter_records(
    records: DataFrame, ordered: bool = True
) -> Iterator[tuple[str, dict, int]]:
    """Yield `(klass, fields, index)` like NdrImport::Table#transform.

    `fields` mirrors the reference shape: mapped fields plus a
    ``rawtext`` sub-dict. Streams partition-by-partition (no full
    driver materialisation).

    PARITY/DEBUG SURFACE ONLY — the default reference-ordered stream is
    a full global sort plus a single-threaded driver pull; at scale use
    `write_records` (distributed, partitioned) and let the consumer read
    the parquet. Pass ``ordered=False`` to skip the sort and stream in
    partition order (still one partition in driver memory at a time).
    """
    if ordered:
        records = records.orderBy("source_file", "row_index", "klass")
    for row in records.toLocalIterator():
        fields = dict(row["fields"])
        fields["rawtext"] = dict(row["rawtext"])
        yield row["klass"], fields, row["row_index"]


def write_records(
    records: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("klass",),
) -> None:
    """Partitioned columnar sink — klass partitioning gives downstream
    per-entity consumers partition pruning for free."""
    writer = records.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_errors(records: DataFrame, path: str) -> None:
    """Quarantine sink: rows whose `_errors` channel is non-empty (the
    at-scale alternative to strict raise-on-first-error)."""
    errs = records.filter(F.size(F.col("_errors")) > 0)
    errs.write.mode("overwrite").format("parquet").save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: tuple[str, ...],
    n_buckets: int = 32,
    sort_by: tuple[str, ...] = (),
) -> None:
    """Bucketed managed-table sink: co-locates rows by ``bucket_by`` so
    later equi-joins/aggregations on those keys run EXCHANGE-FREE (both
    sides pre-hashed into the same bucket layout — the shuffle is paid
    once at write time, then amortised over every downstream join; the
    standard layout for a 100 TB fact table joined repeatedly on its
    key). Spark bucketing requires saveAsTable (bucket metadata lives in
    the catalog, not the files)."""
    writer = (
        df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_by: tuple[str, ...],
    n_files: int | None = None,
) -> None:
    """Data-skipping layout sink: range-partition + sort rows by
    ``sort_by`` before writing, so each parquet row group covers a
    NARROW, non-overlapping key range and its footer min/max statistics
    let later scans with a ``sort_by`` predicate skip whole row groups
    and files (Spark pushes min/max filters to the parquet reader).

    This is the scan-side complement to `write_bucketed`: bucketing
    kills the JOIN shuffle, sorted layout kills SELECTIVE-SCAN I/O — at
    100 TB a point/range query on the sort key reads a few row groups
    instead of the whole table. `repartitionByRange` gives globally
    disjoint per-file ranges (a plain sortWithinPartitions would leave
    every file spanning the full key domain).
    """
    if not sort_by:
        raise ValueError("write_sorted requires at least one sort column")
    cols = [F.col(c) for c in sort_by]
    ranged = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    )
    ranged.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)
