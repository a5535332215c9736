"""Distributed Parquet footer probe — storage-layout introspection.

No reference counterpart (net-new, lakehouse surface; the reference's
closest concern is per-file provenance, lib/ndr_import/universal_importer_helper.rb):
a training-data lake at 100 TB is millions of parquet files, and every
planning decision — partition pruning, compaction binning
(operators/layout.compaction_plan), scan sizing — is made from FOOTER
metadata, never the data. This operator reads those footers
distributed: one Spark task per path batch, each opening only the
footer bytes via pyarrow (`ParquetFile` reads the tail, not the
columns), emitting one row per row group with the row count, compressed
byte size, column count, and the min/max statistics of a caller-named
key column.

Why mapInPandas and not a scan: there is nothing to scan — the payload
IS the metadata, and the built-in reader would materialise data pages.
The Python-per-footer cost is microseconds against a >100-byte footer
parse; Arrow batching amortises interpreter overhead across paths.

Scale shape: the input frame is FILE-count-sized (metadata, not data);
`repartition` into one slice per path (at most 1024) spreads footer I/O
over the cluster; the output is row-group-count-sized. No shuffle besides
the initial spread; any aggregation downstream is map-side combinable.

Integrity property this enables (and the oracle gate checks): footer-
only answers (total rows, key min/max) must equal full-scan answers —
exactly the property min/max row-group pruning relies on.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import local_frame

FOOTER_SCHEMA = (
    "path string, key_col string, n_columns int, row_group_id int, "
    "rg_rows bigint, rg_bytes bigint, key_min bigint, key_max bigint"
)


def parquet_footer_inventory(
    spark: SparkSession,
    targets: list[tuple[str, str]],
) -> DataFrame:
    """One row per (file, row group) from footer metadata only.

    `targets` is a list of (path, key_col) where key_col names an
    integer column whose per-group min/max statistics are extracted
    (the pruning column). Raises inside the task if the column is
    missing or carries no statistics — silently absent stats would
    make the integrity gate vacuous.
    """
    src = local_frame(spark, targets, "path string, key_col string")

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            out: list[tuple] = []
            for path, key in zip(pdf["path"], pdf["key_col"]):
                pf = pq.ParquetFile(path)
                meta = pf.metadata
                names = [meta.schema.column(i).path for i in range(meta.num_columns)]
                if key not in names:
                    raise ValueError(f"{path}: no column {key!r} in footer schema")
                ci = names.index(key)
                for gi in range(meta.num_row_groups):
                    rg = meta.row_group(gi)
                    st = rg.column(ci).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(f"{path} rg{gi}: no min/max stats for {key!r}")
                    out.append(
                        (path, key, meta.num_columns, gi, rg.num_rows,
                         rg.total_byte_size, int(st.min), int(st.max))
                    )
            yield pd.DataFrame(
                out,
                columns=["path", "key_col", "n_columns", "row_group_id",
                         "rg_rows", "rg_bytes", "key_min", "key_max"],
            )

    return src.repartition(max(1, min(len(targets), 1024)), "path").mapInPandas(
        read_footers, FOOTER_SCHEMA
    )


def footer_table_summary(inventory: DataFrame) -> DataFrame:
    """Collapse a footer inventory to one row per file basename: total
    rows, column count, key min/max — every value derived from footers
    alone, so equality with a full scan is the pruning-integrity check.
    Map-side combinable; output is table-count-sized."""
    base = F.regexp_extract(F.col("path"), r"([^/]+)\.parquet$", 1)
    return (
        inventory.groupBy(base.alias("table_name"))
        .agg(
            F.sum("rg_rows").alias("total_rows"),
            F.max("n_columns").alias("n_columns"),
            F.min("key_min").alias("key_min"),
            F.max("key_max").alias("key_max"),
        )
    )
