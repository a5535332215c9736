"""Avro reader (reference: lib/ndr_import/file/avro.rb — DataFileReader,
emits a header row of field names then stringified values; Avro::Table
declares header_lines=1).

Uses the spark-avro data source when its jar is on the classpath; otherwise
falls back to the pure-stdlib OCF decoder in `sources.avro_ocf`
(driver-side — fine for the reference's small Avro feeds; the jar is the
distributed path). Parity quirk: a synthetic field-name row is prepended at
row_index 0 so Avro::Table's header consumption works unchanged.

ENVIRONMENT NOTE (r9, closing the r4-carried gap): this container has no
spark-avro jar, so `spark.read.format("avro").load(...)` itself cannot run
here. Everything AROUND that one call is now tested without the jar:

* the row-semantics transformation (stringify every value, prepend the
  field-name header row at row_index 0, 1-based data row indexes) lives in
  `frame_to_reference_rows` and is unit-tested against a parquet-read
  DataFrame standing in for the avro read (tests/test_avro_jar_branch.py)
  — the jar and fallback paths share those pinned semantics;
* `avro_available` is tested to report False cleanly in a jar-less env;
* a @skipif(no jar) parity test runs the real jar branch end-to-end on any
  cluster that has it.

The stdlib OCF fallback remains the fixture-tested decode path against the
reference's fake_dids.avro (tests/test_avro_ocf.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import attach_row_index, list_input_files, local_frame
from ndr_import_spark.sources.registry import Registry


def avro_available(spark: SparkSession) -> bool:
    try:
        spark.read.format("avro").load("/nonexistent-avro-probe")
    except Exception as exc:  # noqa: BLE001
        msg = str(exc)
        if "Failed to find data source" in msg or "AVRO" in msg and "data source" in msg.lower():
            return False
    return True


def frame_to_reference_rows(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Reference row semantics for a schema'd frame (avro.rb:18-27):
    stringify every value (`avro_row.values.map(&:to_s)` — logicalType
    date arrives as DateType → ISO strings, matching the reference's
    daysafter-from-epoch scaffolding), prepend one synthetic field-name
    row per source file at row_index 0, number data rows from 1.

    Shared by the spark-avro jar branch and unit-tested independently of
    it — any columnar DataFrame (e.g. parquet) exercises the identical
    code path the jar feeds."""
    names = df.columns
    data = df.select(
        F.input_file_name().alias("source_file"),
        F.array(*[F.col(c).cast("string") for c in names]).alias("cells"),
    )
    data = attach_row_index(data).withColumn("row_index", F.col("row_index") + 1)

    header = local_frame(
        spark,
        [
            (f, 0, names)
            for f in sorted(
                {r["source_file"] for r in data.select("source_file").distinct().collect()}
            )
        ],
        "source_file string, row_index long, cells array<string>",
    )
    return header.unionByName(data.select("source_file", "row_index", "cells"))


def read_avro(
    spark: SparkSession, path: str | list[str], options: dict
) -> list[tuple[str | None, DataFrame]]:
    files = list_input_files(spark, path)
    try:
        df = spark.read.format("avro").load(files)
    except Exception as exc:  # noqa: BLE001
        if "Failed to find data source" not in str(exc):
            raise
        # no spark-avro jar: decode driver-side with the stdlib OCF reader
        # (sources/avro_ocf.py) — the jar remains the distributed path and
        # wins automatically when present
        from ndr_import_spark.sources.avro_ocf import ocf_rows

        tables = []
        for f in files:
            local = f[7:] if f.startswith("file://") else f
            rows = ocf_rows(local)
            tdf = local_frame(
                spark,
                [(f, i, r) for i, r in enumerate(rows)],
                "source_file string, row_index long, cells array<string>",
            )
            tables.append((None, tdf))
        return tables

    return [(None, frame_to_reference_rows(spark, df))]


Registry.register(read_avro, "avro")
