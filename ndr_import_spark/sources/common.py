"""Shared source utilities: driver-side frames, per-file dense row
indexing, encoding probe.

`local_frame` is the package's one way to turn rows held on the driver
into a DataFrame. A frame built from a Python list is a parallelised
Python RDD, so every action that reads it (a header check,
`first_error`, the write) starts Python worker tasks again; a frame
built from a `pyarrow.Table` plans as a `LocalRelation` that the JVM
scans by itself.

Row order is the one impedance between the reference's file-order streaming
and Spark (SURVEY §3): header/footer handling, `row_identifier: index` and
non-tabular sessionization all need a dense, 0-based, per-file line number.

`attach_row_index` computes it WITHOUT a wide shuffle and without a Python
worker:

1. `monotonically_increasing_id()` (narrow) gives `pid * 2^33 + offset` in
   scan order. A file scan reads each split in file order and numbers a
   file's splits in ascending partition ids, though not always adjacent
   ones: Spark packs splits largest first, so a file's short last split can
   land after other files' partitions;
2. one grouped collect of `(count, min id)` per `(partition id, file)`
   (tiny: #partitions × files-per-partition rows). The driver walks each
   file's groups in partition order and gives every group one delta, the
   rows of that file already seen minus the group's min id;
3. the deltas join back as a broadcast hash join on a `local_frame`, so
   each later action pays one small JVM broadcast job and no Python task.

The result is dense per file however its splits are placed. Total cost at
100 TB: one extra pass for the small aggregate; no all-to-all shuffle, no
single-partition funnel (a window over `partitionBy(source_file)` would
funnel each file into one reducer — exactly the trap this avoids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """DataFrame of driver-side `rows` (tuples in `schema` order; `schema`
    is a DDL string or a StructType), planned as a `LocalRelation`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.table(
        [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)


def attach_row_index(df: DataFrame) -> DataFrame:
    """Add dense 0-based `row_index` per `source_file`, preserving scan
    order.

    Runs Spark jobs when called (the grouped collect); every action on
    the result adds one broadcast job for the delta relation."""
    spark = df.sparkSession
    df = df.withColumn("_mid", F.monotonically_increasing_id())
    df = df.withColumn("_pid", F.shiftrightunsigned(F.col("_mid"), 33))

    groups = (
        df.groupBy("_pid", "source_file")
        .agg(F.count(F.lit(1)).alias("_n"), F.min("_mid").alias("_base"))
        .collect()
    )
    if not groups:
        return df.withColumn("row_index", F.lit(0).cast("long")).drop("_mid", "_pid")

    # row_index = _mid + delta, delta = rows of the file in earlier groups
    # minus the group's first id (a file's rows in one partition are one
    # contiguous id run)
    seen: dict = {}
    deltas = []
    for row in sorted(groups, key=lambda r: r["_base"]):  # partition order
        fname = row["source_file"]
        n_seen = seen.get(fname, 0)
        deltas.append((row["_pid"], fname, n_seen - row["_base"]))
        seen[fname] = n_seen + row["_n"]

    delta_df = local_frame(spark, deltas, "_pid long, source_file string, _delta long")
    return (
        df.join(F.broadcast(delta_df), ["_pid", "source_file"])
        .withColumn("row_index", F.col("_mid") + F.col("_delta"))
        .drop("_mid", "_pid", "_delta")
    )


def probe_encoding(path: str) -> str:
    """Bounded-prefix encoding probe (vs the reference's full extra parse pass,
    helpers/file/delimited.rb:65-88 — unaffordable at 100 TB).

    Detects UTF-16 LE/BE BOMs and falls back to windows-1252 when the prefix
    is not valid UTF-8.
    """
    try:
        with open(path, "rb") as fh:
            prefix = fh.read(1 << 20)
    except OSError:
        return "UTF-8"
    if prefix.startswith(b"\xff\xfe"):
        return "UTF-16LE"
    if prefix.startswith(b"\xfe\xff"):
        return "UTF-16BE"
    if prefix.startswith(b"\xef\xbb\xbf"):
        return "UTF-8"
    # BOM-less UTF-16: ASCII text has every other byte NUL (text.rb's
    # mode-probing equivalent) — NULs on odd offsets ⇒ LE, even ⇒ BE
    if prefix:
        sample = prefix[:4096]
        odd_nuls = sample[1::2].count(0)
        even_nuls = sample[0::2].count(0)
        half = max(len(sample) // 2, 1)
        if odd_nuls > half * 0.7:
            return "UTF-16LE"
        if even_nuls > half * 0.7:
            return "UTF-16BE"
    try:
        prefix.decode("utf-8")
        return "UTF-8"
    except UnicodeDecodeError:
        return "windows-1252"


# cp1252 0x80-0x9F printables; iso-8859-1 decodes those bytes to C1 control
# chars (Spark's CSV charset whitelist has iso-8859-1 but not windows-1252,
# so we read latin-1 and remap the 27 differing characters)
_CP1252_FROM = "".join(chr(b) for b in range(0x80, 0xA0))
_CP1252_TO = "".join(bytes([b]).decode("cp1252", errors="replace") for b in range(0x80, 0xA0))


def spark_charset(encoding: str) -> str:
    """Map a probed encoding to one Spark's CSV reader accepts."""
    if encoding.lower().replace("-", "") in ("windows1252", "cp1252"):
        return "iso-8859-1"
    return encoding


def cp1252_fixup(col, encoding: str):
    """Remap C1 control chars to their cp1252 printables after an
    iso-8859-1 read of windows-1252 bytes."""
    if encoding.lower().replace("-", "") not in ("windows1252", "cp1252"):
        return col
    return F.translate(col, _CP1252_FROM, _CP1252_TO)


def rtrim_nulls(arr):
    """Drop trailing NULL cells (Spark CSV pads ragged rows to max width;
    the reference's rows are genuinely ragged)."""
    last_nonnull = F.aggregate(
        F.transform(arr, lambda c, i: F.when(c.isNotNull(), i + 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: F.greatest(acc, x),
    )
    return F.slice(arr, 1, last_nonnull)


def strip_bom(col):
    return F.regexp_replace(col, "^﻿", "")


def list_input_files(spark: SparkSession, path: str | list[str]) -> list[str]:
    import glob
    paths = path if isinstance(path, list) else [path]
    out: list[str] = []
    for p in paths:
        matches = glob.glob(p)
        out.extend(matches if matches else [p])
    return out
