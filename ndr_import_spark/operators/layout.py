"""Z-order (Morton) data layout for multi-dimensional data skipping.

No reference counterpart (net-new, lakehouse surface): sorting a table by
the bit-interleaved key of two filter columns makes every written file
span a NARROW range in BOTH dimensions, so min/max row-group pruning
works for either predicate — the standard lakehouse layout trick
(Morton 1966 curve; Delta/Iceberg `OPTIMIZE ZORDER BY`, public).

Everything is integer-exact: each dimension quantises to `bits` levels
with ``(v - min) * (2^bits - 1) div (max - min)`` (non-negative integer
floor division, identical in Spark `div` and DuckDB `//`), and the
Morton key unrolls to `bits` pairs of mask-and-shift codegen terms — no
UDF, no shuffle for the key itself. The locality REPORT buckets rows by
the key's high byte and measures each bucket's per-dimension span: under
a Z-order layout both spans are ~range/16 per bucket, which is exactly
the pruning win a sorted writer (`sinks.write_sorted`) realises on disk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ZORDER_BITS = 16
ZORDER_BUCKET_BITS = 8  # report buckets keep the top 8 Morton bits


def quantise_dim(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """floor((v - lo) * (2^bits - 1) / (hi - lo)) on BIGINTs — exact
    integer floor division (operands non-negative by construction);
    degenerate hi == lo maps to 0."""
    span = (hi - lo).cast("decimal(38,0)")
    scaled = (col.cast("long") - lo.cast("long")).cast("decimal(38,0)") * F.lit(
        (1 << bits) - 1
    ).cast("decimal(38,0)")
    # decimal(38,0) operands: the product (v - lo) * mask stays exact for
    # ANY 64-bit range (< 2^80 < 10^38) where the old floor(double/double)
    # rounded past 2^53 and a long product overflowed past 2^63; integral
    # `div` then truncates == floor (non-negative) == DuckDB's `//`
    return F.when(
        span > 0, F.call_function("div", scaled, span).cast("long")
    ).otherwise(F.lit(0).cast("long"))


def morton_key(xq: Column, yq: Column, bits: int = ZORDER_BITS) -> Column:
    """Bit-interleave two `bits`-wide non-negative integers: x takes the
    odd bit positions, y the even — unrolled literal mask/shift terms,
    whole-stage-codegen friendly."""
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = z + (
            F.shiftleft(F.shiftright(xq, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(yq, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return z


def zorder_locality_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = ZORDER_BITS,
    bucket_bits: int = ZORDER_BUCKET_BITS,
) -> DataFrame:
    """(bucket, n, x_span, y_span): bucket rows by the Morton key's top
    `bucket_bits` bits (a stand-in for the files a sorted writer would
    cut) and report each bucket's per-dimension min/max span. One scalar
    min/max aggregate (broadcast) + one keyed aggregate; the key itself
    is a narrow projection."""
    scal = df.agg(
        F.min(x_col).cast("long").alias("_xlo"),
        F.max(x_col).cast("long").alias("_xhi"),
        F.min(y_col).cast("long").alias("_ylo"),
        F.max(y_col).cast("long").alias("_yhi"),
    )
    j = df.select(x_col, y_col).crossJoin(F.broadcast(scal))
    xq = quantise_dim(F.col(x_col), F.col("_xlo"), F.col("_xhi"), bits)
    yq = quantise_dim(F.col(y_col), F.col("_ylo"), F.col("_yhi"), bits)
    z = morton_key(xq, yq, bits)
    bucket = F.shiftright(z, 2 * bits - bucket_bits)
    return (
        j.select(
            bucket.alias("bucket"),
            F.col(x_col).cast("long").alias("_x"),
            F.col(y_col).cast("long").alias("_y"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("_x") - F.min("_x")).alias("x_span"),
            (F.max("_y") - F.min("_y")).alias("y_span"),
        )
    )


def zorder_oracle_sql(table: str, x_col: str, y_col: str) -> str:
    """DuckDB transcription of `zorder_locality_report` (same quantise /
    interleave arithmetic; `//` on non-negative operands == Spark div)."""
    mask = (1 << ZORDER_BITS) - 1
    interleave = " + ".join(
        f"((((xq >> {b}) & 1) << {2 * b + 1}) + (((yq >> {b}) & 1) << {2 * b}))"
        for b in range(ZORDER_BITS)
    )
    return f"""WITH scal AS (
  SELECT CAST(min({x_col}) AS BIGINT) AS xlo, CAST(max({x_col}) AS BIGINT) AS xhi,
         CAST(min({y_col}) AS BIGINT) AS ylo, CAST(max({y_col}) AS BIGINT) AS yhi
  FROM {table}
), q AS (
  SELECT CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y,
         CASE WHEN xhi > xlo
              THEN (CAST({x_col} AS BIGINT) - xlo) * {mask} // (xhi - xlo)
              ELSE 0 END AS xq,
         CASE WHEN yhi > ylo
              THEN (CAST({y_col} AS BIGINT) - ylo) * {mask} // (yhi - ylo)
              ELSE 0 END AS yq
  FROM {table}, scal
), z AS (
  SELECT x, y, ({interleave}) >> {2 * ZORDER_BITS - ZORDER_BUCKET_BITS} AS bucket
  FROM q
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
FROM z GROUP BY bucket ORDER BY bucket
"""


def compaction_plan(files: DataFrame, target_bytes: int) -> DataFrame:
    """Small-files compaction plan — the standard lake-maintenance pass
    that groups a partition's files into ~`target_bytes` rewrite bins.

    Greedy by cumulative offset: files order by path within their table
    partition; a file joins bin ``(running_sum - own_bytes) div target``
    — i.e. bins split at target-byte offsets. Deterministic (path
    order), one pass, no driver loop. Exact semantics: a bin holds at
    most `target` bytes plus the single file that crosses its boundary;
    an oversized file inflates its bin and pushes later files into
    higher bin indices (splitting oversized files is the writer's job,
    not the planner's).

    Returns (partition, bin, n_files, bin_bytes, first_path, last_path).

    Plan shape at 100 TB: the inventory frame is FILE-count-sized
    (millions of rows for petabyte tables — metadata, not data); the
    running sum windows per table partition, so no global sort; a
    partition with pathological file counts can swap the window for the
    chunked prefix-sum machinery in operators/prefix.py (the
    purchase_id_islands pattern), noted as the upgrade path."""
    w = (
        Window.partitionBy("partition")
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col("bytes")).over(w)
    offs = files.select(
        "partition", "path", "bytes", (cum - F.col("bytes")).alias("_off")
    )
    # integer division, not float '/': byte offsets near 2^53 would
    # round in a double and disagree with any exact replica
    binned = offs.select(
        "partition",
        "path",
        "bytes",
        F.expr(f"_off div {int(target_bytes)}").alias("bin"),
    )
    return (
        binned.groupBy("partition", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("bin_bytes"),
            F.min("path").alias("first_path"),
            F.max("path").alias("last_path"),
        )
    )
