"""Delimited reader — CSV / pipe / thorn / arbitrary col_sep.

Reference: lib/ndr_import/file/delimited.rb + helpers/file/delimited.rb
(auto encoding with Windows-1252 retry, `liberal_parsing`, cells→String).

Spark-first with one twist: the file is scanned as RAW LINES (a csv read
with an improbable separator, which keeps the charset/lineSep machinery),
then each line parses in-expression:

* quote-free lines (the overwhelming majority) split exactly —
  ``split(line, sep, -1)`` preserves trailing empty cells, so 'a,b,'
  yields a genuine third '' cell and ragged rows keep their true width
  (univocity nulls unquoted empties, indistinguishable from its
  ragged-row padding — the reference's Ruby CSV does not);
* lines containing a quote char route through `from_csv` with slack
  columns, right-trimmed of padding NULLs (quoted separators handled).
  The parse sits in a projection of its own, so each quoted line is parsed
  once; the cell array reads its fields in the next projection.

Both branches stay JVM-side. The per-file `row_index` is attached to the
raw lines, before the parse: the parse is deterministic and the index join
is not, so a `row_index` filter above (header validation's
`row_index < header_lines` collect) lands below the parse and parses only
the rows it keeps. `multi_line` mode (quoted cells spanning lines) falls
back to the whole-file csv parse and indexes its records after it.
`liberal_parsing` maps to `unescapedQuoteHandling=STOP_AT_CLOSING_QUOTE`
which reproduces the pinned `2"malformed"` cell behaviour
(test/file/delimited_test.rb:36-49).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import (
    attach_row_index,
    cp1252_fixup,
    list_input_files,
    probe_encoding,
    rtrim_nulls,
    spark_charset,
    strip_bom,
)
from ndr_import_spark.sources.registry import Registry

_LINE_SEP_SENTINEL = "\x01\x00\x01"


def _csv_options(sep: str, liberal: bool) -> dict[str, str]:
    opts = {"sep": sep, "mode": "PERMISSIVE"}
    if liberal:
        opts["unescapedQuoteHandling"] = "STOP_AT_CLOSING_QUOTE"
    return opts


def read_delimited(
    spark: SparkSession, path: str | list[str], options: dict
) -> list[tuple[str | None, DataFrame]]:
    files = list_input_files(spark, path)
    sep = options.get("col_sep") or options.get("delimiter") or ","
    encoding = options.get("encoding") or probe_encoding(files[0])
    liberal = bool(options.get("liberal_parsing", False))
    multi_line = bool(options.get("multi_line", False))
    expected = options.get("expected_columns")
    slack = (int(expected) + 8) if expected else 64

    reader = (
        spark.read.option("encoding", spark_charset(encoding))
        .option("header", "false")
        .option("inferSchema", "false")
        .option("mode", "PERMISSIVE")
    )
    if not spark_charset(encoding).lower().startswith("utf-8"):
        # explicit lineSep is encoded IN the charset; the default splits on
        # raw \n bytes, which lands mid-character in UTF-16 (UTF-8 keeps the
        # default so CRLF files still chomp both bytes)
        reader = reader.option("lineSep", "\n")

    if multi_line:
        # quoted cells span physical lines: only the full csv parse can
        # tokenise records, so use it directly (padding-NULL trim as the
        # ragged-row recovery — trailing '' cells in quoted files survive
        # as quoted empties)
        r = reader.option("sep", sep).option("multiLine", "true")
        if liberal:
            r = r.option("unescapedQuoteHandling", "STOP_AT_CLOSING_QUOTE")
        schema = ", ".join(f"_c{i} string" for i in range(slack))
        df = r.schema(schema).csv(files) if expected else r.csv(files)
        cells_raw = rtrim_nulls(F.array(*[F.col(c) for c in df.columns]))
        df = df.withColumn("source_file", F.input_file_name()).select(
            "source_file", cells_raw.alias("_cells_raw")
        )
        df = attach_row_index(df)
    else:
        # raw-line scan: improbable separator + disabled quoting → _c0 is
        # the whole (chomped, decoded) line, indexed before it is parsed
        df = (
            reader.option("sep", _LINE_SEP_SENTINEL)
            .option("quote", "")
            .schema("_c0 string")
            .csv(files)
        )
        df = attach_row_index(
            df.select(F.input_file_name().alias("source_file"), "_c0")
        )
        line = F.coalesce(F.col("_c0"), F.lit(""))
        is_quoted = line.contains('"')
        schema = ", ".join(f"c{i} string" for i in range(slack))
        # from_csv in a projection of its own: the cell array below reads
        # its fields from the parsed column instead of re-parsing per field
        df = df.withColumn(
            "_parsed", F.when(is_quoted, F.from_csv(line, schema, _csv_options(sep, liberal)))
        )
        quoted = rtrim_nulls(F.array(F.col("_parsed.*")))
        simple = F.split(line, _re.escape(sep), -1)
        df = df.select(
            "source_file",
            "row_index",
            F.when(is_quoted, quoted).otherwise(simple).alias("_cells_raw"),
        )

    # Ruby delimited_rows: line.map(&:to_s) — nil cells become '' (ragged
    # shorter rows stay short); strip any BOM residue from the lead cell.
    df = df.select(
        "source_file",
        "row_index",
        F.transform(
            F.col("_cells_raw"),
            lambda c, i: cp1252_fixup(
                F.when(i == 0, strip_bom(F.coalesce(c, F.lit("")))).otherwise(
                    F.coalesce(c, F.lit(""))
                ),
                encoding,
            ),
        ).alias("cells"),
    )
    return [(None, df)]


Registry.register(read_delimited, "csv", "delimited")
