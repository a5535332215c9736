"""Header validation, footer skip, last_data_column — the order-dependent
table ops (reference: lib/ndr_import/table.rb:47-81,130-139,203-262).

Order dependence is the one real impedance between the reference's
file-order streaming and Spark (SURVEY §3): every op here keys off the
per-file ``row_index`` column that sources attach at read time.

* Header consume+validate is a driver-side check over `header_lines` rows per
  file (tiny collect — bounded by files × header_lines). The
  ``row_index < header_lines`` filter sits right above the source's index
  join, so a reader that indexes before it parses (the delimited reader)
  parses only the header rows for this collect: one scan of the input, two
  Spark jobs (the scan and the index's broadcast).
* Footer skip needs each file's max row index: computed with a groupBy on
  ``source_file`` (one small aggregate over file names, broadcast back) —
  at 100 TB this stays cheap because the aggregate's width is #files, not
  #rows, and AQE picks a broadcast join.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndr_import_spark.plans.model import MappingError, TableMapping
from ndr_import_spark.plans.yaml_loader import RubyRegexp, python_re


class HeaderError(ValueError):
    """Invalid header (parity with table.rb:203-241 fail messages)."""


def validate_header(df: DataFrame, mapping: TableMapping) -> TableMapping:
    """Consume+validate header rows; concretise regexp columns.

    Returns a possibly-updated mapping (regexp columns replaced by the header
    text they matched, table.rb:84-90). Raises HeaderError when no header row
    equals the downcased declared names (table.rb:203-241).
    """
    if mapping.header_lines <= 0:
        return mapping

    rows = (
        df.filter(F.col("row_index") < mapping.header_lines)
        .select("source_file", "row_index", "cells")
        .collect()
    )
    if not rows:
        raise HeaderError("Header is not valid! missing: "
                          + repr([c for c in mapping.expected_header() if c]))

    # regexp column concretisation (per file; last match wins like the
    # reference's in-place mutation)
    for col_idx, cm in enumerate(mapping.columns):
        if isinstance(cm.column, RubyRegexp):
            for row in rows:
                cells = row["cells"] or []
                if col_idx < len(cells) and cells[col_idx] is not None:
                    if re.search(python_re(cm.column), cells[col_idx]):
                        cm.column = cells[col_idx]
                        cm.raw["column"] = cells[col_idx]
                        break

    expected = [c or "" for c in mapping.expected_header()]

    by_file: dict[str, list] = {}
    for row in rows:
        by_file.setdefault(row["source_file"], []).append(row)

    for fname, frows in by_file.items():
        header_valid = False
        best_guess: list[str] | None = None
        for row in sorted(frows, key=lambda r: r["row_index"]):
            cells = [(c or "") for c in (row["cells"] or [])]
            guess = [c.lower() for c in cells]
            if any(g.strip() for g in guess):
                best_guess = guess
            if guess == expected:
                header_valid = True
        if not header_valid:
            received = best_guess or []
            unexpected = [c for c in received if c not in expected]
            missing = [c for c in expected if c not in received]
            message = ["Header is not valid!"]
            if missing:
                message.append(f"missing: {missing!r}")
            if unexpected:
                message.append(f"unexpected: {unexpected!r}")
            if not missing and not unexpected:
                message.append("(out of order)")
            raise HeaderError(" ".join(message))

    return mapping


def skip_header_footer(df: DataFrame, mapping: TableMapping) -> DataFrame:
    """Drop header rows (filter) and footer rows (per-file max join)."""
    out = df
    if mapping.header_lines > 0:
        out = out.filter(F.col("row_index") >= mapping.header_lines)
    if mapping.footer_lines > 0:
        maxes = (
            df.groupBy("source_file")
            .agg(F.max("row_index").alias("_max_row"))
        )
        out = (
            out.join(F.broadcast(maxes), "source_file")
            .filter(F.col("row_index") <= F.col("_max_row") - mapping.footer_lines)
            .drop("_max_row")
        )
    return out


def apply_last_data_column(df: DataFrame, mapping: TableMapping) -> DataFrame:
    """Truncate cells at last_data_column (table.rb:55-57,244-262)."""
    last = mapping.last_column_index()
    if last is None or "cells" not in df.columns:
        return df
    return df.withColumn("cells", F.slice(F.col("cells"), 1, last + 1))


def prepare_table(df: DataFrame, mapping: TableMapping) -> tuple[DataFrame, TableMapping]:
    """truncate columns → validate header → skip header/footer.

    Truncation runs FIRST: the reference applies `last_data_column` to every
    line including header candidates (table.rb:55-57), so a header wider
    than the mapping still validates after truncation."""
    df = apply_last_data_column(df, mapping)
    mapping = validate_header(df, mapping)
    df = skip_header_footer(df, mapping)
    return df, mapping
