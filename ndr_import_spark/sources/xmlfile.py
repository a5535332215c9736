"""XML reader (reference: lib/ndr_import/file/xml.rb + helpers/file/
xml_streaming.rb — one row per `xml_record_xpath` match, streamed).

Spark 4 ships a native XML data source (the spark-xml lineage): rows are
matched by `rowTag` — the last path component of `xml_record_xpath` — and
parsed into nested structs; attributes carry the `_` prefix. The XML table
operator (`operators.xml_table`) flattens these structs into xpath-keyed
cells and handles repeating-section fan-out.

Per-file metadata xpaths (`xml_file_metadata`, file/xml.rb:38-75) are
evaluated on the driver with a bounded stdlib parse and broadcast as
literals.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import attach_row_index, list_input_files, local_frame
from ndr_import_spark.sources.registry import Registry


def row_tag_from_xpath(xml_record_xpath: str) -> str:
    return (xml_record_xpath or "record").rstrip("/").split("/")[-1]


# XML control chars (reference ndr_support UTF8Encoding::CONTROL_CHARACTERS):
# C0 minus tab/newline/carriage-return, plus DEL
_CONTROL_CODES = [c for c in range(0x00, 0x20) if c not in (0x09, 0x0A, 0x0D)] + [0x7F]


def escape_control_chars(col: F.Column) -> F.Column:
    """Escape control chars and their entity references to literal '0xNN'
    text before parse (reference lib/ndr_import/xml/control_char_escaper.rb;
    behaviour pinned by test/xml/control_char_escaper_test.rb: raw \\x1c →
    '0x1c', '&#28;'/'&#x1C;' → '0x1c', non-control and nonsense references
    untouched)."""
    for c in _CONTROL_CODES:
        lit = f"0x{c:02x}"
        col = F.regexp_replace(col, f"\\x{{{c:02X}}}", lit)
        col = F.regexp_replace(col, f"&#0*{c};", lit)
        col = F.regexp_replace(col, f"(?i)&#x0*{c:x};", lit)
    return col


def escape_control_chars_str(data: str) -> str:
    """Driver-side twin of :func:`escape_control_chars`."""
    import re as _re

    for c in _CONTROL_CODES:
        lit = f"0x{c:02x}"
        data = data.replace(chr(c), lit)
        data = _re.sub(f"&#0*{c};", lit, data)
        data = _re.sub(f"(?i)&#x0*{c:x};", lit, data)
    return data


class NestingError(ValueError):
    """Same-name nested record elements (xml_streaming.rb:20-28).

    Spark's rowTag tokenizer would silently swallow the inner record into
    the outer one — exactly the data-loss the reference's streaming cursor
    refuses to risk — so strict mode performs the same refusal."""


def check_no_nested_row_tags(files: list[str], row_tag: str) -> None:
    """Strict-parity guard: raise NestingError if a record element nests
    inside another of the same name (pinned by
    test/helpers/file/xml_streaming_test.rb:47-56). Driver-side iterparse,
    one pass over tags per file — strict mode is the small-data parity
    mode; at scale run strict=False and validate feeds upstream."""
    for f in files:
        local = f[7:] if f.startswith("file://") else f
        open_count = 0
        for event, el in ET.iterparse(local, events=("start", "end")):
            name = el.tag.rsplit("}", 1)[-1]
            if name != row_tag:
                continue
            if event == "start":
                open_count += 1
                if open_count > 1:
                    raise NestingError(
                        f"Element '{row_tag}' was found nested inside another "
                        "of the same type. This is not accessible, and a "
                        "known limitation of XmlStreaming."
                    )
            else:
                open_count -= 1


def matching_record_tags(files: list[str], name_regex: str) -> list[str]:
    """Driver pre-scan for `pattern_match_record_xpath` (xml.rb:87-95):
    the record "xpath" is a Ruby regex matched against the names of the
    root's child elements. Streams each file with iterparse, looks only at
    depth-1 names (bounded work: one pass over tags, no DOM), returns the
    distinct matching names in first-seen order."""
    import re as _re

    from ndr_import_spark.plans.yaml_loader import python_re

    pat = _re.compile(python_re(name_regex))
    seen: list[str] = []
    for f in files:
        local = f[7:] if f.startswith("file://") else f
        depth = 0
        for event, el in ET.iterparse(local, events=("start", "end")):
            if event == "start":
                depth += 1
                if depth == 2:
                    name = el.tag.rsplit("}", 1)[-1]
                    if pat.search(name) and name not in seen:
                        seen.append(name)
            else:
                depth -= 1
    return seen


def _read_row_tag(spark: SparkSession, files: list[str], row_tag: str) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("attributePrefix", "_")
        .option("valueTag", "_VALUE")
        .option("mode", "PERMISSIVE")
        .load(files)
    )


def read_xml(
    spark: SparkSession, path: str | list[str], options: dict
) -> list[tuple[str | None, DataFrame]]:
    """One row per record-xpath match.

    `slurp` (whole-doc DOM vs streaming cursor, file/xml.rb:20-35) is
    accepted and needs no branch here: it only changes HOW the reference
    iterates (memory strategy), never the yielded records — the Spark
    reader streams rowTag tokens either way, and whole-doc concerns
    (metadata xpaths, pattern-matched record tags) are handled by bounded
    driver pre-parses (`file_metadata`, `matching_record_tags`).
    """
    files = list_input_files(spark, path)
    if options.get("pattern_match_record_xpath"):
        tags = matching_record_tags(files, options.get("xml_record_xpath", ""))
        if not tags:
            # no matching element names → zero records (xml_test.rb:65-88)
            df = local_frame(spark, [], "source_file string, row_index long")
            return [(None, df)]
        parts = []
        for tag in tags:
            part = _read_row_tag(spark, files, tag)
            part = part.withColumn("source_file", F.input_file_name())
            parts.append(attach_row_index(part))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return [(None, df)]
    row_tag = row_tag_from_xpath(options.get("xml_record_xpath", "record"))
    df = _read_row_tag(spark, files, row_tag)
    df = df.withColumn("source_file", F.input_file_name())
    df = attach_row_index(df)
    return [(None, df)]


def file_metadata(path: str, metadata_xpaths: dict[str, str]) -> dict[str, str]:
    """Evaluate per-file metadata xpaths on the driver (file/xml.rb:38-75)."""
    tree = ET.parse(path)
    out: dict[str, str] = {}
    for name, xpath in (metadata_xpaths or {}).items():
        # ElementTree supports a subset of xpath — enough for the reference's
        # absolute-path metadata use ('//Root/Header/Item/@value' style).
        xp = xpath.lstrip("/")
        attr = None
        if "/@" in xp:
            xp, attr = xp.rsplit("/@", 1)
        el = tree.getroot()
        found = el.find("./" + "/".join(xp.split("/")[1:])) if "/" in xp else el
        if found is not None:
            out[name] = found.get(attr) if attr else (found.text or "")
    return out


Registry.register(read_xml, "xml", "xml_table")
