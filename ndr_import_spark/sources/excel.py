"""Excel reader (reference: lib/ndr_import/file/excel.rb — one table per
sheet; numeric/date cells cast to canonical strings; xlsx-mislabelled-as-xls
retry; password decrypt).

No openpyxl/xlrd in this environment, so .xlsx is parsed with a pure-stdlib
reader (zipfile + xml.etree — xlsx IS zipped XML). Cast parity
(excel.rb:31-50): whole-valued floats → integer strings; date-styled numeric
cells → ISO 'yyyy-mm-dd'. Legacy OLE .xls needs a binary parser → stubbed
(mislabelled xlsx transparently retried, mirroring the reference).

Scale note: Excel workbooks are inherently small (driver-side parse, one
file at a time), mirroring the reference; rows then become a distributed
DataFrame for the mapping pipeline.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from ndr_import_spark.sources.common import list_input_files, local_frame
from ndr_import_spark.sources.registry import Registry

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_DATE_BUILTIN_FMTS = set(range(14, 23)) | {45, 46, 47}
_EXCEL_EPOCH = date(1899, 12, 30)  # 1900 date system incl. the Lotus bug


def _col_index(cell_ref: str) -> int:
    idx = 0
    for ch in re.match(r"[A-Z]+", cell_ref).group(0):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _canonical_number(text: str) -> str:
    """excel.rb:36-42 — whole floats become integer strings."""
    try:
        f = float(text)
    except ValueError:
        return text
    if f == int(f) and "e" not in text.lower():
        return str(int(f))
    return text


def _serial_to_date(serial: float) -> str:
    return (_EXCEL_EPOCH + timedelta(days=int(serial))).isoformat()


def parse_xlsx(data: bytes) -> list[tuple[str, list[list[str]]]]:
    """bytes → [(sheet_name, rows)] with reference cast rules applied."""
    zf = zipfile.ZipFile(io.BytesIO(data))

    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.findall("m:si", _NS):
            shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))

    date_styles: set[int] = set()
    if "xl/styles.xml" in zf.namelist():
        sroot = ET.fromstring(zf.read("xl/styles.xml"))
        custom_date_fmts = set()
        for numfmt in sroot.iter(f"{{{_NS['m']}}}numFmt"):
            fmt_id = int(numfmt.get("numFmtId"))
            code = (numfmt.get("formatCode") or "").lower()
            if re.search(r"[dy]", re.sub(r"\[[^\]]*\]|\"[^\"]*\"", "", code)):
                custom_date_fmts.add(fmt_id)
        cell_xfs = sroot.find("m:cellXfs", _NS)
        if cell_xfs is not None:
            for i, xf in enumerate(cell_xfs.findall("m:xf", _NS)):
                fmt_id = int(xf.get("numFmtId") or 0)
                if fmt_id in _DATE_BUILTIN_FMTS or fmt_id in custom_date_fmts:
                    date_styles.add(i)

    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_ns = {"r": "http://schemas.openxmlformats.org/package/2006/relationships"}
    rid_to_target = {
        rel.get("Id"): rel.get("Target") for rel in rels.findall("r:Relationship", rel_ns)
    }
    doc_rel = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"

    out: list[tuple[str, list[list[str]]]] = []
    for sheet in wb.find("m:sheets", _NS).findall("m:sheet", _NS):
        name = sheet.get("name")
        target = rid_to_target.get(sheet.get(doc_rel), "")
        target = target.lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        sroot = ET.fromstring(zf.read(target))
        rows: list[list[str]] = []
        for row_el in sroot.iter(f"{{{_NS['m']}}}row"):
            # writers omit fully-empty rows from the sheet XML; the 'r'
            # attribute is 1-based — emit empty rows for the gap so row
            # indices stay dense (header_lines/footer_lines alignment)
            r_attr = row_el.get("r")
            if r_attr and r_attr.isdigit():
                while len(rows) < int(r_attr) - 1:
                    rows.append([])
            cells: list[str] = []
            for c in row_el.findall("m:c", _NS):
                ref = c.get("r") or ""
                idx = _col_index(ref) if ref else len(cells)
                while len(cells) < idx:
                    cells.append("")
                ctype = c.get("t") or "n"
                v_el = c.find("m:v", _NS)
                if ctype == "inlineStr":
                    is_el = c.find("m:is", _NS)
                    value = "".join(
                        t.text or "" for t in (is_el.iter(f"{{{_NS['m']}}}t") if is_el is not None else [])
                    )
                elif v_el is None or v_el.text is None:
                    value = ""
                elif ctype == "s":
                    value = shared[int(v_el.text)]
                elif ctype == "b":
                    value = "true" if v_el.text == "1" else "false"
                elif ctype in ("str", "e"):
                    # formula cells carry their CACHED result in <v> (the
                    # <f> sibling is the formula text, which roo ignores
                    # too — excel.rb reads values, never re-evaluates);
                    # t="str" is a string result, t="e" an error literal
                    # like #DIV/0! — both must bypass number/date coercion
                    value = v_el.text
                else:
                    style = int(c.get("s") or -1)
                    if style in date_styles:
                        value = _serial_to_date(float(v_el.text))
                    else:
                        value = _canonical_number(v_el.text)
                cells.append(value)
            rows.append(cells)
        out.append((name, rows))
    return out


def read_excel(
    spark: SparkSession, path: str | list[str], options: dict
) -> list[tuple[str | None, DataFrame]]:
    files = list_input_files(spark, path)
    password = options.get("file_password")
    tables: list[tuple[str | None, DataFrame]] = []
    for f in files:
        with open(f, "rb") as fh:
            data = fh.read()
        if data[:4] != b"PK\x03\x04":
            if data[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
                from ndr_import_spark.sources.ooxml_crypto import (
                    decrypt_ooxml,
                    is_encrypted_ooxml,
                )

                if is_encrypted_ooxml(data):
                    # password-protected xlsx: OLE wrapper around the zip
                    # (office_file_helper.rb:11-17, excel.rb:103-110)
                    if not password:
                        raise ValueError(
                            f"Excel file {f} is password-protected; supply "
                            "file_password in the mapping"
                        )
                    data = decrypt_ooxml(data, password)
                else:
                    # legacy BIFF8 .xls (excel.rb:55-77)
                    from ndr_import_spark.sources.legacy_office import parse_xls

                    for sheet_name, rows in parse_xls(data, password=password):
                        df = local_frame(
                            spark,
                            [(f, i, r) for i, r in enumerate(rows)],
                            "source_file string, row_index long, cells array<string>",
                        )
                        tables.append((sheet_name, df))
                    continue
            else:
                raise ValueError(f"Not an Excel file: {f}")
        for sheet_name, rows in parse_xlsx(data):
            df = local_frame(
                spark,
                [(f, i, r) for i, r in enumerate(rows)],
                "source_file string, row_index long, cells array<string>",
            )
            tables.append((sheet_name, df))
    return tables


Registry.register(read_excel, "xlsx", "xlsm", "xls")
