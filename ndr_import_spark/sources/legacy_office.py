"""Legacy binary Office parsers over the OLE reader: Word 97 .doc text and
Excel 97 .xls (BIFF8) cells — pure stdlib struct walking.

Replaces the env-gated stubs for the two OLE formats (reference:
lib/ndr_import/file/word.rb:11-30 via msworddoc-extractor, fixture
test/resources/hello_world.doc; lib/ndr_import/file/excel.rb:55-77 via roo,
fixtures sample_xls.xls / sheet_streaming.xls). Layouts follow the public
[MS-DOC] and [MS-XLS] specifications.

.doc: FIB → CLX piece table in the 0Table/1Table stream → text pieces
(cp1252-compressed or UTF-16LE) from the WordDocument stream.

.xls: Workbook stream BIFF records — BOUNDSHEET for sheet names/offsets,
global SST (with CONTINUE-spanning strings), per-sheet LABELSST / LABEL /
NUMBER / RK / MULRK / BOOLERR / FORMULA+STRING cells; numbers canonicalised
like the xlsx path (whole floats → int string), date-formatted numbers →
ISO dates via the XF → FORMAT mapping (excel.rb:31-50 cast parity).
"""

from __future__ import annotations

import struct

from ndr_import_spark.sources.ole import OleFile, OleError


# ---------------------------------------------------------------------------
# Word 97 .doc
# ---------------------------------------------------------------------------

def extract_doc_text(blob: bytes) -> str:
    """Whole-document text of a Word 97-2003 binary .doc."""
    ole = OleFile(blob)
    word = ole.read_stream("WordDocument")
    if struct.unpack("<H", word[:2])[0] != 0xA5EC:
        raise OleError("WordDocument stream has no Word97 FIB signature")
    (flags,) = struct.unpack("<H", word[0x0A:0x0C])
    table_name = "1Table" if flags & 0x0200 else "0Table"
    table = ole.read_stream(table_name)

    # FIB variable parts: base(32) + csw + fibRgW + cslw + fibRgLw + fcLcb blob
    pos = 32
    (csw,) = struct.unpack("<H", word[pos:pos + 2])
    pos += 2 + csw * 2
    (cslw,) = struct.unpack("<H", word[pos:pos + 2])
    rg_lw = word[pos + 2:pos + 2 + cslw * 4]
    ccp_text = struct.unpack("<i", rg_lw[12:16])[0]  # fibRgLw97.ccpText
    pos += 2 + cslw * 4
    (cb_fc_lcb,) = struct.unpack("<H", word[pos:pos + 2])
    fc_lcb = word[pos + 2:pos + 2 + cb_fc_lcb * 8]
    # fcClx/lcbClx = pair index 33 of FibRgFcLcb97
    fc_clx, lcb_clx = struct.unpack("<II", fc_lcb[33 * 8:33 * 8 + 8])
    if lcb_clx == 0:
        # non-complex document: contiguous text at fcMin..fcMac (legacy
        # Word95-style layout some writers still emit)
        fc_min, fc_mac = struct.unpack("<II", word[0x18:0x20])
        return _normalize_doc_text(word[fc_min:fc_mac].decode("cp1252", "replace"))
    clx = table[fc_clx:fc_clx + lcb_clx]

    # CLX = RgPrc* then Pcdt (clxt=2, lcb, PlcPcd)
    p = 0
    while p < len(clx) and clx[p] == 0x01:  # Prc
        (cb,) = struct.unpack("<h", clx[p + 1:p + 3])
        p += 3 + cb
    if p >= len(clx) or clx[p] != 0x02:
        raise OleError(".doc CLX has no piece table")
    (lcb,) = struct.unpack("<I", clx[p + 1:p + 5])
    plc = clx[p + 5:p + 5 + lcb]
    n = (lcb - 4) // 12
    cps = struct.unpack(f"<{n + 1}i", plc[:4 * (n + 1)])
    out: list[str] = []
    remaining = ccp_text
    for i in range(n):
        pcd = plc[4 * (n + 1) + 8 * i:4 * (n + 1) + 8 * i + 8]
        (fc_raw,) = struct.unpack("<I", pcd[2:6])
        count = cps[i + 1] - cps[i]
        count = min(count, max(remaining, 0))
        if count <= 0:
            continue
        remaining -= count
        if fc_raw & 0x40000000:  # fCompressed: 8-bit cp1252 at fc/2
            off = (fc_raw & 0x3FFFFFFF) // 2
            text = word[off:off + count].decode("cp1252", "replace")
        else:
            off = fc_raw & 0x3FFFFFFF
            text = word[off:off + 2 * count].decode("utf-16-le", "replace")
        out.append(text)
    return _normalize_doc_text("".join(out))


def _normalize_doc_text(text: str) -> str:
    # control-char normalisation: paragraph/cell marks → newline, strip
    # field/annotation markers (public piece-table extractor convention)
    text = text.replace("\r\n", "\n").replace("\r", "\n").replace("\x0b", "\n")
    text = text.replace("\x07", "\n")
    for ch in ("\x13", "\x14", "\x15", "\x01", "\x02", "\x05", "\x08", "\x0c"):
        text = text.replace(ch, "")
    return text.strip("\n")


# ---------------------------------------------------------------------------
# Excel 97 .xls (BIFF8)
# ---------------------------------------------------------------------------

_DATE_BUILTIN_FORMATS = set(range(14, 23)) | {45, 46, 47}


def _records(stream: bytes, start: int = 0):
    pos = start
    while pos + 4 <= len(stream):
        rec_id, length = struct.unpack("<HH", stream[pos:pos + 4])
        data = stream[pos + 4:pos + 4 + length]
        yield rec_id, data, pos
        pos += 4 + length
        if rec_id == 0x000A and start > 0:  # EOF record ends a substream
            return


def _read_xl_string(buf: bytes, pos: int, cch: int) -> tuple[str, int]:
    """XLUnicodeRichExtendedString body after cch: returns (text, new_pos)."""
    flags = buf[pos]
    pos += 1
    c_run = 0
    cb_ext = 0
    if flags & 0x08:
        (c_run,) = struct.unpack("<H", buf[pos:pos + 2])
        pos += 2
    if flags & 0x04:
        (cb_ext,) = struct.unpack("<i", buf[pos:pos + 4])
        pos += 4
    if flags & 0x01:
        text = buf[pos:pos + 2 * cch].decode("utf-16-le", "replace")
        pos += 2 * cch
    else:
        text = buf[pos:pos + cch].decode("latin-1")
        pos += cch
    pos += 4 * c_run + cb_ext
    return text, pos


def _merged_sst(stream: bytes, sst_pos: int) -> list[str]:
    """Merge SST + CONTINUE records. Strings that span a CONTINUE boundary
    restate the grbit byte at the continuation start; handle by parsing
    string-by-string across fragment boundaries."""
    fragments: list[bytes] = []
    it = _records(stream, sst_pos)
    rec_id, data, _ = next(it)
    assert rec_id == 0x00FC
    fragments.append(data)
    for rec_id, data, _ in it:
        if rec_id != 0x003C:
            break
        fragments.append(data)

    (_total, unique) = struct.unpack("<ii", fragments[0][:8])
    out: list[str] = []
    frag_idx = 0
    pos = 8
    while len(out) < unique and frag_idx < len(fragments):
        frag = fragments[frag_idx]
        if pos + 3 > len(frag):
            frag_idx += 1
            pos = 0
            continue
        (cch,) = struct.unpack("<H", frag[pos:pos + 2])
        pos += 2
        flags = frag[pos]
        pos += 1
        c_run = 0
        cb_ext = 0
        if flags & 0x08:
            (c_run,) = struct.unpack("<H", frag[pos:pos + 2])
            pos += 2
        if flags & 0x04:
            (cb_ext,) = struct.unpack("<i", frag[pos:pos + 4])
            pos += 4
        chars: list[str] = []
        need = cch
        wide = bool(flags & 0x01)
        while need > 0:
            avail = (len(frag) - pos) // (2 if wide else 1)
            take = min(need, avail)
            if wide:
                chars.append(frag[pos:pos + 2 * take].decode("utf-16-le", "replace"))
                pos += 2 * take
            else:
                chars.append(frag[pos:pos + take].decode("latin-1"))
                pos += take
            need -= take
            if need > 0:
                frag_idx += 1
                frag = fragments[frag_idx]
                wide = bool(frag[0] & 0x01)  # continuation restates grbit
                pos = 1
        out.append("".join(chars))
        skip = 4 * c_run + cb_ext
        while skip > 0:
            avail = len(frag) - pos
            take = min(skip, avail)
            pos += take
            skip -= take
            if skip > 0:
                frag_idx += 1
                frag = fragments[frag_idx]
                pos = 0
    return out


def _rk_number(rk: int) -> float:
    cents = rk & 0x01
    if rk & 0x02:  # 30-bit signed integer
        val = float(struct.unpack("<i", struct.pack("<I", rk & 0xFFFFFFFF))[0] >> 2)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", b"\x00\x00\x00\x00" + struct.pack("<I", rk & 0xFFFFFFFC))[0]
    return val / 100.0 if cents else val


def parse_xls(
    blob: bytes, password: str | None = None
) -> list[tuple[str, list[list[str]]]]:
    """BIFF8 workbook → [(sheet_name, rows-of-string-cells)].

    RC4-protected workbooks (FilePass record) decrypt via the stdlib
    sources/xls_rc4.py codec; files saved "protected" with no explicit
    password use Excel's well-known default ``VelvetSweatshop``, tried
    automatically before asking the caller for one."""
    from ndr_import_spark.sources.excel import _canonical_number, _serial_to_date

    ole = OleFile(blob)
    name = "Workbook" if ole.has_stream("Workbook") else "Book"
    stream = ole.read_stream(name)

    from ndr_import_spark.sources.xls_rc4 import (
        XlsWrongPasswordError,
        decrypt_workbook_stream,
        is_encrypted_xls_stream,
    )

    if is_encrypted_xls_stream(stream):
        for pw in ([password] if password else ["VelvetSweatshop"]):
            try:
                stream = decrypt_workbook_stream(stream, pw)
                break
            except XlsWrongPasswordError:
                if password:
                    raise
        else:
            raise ValueError(
                ".xls file is password-protected; supply file_password "
                "in the mapping"
            )

    sheets: list[tuple[str, int]] = []
    sst: list[str] = []
    xf_formats: list[int] = []
    date_formats: set[int] = set(_DATE_BUILTIN_FORMATS)
    for rec_id, data, pos in _records(stream):
        if rec_id == 0x0085:  # BOUNDSHEET
            (offset,) = struct.unpack("<I", data[:4])
            cch = data[6]
            flags = data[7]
            raw = data[8:]
            if flags & 0x01:
                sheet_name = raw[:2 * cch].decode("utf-16-le", "replace")
            else:
                sheet_name = raw[:cch].decode("latin-1")
            sheets.append((sheet_name, offset))
        elif rec_id == 0x00FC:  # SST
            sst = _merged_sst(stream, pos)
        elif rec_id == 0x041E:  # FORMAT
            (ifmt,) = struct.unpack("<H", data[:2])
            (cch,) = struct.unpack("<H", data[2:4])
            text, _ = _read_xl_string(data, 4, cch)
            stripped = text.replace("\\", "")
            if any(t in stripped.lower() for t in ("yy", "dd", "mmm")) and "0" not in stripped:
                date_formats.add(ifmt)
        elif rec_id == 0x00E0:  # XF
            (ifmt,) = struct.unpack("<H", data[2:4])
            xf_formats.append(ifmt)
        elif rec_id == 0x000A and sheets:
            break  # end of workbook globals

    def is_date_xf(xf: int) -> bool:
        return xf < len(xf_formats) and xf_formats[xf] in date_formats

    def num_to_str(value: float, xf: int) -> str:
        if is_date_xf(xf):
            return _serial_to_date(value)
        return _canonical_number(repr(value))

    out = []
    for sheet_name, offset in sheets:
        cells: dict[tuple[int, int], str] = {}
        pending_formula_cell: tuple[int, int] | None = None
        for rec_id, data, _pos in _records(stream, offset):
            if rec_id == 0x00FD:  # LABELSST
                row, col, _xf, isst = struct.unpack("<HHHi", data[:10])
                cells[(row, col)] = sst[isst] if isst < len(sst) else ""
            elif rec_id == 0x0204:  # LABEL (inline)
                row, col, _xf, cch = struct.unpack("<HHHH", data[:8])
                text, _ = _read_xl_string(data, 8, cch)
                cells[(row, col)] = text
            elif rec_id == 0x0203:  # NUMBER
                row, col, xf = struct.unpack("<HHH", data[:6])
                (value,) = struct.unpack("<d", data[6:14])
                cells[(row, col)] = num_to_str(value, xf)
            elif rec_id == 0x027E:  # RK
                row, col, xf = struct.unpack("<HHH", data[:6])
                (rk,) = struct.unpack("<I", data[6:10])
                cells[(row, col)] = num_to_str(_rk_number(rk), xf)
            elif rec_id == 0x00BD:  # MULRK
                row, col_first = struct.unpack("<HH", data[:4])
                (col_last,) = struct.unpack("<H", data[-2:])
                for j in range(col_last - col_first + 1):
                    xf, rk = struct.unpack("<HI", data[4 + 6 * j:10 + 6 * j])
                    cells[(row, col_first + j)] = num_to_str(_rk_number(rk), xf)
            elif rec_id == 0x0205:  # BOOLERR
                row, col, _xf = struct.unpack("<HHH", data[:6])
                val, is_err = data[6], data[7]
                cells[(row, col)] = "" if is_err else ("TRUE" if val else "FALSE")
            elif rec_id == 0x0006:  # FORMULA
                row, col, xf = struct.unpack("<HHH", data[:6])
                result = data[6:14]
                if result[6:8] == b"\xff\xff":
                    if result[0] == 0x00:  # string follows in STRING record
                        pending_formula_cell = (row, col)
                    elif result[0] == 0x01:
                        cells[(row, col)] = "TRUE" if result[2] else "FALSE"
                    elif result[0] == 0x03:
                        cells[(row, col)] = ""
                else:
                    (value,) = struct.unpack("<d", result)
                    cells[(row, col)] = num_to_str(value, xf)
            elif rec_id == 0x0207 and pending_formula_cell is not None:  # STRING
                (cch,) = struct.unpack("<H", data[:2])
                text, _ = _read_xl_string(data, 2, cch)
                cells[pending_formula_cell] = text
                pending_formula_cell = None

        rows: list[list[str]] = []
        if cells:
            max_row = max(r for r, _c in cells)
            for r in range(max_row + 1):
                row_cols = [c for (rr, c) in cells if rr == r]
                width = (max(row_cols) + 1) if row_cols else 0
                rows.append([cells.get((r, c), "") for c in range(width)])
        out.append((sheet_name, rows))
    return out
