"""Word .doc/.docx extraction (reference: lib/ndr_import/file/word.rb,
docx.rb; in-cell decode mapper.rb:281-311).

Pure-stdlib parsing end-to-end: .docx paragraphs via zipfile + regex over
word/document.xml; legacy OLE .doc via the piece-table extractor in
`sources.legacy_office`; password-protected docx via
`sources.ooxml_crypto` (file_password, docx.rb:21-30). Extraction runs in
an Arrow-batched pandas UDF over a binaryFile scan — the per-file blobs
distribute across executors, only text rows come back.
"""

from __future__ import annotations

import io
import re
import zipfile

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def _extract_docx_text(data: bytes) -> str:
    """Minimal .docx paragraph extraction using stdlib zipfile + regex.

    Mirrors Docx::Document.paragraphs.join("\\n") (mapper.rb:304-311) closely
    enough for plumbing tests; rich formatting is out of scope.
    """
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        xml = zf.read("word/document.xml").decode("utf-8", errors="replace")
    paragraphs = []
    for para in re.findall(r"<w:p[ >].*?</w:p>|<w:p/>", xml, flags=re.S):
        runs = re.findall(r"<w:t(?: [^>]*)?>(.*?)</w:t>", para, flags=re.S)
        text = "".join(runs)
        text = (
            text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
            .replace("&quot;", '"').replace("&apos;", "'")
        )
        paragraphs.append(text)
    return "\n".join(paragraphs)


def _extract_word_text(data: bytes | None, password: str | None = None) -> str | None:
    if data is None:
        return None
    if data[:4] == b"PK\x03\x04":  # OOXML container → .docx path
        return _extract_docx_text(data)
    if data[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        from ndr_import_spark.sources.ooxml_crypto import (
            decrypt_ooxml,
            is_encrypted_ooxml,
        )

        if is_encrypted_ooxml(data):
            # password-protected docx: OLE wrapper around the zip
            # (office_file_helper.rb:11-17, docx.rb:21-30)
            if not password:
                raise ValueError(
                    "Word file is password-protected; supply file_password"
                )
            return _extract_docx_text(decrypt_ooxml(data, password))
        # legacy OLE .doc (word.rb:11-30) — piece-table text extraction
        from ndr_import_spark.sources.legacy_office import extract_doc_text

        return extract_doc_text(data)
    # treat as already-text
    return data.decode("utf-8", errors="replace")


def make_word_text_udf(password: str | None = None):
    """Arrow-batched extractor UDF; `password` is captured at plan time
    (it is per-mapping, not per-row — docx.rb:21-30)."""

    @pandas_udf(StringType())
    def _udf(blobs: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return None
            return _extract_word_text(bytes(b), password)
        return blobs.map(one)

    return _udf


_word_text_udf = make_word_text_udf()


def word_doc_text_column(col: Column) -> Column:
    """String col holding raw word-file bytes (e.g. base64-decoded) → text."""
    return _word_text_udf(col.cast("binary"))
