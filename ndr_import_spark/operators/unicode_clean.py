"""Unicode hygiene for crawled text: mojibake repair, NFC normalisation,
control-character stripping, exotic-whitespace collapse.

Net-new (no reference counterpart — `publichealthengland/ndr_import`
normalises encodings at FILE level via ensure_utf8; this is the
DOCUMENT-level cleanup every crawl-to-training-data pipeline runs before
quality filtering, in the spirit of the public `ftfy` tool, implemented
clean-room from the underlying facts):

* **Mojibake repair**: UTF-8 text that was mis-decoded as cp1252/latin-1
  shows the classic marker bytes (Ã, Â, â€¦). The repair is the exact
  inverse — re-encode cp1252 (falling back latin-1), re-decode UTF-8 —
  applied only when (a) a marker is present, (b) the round-trip
  succeeds, and (c) it strictly reduces the marker count; up to two
  passes handle double-mojibake. Deterministic: pure codec table
  lookups, no heuristics beyond the accept test.
* **NFC normalisation** (unicodedata, stdlib): canonical composition so
  'e'+COMBINING ACUTE == 'é' — dedup/hashing upstream depends on it.
* **Control characters** stripped (C0/C1 + DEL) except newline/tab.
* **Exotic spaces** (NBSP, thin/zero-width space family, BOM) → ' ' (or
  removed when zero-width).

Execution: one Arrow `mapInPandas` pass — transcoding is not expressible
in Spark SQL; everything is per-row CPU with zero shuffle, so the
operator pipelines into whatever scan feeds it.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import DataFrame

_MARKERS = ("Ã", "Â", "â", "ï¿½")

# zero-width characters removed outright; other space-ish code points → ' '
_ZERO_WIDTH = "\u200b\u200c\u200d\ufeff"
_SPACES = (
    "\u00a0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u202f\u205f\u3000"
)


def _marker_count(s: str) -> int:
    return sum(s.count(m) for m in _MARKERS)


def fix_mojibake(s: str) -> tuple[str, int]:
    """(repaired, n_passes_applied), at most two passes. Each pass re-encodes cp1252
    (latin-1 fallback) and re-decodes UTF-8, accepted only when it
    strictly reduces the mojibake marker count."""
    applied = 0
    for _ in range(2):
        before = _marker_count(s)
        if before == 0:
            break
        try:
            raw = s.encode("cp1252")
        except UnicodeEncodeError:
            try:
                raw = s.encode("latin-1")
            except UnicodeEncodeError:
                break
        try:
            cand = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        if _marker_count(cand) >= before:
            break
        s = cand
        applied += 1
    return s, applied


def clean_text(s: str) -> tuple[str, int, int]:
    """(clean, mojibake_passes, n_removed): mojibake repair → NFC →
    control strip → exotic-space normalise."""
    s, passes = fix_mojibake(s)
    s = unicodedata.normalize("NFC", s)
    out = []
    removed = 0
    for ch in s:
        if ch in ("\n", "\t"):
            out.append(ch)
        elif ch in _ZERO_WIDTH:
            removed += 1
        elif ch in _SPACES:
            out.append(" ")
        elif unicodedata.category(ch) == "Cc":
            removed += 1
        else:
            out.append(ch)
    return "".join(out), passes, removed


def clean_unicode(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, clean_text, mojibake_passes, n_removed) via one Arrow
    mapInPandas pass — no shuffle; transcoding cannot be a Catalyst
    expression, so this is the honest Python batch path (same contract
    as the multimodal decoders)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            cleaned = [clean_text(s or "") for s in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "clean_text": [c[0] for c in cleaned],
                    "mojibake_passes": [c[1] for c in cleaned],
                    "n_removed": [c[2] for c in cleaned],
                }
            )

    return df.mapInPandas(
        run,
        f"{id_col} long, clean_text string, mojibake_passes int, "
        "n_removed int",
    )
