"""Main-content (boilerplate) extraction for crawled HTML.

Net-new (BASELINE.json north_star; the reference has no HTML handling):
the stage every crawl-to-training-data pipeline runs between WARC text
extraction (sources/warc.py) and the quality filters — drop navigation,
link farms, footers and other page chrome, keep the article text.

Algorithm: the densitometric block classifier of Kohlschuetter, Fankhauser
& Nejdl, "Boilerplate Detection using Shallow Text Features" (WSDM 2010,
public) reduced to its two strongest features, applied per block:

1. segment the page at block-level tag boundaries (``p/div/h1-6/li/...``)
   after removing ``script``/``style`` elements WITH their content;
2. per block: strip inline tags, unescape the common entities, collapse
   whitespace; count words; measure LINK DENSITY as the fraction of the
   block's characters that sit inside ``<a>`` anchors;
3. keep blocks with ``n_words >= min_words`` and
   ``anchor_chars * 100 <= text_chars * max_link_pct`` — long, low-link
   blocks are content; short or link-heavy blocks are chrome.

Documented cut line: no DOM tree, no adjacent-block smoothing, no
heading rescue — headings shorter than ``min_words`` are dropped with
the nav. That keeps every step a per-row codegen expression.

Scale shape: script/style removal, segmentation and per-block features
are pure regexp/string Columns (one narrow map, no Python, no shuffle);
the only exchange is the final per-document regroup of kept blocks,
carrying already-filtered text. Ordered reassembly uses
``sort_array(collect_list(struct(idx, txt)))`` + field projection — no
interpreted higher-order functions. Every regex is RE2-compatible (no
backreferences, no lookarounds) so the DuckDB oracle runs the literal
same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Default cut line of step 3, shared with the DuckDB oracle.
MIN_WORDS = 10
MAX_LINK_PCT = 25

# Block-level boundary tags (open or close, attributes allowed).
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|dl|dt|dd|td|th|tr|table|thead|tbody"
    r"|article|section|header|footer|nav|aside|main|figure|figcaption"
    r"|blockquote|pre|form|fieldset|hr|br|html|body|head|title)"
    r"(?:\s[^>]*)?>"
)
SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
ANCHOR_TEXT_RE = r"(?is)<a[^>]*>(.*?)</a>"
INLINE_TAG_RE = r"<[^>]*>"

# (entity, replacement) applied in order; &amp; LAST so escaped
# ampersands don't double-unescape.
ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def _clean_text(raw: Column) -> Column:
    """Inline tags -> space, entities unescaped, whitespace collapsed."""
    t = F.regexp_replace(raw, INLINE_TAG_RE, " ")
    for ent, rep in ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def block_features(
    df: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """One row per block: (id, idx, text, n_words, n_chars, anchor_chars).

    `idx` is the block's position in the page (0-based), so downstream
    reassembly preserves document order.
    """
    stripped = F.regexp_replace(
        F.regexp_replace(F.col(html_col), SCRIPT_RE, " "), STYLE_RE, " "
    )
    blocks = df.select(
        id_col,
        F.posexplode(F.split(stripped, BLOCK_TAG_RE)).alias("idx", "_raw"),
    )
    txt = _clean_text(F.col("_raw"))
    # anchor_chars without a higher-order sum: join the extracted anchor
    # bodies and take the length (codegen-friendly in both engines)
    anchor = F.length(
        F.array_join(
            F.regexp_extract_all(F.col("_raw"), F.lit(ANCHOR_TEXT_RE), 1), ""
        )
    )
    feats = blocks.select(
        id_col,
        "idx",
        txt.alias("text"),
        F.when(txt == "", F.lit(0))
        .otherwise(F.size(F.split(txt, " ")))
        .cast("int")
        .alias("n_words"),
        F.length(txt).cast("int").alias("n_chars"),
        anchor.cast("int").alias("anchor_chars"),
    )
    return feats.where(F.col("n_chars") > 0)


def extract_main_content(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_words: int = MIN_WORDS,
    max_link_pct: int = MAX_LINK_PCT,
) -> DataFrame:
    """(id, n_blocks, n_kept, main_text): the page's content blocks,
    document-ordered and space-joined. Documents whose every block is
    boilerplate keep a row with ``n_kept = 0`` and ``main_text = ''``.
    """
    feats = block_features(df, html_col, id_col)
    kept = (F.col("n_words") >= min_words) & (
        F.col("anchor_chars") * 100 <= F.col("n_chars") * max_link_pct
    )
    per_doc = feats.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_blocks"),
        F.sum(kept.cast("int")).cast("int").alias("n_kept"),
        F.sort_array(
            F.collect_list(
                F.when(kept, F.struct(F.col("idx"), F.col("text").alias("txt")))
            )
        ).alias("_kb"),
    )
    return per_doc.select(
        id_col,
        "n_blocks",
        "n_kept",
        F.coalesce(
            F.array_join(F.col("_kb").getField("txt"), " "), F.lit("")
        ).alias("main_text"),
    )


def extract_main_content_stateless(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_words: int = MIN_WORDS,
    max_link_pct: int = MAX_LINK_PCT,
) -> DataFrame:
    """`extract_main_content` as ONE row-local select: segmentation,
    per-block features, the keep rule and ordered reassembly all run as
    array expressions (transform/filter/array_join) inside the row —
    no explode, no groupBy. Because every operation is within-row, this
    form runs UNCHANGED on a Structured Streaming DataFrame in append
    mode (streaming/pipeline.stream_extract_main_content); block order
    is the array order, so reassembly needs no sort.

    Same output contract as the batch operator (pinned by the parity
    test): (id, n_blocks, n_kept, main_text), one row per input page.

    The split array is emitted through a one-element explode so the
    downstream lambdas capture a real attribute — Catalyst inlines
    single-use aliases into lambda bodies, which would re-run the
    script/style strip + split once per block element (the
    dedup._shingle_base pattern)."""
    stripped = F.regexp_replace(
        F.regexp_replace(F.col(html_col), SCRIPT_RE, " "), STYLE_RE, " "
    )
    base = df.select(
        id_col,
        F.explode(F.array(F.split(stripped, BLOCK_TAG_RE))).alias("_raws"),
    )

    def feat(raw: Column) -> Column:
        txt = _clean_text(raw)
        anchor = F.length(
            F.array_join(
                F.regexp_extract_all(raw, F.lit(ANCHOR_TEXT_RE), 1), ""
            )
        )
        return F.struct(txt.alias("txt"), anchor.alias("anchor"))

    # second explode hop: `_blocks` is consumed three times below
    # (n_blocks, the keep filter, main_text) — as a plain alias the
    # regex-heavy per-block feature transform would be inlined and
    # re-run for each consumer (r7 review finding); as an explode
    # output it is a real attribute, evaluated once per row
    blocks = base.select(
        id_col,
        F.explode(
            F.array(
                F.filter(
                    F.transform(F.col("_raws"), feat),
                    lambda s: F.length(s.getField("txt")) > 0,
                )
            )
        ).alias("_blocks"),
    )
    kept = F.filter(
        F.col("_blocks"),
        lambda s: (
            F.size(F.split(s.getField("txt"), " ")) >= min_words
        )
        & (
            s.getField("anchor") * 100
            <= F.length(s.getField("txt")) * max_link_pct
        ),
    )
    out = blocks.select(
        id_col,
        F.size(F.col("_blocks")).cast("int").alias("n_blocks"),
        F.size(kept).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(kept, lambda s: s.getField("txt")), " "
        ).alias("main_text"),
    )
    # batch parity: a page with zero non-empty blocks produces no row
    # there (its doc never reaches the groupBy) — match that here
    return out.where(F.col("n_blocks") > 0)


def main_content_oracle_sql(pages_cte: str) -> str:
    """DuckDB transcription running the LITERAL same regexes.

    `pages_cte` must be a complete ``WITH``-clause body ending in a CTE
    named ``pages`` with columns (doc_id, html).
    """
    # same transformation ORDER as _clean_text: strip inline tags, then
    # entities (&amp; last), then whitespace collapse + trim
    ents = f"regexp_replace(raw, '{INLINE_TAG_RE}', ' ', 'g')"
    for ent, rep in ENTITIES:
        ents = f"replace({ents}, '{ent}', '{rep.replace(chr(39), chr(39)*2)}')"
    return rf"""WITH {pages_cte},
nos AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(html,
             '{SCRIPT_RE}', ' ', 'g'), '{STYLE_RE}', ' ', 'g') AS h
  FROM pages
), seg AS (
  SELECT doc_id, string_split_regex(h, '{BLOCK_TAG_RE}') AS bs FROM nos
), rawb AS (
  SELECT doc_id, i - 1 AS idx, bs[i] AS raw
  FROM seg, unnest(generate_series(1, len(bs))) AS u(i)
), feat AS (
  SELECT doc_id, idx,
         trim(regexp_replace({ents}, '\s+', ' ', 'g')) AS text,
         CAST(coalesce(length(array_to_string(
             regexp_extract_all(raw, '{ANCHOR_TEXT_RE}', 1), '')), 0)
           AS INT) AS anchor_chars
  FROM rawb
), blocks AS (
  SELECT doc_id, idx, text,
         CAST(CASE WHEN text = '' THEN 0
              ELSE len(string_split(text, ' ')) END AS INT) AS n_words,
         CAST(length(text) AS INT) AS n_chars, anchor_chars
  FROM feat WHERE length(text) > 0
), perdoc AS (
  SELECT doc_id,
         CAST(count(*) AS INT) AS n_blocks,
         CAST(sum(CASE WHEN n_words >= {MIN_WORDS}
                        AND anchor_chars * 100 <= n_chars * {MAX_LINK_PCT}
                       THEN 1 ELSE 0 END) AS INT) AS n_kept,
         coalesce(string_agg(CASE WHEN n_words >= {MIN_WORDS}
                        AND anchor_chars * 100 <= n_chars * {MAX_LINK_PCT}
                       THEN text END, ' ' ORDER BY idx), '') AS main_text
  FROM blocks GROUP BY doc_id
)"""
