"""Corpus-preparation operators for LLM training-data pipelines.

Net-new scale operators (no reference counterpart; the reference stops at
record extraction — these are the downstream corpus stages a 100 TB
training-data pipeline needs):

* benchmark decontamination — flag corpus documents sharing any word
  n-gram with an evaluation set (the standard train/test-overlap guard);
* PII redaction — deterministic regex scrub (emails, phone-ish numbers,
  long digit runs) with per-document redaction counts;
* per-source cap — keep only the best-k documents per source/domain
  (crawl-dump downsampling);
* repetition score — duplicate-n-gram fraction inside each document
  (Gopher-style quality signal);
* deterministic split — stable hash-based train/val/test assignment.

All five are pure DataFrame/Column compositions — no UDFs, no
driver-side loops; every shuffle is keyed and commented.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# word n-grams
# ---------------------------------------------------------------------------


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams of `text` (whitespace-split).

    Shorter-than-n documents yield an empty array. Built from
    slice-and-join over the split array — stays JVM-side."""
    words = F.split(F.trim(text), r"\s+")
    count = F.size(words) - F.lit(n - 1)
    # sequence(1, 0) DESCENDS in Spark — guard the shorter-than-n case
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngram_structs(text: Column, n: int) -> Column:
    """Word n-grams as an array of n-field structs — `arrays_zip` over n
    shifted slices of the split array. No lambda anywhere, so the whole
    expression stays inside whole-stage codegen (the string-joining
    `word_ngrams` pays an interpreted higher-order transform per gram —
    measured ~10x slower per document). Struct equality == joined-string
    equality (words cannot contain the join separator), so distinct
    counts agree."""
    words = F.split(F.trim(text), r"\s+")
    count = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(words, i + 1, count) for i in range(n)])


def exploded_word_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, gram string) — one row per word n-gram: explode the zip-struct
    grams (lambda-free, codegen — see `word_ngram_structs`), then
    concat_ws the n fields flat in the post-Generate projection. Each
    Generate output row carries only its own n words — exploding start
    positions instead would copy the document's whole words array into
    every output row (measured 2x slower end-to-end)."""
    struct_col = F.explode(word_ngram_structs(F.col(text_col), n)).alias("_s")
    return df.select(F.col(id_col), struct_col).select(
        id_col,
        F.concat_ws(" ", *[F.col("_s").getField(str(i)) for i in range(n)]).alias("_g"),
    )


def gram_key(g: Column) -> Column:
    """Compact 64-bit binary join key for a word n-gram — md5-prefixed so
    petabyte-scale gram joins never shuffle raw strings. Shared by the
    decontamination drop list and its provenance report: both MUST use
    the same key or they would disagree about what is contaminated."""
    return F.unhex(F.substring(F.md5(g), 1, 16))


def ngram_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Documents of `corpus` that share at least one word `n`-gram with any
    document of `eval_set` — the training/benchmark overlap
    (decontamination) check.

    Plan shape (100 TB): the eval side is orders of magnitude smaller than
    the corpus, so its distinct n-gram set is built first and broadcast;
    the corpus side then left-semi-joins its exploded n-grams against it —
    the corpus is scanned ONCE, nothing corpus-sized shuffles (broadcast
    hash semi-join), and the final distinct aggregates only the matched
    ids. Grams are md5-prefixed to a compact join key: at petabyte scale
    you never want to shuffle raw 5-gram strings, and a 2^-64 collision
    only ever *adds* a candidate (decontamination over-flags, never
    under-flags).

    Returns (doc_id) — distinct contaminated ids.
    """
    eval_grams = (
        exploded_word_ngrams(eval_set, text_col, "doc_id", n)
        .select(gram_key(F.col("_g")).alias("_gk"))
        .distinct()
    )
    corpus_grams = exploded_word_ngrams(corpus, text_col, "doc_id", n).select(
        "doc_id", gram_key(F.col("_g")).alias("_gk")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), "_gk", "left_semi")
        .select("doc_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# deterministic, conservative patterns: emails; dashed/dotted phone
# numbers; runs of 9+ digits (account-number-shaped). Order matters:
# emails first so their digit runs are already masked when the number
# pass runs. Patterns deliberately use no lookaround so the same strings
# run identically under Java regex (Spark) and RE2 (DuckDB oracle).
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]?\d{0,4}", "[PHONE]"),
    (r"\d{9,}", "[NUMBER]"),
]


def pii_scrub(df: DataFrame) -> DataFrame:
    """Redact PII and report per-document counts.

    Returns (id, redacted, n_emails, n_phones, n_numbers) where counts are
    occurrences replaced per pattern class. Counting uses the same chained
    order as redaction (each count runs on the text AFTER the previous
    class was masked) so counts and output agree."""
    stage = F.col("text")
    counts = []
    for (pat, repl), name in zip(_PII_PATTERNS, ("n_emails", "n_phones", "n_numbers")):
        counts.append(F.size(F.regexp_extract_all(stage, F.lit(pat), 0)).alias(name))
        stage = F.regexp_replace(stage, pat, repl)
    return df.select(F.col("doc_id"), stage.alias("redacted"), *counts)


# ---------------------------------------------------------------------------
# per-source cap (crawl downsampling)
# ---------------------------------------------------------------------------


def per_source_cap(
    df: DataFrame,
    k: int,
    score: Column,
    source_col: str = "source",
    id_col: str = "doc_id",
    score_col: str = "score",
    salt_buckets: int = 32,
) -> DataFrame:
    """Keep the `k` best documents per source by `score` (ties broken on
    ascending id for determinism) — the standard per-domain cap that stops
    one crawl domain from dominating a training mix.

    Two-phase top-k so a hot mega-domain never funnels into one reducer
    (AQE cannot split a window's key): phase 1 salts each row by
    ``pmod(hash(id), salt_buckets)`` — the id is unique, so even fully
    duplicate rows spread — and keeps the per-(source, salt) top-k; phase
    2 re-ranks the at-most ``salt_buckets * k`` survivors per source.
    Phase 1's window partitions are ~1/salt_buckets of a domain; phase
    2's are bounded by salt_buckets*k rows regardless of corpus size.
    Exactness: the global top-k per source (under the same total order
    desc score, asc id) is a subset of the union of per-salt top-ks.

    The scored column is emitted as `score_col`; a pre-existing column of
    that name (or of the internal temp names) raises rather than silently
    producing a duplicate/ambiguous column."""
    clash = sorted({score_col, "_psc_salt", "_psc_rk"} & set(df.columns))
    if clash:
        raise ValueError(
            f"per_source_cap output/temp column(s) {clash} already exist in "
            f"the input; pass score_col= a fresh name or rename the input"
        )
    order = [F.desc(score_col), F.col(id_col)]
    w1 = Window.partitionBy(source_col, "_psc_salt").orderBy(*order)
    w2 = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn(score_col, score)
        .withColumn("_psc_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets)))
        .withColumn("_psc_rk", F.row_number().over(w1))
        .filter(F.col("_psc_rk") <= k)
        .drop("_psc_salt", "_psc_rk")
        .withColumn("_psc_rk", F.row_number().over(w2))
        .filter(F.col("_psc_rk") <= k)
        .drop("_psc_rk")
    )


# ---------------------------------------------------------------------------
# intra-document repetition (Gopher-style quality signal)
# ---------------------------------------------------------------------------


def repetition_score(text: Column, n: int = 3) -> Column:
    """Fraction of word `n`-grams that are duplicates of an earlier one in
    the same document: ``1 - distinct/total`` (0.0 for docs shorter than
    n). Narrow per-row computation — no shuffle, no UDF, and no lambda:
    grams are zip structs so the expression stays in whole-stage codegen
    (struct distinct == joined-string distinct)."""
    grams = word_ngram_structs(text, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, 1.0 - distinct.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping word-window chunks with provenance
    — the standard context-window preparation stage for training/RAG.

    Chunk k covers words [k*stride, k*stride + chunk_words) with
    ``stride = chunk_words - overlap``; the last chunk is the remainder
    (never empty, never duplicated: a document emits ceil-style windows
    until one reaches the end). Pure explode of start positions + slice
    and join in the post-Generate projection (whole-stage codegen, the
    carried words array is fused away) — no UDF, no shuffle; output rows
    carry (doc_id, chunk_id, n_words, chunk).
    """
    if overlap >= chunk_words:
        raise ValueError(f"overlap ({overlap}) must be < chunk_words ({chunk_words})")
    stride = chunk_words - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    # number of chunks: 1 + ceil(max(n - chunk_words, 0) / stride)
    extra = F.greatest(n - F.lit(chunk_words), F.lit(0))
    n_chunks = (
        F.lit(1) + F.ceil(extra.cast("double") / F.lit(stride)).cast("int")
    )
    return (
        df.select(
            F.col(id_col),
            words.alias("_w"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(
                F.col("_w"), F.col("chunk_id") * stride + 1, chunk_words
            ).alias("_cw"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(F.col("_cw")).alias("n_words"),
            F.array_join(F.col("_cw"), " ").alias("chunk"),
        )
    )


# ---------------------------------------------------------------------------
# cross-document passage dedup
# ---------------------------------------------------------------------------


def passage_dedup(df: DataFrame, passage_words: int = 32) -> DataFrame:
    """Cross-document EXACT passage dedup with keep-first semantics — the
    C4/RefinedWeb-style stage that strips boilerplate passages repeated
    across a crawl (navigation blocks, license footers) while keeping
    their first occurrence.

    Documents split into non-overlapping `passage_words` word windows
    (reusing `chunk_documents`), each passage hashes to md5, and the
    globally-first occurrence (minimum (doc_id, chunk_id)) of each hash
    is kept. Per document the output reports passage counts and the md5
    of the deduplicated text (kept passages re-joined in order).

    Plan shape at 100 TB: explode is narrow; the keep-first decision is
    ONE map-side-combined min-aggregate on the passage hash (never a
    window over the corpus); the rebuild groups by doc id — both shuffles
    are on high-cardinality keys, no skew funnel. Passage text never
    shuffles twice: the hash join back is on the compact md5 key.

    Returns (doc_id, n_passages, n_kept, clean_md5) ordered by nothing —
    callers sort."""
    chunks = chunk_documents(
        df, chunk_words=passage_words, overlap=0, text_col="text", id_col="doc_id"
    )
    hashed = chunks.select(
        "doc_id", "chunk_id", "chunk", F.md5(F.col("chunk")).alias("_h")
    )
    first = hashed.groupBy("_h").agg(
        F.min(
            F.struct(F.col("doc_id").alias("d"), F.col("chunk_id").alias("c"))
        ).alias("_k")
    )
    flagged = hashed.join(first, "_h").withColumn(
        "_keep",
        (F.col("doc_id") == F.col("_k.d")) & (F.col("chunk_id") == F.col("_k.c")),
    )
    kept_structs = F.collect_list(
        F.when(F.col("_keep"), F.struct(F.col("chunk_id"), F.col("chunk")))
    )
    clean = F.concat_ws(
        " ", F.transform(F.array_sort(kept_structs), lambda s: s["chunk"])
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        F.md5(clean).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# exact substring dedup (overlapping windows, maximal spans)
# ---------------------------------------------------------------------------


def duplicated_span_report(df: DataFrame, window_words: int = 8) -> DataFrame:
    """Exact-substring duplication report — the window-granularity form of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every
    `window_words`-word span that occurs verbatim anywhere else in the
    corpus, keep its globally-first occurrence, and merge the remaining
    (overlapping, stride-1) duplicated windows into MAXIMAL spans per
    document.

    Returns one row per document that contains at least one duplicated
    span: (doc_id, n_words, n_windows, n_dup_windows, n_spans,
    dup_words [union word coverage of all spans], longest_span,
    dup_frac).  A doc whose every window duplicates some earlier text
    shows dup_frac ≈ 1 — the "remove" signal; small dup_frac means a
    quoted passage or boilerplate block.

    Plan shape at 100 TB: tokens and windows are narrow codegen
    (explode of stride-1 starts + slice/array_join — the
    `_word_ngram_rows` pattern); the keep-first decision is ONE
    map-side-combined aggregate on the 60-bit window hash (count +
    min-(doc,pos) struct — never a window over the corpus); flagged
    positions shuffle ONCE keyed by doc for the interval merge (lag +
    running-sum group ids — per-doc window work bounded by per-doc
    flagged windows). Window text never shuffles: only (id, pos, int64
    hash) rows leave the map side."""
    from ndr_import_spark.operators.dedup import md5_long
    from ndr_import_spark.operators.textstats import tokens

    w = int(window_words)
    if w < 2:
        raise ValueError("window_words must be >= 2")
    toked = df.select(
        F.col("doc_id").alias("_id"), tokens(F.col("text")).alias("_toks")
    )
    n_words = F.size(F.col("_toks"))
    starts = F.sequence(F.lit(1), n_words - w + 1)
    wins = (
        toked.filter(n_words >= w)
        .select("_id", "_toks", F.explode(starts).alias("_i"))
        .select(
            "_id",
            "_i",
            md5_long(
                F.array_join(F.slice(F.col("_toks"), F.col("_i"), w), " ")
            ).alias("_h"),
        )
    )
    first = wins.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct(F.col("_id").alias("d"), F.col("_i").alias("p"))).alias("_k"),
    )
    flagged = (
        wins.join(first, "_h")
        .filter(
            (F.col("_c") > 1)
            & ~((F.col("_id") == F.col("_k.d")) & (F.col("_i") == F.col("_k.p")))
        )
        .select("_id", "_i")
    )
    # merge overlapping/adjacent window coverages [i, i+w-1]: a new span
    # starts when the gap to the previous flagged start exceeds w
    byid = Window.partitionBy("_id").orderBy("_i")
    spans = (
        flagged.withColumn("_prev", F.lag("_i").over(byid))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("_i") - F.col("_prev") > w), 1
            ).otherwise(0),
        )
        .withColumn(
            "_grp",
            F.sum("_new").over(byid.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_id", "_grp")
        .agg(
            F.min("_i").alias("_s"),
            (F.max("_i") + F.lit(w - 1)).alias("_e"),
            F.count(F.lit(1)).alias("_nwin"),
        )
    )
    per_doc = spans.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("dup_words"),
        F.max(F.col("_e") - F.col("_s") + 1).alias("longest_span"),
        F.sum("_nwin").alias("n_dup_windows"),
    )
    base = toked.select(
        "_id",
        n_words.alias("n_words"),
        F.greatest(n_words - w + 1, F.lit(0)).alias("n_windows"),
    )
    return (
        base.join(per_doc, "_id")
        .select(
            F.col("_id").alias("doc_id"),
            "n_words",
            "n_windows",
            "n_dup_windows",
            "n_spans",
            "dup_words",
            "longest_span",
            F.round(F.col("dup_words") / F.col("n_words"), 5).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF term scoring
# ---------------------------------------------------------------------------


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-`k` characteristic terms per document by TF-IDF
    (``tf * ln(N / df)``), ties broken on term ascending.

    Plan shape at 100 TB: one explode + one (doc, term) count aggregate
    (map-side combined — term counts collapse inside each scan task), one
    term-level document-frequency aggregate, and a broadcast-joined
    corpus size. The per-doc top-k window partitions on doc id (vocab
    per document is bounded, no skew funnel). The DF table is
    term-cardinality-sized — large but shuffled once; the (doc, term)
    side joins it on the term hash. The corpus-size attach plans as a
    BroadcastNestedLoopJoin with a ONE-ROW broadcast side — that is the
    correct scalar-attach shape (a `count() over ()` window would funnel
    everything through one partition instead).

    Returns (doc_id, term, tf, df, score) with score rounded to 5dp.
    """
    toks = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 5),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("term")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("doc_id", "term", "tf", "df", "score")
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------


def deterministic_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing stage that
    up/down-weights sources in a training mix reproducibly.

    A row is kept iff its 16-bit md5 bucket (same arithmetic as
    `hash_split`) is below ``fraction * 65536`` for its stratum. Unlike
    `DataFrame.sample`, the decision depends only on the id (salted
    "sample", read from ``doc_id``): stable
    across runs, partitionings, cluster sizes, and corpus growth, and a
    document sampled at 0.25 is a subset of the same document set sampled
    at 0.5 (nested samples — the property mix experiments need).
    Narrow projection, no shuffle."""
    from ndr_import_spark.operators.packing import md5_bucket16

    bucket = md5_bucket16(F.col("doc_id"), "sample")
    thresh = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        lit = F.lit(int(frac * 65536))
        thresh = F.when(cond, lit) if thresh is None else thresh.when(cond, lit)
    thresh = (
        F.lit(int(default_fraction * 65536))
        if thresh is None
        else thresh.otherwise(F.lit(int(default_fraction * 65536)))
    )
    return df.filter(bucket < thresh)


# ---------------------------------------------------------------------------
# deterministic split
# ---------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign each row a stable split label by md5("split":id) mod total
    weight — reproducible on any engine/cluster size, immune to partition
    order (unlike `randomSplit`), and stable under corpus growth: a
    document keeps its split when other documents are added or removed.

    `weights` maps label -> integer weight, e.g. {"train": 98, "val": 1,
    "test": 1}. Narrow projection, no shuffle.

    The bucket is the first 4 md5 hex nibbles decoded arithmetically
    (ascii-of-char) — 16 uniform bits, computed with only `md5`/
    `substring`/`ascii`, which every engine (incl. the DuckDB oracle)
    evaluates identically."""
    from ndr_import_spark.operators.packing import md5_bucket16

    total = sum(weights.values())
    bucket = md5_bucket16(F.col(id_col), "split") % total
    thresholds: list[tuple[int, str]] = []
    acc = 0
    for label, wt in weights.items():
        acc += wt
        thresholds.append((acc, label))
    expr = None
    for upper, label in thresholds:
        cond = bucket < upper
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------------
# mixture design
# ---------------------------------------------------------------------------


def temperature_mix_weights(
    df: DataFrame,
    group_col: str,
    size_col: str,
    token_budget: int,
) -> DataFrame:
    """Temperature-weighted sampling design for a training mixture: each
    group's sampling weight is proportional to sqrt(group tokens)
    (temperature T = 0.5 — the standard up-weight-the-tail multilingual
    mix), normalised over groups; the plan reports each group's expected
    token draw from `token_budget` and its oversample ratio (draws /
    available — >1 means the group repeats epochs).

    sqrt rather than a general pow(n, 1/T) because IEEE-754 sqrt is
    correctly rounded on every engine — the weights are bit-reproducible,
    which a regression-gated pipeline wants from its mixing stage.

    Plan shape at 100 TB: one map-side-combinable aggregate to group
    sizes (group-cardinality rows), then all mixture arithmetic happens
    on that tiny frame against a 1-row broadcast total. The corpus is
    read once and never shuffled."""
    sizes = df.groupBy(group_col).agg(F.sum(F.col(size_col)).alias("n_tokens"))
    # normaliser summed as exact decimal over 6dp-rounded sqrts: float sums
    # are order-dependent across partitions; this one is bit-reproducible
    total = sizes.agg(
        F.sum(
            F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(
                "decimal(28,6)"
            )
        )
        .cast("double")
        .alias("_z")
    )
    return (
        sizes.crossJoin(F.broadcast(total))
        .withColumn(
            "weight",
            F.round(F.sqrt(F.col("n_tokens").cast("double")) / F.col("_z"), 6),
        )
        .withColumn(
            "expected_tokens",
            F.round(
                F.sqrt(F.col("n_tokens").cast("double"))
                / F.col("_z")
                * F.lit(float(token_budget)),
                2,
            ),
        )
        .withColumn(
            "oversample_ratio",
            F.round(F.col("expected_tokens") / F.col("n_tokens"), 6),
        )
        .select(group_col, "n_tokens", "weight", "expected_tokens", "oversample_ratio")
    )


# ---------------------------------------------------------------------------
# out-of-vocabulary profiling
# ---------------------------------------------------------------------------


def oov_rate(df: DataFrame, vocab_size: int) -> DataFrame:
    """Per-group out-of-vocabulary rate against the corpus-global
    top-`vocab_size` token vocabulary (ties broken on token ascending) —
    the tokenizer-coverage probe run before committing a vocab.

    Plan shape at 100 TB: one explode feeding TWO map-side-combinable
    aggregates — (token) counts for the vocabulary and (group, token)
    counts for the per-group tallies. The elected vocabulary is
    vocab_size rows, broadcast into a LEFT SEMI-style membership flag;
    the corpus-scale (group, token) frame is never joined to anything
    bigger than the broadcast vocab."""
    from ndr_import_spark.operators.textstats import tokens

    toks = df.select(
        F.col("source").alias("grp"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok")
    )
    per_group = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("_n"))
    flagged = per_group.join(
        F.broadcast(vocab.withColumn("_in_vocab", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("grp")
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), F.col("_n")).otherwise(F.lit(0))).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# unigram surprisal (perplexity-proxy quality signal)
# ---------------------------------------------------------------------------


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """Per-document mean unigram surprisal (-mean ln p(token), nats) under
    the corpus's own unigram distribution — the cheap stand-in for the
    LM-perplexity quality filter (CCNet-style): boilerplate full of
    ultra-common tokens scores LOW, natural prose scores mid, garbage
    full of rare tokens scores HIGH. Callers threshold both tails.

    Plan shape at 100 TB: one explode feeding (a) the token-count
    aggregate that defines p(t) (vocabulary-sized, shuffled once) and
    (b) the (doc, token) occurrence stream, which joins the probability
    table on the token hash — a keyed equi-join that scales with data,
    no broadcast of anything corpus-sized. Per-doc sums use decimal
    arithmetic over 9dp-rounded ln p so the result is order-independent.

    Returns (id, n_tokens, surprisal) with surprisal rounded to 6dp;
    empty documents get surprisal 0.0.
    """
    from ndr_import_spark.operators.textstats import tokens

    toks = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("_t"))
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
    total = counts.agg(F.sum("_n").alias("_total"))
    lnp = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "_t",
            F.round(
                -F.log(F.col("_n").cast("double") / F.col("_total").cast("double")),
                9,
            )
            .cast("decimal(20,9)")
            .alias("_nlp"),
        )
    )
    per_doc = (
        toks.join(lnp, "_t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_nlp").alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("_s").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("surprisal"),
        )
        # consumed twice (the union below AND the empties anti-join);
        # without a barrier the whole tokenize-join-aggregate subtree
        # re-plans per consumer (r12: 16 corpus scans in the initial
        # plan). Doc-count-sized narrow rows — the standard shape this
        # repo materialises once (kmv/lexical-drift pattern).
        .localCheckpoint(eager=False)
    )
    # empty documents never appear in `toks`; restore them at 0.0
    empties = (
        df.select(F.col("doc_id"))
        .join(per_doc.select("doc_id"), "doc_id", "left_anti")
        .select(
            F.col("doc_id"),
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(0.0).alias("surprisal"),
        )
    )
    return per_doc.unionByName(empties)


# ---------------------------------------------------------------------------
# collocation mining (PMI)
# ---------------------------------------------------------------------------


def pmi_collocations(df: DataFrame, min_count: int = 5, k: int = 50) -> DataFrame:
    """Top-`k` adjacent-word collocations by pointwise mutual information
    — the phrase-mining pass that feeds tokenizer vocabulary building and
    word2phrase-style phrase merging.

    PMI(a, b) = ln( p(ab) / (p(a) p(b)) ) with p from corpus counts
    (bigrams over total bigrams, unigrams over total unigrams); pairs
    below `min_count` occurrences are dropped before scoring (rare-pair
    PMI is degenerate). Ranking is (rounded PMI desc, pair asc) so the
    cut is engine-deterministic.

    Plan shape at 100 TB: the bigram stream is the zip-struct explode
    (lambda-free codegen), counted by ONE map-side-combinable aggregate;
    unigram counts ride a second aggregate over the same scan; the two
    1-row totals broadcast, and the per-pair unigram attach joins the
    bigram-vocabulary frame (already collapsed to pair cardinality)
    against the unigram vocabulary — nothing corpus-sized shuffles twice.
    Top-k via TakeOrderedAndProject over the min_count-filtered pairs."""
    from ndr_import_spark.operators.textstats import tokens as _tokens

    # codegen tokenizer (textstats.tokens — bit-identical to the old
    # filter-lambda form, pinned by test_textstats_codegen.py)
    toks = df.select(_tokens(F.col("text")).alias("_ts"))
    exploded = toks.select(F.explode(F.col("_ts")).alias("_w"))
    uni = exploded.groupBy("_w").agg(F.count(F.lit(1)).alias("_nu"))
    total_uni = uni.agg(F.sum("_nu").alias("_tu"))
    # adjacent pairs via zip of the token array with its own tail —
    # lambda-free codegen, built from the SAME toks projection as the
    # unigram side (one tokenisation definition, not two)
    n = F.size(F.col("_ts"))
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_ts"), 1, F.greatest(n - 1, F.lit(0))),
                F.slice(F.col("_ts"), 2, F.greatest(n - 1, F.lit(0))),
            )
        ).alias("_bg")
    ).select(
        F.col("_bg").getField("0").alias("w1"),
        F.col("_bg").getField("1").alias("w2"),
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_nb"))
    total_big = big.agg(F.sum("_nb").alias("_tb"))
    scored = (
        big.filter(F.col("_nb") >= min_count)
        .join(F.broadcast(total_big))
        .join(uni.select(F.col("_w").alias("w1"), F.col("_nu").alias("_n1")), "w1")
        .join(uni.select(F.col("_w").alias("w2"), F.col("_nu").alias("_n2")), "w2")
        .join(F.broadcast(total_uni))
        .select(
            "w1",
            "w2",
            F.col("_nb").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("_nb").cast("double") / F.col("_tb"))
                    / (
                        (F.col("_n1").cast("double") / F.col("_tu"))
                        * (F.col("_n2").cast("double") / F.col("_tu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def decontaminate_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Contamination PROVENANCE: for each contaminated corpus document,
    how many eval documents it overlaps, how many distinct shared
    n-grams, and the smallest matching eval id — the audit trail a
    release review wants alongside `ngram_decontaminate`'s drop list
    (which eval benchmark leaked, and how badly, not just "drop it").

    Same 100 TB shape as the drop-list variant: the eval side's
    (gram-key, eval-id) pairs are built once and broadcast (still
    eval-sized); the corpus gram stream INNER-joins it map-side, so only
    matching grams — contamination-sized, not corpus-sized — reach the
    per-document aggregate. Distinct counts run on the compact md5 keys.
    """
    eval_grams = (
        exploded_word_ngrams(eval_set, "text", "doc_id", n)
        .select(
            F.col("doc_id").alias("_eid"), gram_key(F.col("_g")).alias("_gk")
        )
        .distinct()
    )
    corpus_grams = exploded_word_ngrams(corpus, "text", "doc_id", n).select(
        "doc_id", gram_key(F.col("_g")).alias("_gk")
    )
    matched = corpus_grams.join(F.broadcast(eval_grams), "_gk")
    return (
        matched.groupBy("doc_id")
        .agg(
            F.countDistinct("_eid").alias("n_eval_docs"),
            F.countDistinct("_gk").alias("n_shared_grams"),
            F.min("_eid").alias("first_eval_id"),
        )
    )


# ---------------------------------------------------------------------------
# dataset card
# ---------------------------------------------------------------------------


def corpus_card(df: DataFrame) -> DataFrame:
    """One-pass dataset card: the headline numbers a corpus release
    publishes — document/token/char volume, language and source
    cardinalities, exact-duplicate surplus, and empty-document count —
    as (metric, value) rows.

    Everything derives from TWO map-side-combinable aggregates (one over
    a narrow per-doc projection, one over content-hash groups) cross-
    composed driver-side into a constant-size result. No window, no
    join wider than the 1-row summaries."""
    from ndr_import_spark.operators.textstats import normalize_text, token_count

    # NULL text counts as an empty document (otherwise NULL hashes fall
    # out of countDistinct and fabricate phantom duplicate surplus)
    txt = F.coalesce(F.col("text"), F.lit(""))
    per_doc = df.select(
        F.col("doc_id"),
        F.col("lang"),
        F.col("source"),
        token_count(txt).alias("_nt"),
        F.length(txt).alias("_nc"),
        F.md5(normalize_text(txt)).alias("_h"),
    )
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("_h").alias("n_unique_contents"),
        F.sum(F.when(F.col("_nt") == 0, 1).otherwise(0)).alias("n_empty"),
    )
    rows = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"),
                        F.col(name).cast("double").alias("value"),
                    )
                    for name in [
                        "n_docs",
                        "n_tokens",
                        "n_chars",
                        "n_langs",
                        "n_sources",
                        "n_unique_contents",
                        "n_empty",
                    ]
                ]
                + [
                    F.struct(
                        F.lit("n_exact_dup_surplus").alias("metric"),
                        (F.col("n_docs") - F.col("n_unique_contents"))
                        .cast("double")
                        .alias("value"),
                    )
                ]
            )
        ).alias("kv")
    ).select(F.col("kv.metric").alias("metric"), F.col("kv.value").alias("value"))
    return rows.orderBy("metric")


def vocab_coverage_curve(df: DataFrame, ks: list[int] | None = None) -> DataFrame:
    """(k, n_words, coverage): share of the corpus token stream covered by
    the top-k vocabulary (freq desc, word asc) at each probe size — the
    curve that sizes a tokenizer's vocab (Zipfian corpora: ~1k words ≈
    80-90% of tokens).

    Scale shape: the global frequency rank is computed WITHOUT a global
    sort — a tiny per-frequency histogram (distinct freq values, kBs per
    TB of corpus) yields exclusive offsets of all strictly-higher
    frequencies via a window over that histogram only, and within-
    frequency order resolves with a window PARTITIONED by freq (parallel
    across frequency classes; identical to ``row_number() OVER (ORDER BY
    freq DESC, word)`` because (freq, word) is a total order). Coverage
    at every probe k then folds into ONE combinable conditional-sum
    aggregate; the final reshape explodes a single driver-sized row."""
    from ndr_import_spark.operators.textstats import tokens

    if ks is None:
        ks = [1, 4, 16, 64, 256, 1024, 4096, 16384]
    vocab = (
        df.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    hist = vocab.groupBy("freq").agg(F.count(F.lit(1)).alias("nw"))
    off_w = (
        Window.orderBy(F.desc("freq"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = hist.select(
        "freq", F.coalesce(F.sum("nw").over(off_w), F.lit(0)).alias("off")
    )
    in_freq = Window.partitionBy("freq").orderBy("word")
    ranked = (
        vocab.join(offsets, "freq")
        .select(
            "freq",
            (F.row_number().over(in_freq) + F.col("off")).alias("rank"),
        )
    )
    aggs = [F.sum("freq").alias("_total"), F.count(F.lit(1)).alias("_nv")]
    for k in ks:
        aggs.append(
            F.sum(F.when(F.col("rank") <= k, F.col("freq")).otherwise(0))
            .alias(f"_c{k}")
        )
    one = ranked.agg(*aggs)
    probes = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.least(F.lit(k).cast("long"), F.col("_nv")).alias("n_words"),
                F.round(
                    F.col(f"_c{k}").cast("double") / F.col("_total"), 6
                ).alias("coverage"),
            )
            for k in ks
        ]
    )
    return (
        one.select(F.explode(probes).alias("p"))
        .select("p.k", "p.n_words", "p.coverage")
    )


def split_leakage_report(df: DataFrame) -> DataFrame:
    """(split_a, split_b, n_pairs, max_jaccard): near-duplicate pairs that
    straddle 8:1:1 train/val/test splits — the leakage check an eval pipeline
    runs after splitting (Lee et al. 2022 showed dedup-unaware splits
    inflate eval scores; this reports exactly those pairs).

    Composes the two production primitives unchanged: `hash_split` labels
    (stable md5-bucket arithmetic) and `dedup.minhash_lsh_pairs`
    candidates (banded, verified) — so the report measures the leakage of
    the SHIPPING split against the SHIPPING near-dup definition. The
    split-label join is a tiny projection on both pair sides; pair
    endpoints canonicalise with least/greatest so (train, test) and
    (test, train) fold together. A clean split shows only same-split
    rows; any cross-split row is leakage, with max_jaccard sizing the
    worst offender.

    Runs Spark jobs while the DataFrame is built: it goes through
    `dedup.minhash_lsh_pairs`, whose partition-count probe executes every
    shuffle stage upstream of the input under AQE."""
    from ndr_import_spark.operators.dedup import minhash_lsh_pairs

    # both pair endpoints join the SAME label frame; un-barriered, each
    # side replans the md5-bucket subtree and its corpus scan (r12:
    # split_leakage's initial plan carried 11 scans / 36 Exchanges).
    # Narrow (id, split) rows — materialise once.
    labels = (
        hash_split(df, {"train": 8, "val": 1, "test": 1}, "doc_id")
        .select("doc_id", "split")
        .localCheckpoint(eager=False)
    )
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", k=16, bands=4,
        verify_threshold=0.5, shingle_n=5,
    )
    a = labels.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("_sa")
    )
    b = labels.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("_sb")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """(stratum, n_pop, std_value, alloc): optimal stratified-sample
    allocation n_h ∝ N_h·S_h (Neyman 1934, public) with the
    largest-remainder method making the integer allocations sum EXACTLY
    to `budget`.

    Determinism discipline (grouped_moments pattern): values quantise to
    DECIMAL(18,6), power sums are exact decimals, the variance/sqrt
    collapse to doubles only at the end (IEEE correctly-rounded), and
    every fraction is re-quantised to a decimal before floor/remainder
    arithmetic so both engines walk identical lattice points.
    Remainder ties break by stratum name. The stratum frame is
    aggregate-sized, so the two unpartitioned windows (total weight,
    remainder rank) are bounded-input by construction."""
    d = F.round(F.col(value_col).cast("double"), 6).cast("decimal(18,6)")
    sums = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum(d).alias("_s1"),
        F.sum((d * d).cast("decimal(38,12)")).alias("_s2"),
    )
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    n = F.col("n_pop")
    var = (s2 - s1 * s1 / n) / n  # population variance
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    w = F.round(n.cast("double") * sd, 6).cast("decimal(24,6)")
    weighted = sums.select("stratum", "n_pop", F.round(sd, 5).alias("std_value"),
                           w.alias("_w"))
    wall = Window.partitionBy()
    ratio = F.round(
        F.lit(float(budget)) * F.col("_w").cast("double")
        / F.sum("_w").over(wall).cast("double"),
        6,
    ).cast("decimal(18,6)")
    based = weighted.select(
        "stratum", "n_pop", "std_value",
        ratio.alias("_r"),
        F.floor(ratio).cast("long").alias("_base"),
    ).withColumn("_rem", F.col("_r") - F.col("_base"))
    leftover = F.lit(budget) - F.sum("_base").over(wall)
    rk = F.row_number().over(
        Window.orderBy(F.col("_rem").desc(), F.col("stratum").asc())
    )
    return (
        based.withColumn("_extra", (rk <= leftover).cast("long"))
        .select(
            "stratum", "n_pop", "std_value",
            (F.col("_base") + F.col("_extra")).alias("alloc"),
        )
    )


# The C4 rule constants shared by BOTH forms (batch c4_clean and the
# row-local c4_clean_stateless) — one definition, or the streaming twin
# silently diverges from the batch rules.
C4_SENTENCE_RE = "[^.!?]+[.!?]"
C4_JS_RE = r"\bjavascript\b"


def _c4_page_bad(low, blocklist):
    """Page-gate predicate over an already-lowercased text Column."""
    import re as _re

    bad = low.contains("lorem ipsum") | low.contains("{")
    if blocklist:
        pat = (
            r"\b("
            + "|".join(_re.escape(w.lower()) for w in blocklist)
            + r")\b"
        )
        bad = bad | low.rlike(pat)
    return bad


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_sentence: int = 3,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = (),
    span_sentences: int = 3,
) -> DataFrame:
    """C4-style corpus cleaning (Raffel et al. 2020 §2.2, the rules that
    built the Colossal Clean Crawled Corpus), sentence-granular:

    1. page drops: text containing ``lorem ipsum``, a ``{`` (code), or
       any blocklist word (the paper's bad-words list — caller-supplied);
    2. sentence extraction: only text terminated by ``.!?`` survives
       (the terminal-punctuation rule) — one RE2-safe
       ``regexp_extract_all``, no lookbehind;
    3. sentence drops: fewer than `min_words_per_sentence` words, or
       containing the word ``javascript``;
    4. page drops again: fewer than `min_sentences` surviving sentences;
    5. corpus-level span dedup: every run of `span_sentences`
       consecutive surviving sentences is hashed (60-bit md5 long);
       spans occurring more than once keep only the lexicographically
       first (doc, start) occurrence — later occurrences' sentences are
       removed from their pages (one pass, no recursion).

    Returns surviving docs: (id, n_sentences, n_kept, n_span_dropped,
    clean_text).

    Plan shape at 100 TB: page rules and sentence extraction are per-row
    codegen; the keep-decision per span is ONE map-side-combinable
    aggregate on the 60-bit hash (count + min-struct — sentence text
    never shuffles for the dedup decision); per-doc windows partition on
    the doc key (bounded by page size); the drop-set anti-join is an
    equi-join on (doc, sentence-idx)."""
    from ndr_import_spark.operators.dedup import md5_long

    low = F.lower(F.col(text_col))
    pages = df.select(F.col(id_col).alias("_id"), low.alias("_t")).where(
        ~_c4_page_bad(low, blocklist)
    )
    sents = pages.select(
        "_id",
        F.posexplode(
            F.regexp_extract_all(F.col("_t"), F.lit(C4_SENTENCE_RE), F.lit(0))
        ).alias("_i", "_s"),
    ).select("_id", "_i", F.trim("_s").alias("_s"))
    # every branch below (raw counts, kept counts, spans, survivors)
    # re-evaluates the sentence explode AND whatever expression built
    # the input text column — checkpoint the exploded frame once, lazily
    sents = sents.localCheckpoint(eager=False)
    n_raw = sents.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sentences"))
    wc = F.size(F.filter(F.split(F.col("_s"), r"\s+"), lambda x: x != ""))
    kept = sents.where(
        (wc >= int(min_words_per_sentence)) & ~F.col("_s").rlike(C4_JS_RE)
    )
    pre = kept.groupBy("_id").agg(F.count(F.lit(1)).alias("n_kept_pre"))
    kept = kept.join(
        pre.where(F.col("n_kept_pre") >= int(min_sentences)).select("_id"),
        "_id",
    )
    # span dedup over surviving sentences, original order
    k = int(span_sentences)
    win = Window.partitionBy("_id").orderBy("_i")
    leads_txt = [F.col("_s")] + [F.lead("_s", j).over(win) for j in range(1, k)]
    leads_idx = [F.col("_i")] + [F.lead("_i", j).over(win) for j in range(1, k)]
    spans = (
        kept.select(
            "_id",
            F.array(*leads_idx).alias("_is"),
            md5_long(F.concat_ws(" ", *leads_txt)).alias("_h"),
            leads_txt[-1].isNotNull().alias("_full"),
        )
        .where(F.col("_full"))
        .select("_id", F.element_at("_is", 1).alias("_start"), "_is", "_h")
    )
    # spans feeds BOTH the firsts aggregate and the drops join: without a
    # barrier the lead-window plan runs twice, and the fused
    # window->md5->join->struct-compare stage trips a janino codegen bug
    # ("Expression isNull_1 is not an rvalue" -> interpreted fallback, a
    # real CPU tax at scale; r7 VERDICT #2). One lazy checkpoint fixes
    # both: the window runs once and every downstream stage compiles.
    spans = spans.localCheckpoint(eager=False)
    firsts = spans.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("_id", "_start")).alias("_first"),
    )
    # NOT broadcast: the duplicated-span set is corpus-sized in the worst
    # case (template boilerplate) — equi-join on the 60-bit hash and let
    # AQE pick the strategy
    drops = (
        spans.join(firsts.where(F.col("_c") > 1), "_h")
        .where(
            (F.col("_id") != F.col("_first._id"))
            | (F.col("_start") != F.col("_first._start"))
        )
        .select("_id", F.explode("_is").alias("_i"))
        .distinct()
    )
    survivors = kept.join(drops, ["_id", "_i"], "left_anti")
    out = survivors.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_s"))),
                lambda s: s["_s"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        out.join(n_raw, "_id")
        .join(pre, "_id")
        .select(
            F.col("_id").alias(id_col),
            "n_sentences",
            "n_kept",
            (F.col("n_kept_pre") - F.col("n_kept")).alias("n_span_dropped"),
            "clean_text",
        )
    )


def dsir_resample(raw: DataFrame, target: DataFrame, k: int) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    NeurIPS — DSIR): select `k` documents from the `raw` pool whose
    hashed-n-gram distribution looks like the `target` domain.

    1. featurize: unigrams + bigrams hash (60-bit md5 long) into
       1024 buckets — the paper's hashed n-gram features;
    2. importance weights: per-bucket log-likelihood ratio of the
       add-one-smoothed target vs raw bucket distributions,
       llr_b = ln( (cp_b+1)(Nq+m) / ((cq_b+1)(Np+m)) ), a per-doc
       log-weight Σ c_b·llr_b;
    3. Gumbel top-k: sampling without replacement proportional to the
       importance weights via key = log_w + Gumbel(0,1), with the Gumbel
       drawn DETERMINISTICALLY from the canonical 16-bit md5 bucket of
       ("dsir", doc id) — reproducible across engines and runs.

    Float discipline (the surprisal/perplexity pattern): each llr and
    each Gumbel is ONE double division + one ln, rounded to 9 dp and
    cast DECIMAL(20,9); every cross-row sum is exact decimal arithmetic,
    so results are bit-identical on any engine regardless of
    aggregation order. The single-ratio llr keeps (c+1)·(N+m) products
    exact in int64 up to corpus sizes of ~2^26 tokens; beyond that split
    the ratio into ln differences (documented cut line — the oracle
    replica needs the single-division form).

    Plan shape at 100 TB: featurization is per-row codegen explode; both
    distributions aggregate to 1024 rows (a BOUNDED frame — the
    llr table broadcasts by construction); the per-doc score is one
    combinable groupBy(doc); the top-k is TakeOrderedAndProject (limit
    pushes into the sort — no global materialised sort). Docs with no
    tokens have no features and are not candidates.

    Returns k rows: (rank, id, log_weight, gumbel_key) by key desc."""
    from ndr_import_spark.operators.packing import md5_bucket16

    scores = dsir_log_weights(
        raw, target, text_col="text", id_col="doc_id", buckets=1024
    )
    u = (md5_bucket16(F.col("_id"), "dsir") + F.lit(0.5)) / F.lit(65536.0)
    key = (
        F.col("log_weight")
        + F.round(-F.log(-F.log(u)), 9).cast("decimal(20,9)")
    ).alias("gumbel_key")
    picked = (
        scores.select(F.col("doc_id").alias("_id"), "log_weight")
        .select("_id", "log_weight", key)
        .orderBy(F.col("gumbel_key").desc(), F.col("_id"))
        .limit(int(k))
    )
    w = Window.orderBy(F.col("gumbel_key").desc(), F.col("_id"))
    return picked.select(
        F.row_number().over(w).alias("rank"),
        F.col("_id").alias("doc_id"),
        "log_weight",
        "gumbel_key",
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """DSIR importance log-weights WITHOUT the resampling step — the
    per-document Σ c_b·llr_b score of `dsir_resample` steps 1-2 (same
    hashing, same add-one llr, same decimal discipline), returned for
    EVERY raw-pool document as (id, log_weight DECIMAL(28,9)).

    Factored out so pipelines can importance-FILTER corpus-proportionally
    (e.g. keep log_weight > 0: docs more target-like than pool-like) —
    a threshold stays corpus-sized at any scale, where a fixed top-k
    would pin the output size regardless of input volume. dsir_resample
    composes this with the Gumbel top-k."""
    from ndr_import_spark.operators.dedup import md5_long
    from ndr_import_spark.operators.textstats import tokens

    m = int(buckets)

    def feats(df: DataFrame) -> DataFrame:
        # ONE tokenize + ONE explode per side (r12, guide §2.3): the
        # former uni/big UNION re-ran the scan + tokens() regex once per
        # leg (two full corpus passes per featurized side — measured as
        # twin byte-identical map stages in training_pipeline's profile).
        # Concatenating the unigram array with the bigram array and
        # exploding once yields the same gram MULTISET per document
        # (order differs; every consumer aggregates), so bucket counts
        # are bit-identical.
        toked = df.select(
            F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
        )
        big = F.when(
            F.size("_t") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("_t", i),
                    F.element_at("_t", i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = toked.select(
            "_id", F.explode(F.concat(F.col("_t"), big)).alias("_g")
        )
        return grams.select("_id", (md5_long(F.col("_g")) % m).alias("_b"))

    # the featurize explode is the expensive stage: checkpoint each
    # side once (review finding: three consumers re-ran the raw explode,
    # two the target's) and derive the scalar totals from the ALREADY
    # aggregated bucket counts instead of a third scan
    raw_f = feats(raw).localCheckpoint(eager=False)
    doc_counts = raw_f.groupBy("_id", "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    q_counts = raw_f.groupBy("_b").agg(F.count(F.lit(1)).alias("_cq"))
    p_counts = feats(target).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cp")
    )
    # ONE broadcast carrying both scalar totals (r12, VERDICT item 3
    # "batch scalar broadcast subqueries"): two 1-row broadcasts cost two
    # sequential broadcast-build job rounds; their crossJoin is built
    # inside a single broadcast instead.
    totals = q_counts.agg(F.sum("_cq").alias("_nq")).crossJoin(
        p_counts.agg(F.sum("_cp").alias("_np"))
    )
    llr_tbl = (
        q_counts.join(p_counts, "_b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("_cp"), F.lit(0)) + 1)
                        * (F.col("_nq") + m)
                    ).cast("double")
                    / ((F.col("_cq") + 1) * (F.col("_np") + m)).cast(
                        "double"
                    )
                ),
                9,
            )
            .cast("decimal(20,9)")
            .alias("_llr"),
        )
    )
    scores = (
        doc_counts.join(F.broadcast(llr_tbl), "_b")
        .groupBy("_id")
        .agg(
            F.sum(
                F.col("_c").cast("decimal(10,0)") * F.col("_llr")
            ).cast("decimal(28,9)").alias("log_weight")
        )  # decimal discipline: (10,0)x(20,9) multiplies at scale 9, and
        # the sum is re-bounded to (28,9) so the later +gumbel addition
        # stays under precision 38 — a LONG count or an unbounded sum
        # makes Spark silently truncate the scale (6 resp. 8 digits)
    )
    return scores.select(F.col("_id").alias(id_col), "log_weight")


def c4_clean_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_sentence: int = 3,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = (),
) -> DataFrame:
    """The per-document subset of `c4_clean` as ONE row-local select —
    no explode, no groupBy, no window: sentence extraction into an
    array, the >=words / javascript filters as an array `filter`, the
    page gates as plain predicates. Because every operation is
    within-row, this form runs UNCHANGED on a Structured Streaming
    DataFrame in append mode (streaming/pipeline.stream_c4_filter) —
    the corpus-level 3-sentence span dedup is the one stage that cannot
    be stateless and stays batch-only (`c4_clean`).

    Returns surviving docs: (id, n_sentences, n_kept, clean_text) —
    identical to `c4_clean`'s output on any corpus with no repeated
    spans (pinned by the batch-parity test)."""
    low = F.lower(F.col(text_col))
    page_bad = _c4_page_bad(low, blocklist)
    # pure Column construction (no f-string SQL: exotic column names
    # would break the parser) — same rules as c4_clean via the shared
    # constants above
    sents = F.transform(
        F.regexp_extract_all(low, F.lit(C4_SENTENCE_RE), F.lit(0)),
        lambda s: F.trim(s),
    )
    kept = F.filter(
        sents,
        lambda s: (
            F.size(F.filter(F.split(s, r"\s+"), lambda x: x != ""))
            >= int(min_words_per_sentence)
        )
        & ~s.rlike(C4_JS_RE),
    )
    return (
        df.where(~page_bad)
        .select(
            F.col(id_col).alias(id_col),
            F.size(sents).alias("n_sentences"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, " ").alias("clean_text"),
        )
        .where(F.col("n_kept") >= int(min_sentences))
    )


def train_zstd_dictionary(
    df: DataFrame,
    shingle_len: int = 16,
    stride: int = 8,
    k: int = 64,
) -> DataFrame:
    """Train a RAW-CONTENT zstd dictionary from a corpus sample — the
    companion to functions/zstd.py's dictionary DECODER (r8): pick the
    `k` most frequent fixed-stride shingles and concatenate them with
    the most frequent LAST, so the hottest content sits closest to the
    compression window (the convention ZDICT follows for its samples).
    Raw-content dictionaries need no entropy tables, carry no ID, and
    are accepted verbatim by both libzstd's ZSTD_compress_usingDict and
    this repo's decompress(dictionary=...) — so a pure DataFrame
    aggregation is a complete, portable trainer.

    Deterministic end to end: shingles at offsets 0, stride, 2*stride…
    (full-length only), counted exactly, top-k by (count DESC, shingle
    ASC), concatenated by (count ASC, shingle ASC). Every step is plain
    SQL, so a DuckDB oracle can rebuild the dictionary bit-for-bit —
    a property no sampling-based trainer has.

    Returns ONE row: (dictionary string, n_shingles, total_len).
    Plan shape at 100 TB: shingling is per-row codegen explode; the
    count is one map-side-combinable groupBy on bounded-length keys;
    top-k is TakeOrderedAndProject (limit pushes into sort); the final
    concat folds k<=64 rows — the dictionary is sketch-sized by
    construction and the full corpus never shuffles.
    """
    L, S = int(shingle_len), int(stride)
    if L < 1 or S < 1:
        raise ValueError("shingle_len and stride must be >= 1")
    eligible = df.where(F.length(F.col("text")) >= L)
    n_sh = F.floor((F.length(F.col("text")) - L) / S).cast("int")
    shingles = eligible.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_sh),
                lambda i: F.col("text").substr(i * S + 1, F.lit(L)),
            )
        ).alias("s")
    )
    cnt = shingles.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    topk = cnt.orderBy(F.col("c").desc(), F.col("s").asc()).limit(int(k))
    return topk.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "s"))),
                lambda x: x["s"],
            ),
            "",
        ).alias("dictionary"),
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.length("s")).alias("total_len"),
    )


def _drift_token_counts(
    df: DataFrame, text_col: str, source_col: str, V: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(full, vocab, cnt) — source_lexical_divergence's pre-barrier
    composition, factored out so the plan audit
    (tests/test_plan_audit.py) asserts the broadcast vocabulary prune on
    the operator's REAL subtree instead of a hand-rebuilt copy (r11
    ADVICE item 2).

    ONE corpus pass (r11): aggregate (source, token) counts first — a
    vocabulary-breadth-sized frame — and derive BOTH the global top-V
    vocabulary (sum over sources == the global count) and the per-source
    counts from it. The previous form ran the tokenising explode twice
    (once for the vocabulary, once for the counts), and every
    un-barriered reference to the dense frame re-planned the whole
    corpus subtree (initial plan: 32 corpus scans). The checkpoint is
    sources x distinct-tokens — bounded by vocabulary breadth, never by
    corpus length."""
    from ndr_import_spark.operators.textstats import tokens

    toks = df.select(
        F.col(source_col).alias("_src"),
        F.explode(tokens(F.col(text_col))).alias("_w"),
    )
    full = (
        toks.groupBy("_src", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    vocab = (
        full.groupBy("_w")
        .agg(F.sum("_c").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(V)
        .select("_w")
    )
    cnt = full.join(F.broadcast(vocab), "_w").select("_src", "_w", "_c")
    return full, vocab, cnt


def source_lexical_divergence(df: DataFrame, vocab_k: int = 200) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between per-source
    unigram distributions over the corpus-wide top-`vocab_k` vocabulary
    — the lexical drift map that flags sources crawling the same
    template family or a source whose content shifted between snapshots
    (the embedding twin is source_similarity; this one needs no vectors
    and its arithmetic is oracle-exact).

    Add-one smoothing over the shared vocabulary keeps every p > 0.
    Float discipline (the surprisal/entropy pattern): for tokens w with
    smoothed counts A=c_a+1, B=c_b+1 and denominators Da=T_a+V,
    Db=T_b+V, each KL term is computed as
    (A/Da) * log2(2*A*Db / (A*Db + B*Da)) — the log argument is a ratio
    of EXACT int64 products, so both engines feed log2 the identical
    double; each term rounds to 9dp, crosses rows as DECIMAL, and the
    half-sum rounds to 6dp. JS is symmetric and bounded by 1 bit.

    Plan shape at 100 TB: token counts are one map-side-combinable
    groupBy(source, token) pruned by the broadcast top-V vocabulary; the
    densify and pairwise join are sources² x V — bounded frames that
    never touch the corpus again."""
    V = int(vocab_k)
    full, vocab, cnt = _drift_token_counts(df, "text", "source", V)
    # from the table, NOT from `full`: a source whose documents tokenise
    # to nothing must still appear in the drift map (oracle semantics);
    # this is a column-pruned one-column scan, not a tokenising pass
    srcs = df.select(F.col("source").alias("_src")).distinct()
    dense = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(cnt, ["_src", "_w"], "left")
        .select("_src", "_w", F.coalesce(F.col("_c"), F.lit(0)).alias("_c"))
    )
    tot = dense.groupBy("_src").agg(F.sum("_c").alias("_t"))
    dense = (
        dense.join(tot, "_src")
        .select(
            "_src", "_w",
            (F.col("_c") + 1).cast("long").alias("_a"),
            (F.col("_t") + V).cast("long").alias("_d"),
        )
        # sources x V rows; consumed by both pair sides below
        .localCheckpoint(eager=False)
    )
    a = dense.select(
        F.col("_src").alias("source_a"), "_w",
        F.col("_a").alias("_aa"), F.col("_d").alias("_da"),
    )
    b = dense.select(
        F.col("_src").alias("source_b"), "_w",
        F.col("_a").alias("_ab"), F.col("_d").alias("_db"),
    )
    pairs = a.join(b, "_w").where(F.col("source_a") < F.col("source_b"))
    num_a = 2.0 * F.col("_aa") * F.col("_db")
    num_b = 2.0 * F.col("_ab") * F.col("_da")
    den = (F.col("_aa") * F.col("_db") + F.col("_ab") * F.col("_da")).cast(
        "double"
    )
    term = (
        (F.col("_aa") / F.col("_da")) * F.log2(num_a / den)
        + (F.col("_ab") / F.col("_db")) * F.log2(num_b / den)
    )
    qterm = F.round(term, 9).cast("decimal(20,9)")
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.round((F.sum(qterm) / 2).cast("double"), 6).alias("js_bits")
        )
    )
