"""Text-analysis operators for large-scale training-data pipelines.

No reference counterpart (net-new per BASELINE.json north_star): language-ID
(stopword-ratio heuristic), quality scoring (length/punct/stopword ratios),
token counting (whitespace + word-regex), document fingerprinting (md5).

All pure Column expressions — portable to a DuckDB oracle (md5, regexp,
list functions exist on both sides), whole-stage-codegen on Spark, no UDFs,
no shuffle: these are per-row maps that scale linearly to 100 TB.

Round 5: every higher-order function (``F.filter``/``F.transform``/
``F.aggregate`` lambdas) is gone from the hot paths. HOFs run INTERPRETED
in Spark — sf1 measurements on the dedup family put them at 2-4× the cost
of the equivalent codegen expression — so each was rewritten to a pure
codegen form with bit-identical values:

* ``tokens`` — strip-edges + ``split`` (a ``when`` guard supplies the empty
  array) instead of ``filter(split(...), t != '')``: same element sequence,
  because after edge-strip the only empty fragments a ``\\s+`` split can
  produce are at the edges.
* ``bpe_ish_token_count`` — ``regexp_count(lower(text), '[a-z0-9]{1,4}')``
  instead of the per-word ``ceil(len/4)`` fold: greedy non-overlapping
  matching takes 4-char chunks then the 1-3 char remainder, so each word of
  length L contributes exactly ceil(L/4) matches.
* ``mean_word_length`` — Σ token lengths == non-whitespace char count of the
  lowered text (tokens partition it), so one ``regexp_replace`` + ``length``
  replaces the sum fold.
* ``stopword_ratio`` / ``detect_language`` — token-boundary-anchored
  alternation ``(?<![^\\s])(w1|w2|…)(?![^\\s])`` counted with
  ``regexp_count``: a match is exactly a whole whitespace-delimited token
  equal to a listed stopword (shorter alternatives that fail the lookahead
  backtrack into longer ones). argmax keeps declaration-order tie-break via
  an ordered ``when`` chain on ``greatest``.
* ``rolling_fingerprint`` keeps the Column form for narrow per-row use, but
  ``rolling_fingerprint_frame`` is the scale path: explode chunk starts →
  md5 → ``groupBy(id).min``. Partial (map-side) aggregation collapses each
  document to one row before the exchange, so the shuffle carries one
  (id, 32-char md5) row per document — not per chunk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny, deterministic stopword sets (shared literally with the DuckDB oracle).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "von", "zu", "ist", "den", "mit", "nicht"],
    "fr": ["le", "la", "de", "et", "un", "est", "en", "que", "pour", "dans"],
}


def _stripped_lower(text: Column) -> Column:
    """Lowered text with leading/trailing whitespace removed (``F.trim``
    only strips ASCII spaces; the edge regexp handles tabs/newlines too)."""
    return F.regexp_replace(F.lower(text), r"^\s+|\s+$", "")


def tokens(text: Column) -> Column:
    """Whitespace tokenisation, empties dropped.

    Codegen form: with both edges stripped, ``split`` on ``\\s+`` cannot
    produce interior empty fragments, so the HOF ``filter`` is unnecessary;
    the ``when`` guard maps the all-whitespace/empty case to ``[]`` (a
    zero-length ``slice`` keeps the array<string> type)."""
    s = _stripped_lower(text)
    raw = F.split(s, r"\s+")
    return F.when(s == "", F.slice(raw, 1, 0)).otherwise(raw)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Rough BPE-style count: word chunks + digits + punctuation marks each
    count; long words count ceil(len/4) pieces.

    ``regexp_count`` of greedy 1-4 char word-chunks == Σ ceil(len/4) over
    the ``[^a-z0-9]+``-split words of the lowered text (each word yields
    ⌊L/4⌋ four-char matches plus one remainder match when L mod 4 ≠ 0)."""
    pieces = F.regexp_count(F.lower(text), F.lit(r"[a-z0-9]{1,4}"))
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return pieces + punct


def _stopword_pattern(lang: str) -> str:
    """Token-boundary-anchored alternation: matches a whole whitespace-
    delimited token equal to one of the stopwords. ``(?<![^\\s])`` /
    ``(?![^\\s])`` are true at string edges and next to whitespace, i.e.
    exactly at token boundaries."""
    alt = "|".join(STOPWORDS[lang])
    return r"(?<![^\s])(?:" + alt + r")(?![^\s])"


def stopword_count(text: Column, lang: str = "en") -> Column:
    return F.regexp_count(F.lower(text), F.lit(_stopword_pattern(lang)))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n_tok = token_count(text)
    return F.when(
        n_tok > 0, stopword_count(text, lang) / n_tok
    ).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def alpha_ratio(text: Column) -> Column:
    n = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    return F.when(n > 0, alpha / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    """Σ token lengths / n tokens. The tokens partition the non-whitespace
    characters of the lowered text, so the numerator is one
    ``regexp_replace`` + ``length`` — no per-token fold."""
    n_tok = token_count(text)
    total = F.length(F.regexp_replace(F.lower(text), r"\s+", ""))
    return F.when(n_tok > 0, total / n_tok).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic 0-1 quality heuristic: enough tokens, sane word length,
    low punctuation noise, mostly alphabetic."""
    n_tok = token_count(text)
    length_ok = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    word_ok = F.when(
        (mean_word_length(text) >= 3) & (mean_word_length(text) <= 10), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    alpha_ok = alpha_ratio(text)
    return F.round((length_ok + word_ok + punct_ok + alpha_ok) / 4, 5)


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_ratio(text, lang) for lang in STOPWORDS}


def detect_language(text: Column) -> Column:
    """argmax of per-language stopword counts; 'und' when all zero, NULL for
    NULL text (matching the NULL-propagating fold it replaced).

    Ties break by declaration order: the ``when`` chain tests languages in
    ``STOPWORDS`` order against the max, so the first language reaching the
    max wins — same rule as the previous array_position-of-max compile. All
    shared denominators cancel, so count-argmax == ratio-argmax."""
    counts = [stopword_count(text, lang) for lang in STOPWORDS]
    mx = F.greatest(*counts) if len(counts) > 1 else counts[0]
    chain = None
    for lang, c in zip(STOPWORDS, counts):
        cond = c == mx
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(
            cond, F.lit(lang)
        )
    return (
        F.when(text.isNull(), F.lit(None).cast("string"))
        .when(mx > 0, chain)
        .otherwise(F.lit("und"))
    )


def normalize_text(text: Column) -> Column:
    """Dedup normalisation: lowercase, strip non-alphanumerics to single
    spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def fingerprint(text: Column) -> Column:
    """Normalised md5 document fingerprint."""
    return F.md5(normalize_text(text))


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer md5-prefix hash, reproducible in
    DuckDB as ``('0x' || substring(md5(x), 1, 15))::BIGINT`` — THE
    engine-portable hash (dedup re-exports this single definition).
    A LONG hash keeps MIN/MAX aggregates inside HashAggregate (string
    MIN falls back to SortAggregate — one extra sort on both sides of
    the exchange) and shuffles 8 bytes instead of a 32-char hex key."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


FINGERPRINT_WINDOW = 16  # chars per winnowing chunk, Column and frame forms


def rolling_fingerprint(text: Column) -> Column:
    """Winnowing-style fingerprint: 60-bit md5 hash over every
    FINGERPRINT_WINDOW-char chunk (half-window stride) of the normalised
    text, keep the minimum — robust to local edits.

    Column form (HOF ``transform``, interpreted) — fine for narrow one-off
    use; batch pipelines should call :func:`rolling_fingerprint_frame`,
    which computes identical values through codegen + a combinable MIN."""
    norm = normalize_text(text)
    n = F.length(norm)
    w = FINGERPRINT_WINDOW
    starts = F.sequence(F.lit(1), F.greatest(n - w + 1, F.lit(1)), F.lit(w // 2))
    chunk_hashes = F.transform(starts, lambda i: md5_long(F.substring(norm, i, w)))
    return F.array_min(chunk_hashes)


def rolling_fingerprint_frame(
    df: DataFrame,
    id_cols: list[str],
    text_col: str = "text",
    window: int = FINGERPRINT_WINDOW,
) -> DataFrame:
    """(id_cols…, fp) frame of winnowing fingerprints — the scale path.

    explode(chunk starts) → 60-bit md5 hash → ``groupBy(id).min``: every
    expression whole-stage-codegen (the ``transform`` lambda of the Column
    form runs interpreted — the sf1-measured 2-4× HOF tax). Values are
    bit-identical to the Column form: same normalisation, same strided
    starts, same long chunk hash, and MIN over the group == array_min (a
    NULL text yields a NULL-start row via explode_outer, and MIN of an
    all-NULL group is NULL, matching array_min(NULL)).

    Cost model at 100 TB: the explode is map-side; the LONG hash keeps the
    MIN in HashAggregate (partial aggregation collapses each document to
    its single minimum before the exchange), so the shuffle carries one
    (id, int64) row per DOCUMENT, not per chunk. ``id_cols`` must be
    unique per row (they key the re-assembly)."""
    norm = normalize_text(F.col(text_col))
    base = df.select(*id_cols, norm.alias("_norm"))
    n = F.length(F.col("_norm"))
    starts = F.sequence(
        F.lit(1), F.greatest(n - window + 1, F.lit(1)), F.lit(window // 2)
    )
    chunks = base.select(*id_cols, "_norm", F.explode_outer(starts).alias("_i"))
    hashed = chunks.select(
        *id_cols,
        md5_long(
            F.substring(F.col("_norm"), F.col("_i"), window)
        ).alias("_ch"),
    )
    return hashed.groupBy(*id_cols).agg(F.min("_ch").alias("fp"))


def text_profile(df: DataFrame) -> DataFrame:
    """One-pass profile: all stats as columns."""
    t = F.col("text")
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        F.round(punct_ratio(t), 5).alias("punct_ratio"),
        F.round(alpha_ratio(t), 5).alias("alpha_ratio"),
        F.round(mean_word_length(t), 5).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        detect_language(t).alias("pred_lang"),
        fingerprint(t).alias("fingerprint"),
    )


# Gopher repetition-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", table A1 —
# public paper; the reference repo has no counterpart). Shared literally
# with the DuckDB oracle.
GOPHER_MIN_WORDS = 20
GOPHER_MEAN_WORD_LEN = (3.0, 10.0)
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_TOP_NGRAM_MAX_FRAC = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX_FRAC = {5: 0.15, 10: 0.10}


def alpha_word_frac(text: Column) -> Column:
    """Fraction of whitespace tokens containing at least one ``[a-z]``.

    Codegen form (no HOF): prepend one space to the edge-stripped lowered
    text and count ``\\s[^\\s]*?[a-z]`` — each match starts at a token
    boundary (the pattern consumes the boundary whitespace, so a second
    match can never begin inside the same token) and the lazy run stops at
    the first letter, so a token with a letter is counted exactly once and
    a letterless token never matches."""
    s = _stripped_lower(text)
    n_tok = token_count(text)
    hits = F.regexp_count(
        F.concat(F.lit(" "), s), F.lit(r"\s[^\s]*?[a-z]")
    )
    return F.when(n_tok > 0, hits / n_tok).otherwise(F.lit(0.0))


def gopher_stats_frame(df: DataFrame) -> DataFrame:
    """Gopher-style repetition/quality signal bundle, one row per document:

    ``n_words``, ``mean_word_len``, ``alpha_word_frac`` (per-row codegen
    maps, no shuffle), ``top_{2,3,4}gram_frac`` (character share of the
    single most frequent word n-gram) and ``dup_{5,10}gram_frac``
    (character share of n-grams occurring more than once), plus the
    boolean ``gopher_pass`` conjunction of the published thresholds.

    Scale path: ONE long gram frame — explode(n ∈ {2,3,4,5,10}) ×
    explode(start) → ``array_join(slice(wds, i, n))`` (all whole-stage
    codegen, no HOF lambdas) → ``groupBy(id, n, gram).count()`` with
    map-side partial aggregation, → ``groupBy(id, n)`` → conditional-MAX
    pivot to one row per document. The shuffle carries (id, n, gram)
    partial counts — the same cost profile as the MinHash shingle
    pipeline (operators/dedup.py), linear in corpus size; nothing is
    quadratic and nothing collects. Character share uses the gram's
    string length (words + single joining spaces), identical on the
    DuckDB side.

    Runs Spark jobs while the DataFrame is built: it goes through
    `spread_rows`, whose partition-count probe executes every shuffle stage
    upstream of the input under AQE."""
    t = F.col("text")
    wds = tokens(t)
    # spread the scan ahead of tokenisation + the gram explode (the
    # pipeline's CPU hot spot — measured as a 1.4 s single task on a
    # one-row-group input); no-op when the source is already parallel
    df = spread_rows(df.select("doc_id", "text"))
    base = df.select(
        F.col("doc_id").alias("_id"),
        wds.alias("_wds"),
        token_count(t).alias("n_words"),
        F.round(mean_word_length(t), 5).alias("mean_word_len"),
        F.round(alpha_word_frac(t), 6).alias("alpha_word_frac"),
    )
    ns = sorted(set(GOPHER_TOP_NGRAM_MAX_FRAC) | set(GOPHER_DUP_NGRAM_MAX_FRAC))
    nw = F.size(F.col("_wds"))
    grams = (
        base.select(
            "_id",
            "_wds",
            F.explode(F.array(*[F.lit(n) for n in ns])).alias("_n"),
        )
        .where(nw >= F.col("_n"))
        .select(
            "_id",
            "_n",
            "_wds",
            F.explode(
                F.sequence(F.lit(1), nw - F.col("_n") + 1)
            ).alias("_i"),
        )
        .select(
            "_id",
            "_n",
            F.array_join(
                F.slice(F.col("_wds"), F.col("_i"), F.col("_n")), " "
            ).alias("_gram"),
        )
    )
    # Shuffle a 64-bit gram hash + length, never the gram string: the
    # (id, n, gram) keys are mostly unique so partial aggregation cannot
    # collapse them, and the n<=10-word gram strings dominated the
    # exchange (~3x the bytes of the hashed form). Same trick as
    # doc_fingerprints' LONG min-keys; counts-by-hash == counts-by-string
    # up to 64-bit collisions (the dedup family's accepted risk class,
    # at 2^-64 per in-document pair far below it).
    hashed = grams.select(
        "_id", "_n",
        F.xxhash64("_gram").alias("_gh"),
        F.length("_gram").alias("_glen"),
    )
    counted = hashed.groupBy("_id", "_n", "_gh").agg(
        F.count("*").alias("_cnt"), F.max("_glen").alias("_glen")
    )
    counted = counted.select(
        "_id", "_n", "_cnt", (F.col("_cnt") * F.col("_glen")).alias("_cl")
    )
    per_n = counted.groupBy("_id", "_n").agg(
        (F.max("_cl") / F.sum("_cl")).alias("_top_frac"),
        (
            F.sum(F.when(F.col("_cnt") > 1, F.col("_cl")).otherwise(F.lit(0)))
            / F.sum("_cl")
        ).alias("_dup_frac"),
    )
    pivot_aggs = []
    for n in GOPHER_TOP_NGRAM_MAX_FRAC:
        pivot_aggs.append(
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("_n") == n, F.col("_top_frac"))),
                    F.lit(0.0),
                ),
                6,
            ).alias(f"top_{n}gram_frac")
        )
    for n in GOPHER_DUP_NGRAM_MAX_FRAC:
        pivot_aggs.append(
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("_n") == n, F.col("_dup_frac"))),
                    F.lit(0.0),
                ),
                6,
            ).alias(f"dup_{n}gram_frac")
        )
    pivoted = per_n.groupBy("_id").agg(*pivot_aggs)
    joined = base.drop("_wds").join(pivoted, "_id", "left")
    for n in GOPHER_TOP_NGRAM_MAX_FRAC:
        joined = joined.withColumn(
            f"top_{n}gram_frac", F.coalesce(F.col(f"top_{n}gram_frac"), F.lit(0.0))
        )
    for n in GOPHER_DUP_NGRAM_MAX_FRAC:
        joined = joined.withColumn(
            f"dup_{n}gram_frac", F.coalesce(F.col(f"dup_{n}gram_frac"), F.lit(0.0))
        )
    lo, hi = GOPHER_MEAN_WORD_LEN
    passed = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("mean_word_len") >= lo)
        & (F.col("mean_word_len") <= hi)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
    )
    for n, mx in GOPHER_TOP_NGRAM_MAX_FRAC.items():
        passed = passed & (F.col(f"top_{n}gram_frac") <= mx)
    for n, mx in GOPHER_DUP_NGRAM_MAX_FRAC.items():
        passed = passed & (F.col(f"dup_{n}gram_frac") <= mx)
    return joined.select(
        F.col("_id").alias("doc_id"),
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        *[f"top_{n}gram_frac" for n in GOPHER_TOP_NGRAM_MAX_FRAC],
        *[f"dup_{n}gram_frac" for n in GOPHER_DUP_NGRAM_MAX_FRAC],
        passed.alias("gopher_pass"),
    )


def zipf_fit_frame(df: DataFrame) -> DataFrame:
    """Per-group Zipf rank-frequency fit: OLS slope/intercept of
    ln(freq) on ln(rank) over the token frequency table (Zipf 1949;
    slope ≈ -1 for natural language — a corpus whose slope is far off is
    machine-generated, truncated, or deduplicated into oblivion, making
    this a cheap corpus-health signal).

    Engine-parity determinism: both logs are quantised with round(…, 6)
    and cast to DECIMAL(12,6) BEFORE the regression sums, so Σx, Σy,
    Σxy, Σx² are exact decimal arithmetic (reduction order cannot drift)
    and the final slope/intercept divisions run on identical doubles.

    Scale shape: explode tokens → groupBy(group, token) count (map-side
    partial agg) → rank via row_number over (group) — the only
    per-group serial step, one window over the VOCABULARY (not the
    corpus; |V| ≪ N) — → one final groupBy(group) of decimal sums."""
    from pyspark.sql import Window

    toks = df.select(
        F.col("lang").alias("_g"),
        F.explode(tokens(F.col("text"))).alias("_w"),
    )
    freqs = toks.groupBy("_g", "_w").agg(F.count("*").alias("_f"))
    w = Window.partitionBy("_g").orderBy(F.desc("_f"), F.asc("_w"))
    ranked = freqs.select(
        "_g", "_f", F.row_number().over(w).alias("_r")
    )
    x = F.round(F.log(F.col("_r").cast("double")), 6).cast("decimal(12,6)")
    y = F.round(F.log(F.col("_f").cast("double")), 6).cast("decimal(12,6)")
    terms = ranked.select(
        "_g",
        F.col("_f"),
        x.alias("_x"),
        y.alias("_y"),
        (x * y).alias("_xy"),
        (x * x).alias("_xx"),
    )
    agg = terms.groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.sum("_f").alias("total_tokens"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum("_xy").cast("double").alias("_sxy"),
        F.sum("_xx").cast("double").alias("_sxx"),
    )
    n = F.col("_n").cast("double")
    denom = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / denom
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    return agg.select(
        F.col("_g").alias("lang"),
        F.col("_n").alias("vocab"),
        "total_tokens",
        F.when(denom != 0, F.round(slope, 6)).alias("zipf_slope"),
        F.when(denom != 0, F.round(intercept, 6)).alias("zipf_intercept"),
    )


def type_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens (1.0 for empty text by
    convention — an empty document is not 'repetitive'). Narrow, pure
    Column; the machine-generated-boilerplate quality signal that
    complements the n-gram repetition score."""
    t = tokens(text)
    return F.when(
        F.size(t) > 0,
        F.size(F.array_distinct(t)).cast("double") / F.size(t),
    ).otherwise(F.lit(1.0))


def spread_rows(df: DataFrame) -> DataFrame:
    """Adaptive scan-spread for CPU-heavy per-row pipelines (the
    `_shingle_base` rule, factored out): if the frame currently has
    fewer partitions than the cluster has cores, round-robin
    repartition it to the default parallelism; otherwise return it
    UNCHANGED.

    Why: a small parquet file is one row group, one row group is one
    scan task, and every regex/explode/gram stage stacked on that scan
    inherits the single task — measured at sf0.1 as 1.4-2.5 s
    single-task stages (c4_clean, gopher grams, boilerplate) while 31
    cores idle. On a real corpus (splits ≥ cores) the condition is
    false and no shuffle is added, so this is scale-adaptive, not a
    local[32] tuning: it moves each projected row exactly once, and
    only when the input layout under-parallelises the cluster (guide
    §2.5 'input skew: one huge unsplittable file... repartition
    immediately after the read').

    Runs Spark jobs while the DataFrame is built:
    `df.rdd.getNumPartitions()` has to plan the input, and under AQE
    planning executes every shuffle stage upstream of it, each as its own
    job."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    # The repartition alone is NOT enough: the optimizer pushes filters
    # and collapses projections straight through an Exchange, sinking
    # the caller's regex/extract work back into the single scan task
    # (measured on c4_clean: the page-rule regexes ran below the
    # exchange, 2.2 s in one task, and the spread bought nothing). A
    # one-element explode of the packed row is the established barrier
    # (`_shingle_base`): Generate evaluates once per row and nothing is
    # pushed through it, so per-row work stacked on the result runs on
    # the spread partitions. Same rows, same columns, same types.
    cols = df.columns
    return (
        df.repartition(parallelism)
        .select(F.explode(F.array(F.struct(*cols))).alias("_spread"))
        .select(*[F.col(f"_spread.{c}").alias(c) for c in cols])
    )


def release_local_checkpoint(df: DataFrame | None) -> None:
    """Deterministically free the blocks of a SUPERSEDED lazy
    localCheckpoint.

    `localCheckpoint` stores its partitions as cached RDD blocks that
    `spark.catalog.clearCache()` does NOT touch (they are not in the SQL
    cache manager); they are reclaimed only when the JVM garbage-collects
    the RDD. An iterative operator that checkpoints per round therefore
    leaks every round's blocks for the session lifetime — measured:
    repeated dedup_clusters runs in one JVM climbed 7 → 15 s as dead
    label checkpoints filled the block manager. Callers invoke this on a
    round's frame as soon as the NEXT round's checkpoint has been
    materialised by an action (never on a frame a returned plan still
    references — a released localCheckpoint cannot be recomputed).

    Reaches the checkpointed RDD through the analyzed `LogicalRDD`;
    silently a no-op for any other plan shape."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — best-effort release, never on the query path
        pass
