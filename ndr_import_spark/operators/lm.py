"""Distributed n-gram language-model scoring (Stupid Backoff).

No reference counterpart (net-new, north-star LLM-pipeline surface):
count-based LM scoring is the classic perplexity-style quality filter for
web-scale training corpora, and Stupid Backoff (Brants et al. 2007,
"Large Language Models in Machine Translation" — public paper) is the
canonical distributed form: no discounting or normalisation passes, just
raw counts, so training IS two groupBy-count aggregations and scoring is
two hash joins — the whole pipeline is shuffle-friendly at any scale.

Score of a bigram (w1, w2) against counts from the training split:

    S(w2|w1) = c(w1 w2) / c(w1)          if the bigram was seen
             = alpha * c(w2) / T          else, if w2 was seen
             = alpha * (alpha / T)        else (OOV floor)

with alpha = 0.4 (the paper's constant). Per-document quality score is
the mean log10(S) over adjacent-token pairs.

Determinism for the engine-parity oracle: integer count ratios divide
identically under IEEE-754 on both engines; the only transcendental,
log10, is quantised with round(…, 6) BEFORE the per-document sum, and
the sum runs over DECIMAL(12,6) so reduction order cannot perturb it.

100 TB notes: token/bigram count frames collapse map-side before their
exchanges (partial aggregation); scoring joins shuffle on the gram keys
— for a fixed training vocabulary, broadcast the count frames instead
(they are |V| and |V²∩corpus| rows, not corpus-sized). No collects, no
UDFs, no HOF lambdas anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens

LM_ALPHA = 0.4


def _token_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) for every adjacent token pair — explode of start
    positions + element_at, all codegen, no self-join."""
    wds = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), wds.alias("_wds"))
    nw = F.size(F.col("_wds"))
    return (
        base.where(nw >= 2)
        .select(
            "_id",
            "_wds",
            F.explode(F.sequence(F.lit(1), nw - 1)).alias("_i"),
        )
        .select(
            "_id",
            F.element_at(F.col("_wds"), F.col("_i")).alias("w1"),
            F.element_at(F.col("_wds"), F.col("_i") + 1).alias("w2"),
        )
    )


def train_bigram_counts(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(unigram counts, bigram counts, total-token scalar) from a corpus.
    Unigrams come from the full token stream (not just pair members), so
    T = Σ c(w) is the corpus token count."""
    toks = df.select(F.explode(tokens(F.col("text"))).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c1"))
    bi = (
        _token_pairs(df, "doc_id", "text")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    total = uni.agg(F.sum("c1").alias("_t"))
    return uni, bi, total


def score_stupid_backoff(
    df: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    total: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_pairs, backoff_pairs, avg_logprob) per scored document.

    ``backoff_pairs`` counts pairs that fell through to the unigram /
    OOV path — a direct novelty signal against the training split."""
    pairs = _token_pairs(df, id_col, text_col)
    scored = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "_c1w1"), "w1", "left")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "_c1w2"), "w2", "left")
        .crossJoin(F.broadcast(total))
    )
    uni_s = F.when(
        F.col("_c1w2").isNotNull(), F.col("_c1w2") / F.col("_t")
    ).otherwise(F.lit(LM_ALPHA) / F.col("_t"))
    s = F.when(
        F.col("c2").isNotNull(), F.col("c2") / F.col("_c1w1")
    ).otherwise(F.lit(LM_ALPHA) * uni_s)
    lp = F.round(F.log10(s), 6).cast("decimal(12,6)")
    hit = F.when(F.col("c2").isNull(), F.lit(1)).otherwise(F.lit(0))
    return (
        scored.select(F.col("_id"), lp.alias("_lp"), hit.alias("_bo"))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("_bo").alias("backoff_pairs"),
            F.round(
                F.sum("_lp").cast("double") / F.count("*"), 6
            ).alias("avg_logprob"),
        )
        .withColumnRenamed("_id", id_col)
    )


def perplexity_buckets(
    df: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    total: DataFrame,
) -> DataFrame:
    """CCNet-style quality partitioning (Wenzek et al. 2020, public): rank
    each scored document by LM log-probability within its language and
    split into 3 ntile buckets (1 = head/most-fluent … tail);
    per (lang, bucket) report size, mean log-prob and backoff rate.

    Determinism: the per-doc score is the 6dp-quantised DECIMAL the LM
    emits, ranking ties break on doc_id, and bucket means sum DECIMALs
    (order-free) before one final double division. Scale: ntile costs a
    per-language sort — the CCNet paper itself thresholds on percentiles
    estimated from a sample, which is the drop-in replacement once a
    single language outgrows a sort (the bucket columns stay identical)."""
    scored = score_stupid_backoff(df, uni, bi, total, "doc_id", "text")
    j = scored.join(df.select("doc_id", "lang"), "doc_id")
    j = j.withColumn("_lp", F.col("avg_logprob").cast("decimal(12,6)"))
    w = Window.partitionBy("lang").orderBy(
        F.col("_lp").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("bucket", F.ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("_lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_logprob"),
            F.round(
                F.sum("backoff_pairs").cast("double")
                / F.sum("n_pairs").cast("double"),
                6,
            ).alias("backoff_rate"),
        )
    )
