"""Ranked retrieval over a document corpus: BM25 scoring.

No reference counterpart (the gem stops at record extraction). BM25 is
the classic lexical retrieval score a data pipeline uses for targeted
corpus search (find documents about X) and for quality-weighted
per-source selection; it extends the repo's TF-IDF top-terms operator
(`corpus.tfidf_top_terms`) with length-normalised term-frequency
saturation.

score(d, q) = sum over query terms t of
    idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  [Robertson-Sparck Jones].

Scale design: the query-term list is tiny and broadcast as literals via
`isin` — the corpus-side explode is filtered to query terms BEFORE the
(doc, term) aggregation, so the shuffle carries only matching tokens,
not the corpus vocabulary. Corpus-level scalars (N, avgdl) come from one
map-side-combinable aggregate cross-joined as a 1-row broadcast. Top-k
uses the same bounded two-phase rank as `corpus.per_source_cap` — no
global single-reducer sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ndr_import_spark.operators.textstats import token_count, tokens

# BM25 term-frequency saturation and length normalisation, shared by the
# single-query and batch scorers.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Top-k documents by BM25 score for the query `terms`.

    Returns (id, n_terms_hit, score) with score rounded to 6dp; ranking
    is (rounded score DESC, id ASC) so the cut is deterministic across
    engines and partitionings.
    """
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    # dedupe case-insensitively: repeated query terms must not
    # double-count in score or n_terms_hit
    lterms = list(dict.fromkeys(t.lower() for t in terms))
    # ONE corpus scan: explode tokens once, then a single combinable
    # aggregate per document yields the doc length AND every query term's
    # tf as pivoted columns (the term list is tiny and literal). The only
    # other corpus touch is a count-only scan for N (column-pruned, no
    # tokenisation) so empty documents still count toward N and avgdl.
    exploded = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("_t")
    )
    # per_doc is consumed twice (corpus stats + scoring); the lazy
    # localCheckpoint materialises it once on first action and reuses the
    # stored partitions — same multi-consumer pattern as training_mix
    per_doc = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_dl"),
        *[
            F.sum(F.when(F.col("_t") == t, 1).otherwise(0)).alias(f"_tf{i}")
            for i, t in enumerate(lterms)
        ],
    ).localCheckpoint(eager=False)
    n_total = docs.select(F.col("doc_id")).agg(F.count(F.lit(1)).alias("_n"))
    # ONE auxiliary aggregate yields the token total (== sum of per-doc
    # dl; empty docs add 0) AND every term's document frequency
    aux = (
        per_doc.agg(
            F.sum("_dl").alias("_sumdl"),
            *[
                F.sum(F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0)).alias(
                    f"_df{i}"
                )
                for i in range(len(lterms))
            ],
        )
        .crossJoin(F.broadcast(n_total))
        .withColumn("_avgdl", F.col("_sumdl").cast("double") / F.col("_n"))
    )
    joined = per_doc.crossJoin(F.broadcast(aux))

    def term_score(i: int):
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5))
            / (F.col(f"_df{i}") + F.lit(0.5))
        )
        s = (
            idf
            * tf
            * F.lit(BM25_K1 + 1.0)
            / (
                tf
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("_dl") / F.col("_avgdl"))
            )
        )
        return F.when(F.col(f"_tf{i}") > 0, s).otherwise(F.lit(0.0))

    hits = sum(
        (F.when(F.col(f"_tf{i}") > 0, 1).otherwise(0) for i in range(len(lterms))),
        F.lit(0),
    )
    total = sum((term_score(i) for i in range(len(lterms))), F.lit(0.0))
    scored = (
        joined.withColumn("n_terms_hit", hits.cast("int"))
        .filter(F.col("n_terms_hit") > 0)
        .select(
            "doc_id", "n_terms_hit", F.round(total, 6).alias("score")
        )
    )
    # bounded two-phase top-k: per-salt partial rank, then rank the
    # <= 16 * k survivors (same shape as corpus.per_source_cap)
    salted = scored.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16))
    )
    w1 = Window.partitionBy("_salt").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    survivors = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy().orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def positional_postings(
    df: DataFrame,
    terms: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, term) positional inverted-index postings — posexplode
    over the whitespace tokens. `terms` prunes corpus-side BEFORE any
    shuffle (broadcast `isin` literal filter): phrase matching only ever
    needs the postings of the phrase's own words, so the exchange carries
    matching tokens, never the corpus vocabulary."""
    out = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    )
    if terms is not None:
        out = out.filter(F.col("term").isin(list(set(terms))))
    return out


def phrase_search(df: DataFrame, phrases: list[str]) -> DataFrame:
    """(phrase, n_docs, n_hits): exact-phrase occurrence counts via the
    classic positional-index join — term_i postings equijoined on
    (doc, first-term position) with `pos - i` realignment (Manning et al.
    IR ch. 2, public). One corpus scan builds the pruned postings for ALL
    phrases; each phrase then chains vocabulary-filtered joins whose
    inputs are posting-list-sized, so a 100 TB corpus costs one scan plus
    joins proportional to the phrase terms' document frequency. Phrases
    with zero hits produce no row (both engines agree).

    The DuckDB oracle mirrors the positional algebra independently
    (lateral-unnest postings + per-phrase offset self-joins) — the
    dual-pipeline pattern, since RE2's lack of lookaround makes a
    regexp-count oracle miss back-to-back phrase repeats."""
    vocab = set()
    parsed: list[tuple[str, list[str]]] = []
    for p in phrases:
        ts = [t for t in p.lower().split() if t]
        if ts:
            parsed.append((p, ts))
            vocab.update(ts)
    if not parsed:
        raise ValueError(
            "phrase_search: no non-empty phrases (got "
            f"{len(phrases)} entries, all empty/whitespace)"
        )
    # Materialise the pruned postings ONCE (vocabulary-filtered, so tiny
    # relative to the corpus): every per-phrase join chain re-reads this
    # frame, and without the checkpoint each branch would re-scan the
    # corpus — ~2 scans per phrase instead of 1 total.
    post = positional_postings(df, sorted(vocab), "doc_id", "text")
    post = post.localCheckpoint(eager=True)
    per_phrase = []
    for phrase, ts in parsed:
        cur = (
            post.filter(F.col("term") == ts[0])
            .select("doc_id", F.col("pos").alias("p0"))
        )
        for i, t in enumerate(ts[1:], start=1):
            nxt = post.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - i).alias("p0")
            )
            cur = cur.join(nxt, ["doc_id", "p0"])
        per_phrase.append(
            cur.agg(
                F.lit(phrase).alias("phrase"),
                F.count_distinct(F.col("doc_id")).alias("n_docs"),
                F.count(F.lit(1)).alias("n_hits"),
            ).filter(F.col("n_hits") > 0)
        )
    out = per_phrase[0]
    for frame in per_phrase[1:]:
        out = out.unionByName(frame)
    return out


def phrase_search_oracle_sql(phrases: list[str]) -> str:
    """DuckDB positional-join transcription of `phrase_search`."""
    import json

    post = r"""WITH w AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS wds
  FROM documents
), post AS MATERIALIZED (
  SELECT doc_id, i AS pos, wds[i] AS term
  FROM w, unnest(generate_series(1, len(wds))) AS t(i)
)"""
    selects = []
    for p in phrases:
        ts = [t for t in p.lower().split() if t]
        if not ts:
            continue
        lit = json.dumps(p).replace("'", "''").strip('"')
        joins = " ".join(
            f"JOIN post t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.pos = t0.pos + {i} AND t{i}.term = '{t}'"
            for i, t in enumerate(ts[1:], start=1)
        )
        selects.append(f"""
  SELECT '{lit}' AS phrase,
         CAST(count(DISTINCT t0.doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM post t0 {joins}
  WHERE t0.term = '{ts[0]}'
  HAVING count(*) > 0""")
    body = "\nUNION ALL".join(selects)
    return f"{post}\nSELECT * FROM ({body}) ORDER BY phrase"


def bm25_batch_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query_id, doc_id, score): BM25 for a BATCH of queries at once —
    the realistic retrieval-eval shape. `queries` is a (query_id, term)
    frame; repeated terms within a query keep standard BM25 query-side
    multiplicity (each occurrence adds its term score).

    One corpus tokenising scan: tf aggregates only for tokens in the
    (broadcast, tiny) query vocabulary, so the shuffle carries matching
    tokens; document frequencies and corpus scalars derive from that
    same tf frame + a count-only scan. Scoring then joins the term →
    query mapping (broadcast) and folds per (query, doc) — volume is
    bounded by the query terms' document frequency, never N×queries."""
    # queries feeds the vocab distinct AND the scoring join; dl feeds the
    # corpus stats aggregate AND the per-doc length join. Un-barriered,
    # each consumer re-plans the subtree — for dl that is a SECOND full
    # corpus tokenise pass (r12: retrieval_self_eval's initial plan
    # carried 14 scans). queries is query-batch-sized; dl is narrow
    # (id, int) rows — both the right shape to materialise once.
    queries = queries.localCheckpoint(eager=False)
    vocab = queries.select(F.col("term").alias("_t")).distinct()
    dl = docs.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).alias("_dl")
    ).localCheckpoint(eager=False)
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
    )
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).join(F.broadcast(vocab), "_t")
    tf = toks.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_tf"))
    dft = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        queries.select("query_id", F.col("term").alias("_t"))
        .join(tf, "_t")
        .join(F.broadcast(dft), "_t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    tfd = F.col("_tf").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    s = (
        idf * tfd * F.lit(BM25_K1 + 1.0)
        / (
            tfd
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("_dl") / F.col("_avgdl"))
        )
    )
    return (
        scored.groupBy("query_id", id_col)
        .agg(F.round(F.sum(s), 6).alias("score"))
    )


def bm25_self_retrieval(
    docs: DataFrame,
    n_queries: int = 8,
    n_terms: int = 6,
) -> DataFrame:
    """(query_id, self_rank, rr): known-item retrieval sanity — each query
    is a document's own first `n_terms` tokens; the metric is the rank of
    that document among all BM25-scored docs (deterministic (score 6dp
    DESC, doc_id) order) and its reciprocal. A healthy index puts
    self_rank at or near 1; drift flags tokenisation or scoring bugs the
    absolute scores would hide."""
    q = (
        docs.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.slice(tokens(F.col("text")), 1, n_terms)
            ).alias("term"),
        )
    )
    scored = bm25_batch_scores(docs, q, "doc_id", "text")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("self_rank", F.row_number().over(w))
        .filter(F.col("doc_id") == F.col("query_id"))
        .select(
            "query_id",
            "self_rank",
            F.round(F.lit(1.0) / F.col("self_rank"), 5).alias("rr"),
        )
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    the standard hybrid-search combiner (BM25 lexical + embedding
    cosine): score(d) = Σ 1/(k + rank_i(d)) over the lists that ranked
    d, k=60 per the paper; both lists rank in a ``rank`` column.
    Full-outer join on the item id (an item found
    by only one ranker still scores), sum with missing-list terms as 0,
    deterministic (score 9dp DESC, id) cut to `topk`.

    Both inputs are top-k frames (bounded), so the join and the final
    rank are sketch-sized regardless of corpus scale — fusion cost is
    O(k), never O(corpus).

    Returns (id, rank_a, rank_b, rrf_score, fused_rank)."""
    fa = a.select(F.col(id_col).alias("_id"), F.col("rank").alias("rank_a"))
    fb = b.select(F.col(id_col).alias("_id"), F.col("rank").alias("rank_b"))
    fused = fa.join(fb, "_id", "full_outer")
    score = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_a")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_b")), F.lit(0.0)),
        9,
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("_id"))
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= int(topk))
        .select(
            F.col("_id").alias(id_col),
            "rank_a", "rank_b", "rrf_score", "fused_rank",
        )
    )
