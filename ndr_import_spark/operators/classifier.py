"""Distributed logistic-regression training on a decimal/integer lattice.

No reference counterpart (net-new, north-star LLM-pipeline surface):
training a small linear classifier over cheap corpus features is the
standard way quality / language / domain filters are fitted at scale
(fastText-style filters in CCNet & Gopher pipelines; Bottou 2010 for
SGD — here full-batch GD, the deterministic variant).

Execution shape per round — exactly one corpus-scale job:

* the margin ``m = Σ wⱼ·xⱼ`` folds the CURRENT weights in as literals
  (broadcast by the plan, no join), so the gradient is ONE map-side
  combinable aggregate of ``(σ(m) − y)·xⱼ`` per feature;
* the driver holds only the d-vector of weights between rounds (the
  kmeans/PCA bounded-state pattern). K rounds = K corpus passes —
  full-batch GD's honest cost; mini-batching per round is the standard
  scale knob and changes none of the arithmetic below.

Determinism playbook (memory: transcendentals → round(…,6) → DECIMAL):
weights live on an integer lattice (w_real = w / 10⁶); the margin is an
exact BIGINT dot product; the only transcendental, ``σ(m/10⁶)``, is
quantised to DECIMAL(8,6) immediately, so residuals and gradients are
exact decimal sums (reduction-order-free); the weight step
``round(gⱼ · lr, 0)`` is decimal round-half-away-from-zero on both
engines and Python (`decimal.ROUND_HALF_UP`). The DuckDB transcription
(`logreg_oracle_sql`) unrolls the identical recurrence, so the full
weight trajectory — not just the final fit — is the oracle surface.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import local_frame

LOGREG_WSCALE = 1_000_000
LOGREG_LR = "100.0"


def sigmoid_quantised(margin: Column, wscale: int = LOGREG_WSCALE) -> Column:
    """σ(margin / wscale) rounded to 6dp as DECIMAL(8,6) — the single
    transcendental, quantised before it can touch any aggregate."""
    arg = margin.cast("double") / F.lit(float(wscale))
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-arg)), 6).cast(
        "decimal(8,6)"
    )


def train_logreg_lattice(
    feat_df: DataFrame,
    feature_cols: list[str],
    rounds: int = 4,
    lr: str = LOGREG_LR,
) -> list[tuple[int, int, int]]:
    """Full-batch GD; returns the trajectory [(round, j, w_j)] for
    round = 1..rounds (post-update lattice weights)."""
    d = len(feature_cols)
    w = [0] * d
    lr_d = Decimal(lr)
    traj: list[tuple[int, int, int]] = []
    # Featurize the corpus ONCE: each GD round aggregates the same
    # (x..., y) frame, and without a barrier every round re-runs the
    # upstream featurization (tokenize/regex passes) per collect. The
    # projected frame is d+1 narrow ints per doc — far smaller than the
    # corpus at any scale — so K rounds over the cached features replace
    # K corpus passes; MEMORY_AND_DISK spills rather than evicts.
    from pyspark import StorageLevel

    feat_df = feat_df.select(
        *[F.col(c).cast("long").alias(c) for c in feature_cols], "y"
    ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    for r in range(1, rounds + 1):
        margin = None
        for j, c in enumerate(feature_cols):
            term = F.lit(w[j]) * F.col(c).cast("long")
            margin = term if margin is None else margin + term
        resid = sigmoid_quantised(margin, LOGREG_WSCALE) - F.col("y").cast(
            "decimal(8,6)"
        )
        aggs = [
            F.sum(resid * F.col(c).cast("decimal(10,0)")).alias(f"g{j}")
            for j, c in enumerate(feature_cols)
        ]
        row = feat_df.agg(*aggs).collect()[0]
        for j in range(d):
            g = Decimal(row[f"g{j}"]) if row[f"g{j}"] is not None else Decimal(0)
            step = (g * lr_d).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
            w[j] -= int(step)
        traj.extend((r, j, w[j]) for j in range(d))
    feat_df.unpersist(blocking=False)
    return traj


LONGFORM_TOKENS = 55      # teacher label: n_tokens >= this
LONGFORM_CENTERS = (38, 25, 3)   # chars div 8, distinct tokens, en stopwords


def longform_features(df: DataFrame) -> DataFrame:
    """Teacher-student distillation frame: the 'teacher' label is the
    token-count long-form rule (y = n_tokens ≥ 55); the student only
    sees cheap correlated proxies — centered char count (÷8), distinct
    token count, stopword hits — so the fitted weights genuinely
    reconstruct the signal rather than copy it. Centering constants are
    corpus medians fixed in the spec (they keep the bias step
    well-conditioned)."""
    from ndr_import_spark.operators.textstats import (
        stopword_count,
        token_count,
        tokens,
    )

    c1, c2, c3 = LONGFORM_CENTERS
    t = F.col("text")
    return df.select(
        F.lit(1).alias("x0"),
        (F.expr("length(text) div 8") - F.lit(c1)).alias("x1"),
        (F.size(F.array_distinct(tokens(t))) - F.lit(c2)).alias("x2"),
        (stopword_count(t) - F.lit(c3)).alias("x3"),
        (token_count(t) >= LONGFORM_TOKENS).cast("int").alias("y"),
    )


def trajectory_df(spark, traj: list[tuple[int, int, int]]) -> DataFrame:
    return local_frame(spark, traj, "round int, j int, w long")


def logreg_oracle_sql(rounds: int = 4) -> str:
    """DuckDB transcription of longform_features + train_logreg_lattice,
    unrolled: one feature CTE, then per round a single-row gradient CTE
    and a single-row weight CTE. Stopword counts use the list-membership
    form the lang_id oracle already proved equivalent to the Spark
    regexp_count form; `//` on the non-negative char count matches
    Spark's `div`."""
    from ndr_import_spark.operators.textstats import STOPWORDS

    toks = (
        "list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', "
        "'g'), ' '), x -> x <> '')"
    )
    arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    c1, c2, c3 = LONGFORM_CENTERS
    d = 4
    parts = [f"""WITH t AS (
  SELECT text, {toks} AS toks FROM documents
), feat AS MATERIALIZED (
  SELECT 1 AS x0,
         length(text) // 8 - {c1} AS x1,
         len(list_distinct(toks)) - {c2} AS x2,
         len(list_filter(toks, t -> list_contains({arr}, t))) - {c3} AS x3,
         CAST(len(toks) >= {LONGFORM_TOKENS} AS INT) AS y
  FROM t
), w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(d))})"""]
    for k in range(rounds):
        margin = " + ".join(f"w.w{j} * f.x{j}" for j in range(d))
        gsel = ", ".join(
            f"sum(resid * x{j}) AS g{j}" for j in range(d)
        )
        wsel = ", ".join(
            f"w.w{j} - CAST(round(COALESCE(g.g{j}, 0) * {LOGREG_LR}, 0) AS BIGINT) "
            f"AS w{j}"
            for j in range(d)
        )
        parts.append(f""", g{k} AS MATERIALIZED (
  SELECT {gsel} FROM (
    SELECT CAST(round(1.0 / (1.0 + exp(-(CAST({margin} AS DOUBLE)
                                         / {LOGREG_WSCALE}))), 6) AS DECIMAL(8,6))
           - CAST(f.y AS DECIMAL(8,6)) AS resid,
           {", ".join(f"f.x{j}" for j in range(d))}
    FROM feat f, w{k} w) s
), w{k + 1} AS (SELECT {wsel} FROM w{k} w, g{k} g)""")
    sels = "\nUNION ALL ".join(
        f'SELECT {k} AS "round", {j} AS j, w{j} AS w FROM w{k}'
        for k in range(1, rounds + 1)
        for j in range(d)
    )
    parts.append(f'\nSELECT * FROM ({sels}) ORDER BY "round", j')
    return "".join(parts)
