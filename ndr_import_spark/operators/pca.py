"""Distributed PCA: one-pass integer gram matrix + lattice power iteration.

No reference counterpart (net-new, north-star LLM-pipeline surface):
principal components over an embedding column back outlier pruning,
whitening, and low-rank corpus diagnostics. The classic distributed
formulation (MLlib ``RowMatrix.computeGramianMatrix`` + driver-side
eigensolve; Halko et al. 2011 for the randomized variants) splits into

* **one corpus-scale pass** — per-partition outer products ``Qᵀ Q``
  accumulated into a d×d partial, then a (d², partial) shuffle of
  partition-count × d² rows, NOT corpus × d² (the naive long-form
  self-join on the row id would shuffle the whole corpus d² times); and
* **bounded-state iteration** — power iteration on the d×d matrix, the
  same collect-between-rounds pattern as `clustering.kmeans_lattice`.

Determinism playbook (see operators/graph.py, clustering.py): components
quantise to ``round(double(v) · 127)`` — int64 outer products are exact,
so the gram matrix is a single integer answer any executor count
reproduces. The homogeneous-coordinate trick makes one aggregate carry
everything: each vector is augmented with a constant 1, so the (d+1)²
gram has ``G[d][j] = Σ qⱼ`` (the column sums) and ``G[d][d] = n``.

Centering stays integral with a floored cross term:
``C_ij = G_ij - floor(S_i·S_j / n)`` (|S_i·S_j| < 2⁵³ keeps the double
quotient exact on both engines). Power iteration then runs K fixed
rounds of ``y = C·x`` with a truncating rescale ``x' = sign(y) ·
(|y| div max(1, max|y| div VSCALE))`` — every step integer, so the
DuckDB transcription (`pca_oracle_sql`) and a 1000-executor run agree
bit-for-bit whether or not the iteration has converged.

Overflow budget (BIGINT): |C| ≤ 2n·127², |x| ≤ 2·VSCALE, so
|y| ≤ d·|C|·|x| ≈ 5·10¹⁷ at n = 6·10⁶ rows with VSCALE = 10⁶ — drop
VSCALE one decade per 10× rows beyond that.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import local_frame

PCA_QSCALE = 127          # shared with clustering.KMEANS_SCALE
PCA_VSCALE = 1_000_000    # power-iteration vector lattice
PCA_ROUNDS = 8


def augmented_gram(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    scale: int = PCA_QSCALE,
) -> DataFrame:
    """(di, dj, g): the (dim+1)² integer gram matrix of the quantised
    embeddings augmented with a constant-1 coordinate (row/col `dim`
    carries the per-dimension sums; cell (dim, dim) carries the count).

    Arrow-batched ``mapInPandas``: each batch contributes one exact
    int64 ``QᵀQ`` partial (numpy integer matmul), so the shuffle is
    (batches × (dim+1)²) rows — corpus size never reaches the exchange.
    """
    import numpy as np

    d1 = dim + 1

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((d1, d1), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf[vec_col].values).astype(np.float64)
            q = np.rint(v * scale).astype(np.int64)
            q = np.hstack([q, np.ones((q.shape[0], 1), dtype=np.int64)])
            acc += q.T @ q
            seen = True
        if seen:
            ii, jj = np.meshgrid(np.arange(d1), np.arange(d1), indexing="ij")
            yield pd.DataFrame(
                {"di": ii.ravel(), "dj": jj.ravel(), "g": acc.ravel()}
            )

    return (
        df.select(vec_col)
        .mapInPandas(partials, "di int, dj int, g long")
        .groupBy("di", "dj")
        .agg(F.sum("g").alias("g"))
    )


def _power_iteration(
    cov: list[list[int]],
    rounds: int = PCA_ROUNDS,
    vscale: int = PCA_VSCALE,
) -> list[int]:
    """Driver-side exact-integer power iteration on the bounded d×d
    matrix (the kmeans collect-between-rounds pattern; Python ints are
    exact, and the documented budget keeps every value inside BIGINT so
    the SQL transcription computes the identical lattice points)."""
    d = len(cov)
    x = [vscale] * d
    for _ in range(rounds):
        y = [sum(cov[i][j] * x[j] for j in range(d)) for i in range(d)]
        div = max(1, max(abs(v) for v in y) // vscale)
        x = [(abs(v) // div) * (-1 if v < 0 else 1) for v in y]
    return x


def pca_first_component(df: DataFrame, dim: int) -> DataFrame:
    """(d, mean_q, pc1_q): integer-lattice mean and first principal
    direction of the embedding column. One corpus pass (augmented gram),
    then exact-integer centering + power iteration on the d×d state."""
    rows = augmented_gram(df, dim, "embedding", PCA_QSCALE).collect()
    g = [[0] * (dim + 1) for _ in range(dim + 1)]
    for r in rows:
        g[r["di"]][r["dj"]] = r["g"]
    n = g[dim][dim]
    s = [g[dim][j] for j in range(dim)]
    import math

    means = [int(math.floor(s[i] / n)) for i in range(dim)]
    cov = [
        [g[i][j] - int(math.floor(s[i] * s[j] / n)) for j in range(dim)]
        for i in range(dim)
    ]
    pc1 = _power_iteration(cov, PCA_ROUNDS, PCA_VSCALE)
    spark = df.sparkSession
    return local_frame(
        spark,
        [(i, means[i], pc1[i]) for i in range(dim)],
        "d int, mean_q long, pc1_q long",
    )


def pca_oracle_sql(dim: int = 64) -> str:
    """DuckDB transcription of `pca_first_component`, unrolled: the same
    augmented gram (lateral unnest pair join — fine at oracle scale),
    floored centering, and PCA_ROUNDS matvec/rescale CTE pairs. MATERIALIZED
    throughout: each state is referenced more than once per round and
    DuckDB's default CTE inlining would re-evaluate the chain
    exponentially."""
    parts = [f"""WITH dims AS MATERIALIZED (
  SELECT vec_id AS rid, i - 1 AS d,
         CASE WHEN i <= {dim}
              THEN CAST(round(CAST(embedding[i] AS DOUBLE) * {PCA_QSCALE}) AS BIGINT)
              ELSE 1 END AS q
  FROM embeddings, unnest(generate_series(1, {dim} + 1)) AS t(i)
), gram AS MATERIALIZED (
  SELECT a.d AS di, b.d AS dj, CAST(sum(a.q * b.q) AS BIGINT) AS g
  FROM dims a JOIN dims b USING (rid) GROUP BY a.d, b.d
), nn AS (SELECT g AS n FROM gram WHERE di = {dim} AND dj = {dim}),
sums AS MATERIALIZED (
  SELECT dj AS d, g AS s FROM gram WHERE di = {dim} AND dj < {dim}
), cov AS MATERIALIZED (
  SELECT g.di, g.dj,
         g.g - CAST(floor(CAST(sa.s * sb.s AS DOUBLE) / nn.n) AS BIGINT) AS c
  FROM gram g JOIN sums sa ON sa.d = g.di JOIN sums sb ON sb.d = g.dj, nn
  WHERE g.di < {dim} AND g.dj < {dim}
), v0 AS MATERIALIZED (
  SELECT d, CAST({PCA_VSCALE} AS BIGINT) AS x FROM sums
)"""]
    for k in range(PCA_ROUNDS):
        parts.append(f""", y{k} AS MATERIALIZED (
  SELECT cov.di AS d, CAST(sum(cov.c * v.x) AS BIGINT) AS y
  FROM cov JOIN v{k} v ON cov.dj = v.d GROUP BY cov.di
), dv{k} AS MATERIALIZED (
  SELECT greatest(1, CAST(max(abs(y)) AS BIGINT) // {PCA_VSCALE}) AS dd FROM y{k}
), v{k + 1} AS MATERIALIZED (
  SELECT d, CASE WHEN y < 0 THEN -(abs(y) // dd) ELSE abs(y) // dd END AS x
  FROM y{k}, dv{k}
)""")
    parts.append(f"""
SELECT s.d, CAST(floor(CAST(s.s AS DOUBLE) / nn.n) AS BIGINT) AS mean_q,
       v.x AS pc1_q
FROM sums s JOIN v{PCA_ROUNDS} v ON v.d = s.d, nn
ORDER BY s.d""")
    return "".join(parts)
