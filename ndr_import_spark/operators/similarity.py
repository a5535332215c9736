"""Similarity search over embedding columns (array<float/double>).

Net-new scale operators (BASELINE.json north_star):

* brute-force cosine top-k — `zip_with`/`aggregate` dot products, pure
  Catalyst; queries are broadcast so the scan stays embarrassingly parallel;
* LSH (random-hyperplane sign buckets) — deterministic md5-derived
  hyperplanes, narrow signature map + bucket-key shuffle: the 100 TB path
  (compare only within buckets);
* IVF-style coarse quantisation — assign each vector to the nearest of k
  deterministic centroid seeds; probe only matching cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ndr_import_spark.operators.dedup import md5_long


def _matrix_literal(rows: list[list[float]]) -> Column:
    """2-D double-array literal built from ONE parsed SQL expression.

    Element-wise construction (`F.array(F.array(F.lit(w)...))`) costs one
    py4j round-trip per element — ~1.4 s of driver time for a 16x64
    matrix, paid at every plan build. A single `F.expr` string is one
    round-trip and parses JVM-side; `CAST('<repr>' AS DOUBLE)` survives
    constant folding with exact repr->parseDouble round-tripping (a bare
    SQL decimal literal would be DECIMAL-typed, not double)."""
    inner = ",".join(
        "array(" + ",".join(f"CAST('{w!r}' AS DOUBLE)" for w in r) + ")"
        for r in rows
    )
    return F.expr(f"array({inner})")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    corpus, window top-k per query. Deterministic tie-break on corpus id.

    Returns (query_id, vec_id, cos, rank)."""
    joined = df.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(cosine(F.col("embedding"), F.col("query_vec")), 5).alias("cos"),
    ).filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantized_ip_topk(df: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Inner-product top-k in the INT8-QUANTIZED domain: the search path
    that makes `quantize_embeddings` pay off — integer dot products over
    4× smaller vectors, exact integer arithmetic (no float accumulation
    order to worry about), broadcast query set, per-query top-k window.
    Rank is on (int_dot, id): fully deterministic and engine-exact. The
    caller rescales by scale_a·scale_b/127² (or rescores survivors with
    full-precision vectors) downstream.

    Returns (query_id, vec_id, int_dot, rank)."""
    joined = df.crossJoin(F.broadcast(queries))
    dot = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("query_qvec"),
            lambda a, b: (a * b).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        F.col("query_id"), F.col("vec_id"), dot.alias("int_dot")
    ).filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("int_dot").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane_signature(vec: Column, dim: int, planes: int = 16) -> Column:
    """`planes`-bit sign signature under deterministic ±1 hyperplanes.

    Hyperplane p's component for dimension i is +1 iff bit0 of
    md5('hp{p}:{i}') — reproducible anywhere (incl. a DuckDB oracle).

    Compiled as one nested transform over a 2-D plane-matrix literal
    (generated code ~planes-fold smaller than per-plane expressions; the
    per-plane fold arithmetic is unchanged, so signatures are
    bit-identical). 2^p weights come from exact double pow (p < 53)."""
    matrix = _matrix_literal([
        [1.0 if _md5_bit(f"hp{p}:{i}") else -1.0 for i in range(dim)]
        for p in range(planes)
    ])
    projs = F.transform(
        matrix,
        lambda pl: F.aggregate(
            F.zip_with(vec, pl, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    bits = F.transform(
        projs,
        lambda pr, i: F.when(pr > 0, F.pow(F.lit(2.0), i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def _md5_bit(s: str) -> bool:
    import hashlib
    return bool(int(hashlib.md5(s.encode()).hexdigest()[14], 16) & 1)


def lsh_bucket_candidates(
    df: DataFrame,
    dim: int,
    planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float | None = None,
) -> DataFrame:
    """Bucket by hyperplane signature; candidate pairs share a bucket.

    Returns (id_a, id_b, cos) for in-bucket pairs — the scale path where a
    full cross-join is impossible. `threshold` filters on the raw cosine
    (rounding happens after, for presentation)."""
    sig = hyperplane_signature(F.col(vec_col), dim, planes)
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), sig.alias("_sig"))
    left = base.alias("l")
    right = base.alias("r")
    pairs = (
        left.join(right, "_sig")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            cosine(F.col("l._v"), F.col("r._v")).alias("_cos"),
        )
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("_cos") >= threshold)
    return pairs.select("id_a", "id_b", F.round(F.col("_cos"), 5).alias("cos"))


# ---------------------------------------------------------------------------
# IVF-style coarse quantisation
# ---------------------------------------------------------------------------

def ivf_assign(df: DataFrame, n_cells: int = 16, dim: int = 64) -> DataFrame:
    """Assign each vector to its nearest deterministic pseudo-centroid.

    Centroid c's components are md5-derived values in [-1,1] — a stand-in
    for trained centroids (k-means training is a separate offline job);
    the *query path* (probe only matching cells) is the real scale
    mechanism being exercised.

    Compiled as a scores array + array_position argmax (ties → lowest cell
    id); a when-chain fold would nest every prior score into the next
    comparison (exponential expression growth)."""
    return _assign_to_centroids(df, seed_centroids(n_cells, dim), "embedding")


def _md5_unit(s: str) -> float:
    import hashlib
    return (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF) * 2 - 1


def seed_centroids(n_cells: int, dim: int) -> list[list[float]]:
    """Deterministic md5-derived centroid seeds in [-1, 1]^dim."""
    return [[_md5_unit(f"ivf{c}:{i}") for i in range(dim)] for c in range(n_cells)]


def _assign_to_centroids(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """argmax-dot cell assignment against literal centroids (ties → lowest
    cell id; same argmax-as-array mechanism as ivf_assign).

    The centroid matrix is ONE 2-D array literal scored by a nested
    transform, not n_cells copies of the dot expression — generated code
    shrinks ~n_cells-fold (Janino compile time was the dominant cost of
    the probe query), while the arithmetic (sequential fold per centroid)
    is unchanged, so oracle values are bit-identical."""
    matrix = _matrix_literal([[float(w) for w in c] for c in centroids])
    scores = F.transform(matrix, lambda c: dot(F.col(vec_col), c))
    cell = F.element_at(
        F.transform(
            F.array(scores),
            lambda s: (F.array_position(s, F.array_max(s)) - 1).cast("int"),
        ),
        1,
    )
    return df.withColumn("ivf_cell", cell)


def ivf_train_centroids(
    df: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    iters: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd iterations as a Spark job → centroid literals.

    Each round: assign every vector to its argmax-dot cell, then recompute
    each centroid as the per-dimension mean of its members (posexplode →
    (cell, dim) partial-aggregated mean: ONE narrow explode + one
    map-side-combined shuffle per round; only n_cells×dim tiny rows ever
    reach the driver). Means are rounded to 6 decimals so the
    trained literals are bit-reproducible across engines (a raw float avg
    varies in the last ulp with partition order); empty cells keep their
    previous centroid. Seeds are the md5-derived pseudo-centroids."""
    centroids = seed_centroids(n_cells, dim)
    for _ in range(iters):
        assigned = _assign_to_centroids(df, centroids, "embedding")
        rows = (
            assigned.select(
                "ivf_cell", F.posexplode(F.col("embedding")).alias("i", "x")
            )
            .groupBy("ivf_cell", "i")
            .agg(F.round(F.avg("x"), 6).alias("w"))
            .collect()
        )
        new = [list(c) for c in centroids]
        for r in rows:
            new[r["ivf_cell"]][r["i"]] = float(r["w"])
        centroids = new
    return centroids


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: ``q = round(127 *
    v / max|v|)`` plus the per-row scale — the standard 4x storage/IO cut
    for an ANN corpus (at 100 TB the float32 -> int8 squeeze is usually
    the difference between an index that fits on NVMe and one that
    doesn't). Adds a reconstruction-error column so a pipeline can gate
    on quantization quality.

    Narrow per-row arrays, no shuffle. The scale is emitted FIRST through
    a Generate barrier: the quantize and error expressions reference it
    per element, and Catalyst would otherwise inline the array_max fold
    at every reference.

    All-zero (or empty) vectors get scale 0.0 with an all-zero qvec and
    recon_err 0.0 — the divide uses a guarded divisor of 1.0 so no NULL
    ever propagates into downstream ANN stages (dequantization q*scale/127
    is exact either way)."""
    amax = F.array_max(F.transform(F.col("embedding"), F.abs))
    base = df.select(
        "vec_id",
        F.col("embedding").alias("_v"),
        F.explode(F.array(F.coalesce(amax, F.lit(0.0)))).alias("_scale"),
    )
    safe = F.when(F.col("_scale") > 0, F.col("_scale")).otherwise(F.lit(1.0))
    q = F.transform(
        F.col("_v"), lambda x: F.round(x * 127.0 / safe).cast("int")
    )
    base = base.select(
        "vec_id", "_v", "_scale", F.explode(F.array(q)).alias("_q")
    )
    err2 = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.col("_q"),
            lambda v, qi: (v - qi * F.col("_scale") / 127.0)
            * (v - qi * F.col("_scale") / 127.0),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return base.select(
        "vec_id",
        F.col("_q").alias("qvec"),
        F.col("_scale").alias("scale"),
        F.sqrt(err2).alias("recon_err"),
    )


def ivf_probe_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
) -> DataFrame:
    """IVF probe path: top-k cosine neighbours searching ONLY the query's
    cell (nprobe=1) — the 100 TB ANN mechanism, where the cell equi-join
    replaces the corpus cross-join. Queries are tiny → broadcast; the
    corpus side shuffles nothing (broadcast hash join on ivf_cell after a
    narrow assignment projection).

    Returns (query_id, vec_id, cos, rank) with the same ranking contract
    as cosine_topk (desc cosine, id tie-break)."""
    corpus = _assign_to_centroids(df, centroids, "embedding")
    probes = _assign_to_centroids(
        queries.withColumnRenamed("query_vec", "_qv"), centroids, "_qv"
    )
    joined = corpus.join(
        F.broadcast(probes.select("query_id", "_qv", "ivf_cell")), "ivf_cell"
    ).filter(F.col("query_id") != F.col("vec_id"))
    # rank on the ROUNDED cosine (like cosine_topk): near-ties then break
    # deterministically on id in any engine, instead of on last-ulp noise
    scored = joined.select(
        F.col("query_id"),
        F.col("vec_id"),
        F.round(cosine(F.col("embedding"), F.col("_qv")), 5).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def embedding_dim_stats(df: DataFrame) -> DataFrame:
    """Per-dimension profile of an embedding column — n, mean, sample std,
    min, max for every coordinate — the normalisation/whitening-design
    pass run before index build or quantisation.

    One posexplode Generate feeding a single map-side-combinable
    aggregate keyed by dimension (dim cardinality = vector width, so the
    shuffle is width-sized regardless of corpus size; no skew possible —
    every key holds exactly n rows). Mean/std come from EXACT decimal
    power sums of values rounded to 7 decimals (float32 inputs carry <7
    significant decimal digits, so the rounding is below input noise) and
    collapse to doubles only at the end — the same order-independent
    arithmetic as the moment aggregates, bit-stable across engines and
    repartitionings."""
    v = F.col("_v").cast("double")
    # decimal(15,7) operands: the product is decimal(31,14) which fits
    # precision 38 at FULL scale, so Catalyst never truncates it before
    # the cast below — with (20,7) operands the (41,14) product was
    # silently truncated to (38,11), drifting _s2 up to 5e-12/row off the
    # oracle's exact 14dp sum.  15,7 is the widest precision whose square
    # keeps the full 14dp scale: |v| < 1e8 casts exactly; beyond that the
    # cast nulls (non-ANSI) — so out-of-range components are COUNTED per
    # group and the job fails loudly (assert_true) instead of letting
    # nulled values drop out of the sums while still counting toward n,
    # which would silently bias the moments.
    rounded = F.round(v, 7).cast("decimal(15,7)")
    overflow_guard = F.assert_true(
        F.col("_n_overflow") == 0,
        F.lit(
            "embedding_dim_stats: |component| >= 1e8 exceeds the exact "
            "decimal(15,7) moment range — normalise or clip the embedding "
            "column first (real embedding magnitudes are O(1))"
        ),
    )
    return (
        df.select(F.posexplode(F.col("embedding")).alias("dim", "_v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rounded).alias("_s1"),
            F.sum((rounded * rounded).cast("decimal(38,14)")).alias("_s2"),
            F.round(F.min(v), 7).alias("min_v"),
            F.round(F.max(v), 7).alias("max_v"),
            F.sum(
                F.when(v.isNotNull() & rounded.isNull(), 1).otherwise(0)
            ).alias("_n_overflow"),
        )
        .select(
            "dim",
            "n",
            F.round(
                F.when(
                    overflow_guard.isNull(),
                    F.col("_s1").cast("double") / F.col("n"),
                ),
                6,
            ).alias("mean_v"),
            # the guard wraps BOTH moment outputs: a caller selecting only
            # std_v would otherwise prune mean_v together with its
            # assert_true and get silently biased moments after all
            F.round(
                F.when(
                    overflow_guard.isNull(),
                    F.sqrt(
                        (
                            F.col("_s2").cast("double")
                            - F.col("_s1").cast("double")
                            * F.col("_s1").cast("double")
                            / F.col("n")
                        )
                        / (F.col("n") - F.lit(1))
                    ),
                ),
                6,
            ).alias("std_v"),
            "min_v",
            "max_v",
        )
        .orderBy("dim")
    )
