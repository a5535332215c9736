"""Engine-portable distinct-count sketch: KMV (k-minimum values).

No reference counterpart (the gem stops at record extraction); this is
the cardinality primitive a 100 TB profiling pass needs when an exact
`count(distinct)` would shuffle every key. Spark's built-in
`approx_count_distinct` (HLL++) is the production answer, but its
estimate is engine-private — it cannot be cross-checked against another
engine. KMV over a *portable* hash (md5, identical everywhere) gives an
estimator whose output is bit-reproducible across engines, which is what
the DuckDB oracle gate needs and what a migration-validation pipeline
wants: run old and new engine, diff the sketches exactly.

Estimator: hash each distinct key uniformly into [0, 2^60) (first 15 hex
chars of md5), keep the k smallest distinct hashes per group; with h_k
the k-th smallest, E[distinct] = (k-1) * 2^60 / h_k.

Plan shape at 100 TB: one dedup shuffle of (group, key-hash) pairs, then
TWO bounded window passes — first within (group, salt) so no single task
ever ranks more than ~1/salt_buckets of a hot group's hashes, then over
the ≤ salt_buckets*k survivors per group. The second window's input is
bounded by construction (not by data), so a mega-group cannot funnel a
reducer — the same two-phase top-k used by `corpus.per_source_cap`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^60: hashes are 15 md5 nibbles = 60 uniform bits
_HASH_SPACE = float(1 << 60)
HLL_P = 12  # HyperLogLog index bits: 2^12 registers
LOG2_HIST_SCALE = 100  # log2_histogram value units per 1.0 (batch and stream)


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 32,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per group: exact distinct count alongside the KMV estimate, its
    k-th minimum hash and the sketch size actually used (min(k, distinct)).

    The exact count is a VALIDATION extra: it consumes the distinct
    pairs a second time (a map-side-combinable count per group). A
    production profiling pass at 100 TB drops it — the estimate is the
    product; keeping it here lets the oracle gate and callers measure
    estimator error directly.
    """
    if k < 2:
        raise ValueError("kmv_distinct requires k >= 2")
    hash60 = F.conv(F.substring(F.md5(F.concat(F.lit("kmv:"), F.col(key_col).cast("string"))), 1, 15), 16, 10).cast("long")
    pairs = (
        df.select(*group_cols, F.col(key_col))
        .distinct()
        .withColumn("_h", hash60)
    )
    # phase 1: k smallest per (group, salt) — parallel across salts
    salted = pairs.withColumn("_salt", F.pmod(F.col("_h"), F.lit(salt_buckets)))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy("_h")
    survivors = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    # phase 2: global k smallest over <= salt_buckets*k rows per group
    w2 = Window.partitionBy(*group_cols).orderBy("_h")
    kmin = (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .groupBy(*group_cols)
        .agg(
            F.max("_h").alias("kth_min_hash"),
            F.count(F.lit(1)).cast("int").alias("sketch_k"),
        )
    )
    exact = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = F.when(
        F.col("sketch_k") < k,
        # fewer than k distinct values: the sketch IS the exact set
        F.col("sketch_k").cast("double"),
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(_HASH_SPACE)) / F.col("kth_min_hash").cast("double")
    )
    return (
        kmin.join(exact, group_cols)
        .withColumn("kmv_estimate", est)
        .select(*group_cols, "exact_distinct", "sketch_k", "kth_min_hash", "kmv_estimate")
    )


def _cms_cell(r, key, width: int):
    """Cell column for CMS row `r` and key `key`: md5('cms<r>:'||key)'s
    60-bit prefix mod width. THE single hash definition — build and
    estimate both compile through it, so the two sides cannot drift."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cms"), r, F.lit(":"), key)), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over a key stream:
    (row, col, cnt) cell frame, depth×width cells total.

    Portable hash family: row r maps key k to
    ``md5('cms<r>:' || k)``'s 60-bit prefix mod width — identical in any
    engine, so two independently-built sketches (or the DuckDB oracle's)
    agree cell-for-cell and can be MERGED by summing cells: the frame is
    a combinable aggregate, the whole point at 100 TB (one map-side
    pass, a depth×width-bounded shuffle, constant-size state per
    partition regardless of corpus size)."""
    rows = df.select(
        F.col(key_col).alias("_k"),
        F.lit(1).alias("_w"),
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    )
    col = _cms_cell(F.col("r"), F.col("_k"), width)
    return (
        rows.select("r", col.alias("col"), "_w")
        .groupBy("r", "col")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """(key, est) point queries against a CMS cell frame: min over the
    depth cells each key hashes to — the one-sided (over-)estimate.
    The keys frame fans out ×depth, joins the bounded sketch (broadcast:
    it is depth×width cells at most) and takes a combinable MIN."""
    fan = keys.select(
        F.col(key_col).alias("_k"),
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
    )
    col = _cms_cell(F.col("r"), F.col("_k"), width)
    joined = fan.select("_k", "r", col.alias("col")).join(
        F.broadcast(sketch), ["r", "col"], "left"
    )
    return (
        joined.groupBy("_k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
        .withColumnRenamed("_k", key_col)
    )


def kmv_jaccard(df: DataFrame, key_col: str, split_col: str, k: int = 256) -> DataFrame:
    """Pairwise Jaccard similarity between the key-sets of every pair of
    splits, estimated from portable KMV sketches — the corpus-overlap
    probe a training pipeline runs between crawl snapshots / data splits
    (vocabulary overlap, near-identical-dump detection) without ever
    shuffling the raw key sets against each other.

    Estimator (Beyer et al. 2007): build the k-min sketch of each split;
    for a pair (A, B), take the k smallest hashes of sketch(A) ∪ sketch(B)
    and count how many are in both sketches — J ≈ |both| / k_used. Exact
    per-pair Jaccard is computed alongside (from distinct (split, key)
    pairs — the thing production drops) so callers and the oracle gate can
    measure estimator error directly.

    Plan shape at 100 TB: one dedup shuffle of (split, hash) pairs, the
    bounded two-phase per-split k-min (no reducer ranks more than
    ~1/16 of a split), then all pair arithmetic happens on
    sketches of <= k rows per split — tiny, broadcast-joinable.

    Returns one row per unordered split pair:
    (split_a, split_b, k_used, n_both, jaccard_est, exact_jaccard).
    """
    if k < 2:
        raise ValueError("kmv_jaccard requires k >= 2")
    hash60 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col(key_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # the distinct (split, key) frame feeds FOUR consumers (the sketch,
    # both exact-Jaccard sides, the split sizes) and the k-row sketch
    # another four (both pair sides, the pair-name grid twice); without
    # a barrier each reference re-plans — and can re-execute — the
    # dedup shuffle / double-window subtree (r11: the initial plan
    # carried 32 corpus scans and 156 Window nodes). One lazy
    # localCheckpoint each: the first action materialises them once and
    # every consumer reads the stored partitions (same pattern as
    # training_mix's kept/kept2 and lsh_quality's truth frame).
    # Lifetime: the blocks live until the RETURNED DataFrame is
    # garbage-collected, then the ContextCleaner reclaims them —
    # probed r12: six repeated invocations in one JVM hold a FLAT 4
    # resident checkpoint RDDs / 0.15 MB after GC (no accumulation);
    # callers that pin many results alive pin their blocks too.
    pairs = (
        df.select(F.col(split_col).alias("_split"), F.col(key_col))
        .distinct()
        .withColumn("_h", hash60)
        .localCheckpoint(eager=False)
    )
    # bounded two-phase k-min per split (same shape as kmv_distinct)
    salted = pairs.withColumn("_salt", F.pmod(F.col("_h"), F.lit(16)))
    w1 = Window.partitionBy("_split", "_salt").orderBy("_h")
    w2 = Window.partitionBy("_split").orderBy("_h")
    sketch = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= k)
        .select("_split", "_h")
        .localCheckpoint(eager=False)
    )
    # per-pair union of the two sketches with membership flags; sketches
    # are <= k rows per split, so every join below is sketch-sized
    splits_a = sketch.select(F.col("_split").alias("split_a"), F.col("_h").alias("_ha"))
    splits_b = sketch.select(F.col("_split").alias("split_b"), F.col("_h").alias("_hb"))
    pair_names = (
        sketch.select("_split").distinct().alias("x")
        .crossJoin(sketch.select("_split").distinct().alias("y"))
        .select(
            F.col("x._split").alias("split_a"), F.col("y._split").alias("split_b")
        )
        .filter(F.col("split_a") < F.col("split_b"))
    )
    hashes_a = pair_names.join(splits_a, "split_a").select(
        "split_a", "split_b", F.col("_ha").alias("_h"), F.lit(1).alias("_in_a")
    )
    hashes_b = pair_names.join(splits_b, "split_b").select(
        "split_a", "split_b", F.col("_hb").alias("_h"), F.lit(1).alias("_in_b")
    )
    merged = (
        hashes_a.join(hashes_b, ["split_a", "split_b", "_h"], "outer")
        .select(
            "split_a",
            "split_b",
            "_h",
            F.coalesce(F.col("_in_a"), F.lit(0)).alias("_in_a"),
            F.coalesce(F.col("_in_b"), F.lit(0)).alias("_in_b"),
        )
    )
    wpair = Window.partitionBy("split_a", "split_b").orderBy("_h")
    est = (
        merged.withColumn("_rn", F.row_number().over(wpair))
        .filter(F.col("_rn") <= k)
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("k_used"),
            F.sum(F.col("_in_a") * F.col("_in_b")).cast("int").alias("n_both"),
        )
        .withColumn(
            "jaccard_est",
            F.round(F.col("n_both").cast("double") / F.col("k_used"), 6),
        )
    )
    # exact per-pair Jaccard for validation (production drops this branch)
    ka = pairs.select(F.col("_split").alias("split_a"), key_col)
    kb = pairs.select(F.col("_split").alias("split_b"), key_col)
    inter = (
        ka.join(kb, key_col)
        .filter(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("_n_inter"))
    )
    sizes = pairs.groupBy("_split").agg(F.count(F.lit(1)).alias("_n"))
    # pair_names ≡ est's key set (every split's sketch is non-empty, so
    # every pair survives the outer join into est), and the final inner
    # join re-filters anyway — referencing pair_names here instead of
    # est keeps the whole est subtree out of the exact branch's plan
    exact = (
        pair_names
        .join(
            F.broadcast(sizes.select(F.col("_split").alias("split_a"), F.col("_n").alias("_na"))),
            "split_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_split").alias("split_b"), F.col("_n").alias("_nb"))),
            "split_b",
        )
        .join(inter, ["split_a", "split_b"], "left")
        .select(
            "split_a",
            "split_b",
            F.round(
                F.coalesce(F.col("_n_inter"), F.lit(0)).cast("double")
                / (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_n_inter"), F.lit(0))),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["split_a", "split_b"]).select(
        "split_a", "split_b", "k_used", "n_both", "jaccard_est", "exact_jaccard"
    )


def hll_registers(df: DataFrame, key, group_cols: list[str] | None = None) -> DataFrame:
    """Portable HyperLogLog registers (Flajolet et al. 2007) over the
    60-bit md5 hash: index = top p = HLL_P hash bits, rho = leading-zero count
    of the remaining 60-p bits plus one, register = max(rho).

    Same portability argument as KMV above: Spark's built-in HLL++ is
    engine-private; these registers are bit-identical on any engine that
    can md5, so sketches can be diffed exactly across systems. rho is
    computed INTEGER-exactly as (60-p) - length(bin(w)) + 1 — no
    floating log2 that could mis-round at power-of-two boundaries.

    Plan shape: one map-side-combinable groupBy((group), idx).max —
    register sets are tiny (2^p rows) and MERGEABLE by max, so
    per-partition partial aggregation already is the classic HLL merge;
    nothing key-sized ever shuffles except the (group, idx, rho) triple."""
    from ndr_import_spark.operators.dedup import md5_long

    gcols = list(group_cols or [])
    df = df.where(key.isNotNull())  # a null key would register a null
    # index row that hll_estimate counts as occupied
    h = md5_long(key)
    w_bits = 60 - HLL_P
    idx = F.shiftright(h, w_bits).alias("_idx")
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    rho = (
        F.when(w == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - F.length(F.bin(w)) + 1)
        .alias("_rho")
    )
    return (
        df.select(*gcols, idx, rho)
        .groupBy(*gcols, "_idx")
        .agg(F.max("_rho").alias("_reg"))
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = HLL_P,
) -> DataFrame:
    """Cardinality estimate from `hll_registers` output, with the
    standard small-range correction (linear counting when E <= 2.5m and
    empty registers exist).

    Float discipline: the harmonic denominator is a sum of DYADIC terms
    2^-reg plus the exact integer count of empty registers — exact in
    float64 regardless of summation order — so the raw estimate is ONE
    double expression from exact inputs, bit-identical on any engine;
    the linear-counting branch is one ln rounded at the output."""
    m = 1 << p
    # single precomputed double so any replica can embed ONE literal
    # (alpha*m*m) rather than reproducing the multiply order
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
    gcols = list(group_cols or [])
    agg = registers.groupBy(*gcols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_reg"))).alias("_s"),
        F.count(F.lit(1)).alias("_nz"),
    )
    # absent registers are zeros: each contributes 2^0 = 1 to the sum
    # and counts toward the linear-counting zero set
    zeros = F.lit(m) - F.col("_nz")
    denom = F.col("_s") + zeros.cast("double")
    raw = F.lit(alpha_m2) / denom
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *gcols,
        F.round(est, 4).alias("hll_estimate"),
        zeros.alias("empty_registers"),
    )


def bloom_build(df: DataFrame, key, m_bits: int = 16384, k: int = 4) -> DataFrame:
    """Portable Bloom filter (Bloom 1970) over the md5 hash family:
    each key sets `k` bit positions pos_j = md5('bloom<j>:'||key) mod m;
    the filter materialises as (word_idx, word) BIGINT rows of 63 bits
    each (bit 63 avoided so the words stay positive on engines whose
    ``<<`` overflows signed at 63).

    Same portability argument as KMV/HLL above: the filter a Spark job
    builds is bit-identical to one any md5-capable engine builds, so
    membership sets can be exchanged between systems as plain tables.

    Plan shape: one map-side-combinable ``bit_or`` groupBy over
    ceil(m/63) word rows — the filter frame is BOUNDED by m, broadcasts
    by construction, and merges with any other filter of the same
    (m, k) by a further bit_or (union = OR is the Bloom law)."""
    from ndr_import_spark.operators.dedup import md5_long

    m = int(m_bits)
    positions = F.array(
        *[
            (md5_long(F.concat(F.lit(f"bloom{j}:"), key)) % m).alias(
                f"_p{j}"
            )
            for j in range(int(k))
        ]
    )
    pos = df.select(F.explode(positions).alias("_pos"))
    return (
        pos.select(
            F.expr("_pos div 63").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 63 AS INT))")
            .alias("_b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_b").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key,
    m_bits: int = 16384,
    k: int = 4,
) -> DataFrame:
    """(id, maybe_member) — the standard one-sided Bloom test: True may
    be a false positive (rate ~(1-e^{-kn/m})^k), False is certain.

    The filter side joins on the word index — ceil(m/63) rows, a
    genuine broadcast — so probing a 100 TB key column is one broadcast
    hash join plus a combinable all-bits-present aggregate; the probe
    column never shuffles."""
    from ndr_import_spark.operators.dedup import md5_long

    m = int(m_bits)
    positions = F.array(
        *[
            (md5_long(F.concat(F.lit(f"bloom{j}:"), key)) % m)
            for j in range(int(k))
        ]
    )
    pos = df.select(key.alias("k"), F.explode(positions).alias("_pos"))
    probe = pos.select(
        "k",
        F.expr("_pos div 63").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 63 AS INT))")
        .alias("_b"),
    )
    joined = probe.join(F.broadcast(bloom), "word_idx", "left").select(
        "k",
        (
            F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("_b")) != 0
        ).cast("int").alias("_hit"),
    )
    # min-of-hits, not sum==k: a duplicated probe key doubles the row
    # count (sum 2k != k -> FALSE NEGATIVE, violating the one-sided
    # contract) and two j-hashes colliding onto one bit would likewise
    # miscount; 'every row hit' is duplication- and collision-proof
    return joined.groupBy("k").agg(
        (F.min("_hit") == 1).alias("maybe_member")
    )


def log2_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """Mergeable power-of-two histogram sketch over a positive numeric
    column (r8): values quantise to integer units
    (floor(value*LOG2_HIST_SCALE) —
    floor of the identical IEEE double, so every engine bins
    identically; no float log anywhere), the bin is the unit count's
    BIT LENGTH (the length_bucket trick: conv to base-2 + string
    length), and the sketch is one map-side-combinable groupBy over
    <= 64 bins. Two sketches merge by adding counts — the property that
    lets 1000 executors histogram 100 TB with a KB of state each.
    Returns (bin, cnt, lo_unit, hi_unit) with [lo, hi] the bin's unit
    range.

    POSITIVE-ONLY contract, enforced (r8 advice): units <= 0 are
    filtered out rather than silently misbinned — conv('0') has length
    1, which would fold zeros into bin 1 whose [1,1] label lies about
    them, and negative units diverge between Spark's conv (unsigned
    64-bit two's complement -> bin 64) and other engines' bin()
    ('-101' -> length 4), breaking the documented bin-for-bin
    mergeability across engines."""
    units = F.floor(F.col(value_col) * LOG2_HIST_SCALE).cast("long")
    bins = df.select(units.alias("_u")).where(F.col("_u") >= 1).select(
        F.length(F.conv(F.col("_u").cast("string"), 10, 2)).alias("bin")
    )
    one = F.conv(
        F.concat(F.lit("1"), F.repeat(F.lit("0"), F.col("bin") - 1)), 2, 10
    ).cast("long")
    return (
        bins.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin", "cnt",
            one.alias("lo_unit"),
            (one * 2 - 1).alias("hi_unit"),
        )
    )


def histogram_quantiles(
    hist: DataFrame, qs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Quantile estimates from a log2_histogram sketch: for each q the
    smallest bin whose cumulative count reaches ceil(q*N); the estimate
    is the bin's upper edge in value units (a <= 2x one-sided
    overestimate by construction — the resolution/state trade every
    log-binned sketch makes). The window runs over <= 64 bins."""
    from pyspark.sql import Window

    n = hist.agg(F.sum("cnt").alias("_n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # one consumer per requested quantile: un-barriered, each replans the
    # sketch's whole corpus-scale aggregate + window (r12:
    # quantile_sketch_eval's initial plan carried 6 Windows / 14 scans).
    # <= 64 rows — materialise once, each quantile reads the stored bins.
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(n))
        .localCheckpoint(eager=False)
    )
    parts = []
    for q in qs:
        need = F.ceil(F.lit(q) * F.col("_n"))
        parts.append(
            cum.where(F.col("cum") >= need)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(q).alias("q"),
                F.col("_n").alias("n"),
                (F.col("hi_unit") / LOG2_HIST_SCALE).alias("est_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
