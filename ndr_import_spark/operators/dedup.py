"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Net-new scale operators (BASELINE.json north_star). Design for 100 TB:

* exact: one hash-keyed groupBy (map-side partial agg; AQE handles skew);
* MinHash/LSH: signatures are a narrow per-row map (k md5-based minima over
  character shingles); candidate generation shuffles on BAND KEYS only —
  each band bucket is tiny, so the self-join never goes quadratic in the
  corpus, only within buckets;
* SimHash: 64-bit signature per row, narrow; near-dup = same signature or
  banded Hamming buckets;
* n-gram Jaccard verification runs only on LSH candidates.

Hashes are md5-hex→bigint so a DuckDB oracle can reproduce values exactly
(both sides: ``cast('0x'||substr(md5(x),1,15) as bigint)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ndr_import_spark.operators.textstats import (
    md5_long,
    normalize_text,
    release_local_checkpoint,
)
from ndr_import_spark.sources.common import local_frame

__all_reexports__ = ["md5_long"]  # canonical definition lives in textstats


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup over normalised text.

    Returns (content_hash, n_docs, canonical_id) for groups with n>1."""
    h = F.md5(normalize_text(F.col("text"))).alias("content_hash")
    return (
        df.select(h, F.col("doc_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id representative of each content hash (deterministic,
    unlike dropDuplicates which keeps an arbitrary row)."""
    h = F.md5(normalize_text(F.col(text_col)))
    w = df.select("*", h.alias("_h"))
    keep = w.groupBy("_h").agg(F.min(id_col).alias(id_col))
    return w.join(keep, [ "_h", id_col ], "inner").drop("_h")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _norm) with `_norm` materialised as a real attribute.

    `_norm` is emitted through a one-element explode on purpose: the
    shingling lambdas downstream CAPTURE the norm column (substring(norm,
    i, n) per element), and CollapseProject inlines single-use aliases
    into lambda bodies — the normalisation regexes would re-run once per
    shingle instead of once per row (measured 5× on the whole LSH
    pipeline). A Generate node evaluates the generator exactly once per
    row and cannot be collapsed through; no data is buffered (row-for-row,
    unlike a persist, which would materialise the corpus).

    If the source has fewer partitions than the cluster has cores, the
    (id, text) projection is repartitioned first: the shingle+hash stage
    is the pipeline's CPU hot spot, and a small parquet file (one split)
    would otherwise pin it to a single task. The shuffle moves only the
    two projected columns, once; on a real corpus (splits ≥ cores) it is
    skipped entirely.

    Runs Spark jobs while the DataFrame is built:
    `proj.rdd.getNumPartitions()` has to plan the input, and under AQE
    planning executes every shuffle stage upstream of it, each as its own
    job."""
    proj = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < parallelism:
        proj = proj.repartition(parallelism)
    return proj.select(
        "_id",
        F.explode(F.array(normalize_text(F.col("_text")))).alias("_norm"),
    )


def _shingles_from_norm(norm: Column, n: int) -> Column:
    """Char n-grams of an already-normalised ATTRIBUTE column (cheap to
    re-evaluate per element, unlike a regex expression).

    NOT deduplicated: array_distinct over a few-hundred-element STRING
    array is a nested-loop equality scan (measured as the single hottest
    expression in the LSH pipeline); the caller dedupes the 30-bit hashes
    instead, which is equivalent set semantics at ~10× less cost."""
    starts = F.sequence(F.lit(1), F.greatest(F.length(norm) - n + 1, F.lit(1)))
    return F.transform(starts, lambda i: F.substring(norm, i, n))


_MAX_LIVE_SCOPES = 4
_LIVE_SCOPES: "OrderedDict[int, _CacheScope]" = None  # type: ignore[assignment]


class _CacheScope:
    """Per-pipeline persist scope for the banded-dedup family.

    Each public pair-finder call owns ONE scope holding its persisted
    intermediates (the (_id, _hs) shingle-hash frame the plan references
    four times). Scopes live in a bounded module LRU (`_MAX_LIVE_SCOPES`
    corpora) rather than the former one-slot global — so two INTERLEAVED
    lazy pipelines (build A, build B, act on A, act on B) both keep their
    caches; under the old evict-then-persist scheme building B silently
    evicted A and A recomputed its shingle pass per plan reference
    (measured ~3x slower, still correct).

    Lifetime: a scope is released when (a) the LRU overflows — oldest
    pipeline first, the one most likely already materialised — or (b) the
    caller releases it deterministically via the `_ndr_cache_scope`
    attribute stitched onto the returned DataFrame
    (``pairs._ndr_cache_scope.release()``). Releasing a scope whose
    pipeline still has pending actions is CORRECT (Spark recomputes), just
    slower. Memory bound: `_MAX_LIVE_SCOPES` narrow int-array corpus
    caches at MEMORY_AND_DISK — spills under pressure, and a long-lived
    97-query driver session never accumulates more than that."""

    __slots__ = ("_dfs", "_released")

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []
        self._released = False

    def persist(self, df: DataFrame) -> DataFrame:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        self._dfs.append(df)
        _register_scope(self)
        return df

    def release(self) -> None:
        if self._released:
            return
        self._released = True
        if _LIVE_SCOPES is not None:
            _LIVE_SCOPES.pop(id(self), None)
        while self._dfs:
            try:
                self._dfs.pop().unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — session may already be stopped
                pass

    def tie(self, result: DataFrame) -> DataFrame:
        """Expose this scope on the pipeline's returned DataFrame so a
        caller that knows it is done can release the cache immediately
        instead of waiting for LRU turnover."""
        result._ndr_cache_scope = self  # type: ignore[attr-defined]
        return result


def _register_scope(scope: _CacheScope) -> None:
    global _LIVE_SCOPES
    if _LIVE_SCOPES is None:
        from collections import OrderedDict

        _LIVE_SCOPES = OrderedDict()
    _LIVE_SCOPES[id(scope)] = scope
    _LIVE_SCOPES.move_to_end(id(scope))
    while len(_LIVE_SCOPES) > _MAX_LIVE_SCOPES:
        oldest = next(iter(_LIVE_SCOPES.values()))
        oldest.release()


MINHASH_P = 1073741789  # largest prime < 2^30: keeps a*h+b inside int64


def minhash_perm_consts(k: int, salt: str) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine-permutation constants for k MinHash
    permutations, derived from md5 so a DuckDB oracle can embed the same
    literals. Shared driver-side helper — not per-row work."""
    import hashlib

    out = []
    for i in range(k):
        a = int(hashlib.md5(f"{salt}a{i}".encode()).hexdigest()[:7], 16) % MINHASH_P
        b = int(hashlib.md5(f"{salt}b{i}".encode()).hexdigest()[:7], 16) % MINHASH_P
        out.append((a | 1, b))
    return out


def minhash_signatures_column(hs: Column, k: int, salt: str) -> Column:
    """k MinHash minima as ONE nested transform over a literal (a, b)
    const array — the generated code is k-fold smaller than k separate
    array_min(transform(...)) expressions (Janino compile time dominated
    the cold run), while the per-element arithmetic is identical, so
    signatures (and every oracle) are bit-identical."""
    consts = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in minhash_perm_consts(k, salt)
    ])
    return F.transform(
        consts,
        lambda c: F.array_min(
            F.transform(hs, lambda h: (c["a"] * h + c["b"]) % F.lit(MINHASH_P))
        ),
    )


def shingle_hashes(sh: Column) -> Column:
    """Hash each shingle ONCE to a 30-bit int; the k permutations are then
    pure arithmetic (k·|sh| multiply-adds instead of k·|sh| md5 calls —
    the difference between 70 s and 4 s at 5k docs, and between feasible
    and not at 100 TB)."""
    return F.transform(sh, lambda s: md5_long(s).bitwiseAND(F.lit((1 << 30) - 1)))


def _char_shingle_rows(
    base: DataFrame, n: int, carry: list[str] | None = None
) -> DataFrame:
    """One row per char-shingle INSTANCE from a (_id[, carry], _norm)
    frame — `explode(sequence)` + `substr`, all whole-stage-codegen
    expressions (the former `transform`-lambda shingling is a
    higher-order function Spark evaluates interpreted; see
    `_hashed_sig_frame`). Duplicates are NOT removed here — the
    downstream aggregate dedups at the hash level."""
    carry = list(carry or [])
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("_norm") - n + 1, F.lit(1))
    )
    return base.select(
        "_id", *carry, "_norm", F.explode(starts).alias("_i")
    ).select(
        "_id", *carry, F.col("_norm").substr(F.col("_i"), F.lit(n)).alias("_s")
    )


def _word_ngram_rows(toked: DataFrame, n: int) -> DataFrame:
    """One row per word-n-gram from a (_id, _toks) frame (token array as
    a materialised attribute): explode positions, slice + array_join —
    codegen expressions only."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("_toks") - n + 1, F.lit(1))
    )
    return toked.select(
        "_id", "_toks", F.explode(starts).alias("_i")
    ).select(
        "_id",
        F.array_join(F.slice(F.col("_toks"), F.col("_i"), n), " ").alias("_s"),
    )


def _hashed_sig_frame(
    shingle_rows: DataFrame, k: int, salt: str, carry: list[str] | None = None
) -> DataFrame:
    """(_id[, carry], _hs, _sig) from one-row-per-shingle input in ONE
    map-side-combinable aggregate: `collect_set` dedups the 30-bit
    shingle hashes while k plain conditional-MIN aggregates compute the
    MinHash signature — every expression whole-stage-codegen.

    This replaced the `transform`/`aggregate` higher-order-function
    pipeline (hash-per-shingle lambda + nested k×|hs| permutation
    lambdas): HOFs run INTERPRETED in Spark, and the same lesson measured
    on simhash (13 s of a 31 s sf1 run in signature lambdas) applies.
    Values are bit-identical — same md5, same 30-bit mask, same
    (a·h+b) mod P minima in the same order — so every oracle and every
    stored index stays valid. Cost model: one doc-keyed shuffle of
    (id, h) int rows (uniform — one group per document) instead of
    map-only interpreted work; partial aggregation collapses duplicate
    shingles before the exchange."""
    carry = list(carry or [])
    rows = shingle_rows.select(
        "_id",
        *carry,
        md5_long(F.col("_s")).bitwiseAND(F.lit((1 << 30) - 1)).alias("_h"),
    )
    aggs = [F.collect_set("_h").alias("_hs")] + [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(minhash_perm_consts(k, salt))
    ]
    g = rows.groupBy("_id", *carry).agg(*aggs)
    return g.select(
        "_id",
        *carry,
        "_hs",
        F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("_sig"),
    )


def _band_keys(hashed: DataFrame, k: int, bands: int, salt: str,
               carry: list[str] | None = None) -> DataFrame:
    """(_id, [carry...], band, key) band-key rows from a (_id, _hs) frame:
    k MinHash minima sliced into `bands` md5 band keys, exploded. THE
    single definition of the band-key scheme — the batch self-join and the
    incremental new→old probe must bucket identically or a stored index
    would be unprobeable.

    A `_sig` column computed by `_hashed_sig_frame` is used directly when
    present; otherwise (stored-index sets, which persist only (_id, _hs))
    the signature derives from `_hs` via the HOF column — identical
    values, paid once at index-write time."""
    rows = k // bands
    if "_sig" in hashed.columns:
        with_sig = hashed.select("_id", *(carry or []), "_sig")
    else:
        with_sig = hashed.select(
            "_id", *(carry or []),
            minhash_signatures_column(F.col("_hs"), k, salt).alias("_sig"),
        )
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col("_sig")[b * rows + i].cast("string") for i in range(rows)],
                )
            ).alias("key"),
        )
        for b in range(bands)
    ])
    return with_sig.select(
        "_id", *(carry or []), F.explode(band_structs).alias("bk")
    ).select(
        "_id", *(carry or []),
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )


def _verify_jaccard(pairs: DataFrame, hashed_a: DataFrame, hashed_b: DataFrame,
                    a_col: str, b_col: str,
                    verify_threshold: float | None) -> DataFrame:
    """Exact-Jaccard verification over hashed shingle sets for candidate
    pairs: join the per-doc `_hs` sets back by id on both sides, filter on
    the RAW ratio, round for presentation (rounding first would admit
    pairs just under the threshold). Shared by the batch and incremental
    pair finders — the threshold/rounding rule lives here once."""
    a = hashed_a.select(F.col("_id").alias(a_col), F.col("_hs").alias("_sha"))
    b = hashed_b.select(F.col("_id").alias(b_col), F.col("_hs").alias("_shb"))
    verified = pairs.join(a, a_col).join(b, b_col)
    return jaccard_verdict(verified, a_col, b_col, verify_threshold)


def jaccard_verdict(
    verified: DataFrame, a_col: str, b_col: str,
    verify_threshold: float | None,
) -> DataFrame:
    """THE threshold/rounding rule, over a frame carrying `_sha`/`_shb`
    hashed shingle sets: filter on the RAW ratio, round 5dp for output.
    Batch, incremental AND streaming verifies all call this — a change
    to the rule lands everywhere at once."""
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.array_union(F.col("_sha"), F.col("_shb")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    out = verified.select(a_col, b_col, jac.alias("_jac"))
    if verify_threshold is not None:
        out = out.filter(F.col("_jac") >= verify_threshold)
    return out.select(a_col, b_col, F.round(F.col("_jac"), 5).alias("jaccard"))


def _banded_jaccard_pairs(
    shingle_rows: DataFrame,
    k: int,
    bands: int,
    salt: str,
    verify_threshold: float | None,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Shared LSH core over a one-row-per-shingle (_id, _s) DataFrame.

    MinHash signature (k salted-md5 minima over `_sh`) → `bands` band-keys
    (md5 of each signature slice) → explode → self-join on (band, key)
    (bucket-local, never corpus-quadratic) → distinct id pairs → exact
    Jaccard verification by joining the per-doc shingle sets back by id —
    shingles are computed PER DOC, never per candidate pair.

    ``max_bucket_size`` (DEFAULT ON — the SemDeDup-cap lesson) skips
    band buckets holding more than that many documents: a bucket of m
    docs contributes m²/2 candidate pairs, and a SATURATED bucket —
    small-vocabulary corpora, boilerplate-heavy crawls where long docs
    cover the whole shingle space and share every minimum — turns the
    verify join quadratic (measured at sf10: one 4,771-doc bucket ≈
    23M pairs; the spill exhausted an 80 GB disk). The skip is an
    explicit recall cut line: members of a skipped bucket can still
    pair through their other (bands-1) keys, and clusters that big are
    what exact/span dedup should consume. ``None`` restores the
    uncapped exact-LSH form; the DuckDB oracles replay the same
    HAVING-count rule.

    At cluster scale: the band-key join shuffles only (band, key, id); the
    verification join shuffles ids + HASHED shingle sets (int arrays) for
    candidates only — the string shingles never leave the map side. Exact
    Jaccard runs on the distinct 30-bit shingle hashes: identical to
    string-set Jaccard up to md5 collisions (P ≈ |A∪B|²/2³¹ per pair,
    far below the threshold's discrimination), for ~10× fewer shuffled
    bytes than n-char string arrays. The (_id, _hs) intermediate is
    persisted: the plan references the shingle-hash set four times (both
    join sides + both verify sides), and the 16 permutation expressions
    would otherwise each re-run the per-shingle md5 pass (captured
    expressions re-evaluate per reference).
    """
    # DESER level on purpose: the serialized-columnar cache encoder is ~5×
    # slower than object storage for nested array<long> columns (measured
    # 3.8 s vs 0.7 s to build at sf0.1) and the cache is read only a few
    # times before eviction; spills to disk under pressure either way.
    # Measured alternatives at sf0.1/local[32]: no persist (relying on
    # ReuseExchange) = 10.5 s steady vs 3.4 s persisted — the four plan
    # references do NOT canonicalise to one exchange, so the persist is a
    # 3× win, and the per-pipeline _CacheScope LRU bounds total cache.
    scope = _CacheScope()
    hashed = scope.persist(_hashed_sig_frame(shingle_rows, k, salt))
    banded = _band_keys(hashed, k, bands, salt)
    if max_bucket_size is not None:
        # hot-key list is tiny by definition (each entry represents >
        # max_bucket_size docs) — broadcast anti-join, one combinable
        # count aggregate
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "key")
        )
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    # The self-join references `banded` twice and the hot count once more;
    # without a barrier each reference re-reads the FAT (_id, _hs, _sig)
    # cache and re-derives the md5 band keys (measured: the hot-count
    # subtree inlined twice as identical stages). Persist the NARROW
    # (_id, band, key) rows once instead — consumers read ~150 B/doc of
    # band keys rather than the shingle-set cache, at any scale.
    banded = scope.persist(banded)
    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return scope.tie(
        _verify_jaccard(pairs, hashed, hashed, "id_a", "id_b", verify_threshold)
    )


def minhash_lsh_star_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.6,
    shingle_n: int = 5,
) -> DataFrame:
    """Near-duplicate STAR EDGES for cluster consumers: within each band
    bucket, connect every member to the bucket's min-id anchor instead
    of enumerating all pairs — Σ(m-1) verified edges instead of Σ m²/2.

    THE scale form for connected-components dedup (training_mix /
    training_pipeline / dedup_clusters): pair enumeration is inherently
    quadratic in duplicate DENSITY — measured at sf10, a shingle-
    saturated corpus produced 122M candidate pairs (63M even under the
    1024 bucket cap) and the verify join's spill exhausted an 80 GB
    disk, while the star form emits ~1.4M edges from the same buckets.
    Connectivity: every bucket member is linked to the same anchor, so
    docs sharing a bucket land in one component exactly as with the
    pairwise form. Documented recall cut line: an edge exists only
    between anchor and member, so if the ANCHOR fails exact-Jaccard
    verification with a member, that member does not join via THIS
    bucket (it can still join via its other bands-1 buckets); the
    pairwise form would also have tested member-member pairs. No bucket
    cap is needed — the blowup the cap guards against cannot happen.

    Returns (id_a, id_b, jaccard) with id_a = the bucket anchor
    (min id), id_a < id_b.

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE."""
    base = _shingle_base(df, text_col, id_col)
    scope = _CacheScope()
    hashed = scope.persist(
        _hashed_sig_frame(_char_shingle_rows(base, shingle_n), k, "mh")
    )
    # referenced by the centers aggregate AND the member join — persist
    # the narrow band-key rows so both read ~150 B/doc instead of
    # re-deriving keys from the fat (_id, _hs, _sig) cache
    banded = scope.persist(_band_keys(hashed, k, bands, "mh"))
    # anchor via ONE window over a single (band, key) exchange (r12,
    # guide §2.4 share-the-exchange): the former groupBy(min) + join-back
    # shuffled the banded rows by (band, key) TWICE — the aggregate's
    # exchange and the join's cannot ReusedExchange because their
    # children differ (partial agg vs bare scan); SQL-node metrics
    # showed the two 868 KiB / 19170-record twins in training_mix.
    # min-over-partition attaches each bucket's anchor row-for-row
    # identically (the inner join kept every row: every banded row's
    # bucket has a min). The window is not free: WindowExec adds a
    # per-partition sort on (band, key) that the hash aggregate did not
    # need, but one exchange and a local sort still cost less than the
    # two exchanges it replaces. Per-bucket state is bounded by bucket
    # size, same as the aggregate's groups.
    wb = Window.partitionBy("band", "key")
    edges = (
        banded.withColumn("_center", F.min("_id").over(wb))
        .where(F.col("_id") != F.col("_center"))
        .select(F.col("_center").alias("id_a"), F.col("_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return scope.tie(
        _verify_jaccard(edges, hashed, hashed, "id_a", "id_b", verify_threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.6,
    shingle_n: int = 5,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH over char shingles.

    With k=16/bands=4 (4 rows per band) a pair of similarity s becomes a
    candidate with p = 1-(1-s^4)^4 — steep around s≈0.6, which keeps false
    candidates (and the verify join) small on template-heavy corpora.

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE.
    """
    base = _shingle_base(df, text_col, id_col)
    return _banded_jaccard_pairs(
        _char_shingle_rows(base, shingle_n), k, bands, "mh",
        verify_threshold, max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column) -> Column:
    """16-bit SimHash over word tokens (md5-derived bit planes).

    bit j of the signature = sign of Σ_tokens (±1 by bit j of token hash).
    16 bits keeps the per-row cost at one hash per token (bit-tested 16×)
    while remaining a real locality-sensitive signature.
    """
    toks = F.filter(F.split(normalize_text(text), " "), lambda t: t != F.lit(""))
    th = F.transform(toks, lambda t: md5_long(t))
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(16)])
    zeros = F.array(*[F.lit(0)] * 16)
    # ONE aggregate pass: per token, vote ±1 on every bit plane (separate
    # per-bit aggregates would re-run the md5 token pass 16 times)
    votes = F.aggregate(
        th,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    bits_set = F.zip_with(
        votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits_set, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_frame(
    df: DataFrame, text_col: str, id_col: str, bits: int
) -> DataFrame:
    """(_id, _sig) SimHash signatures via explode + per-bit SUM aggregates.

    Same math as the `simhash` Column (bit j set ⟺ Σ_tokens ±1 > 0,
    i.e. 2·count(bit j of token hash) > n_tokens) but a 4-6× faster
    plan at scale: `aggregate`/`zip_with` are higher-order functions
    Spark evaluates INTERPRETED per array element (measured 13 s of a
    31 s sf1 run just computing signatures), while explode → groupBy
    with `bits` plain conditional-SUM aggregates stays inside
    whole-stage codegen. Costs one extra shuffle keyed by doc id —
    uniform by construction (one group per document).

    Zero-token documents: empty-text docs keep the Column semantics
    (every vote 0, no bit set, signature 0 — restored by the left join
    back to the full id set). NULL text is a deliberate, documented
    CHANGE from the Column form: it now also maps to signature 0 (the
    Column propagated NULL, excluding such docs from groups/pairs) —
    NULL-as-empty matches the corpus_card convention and the DuckDB
    oracle's CASE-ELSE arithmetic, and means a NULL-text doc can pair
    with empty-text docs."""
    ids = df.select(F.col(id_col).alias("_id"))
    # normalize_text output is trimmed + single-spaced, so the split can
    # only produce an empty token for empty text — filtered on the
    # exploded ROW (codegen) instead of an interpreted filter lambda
    # over the array; row sets identical
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .withColumn("_h", md5_long(F.col("_tok")))
    )
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))).alias(f"_c{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("_id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(
            F.col(f"_c{j}") * 2 > F.col("_n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    sigs = per_doc.select("_id", sig.alias("_sig"))
    return ids.join(sigs, "_id", "left").select(
        "_id", F.coalesce(F.col("_sig"), F.lit(0).cast("long")).alias("_sig")
    )


def simhash_duplicate_groups(df: DataFrame, bits: int = 16) -> DataFrame:
    """Docs sharing an identical SimHash signature (coarse near-dup)."""
    return (
        simhash_frame(df, "text", "doc_id", bits)
        .select(F.col("_sig").alias("simhash"), F.col("_id"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash Hamming distance — the
    signature-space complement of MinHash (captures token-frequency
    similarity rather than set overlap).

    The 48-bit signature splits into `bands` equal slices; candidate
    pairs share at least one exact slice (pigeonhole: any pair with
    Hamming distance < `bands` MUST agree on some slice, so recall is
    exact for ``max_distance <= bands - 1``; keep that inequality when
    tuning). The slice self-join shuffles only (band, key, id) and
    verification joins the 8-byte signatures back by id:
    ``bit_count(xor)`` per candidate, the cheapest verify in the dedup
    family.

    SCALE — slice width is the load-bearing knob: random docs collide on
    a slice with p = 2^-width, so expected candidate volume is
    ``bands * n² / 2^width / 2``. The 48/4 shape (12-bit slices, 4096
    keys) replaced 32/4 (8-bit, 256 keys) after an sf1 (50k-doc) run
    TIMED OUT: 256 buckets of ~200 docs went quadratic (~19M candidate
    pairs). Grow width ~log2(n) as the corpus grows (64/4 once int64
    vote masks are the limit, then hash the slice to a wider key);
    md5-derived bit planes support up to 60 bits.

    Returns (id_a, id_b, hamming) with id_a < id_b."""
    if max_distance > bands - 1:
        raise ValueError(
            f"banded recall is exact only for max_distance <= bands - 1 "
            f"(got distance {max_distance}, bands {bands})"
        )
    width = 48 // bands
    mask = (1 << width) - 1
    scope = _CacheScope()
    # aggregate-backed signature frame: the groupBy is itself the barrier
    # that stops the per-band plan references recomputing the signature
    base = scope.persist(simhash_frame(df, "text", "doc_id", 48))
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("_sig"), b * width).bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(bands)
    ])
    # the 8-byte signature RIDES the banded rows so the Hamming verify
    # runs INSIDE the bucket join, before any dedup shuffle: hot buckets
    # (frequency-similar corpora collapse many docs onto one slice) emit
    # candidate volume quadratically, and dropDuplicates over raw
    # candidates was the sf1 bottleneck (73M candidate rows shuffled to
    # keep 341k true pairs; filter-first measured 4x faster, identical
    # result — a pair's hamming is the same in every shared band)
    banded = base.select("_id", "_sig", F.explode(band_structs).alias("bk")).select(
        "_id", "_sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    dist = F.bit_count(F.col("l._sig").bitwiseXOR(F.col("r._sig")))
    return scope.tie(
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col("l._id") < F.col("r._id"))
        .withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_distance)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            "hamming",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram set over normalised text (space-joined)."""
    toks = F.filter(F.split(normalize_text(text), " "), lambda t: t != F.lit(""))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 2,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs with banded-MinHash blocking.

    Word n-grams are far more selective than char shingles on template
    corpora (length-band or single-hash blocking degenerates there: common
    shingles dominate the min and buckets go quadratic). k=8/bands=2 gives
    p = 1-(1-s^4)^2 candidate recall with tiny buckets; exact Jaccard then
    verifies on the per-doc n-gram hash sets joined back by id.

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE."""
    base = _shingle_base(df, text_col, id_col)
    # normalize_text output is single-spaced, so the only possible empty
    # token is the whole-array [""] of empty text — a `when` guard
    # replaces the interpreted filter lambda (same one-element-explode
    # materialisation trick as _shingle_base; identical arrays, pinned by
    # the tokens() bit-identity suite)
    raw_toks = F.split(F.col("_norm"), " ")
    toks_arr = F.when(
        F.col("_norm") == "", F.slice(raw_toks, 1, 0)
    ).otherwise(raw_toks)
    toked = base.select(
        "_id",
        F.explode(F.array(toks_arr)).alias("_toks"),
    )
    return _banded_jaccard_pairs(
        _word_ngram_rows(toked, ngram_n), k, bands, "ng", threshold,
        max_bucket_size=max_bucket_size,
    )


def _star_components(
    edges: DataFrame, max_rounds: int = 30, nodes: DataFrame | None = None
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction — the O(log n)-round MapReduce CC algorithm (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond"), used as
    the long-chain path where min-label propagation's diameter-many
    rounds would exhaust any budget.

    Per round the work is exactly the propagation round's shuffle shape —
    one groupBy-min over neighbour lists plus one re-keyed projection —
    but each round HALVES long paths instead of advancing labels one hop:

    * large-star(u): m = min(N(u) ∪ {u}); every neighbour v > u re-wires
      to (v, m).  Strictly larger nodes hook onto the local minimum.
    * small-star(u): over the smaller neighbours Γ⁻(u) = {v ∈ N(u): v < u},
      m = min(Γ⁻); every v ∈ Γ⁻ \\ {m} re-wires to (v, m) and u itself
      wires to (u, m).

    At the fixpoint the edge set is a union of stars centred on each
    component's minimum id; (src→dst) IS the (node→component) map for
    every non-root node. Fixpoint test: edge sets equal across one full
    round — one left-join + aggregate action per round (size unchanged
    AND no edge outside the previous set) on an edge set that only
    shrinks. Each round is
    localCheckpoint-ed: like the propagation loop, the iterated plan
    must truncate lineage or Catalyst doubles it per round.

    Takes distinct undirected edges as (src, dst) with src != dst;
    returns (node, component) for every node appearing in `edges` (or in
    the caller-supplied `nodes` frame, which additionally covers isolated
    nodes that have no non-loop edge).
    """
    if nodes is None:
        nodes = edges.select(F.col("src").alias("node")).unionByName(
            edges.select(F.col("dst").alias("node"))
        )
    nodes = nodes.distinct().localCheckpoint(eager=False)
    e = edges.localCheckpoint(eager=False)
    for _ in range(max_rounds):
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: neighbours bigger than u hook to min(N(u) ∪ {u})
        lmins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("_m"))
        )
        large = (
            sym.join(lmins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star over edges directed large->small
        dird = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        smins = dird.groupBy("src").agg(F.min("dst").alias("_m"))
        joined = dird.join(smins, "src")
        small = (
            joined.filter(F.col("dst") != F.col("_m"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .unionByName(smins.select("src", F.col("_m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        probe = (
            small.withColumn("_in_new", F.lit(1))
            .join(e.withColumn("_in_prev", F.lit(1)), ["src", "dst"], "full")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("_in_prev").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("novel"),
                F.coalesce(
                    F.sum(F.when(F.col("_in_new").isNull(), 1).otherwise(0)),
                    F.lit(0),
                ).alias("gone"),
            )
            .first()
        )
        # both frames are distinct(): set equality == no edge on either
        # side of the symmetric difference — ONE full-outer probe per
        # round with NO pre-loop count() job (r11: the former
        # n == prev_count test needed count(e₀) before round 1, a whole
        # extra barrier + pass over the edge set; novel==0 AND gone==0
        # is the same set equality measured entirely inside the round)
        converged = probe["novel"] == 0 and probe["gone"] == 0
        # probe materialised `small`; the previous round's edge
        # checkpoint is superseded — release its blocks deterministically
        release_local_checkpoint(e)
        e = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds — "
            "O(log n) rounds suffice for any graph that fits an int64 id "
            "space, so this indicates a bug, not a budget problem"
        )
    # stars: src -> component; roots map to themselves
    return nodes.join(
        e.select(F.col("src").alias("node"), F.col("dst").alias("_c")),
        "node",
        "left",
    ).select("node", F.coalesce(F.col("_c"), F.col("node")).alias("component"))


# Edge rows at or below which `connected_components` ("auto"/"star")
# finishes on the driver. Rows are distinct directed edges, so an
# undirected pair counts twice and a self-pair once. The size check
# collects up to this many rows as Python Rows (~300 MB at the limit
# with 40-bit int ids, measured) and union-find over them takes ~1.3 s on
# one core, while every distributed propagation round costs ~3 Spark jobs
# whatever the input size. Sized to a default driver's memory, not to the
# data: it is not a parameter.
LOCAL_CC_MAX_EDGES = 1_000_000

# MinHash signature length and char-shingle width of the stored near-dup
# index, its batch and stream probes, and the LSH quality report; the
# index's params row records them so a probe can check them.
INDEX_K = 16
INDEX_SHINGLE_N = 5


def _min_label_union_find(pairs) -> list[tuple]:
    """(node, component) over driver-side (a, b) pairs, where component is
    the minimum id connected to node: union-find that always hangs the
    larger root under the smaller one. A null id is its own component (it
    equals no id, so it links nothing), as on the distributed paths."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over an undirected near-duplicate pair list —
    the step that turns pairwise similarity into CLUSTER decisions (a doc
    chain a~b~c must collapse to one representative even though (a, c)
    was never compared).

    Returns (node, component) for every node that appears in `pairs`,
    where component = the minimum id reachable; a null id is its own
    component. Runs Spark jobs when called, on one of three paths:

    * **driver** (``"auto"``/``"star"``, at most `LOCAL_CC_MAX_EDGES`
      edge rows): the symmetric, distinct edge frame that the distributed
      paths use is persisted, and one ``limit(LOCAL_CC_MAX_EDGES +
      1).collect()`` reads it: the job(s) of the edges' shuffle stage
      and of the read (one per partition batch Spark's limit scans),
      plus any upstream stages of `pairs`. If it returns no more than the
      limit, union-find on the driver labels the components, the edges
      are unpersisted and the result is a `local_frame` (a driver-local
      relation, with the ids' type). No round jobs, and no
      `localCheckpoint`: nothing the result depends on is lost with an
      executor.
    * **propagation** (``"auto"`` above the limit, and ``"propagation"``
      always, which skips the size check): iterative min-label
      propagation. Every node starts labelled with its own id; each
      round, labels flow across edges and every node keeps the minimum
      seen: ONE shuffle join (symmetric edges × labels) plus one
      map-side-combined min-aggregate, ~3 jobs under AQE. Rounds needed
      = graph diameter, which for near-dup clusters is tiny (template
      families are near-cliques). Each round's labels are
      `localCheckpoint`-ed: iterative plans MUST truncate lineage, not
      merely cache — the labels frame appears twice per round (join side
      + union side), so the un-truncated logical plan doubles every
      iteration (2^rounds nodes: a 19-round chain OOMed the driver in
      Catalyst before any data moved). localCheckpoint is not fault
      tolerant: on a cluster that can lose executors, swap it for
      `checkpoint()` with a checkpoint dir.
    * **star** (``"star"`` above the limit): large-star / small-star
      contraction (`_star_components`, O(log n) rounds, the same
      per-round shape and checkpoints) over the persisted edges — the
      right opening when the caller KNOWS chains are long.

    Above the limit the size check adds only the read's job(s) to the
    distributed path: one when the first partition holds more than the
    limit, a few more while Spark's limit widens its scan (up to 4x the
    partitions per job). The edges' shuffle stage is shared, and the
    partitions the read computed stay in the cache the rounds then use.

    On the propagation path `algorithm` picks what happens when
    `max_iterations` rounds end without a fixpoint (a pathological chain
    — near-dup clusters are normally near-cliques with tiny diameter):

    * ``"auto"`` (default) — CONTRACT the graph through the partial
      labels (edges between label-representatives only — the graph
      shrinks to one node per partially-merged group) and finish it with
      star contraction. Never raises on diameter; the propagation rounds
      already paid are reused.
    * ``"propagation"`` — round-3 behaviour: raise rather than return
      partially-propagated labels.

    Convergence probe: each round's aggregate also keeps every node's
    previous label, so the round's one action counts the labels that
    changed — exact for any orderable id type, with no extra join.
    """
    from pyspark import StorageLevel

    if algorithm not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown connected-components algorithm {algorithm!r}")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    try:
        if algorithm != "propagation":
            # the size check reads the persisted edges: when the graph is
            # too big, the distributed path reuses them instead of
            # computing `pairs` a second time
            rows = edges.limit(LOCAL_CC_MAX_EDGES + 1).collect()
            if len(rows) <= LOCAL_CC_MAX_EDGES:
                t = edges.schema["src"].dataType.simpleString()
                return local_frame(
                    pairs.sparkSession,
                    _min_label_union_find(rows),
                    f"node {t}, component {t}",
                )
            del rows  # up to LOCAL_CC_MAX_EDGES rows the rounds do not need
        if algorithm == "star":
            return _star_components(
                edges.filter(F.col("src") < F.col("dst")),
                nodes=edges.select(F.col("src").alias("node")),
            )
        return _min_label_propagation(edges, max_iterations, algorithm)
    finally:
        edges.unpersist(blocking=False)


def _min_label_propagation(
    edges: DataFrame, max_iterations: int, algorithm: str
) -> DataFrame:
    """The propagation path of `connected_components` over its persisted,
    symmetric, distinct (src, dst) `edges`."""
    # an edge (null, x) would hand x's label to the null node; (x, null)
    # never joins, as null equals no node. So a null id stays its own
    # component, as on the star and driver paths
    links = edges.where(F.col("src").isNotNull())
    # eager=False + immediate action: the count aggregate's job
    # materialises the checkpoint as it runs — one job per round instead
    # of a checkpoint job followed by a collect job (r11; same trick in
    # every convergence loop below)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        msgs = links.join(labels, F.col("dst") == F.col("node")).select(
            F.col("src").alias("node"), F.col("component")
        )
        new = (
            labels.select("node", "component", F.col("component").alias("_prev"))
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("node")
            .agg(F.min("component").alias("component"), F.min("_prev").alias("_prev"))
            .localCheckpoint(eager=False)
        )
        changed = new.agg(
            F.count(F.when(F.col("component") != F.col("_prev"), 1)).alias("n")
        ).collect()[0]["n"]
        # the count action just materialised `new`, so last round's
        # checkpoint blocks are dead — free them now instead of waiting
        # for JVM GC (otherwise diameter-many label frames accumulate
        # per run for the session lifetime)
        release_local_checkpoint(labels)
        labels = new
        if changed == 0:
            break
    else:
        # budget exhausted without a fixpoint: labels are only PARTIALLY
        # propagated — returning them would split one real cluster into
        # several and keep phantom representatives
        if algorithm == "propagation":
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "rounds: the pair graph has a chain longer than the budget — "
                "raise max_iterations or use algorithm='auto'/'star' "
                "(large-star/small-star, O(log n) rounds, same shuffle shape)"
            )
        # auto: finish with star contraction on the CONTRACTED graph.
        # Partial labels are within-component by construction, so mapping
        # each endpoint to its label and dropping loops yields a graph
        # over label-representatives with identical connectivity but one
        # node per partially-merged group — the propagation rounds
        # already paid shrink the star input instead of being wasted.
        la = labels.select(
            F.col("node").alias("src"), F.col("component").alias("_ca")
        )
        lb = labels.select(
            F.col("node").alias("dst"), F.col("component").alias("_cb")
        )
        contracted = (
            edges.join(la, "src")
            .join(lb, "dst")
            .filter(F.col("_ca") != F.col("_cb"))
            .select(
                F.least("_ca", "_cb").alias("src"),
                F.greatest("_ca", "_cb").alias("dst"),
            )
            .distinct()
        )
        star = _star_components(contracted).select(
            F.col("node").alias("_rep"), F.col("component").alias("_root")
        )
        final = (
            labels.join(
                star, labels["component"] == star["_rep"], "left"
            )
            .select(
                "node",
                F.coalesce(F.col("_root"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        return final
    return labels.select("node", "component")


def embedding_neardup_drops(
    docs: DataFrame,
    embeddings: DataFrame,
    dim: int = 64,
    planes: int = 8,
    threshold: float = 0.25,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup over a documents table.

    The scale shape: documents equi-join their embeddings on id (at 100 TB
    both sides are bucketed/co-partitioned on the id, so this is a local
    join), vectors bucket by hyperplane sign signature (LSH — compare only
    within buckets, never corpus-quadratic), and in-bucket pairs with
    cosine >= `threshold` become dedup decisions: the HIGHER doc id of
    each pair is dropped, keeping its lowest-id partner. Output is one
    row per dropped doc: (doc_id, keep_id, n_dups, max_cos) — both
    aggregates are independently deterministic (min / count / max), so
    the result is engine-stable even when a doc pairs with several
    keepers. No reference counterpart (the gem has no dedup surface);
    net-new north-star operator.
    """
    from ndr_import_spark.operators.similarity import lsh_bucket_candidates

    vecs = docs.select("doc_id").join(
        embeddings.select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("_v"),
        ),
        "doc_id",
    )
    pairs = lsh_bucket_candidates(
        vecs, dim=dim, planes=planes, vec_col="_v", id_col="doc_id",
        threshold=threshold,
    )
    return (
        pairs.groupBy(F.col("id_b").alias("doc_id"))
        .agg(
            F.min("id_a").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cos").alias("max_cos"),
        )
    )


# ---------------------------------------------------------------------------
# incremental near-dup (new batch vs existing corpus)
# ---------------------------------------------------------------------------


def incremental_neardup_pairs(
    existing: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
    shingle_n: int = 5,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-duplicate pairs between a NEW ingest batch and the EXISTING
    corpus — the production shape for continuously-refreshed corpora:
    existing×existing pairs are never re-derived, only new→existing (and
    the caller chains `minhash_lsh_pairs(new)` for new×new).

    Ids must be disjoint across the two sides (true of any append-only
    ingest). Both sides use the SAME permutation salt as the batch
    pipeline, so a production deployment stores each ingest's (band, key)
    index and shingle-hash sets once (bucketed by band key) and this
    probe degenerates to an equi-join against the stored index — the
    existing corpus's TEXT is never re-read, let alone re-shingled. Here
    both sides are built in one pass over old ∪ new with a side flag so
    the pipeline shares one shingle stage and one cache.

    Returns (new_id, old_id, jaccard) — jaccard over hashed shingle sets,
    verified exactly, threshold-filtered like the batch pair finder.

    Runs Spark jobs while the DataFrame is built:
    `tagged.rdd.getNumPartitions()` has to plan the input, and under AQE
    planning executes every shuffle stage upstream of it, each as its own
    job.
    """
    tagged = existing.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text"), F.lit(0).alias("_new")
    ).unionByName(
        new.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text"), F.lit(1).alias("_new")
        )
    )
    parallelism = tagged.sparkSession.sparkContext.defaultParallelism
    if tagged.rdd.getNumPartitions() < parallelism:
        tagged = tagged.repartition(parallelism)
    # same Generate barrier as _shingle_base: one normalisation per row
    base = tagged.select(
        "_id", "_new", F.explode(F.array(normalize_text(F.col("_text")))).alias("_norm")
    )
    scope = _CacheScope()
    hashed = scope.persist(
        _hashed_sig_frame(
            _char_shingle_rows(base, shingle_n, carry=["_new"]),
            k,
            "mh",
            carry=["_new"],
        )
    )
    banded = _band_keys(hashed, k, bands, "mh", carry=["_new"])
    if max_bucket_size is not None:
        # same hot-bucket guard as _banded_jaccard_pairs: the cap counts
        # across BOTH sides (the probe join's volume is |new∩bucket| x
        # |old∩bucket| — saturated buckets explode it the same way)
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket_size)
            .select("band", "key")
        )
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    # same barrier as the batch core: probe side, index side and the hot
    # count otherwise each re-derive band keys from the fat hashed cache
    banded = scope.persist(banded)
    pairs = (
        banded.filter(F.col("_new") == 1)
        .alias("l")
        .join(banded.filter(F.col("_new") == 0).alias("r"), ["band", "key"])
        .select(F.col("l._id").alias("new_id"), F.col("r._id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    return scope.tie(
        _verify_jaccard(
            pairs,
            hashed.filter(F.col("_new") == 1),
            hashed.filter(F.col("_new") == 0),
            "new_id",
            "old_id",
            verify_threshold,
        )
    )


def drop_exact_duplicates_by_quality(df: DataFrame, score: Column) -> DataFrame:
    """Exact dedup keeping each content group's HIGHEST-`score` member
    (ties broken on ascending id) — the production election rule: when a
    crawl yields the same text from several sources, keep the copy whose
    metadata/quality is best, not an arbitrary or merely lowest-id row.

    Same single-shuffle shape as `drop_exact_duplicates`: the winner per
    content hash is elected with an ordered-struct MAX aggregate
    ((score, -id) lexicographic), which is map-side combinable — no
    window, no per-group sort, no skew funnel (a billion-copy boilerplate
    group still reduces via partial aggregates). The rounded score makes
    the election engine-deterministic."""
    h = F.md5(normalize_text(F.col("text")))
    w = df.select("*", h.alias("_h"), F.round(score, 9).alias("_q"))
    keep = (
        w.groupBy("_h")
        .agg(
            F.max(
                F.struct(
                    F.col("_q").alias("q"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("_top")
        )
        .select("_h", (-F.col("_top.neg_id")).cast("long").alias("doc_id"))
    )
    return w.join(keep, ["_h", "doc_id"], "inner").drop("_h", "_q")


def write_neardup_index(df: DataFrame, path: str, bands: int = 4) -> None:
    """Materialise the near-dup probe index to parquet: `<path>/bands`
    holds the (band, key, _id) rows partitioned by band, `<path>/sets`
    the (_id, _hs) hashed shingle sets. This is the artifact that makes
    `incremental_neardup_pairs`' claim concrete — an ingest pipeline
    writes this once per snapshot, and every later batch (or stream)
    probes it WITHOUT re-reading the old corpus text. Pays one shingle
    pass at write; no persist needed (each frame is consumed once).

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE."""
    hashed = _hashed_sig_frame(
        _char_shingle_rows(_shingle_base(df, "text", "doc_id"), INDEX_SHINGLE_N),
        INDEX_K,
        "mh",
    ).select("_id", "_hs")  # artifact schema: sets persist (_id, _hs) only
    # sets first: bands re-derives from the written sets so the shingle
    # pass runs once (reading narrow parquet beats recomputing regexes)
    hashed.write.mode("overwrite").parquet(f"{path}/sets")
    spark = df.sparkSession
    stored = spark.read.parquet(f"{path}/sets")
    _band_keys(stored, INDEX_K, bands, "mh").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    # 1-row params artifact: probing with different constants would
    # silently match nothing — make the mismatch loud at probe time
    local_frame(
        spark,
        [(INDEX_K, bands, INDEX_SHINGLE_N, "mh")],
        "k int, bands int, shingle_n int, salt string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def read_neardup_index_params(spark, path: str) -> tuple[int, int, int, str]:
    row = spark.read.parquet(f"{path}/params").collect()[0]
    return row["k"], row["bands"], row["shingle_n"], row["salt"]


def _check_index_params(spark, path: str, k: int, bands: int, shingle_n: int) -> None:
    sk, sb, sn, salt = read_neardup_index_params(spark, path)
    if (sk, sb, sn, salt) != (k, bands, shingle_n, "mh"):
        raise ValueError(
            f"near-dup index at {path} was written with k={sk} bands={sb} "
            f"shingle_n={sn} salt={salt}; probe requested k={k} bands={bands} "
            f"shingle_n={shingle_n} salt=mh — band keys would match nothing"
        )


def probe_neardup_index(
    new: DataFrame,
    index_path: str,
    bands: int = 4,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Probe a stored `write_neardup_index` artifact with a new batch:
    identical semantics to `incremental_neardup_pairs(old, new)` but the
    old side comes entirely from the index parquet — old text is never
    touched. The band join reads only the band partitions the probe
    keys hit; the verify join reads the narrow (_id, _hs) sets.

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE."""
    spark = new.sparkSession
    _check_index_params(spark, index_path, INDEX_K, bands, INDEX_SHINGLE_N)
    old_banded = spark.read.parquet(f"{index_path}/bands")
    old_sets = spark.read.parquet(f"{index_path}/sets")
    scope = _CacheScope()
    new_hashed = scope.persist(
        _hashed_sig_frame(
            _char_shingle_rows(_shingle_base(new, "text", "doc_id"), INDEX_SHINGLE_N),
            INDEX_K,
            "mh",
        )
    )
    new_banded = _band_keys(new_hashed, INDEX_K, bands, "mh")
    pairs = (
        new_banded.alias("l")
        .join(old_banded.alias("r"), ["band", "key"])
        .select(F.col("l._id").alias("new_id"), F.col("r._id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    return scope.tie(
        _verify_jaccard(
            pairs, new_hashed, old_sets, "new_id", "old_id", verify_threshold
        )
    )


def lsh_quality_report(df: DataFrame, sample_max_id: int = 300) -> DataFrame:
    """(metric, value): recall/precision of the banded MinHash candidate
    generator (k = INDEX_K, 4 bands, Jaccard threshold 0.5) against
    exact-Jaccard ground truth on a BOUNDED sample —
    the parameter-validation step you run before trusting (k, bands) on
    the full corpus (Leskovec et al. MMDS ch. 3 S-curve, public).

    Ground truth needs all sample pairs, so the all-pairs comparison is
    restricted by contract to `id < sample_max_id` (documented bounded
    side — the ONLY place the dedup family compares beyond its buckets);
    candidates reuse the exact production `_band_keys` bucketing, so the
    measured recall is the recall of the shipping index, not a replica.

    recall = |truth ∩ candidates| / |truth| (1.0 when no truth pairs);
    precision = |truth ∩ candidates| / |candidates| — candidates ∩ truth
    equals candidates-above-threshold because truth contains every pair
    at or above it.

    Runs Spark jobs while the DataFrame is built: it goes through
    `_shingle_base`, whose partition-count probe executes every shuffle
    stage upstream of the input under AQE."""
    sample = df.filter(F.col("doc_id") < sample_max_id)
    base = _shingle_base(sample, "text", "doc_id")
    scope = _CacheScope()
    hashed = scope.persist(
        _hashed_sig_frame(_char_shingle_rows(base, INDEX_SHINGLE_N), INDEX_K, "mh")
    )
    ids = hashed.select("_id")
    allp = (
        ids.alias("l")
        .join(ids.alias("r"), F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )
    # truth feeds two consumers (its count + the hits semi-join) and
    # cand three — without a barrier the all-pairs exact-Jaccard verify
    # re-executes per reference (measured: four ~2 s 32-task stages per
    # steady run). Both frames are pair-id-sized; one lazy checkpoint
    # each runs the expensive verify exactly once.
    truth = _verify_jaccard(
        allp, hashed, hashed, "id_a", "id_b", 0.5
    ).localCheckpoint(eager=False)
    banded = _band_keys(hashed, INDEX_K, 4, "mh")
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint(eager=False)
    )
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    one = (
        truth.agg(F.count(F.lit(1)).alias("_nt"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("_nc")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("_nh")))
    )
    nt, nc, nh = F.col("_nt"), F.col("_nc"), F.col("_nh")
    metrics = F.array(
        F.struct(F.lit("n_candidates").alias("metric"),
                 nc.cast("double").alias("value")),
        F.struct(F.lit("n_hits").alias("metric"),
                 nh.cast("double").alias("value")),
        F.struct(F.lit("n_truth").alias("metric"),
                 nt.cast("double").alias("value")),
        F.struct(
            F.lit("precision").alias("metric"),
            F.when(nc > 0, F.round(nh.cast("double") / nc, 5))
            .otherwise(F.lit(1.0)).alias("value"),
        ),
        F.struct(
            F.lit("recall").alias("metric"),
            F.when(nt > 0, F.round(nh.cast("double") / nt, 5))
            .otherwise(F.lit(1.0)).alias("value"),
        ),
    )
    return scope.tie(
        one.select(F.explode(metrics).alias("m")).select("m.metric", "m.value")
    )
