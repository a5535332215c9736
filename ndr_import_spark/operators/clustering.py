"""Distributed embedding clustering: integer-lattice Lloyd's k-means.

No reference counterpart (net-new, north-star LLM-pipeline surface):
embedding-space clustering is the backbone of SemDeDup-style semantic
dedup and cluster-balanced corpus sampling (Abbas et al. 2023; Lloyd
1982 — public papers). The reference repo has no clustering operators.

Design for 100 TB — the same determinism playbook as
operators/graph.py's PageRank:

* **Integer lattice.** Components quantise to ``round(double(v) ·
  scale)`` (float32 → double is exact, the double product is IEEE
  correctly-rounded, so both engines land on the same integer).
  Distances are exact BIGINT sums of squared integer differences; the
  argmin (tie-broken by centroid id) can never flip on a ULP, so a
  1000-executor re-run — or the DuckDB oracle — reproduces every
  assignment bit-for-bit. Centroid updates stay on the lattice via
  ``floor(Σq / n)`` (the double quotient of a <2^53 integer sum is
  exactly representable far from integer boundaries, so floor is exact
  floor division on both engines, negative sums included).
* **Shuffle shape.** Per iteration: the dims frame joins a BROADCAST
  centroid table (k·d rows), partial-aggregates distances map-side, and
  argmins with one combinable min(struct). Centroids are collected to
  the driver between rounds — k·d integers, the same bounded-state
  pattern as MLlib's own KMeans — so each round's plan stays shallow.
* **Empty clusters** simply drop out of the centroid table (both
  engines derive centroids from the same group-by), shrinking k — the
  textbook Lloyd behaviour, deterministic here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ndr_import_spark.sources.common import local_frame

KMEANS_SCALE = 127


def embedding_dims(df: DataFrame) -> DataFrame:
    """(id, d, q) long-form lattice quantization of an embedding column —
    posexplode + one codegen round; the frame every k-means step reuses."""
    return df.select(
        F.col("vec_id"),
        F.posexplode(F.col("embedding")).alias("d", "_v"),
    ).select(
        "vec_id",
        "d",
        F.round(F.col("_v").cast("double") * F.lit(float(KMEANS_SCALE)))
        .cast("int")
        .alias("q"),
    )


def _assign(dims: DataFrame, cdf: DataFrame, id_col: str) -> DataFrame:
    """(id, cid, dist): nearest centroid per vector, ties to smaller cid.
    BIGINT distances; min(struct(dist, cid)) is the combinable argmin."""
    diff = (F.col("q") - F.col("c")).cast("long")
    per_pair = (
        dims.join(F.broadcast(cdf), "d")
        .groupBy(id_col, "cid")
        .agg(F.sum(diff * diff).alias("dist"))
    )
    return (
        per_pair.groupBy(id_col)
        .agg(F.min(F.struct("dist", "cid")).alias("_m"))
        .select(id_col, F.col("_m.cid").alias("cid"), F.col("_m.dist").alias("dist"))
    )


def _assign_wide(
    dims: DataFrame, cent_rows: list[tuple[int, int, int]], id_col: str
) -> DataFrame:
    """(id, cid, dist) via the conditional-aggregate pipeline: centroids
    pivot to ONE wide (d, c_<cid>…) broadcast row set, the dims join has
    NO ×k row fan-out, and the k squared-distance sums come out of a
    single groupBy — one shuffle instead of two and k× fewer join rows
    (the same codegen rewrite that paid off on MinHash signatures).
    Values are bit-identical to :func:`_assign`: the same BIGINT distance
    per (id, cid), the same (dist, cid)-ordered argmin (least + a
    cid-ordered when-chain on equality)."""
    cids = sorted({cid for cid, _, _ in cent_rows})
    if not cids:
        raise ValueError(
            "k-means assignment needs a non-empty centroid table "
            "(got zero (cid, d, c) rows)"
        )
    by_d: dict[int, dict[int, int]] = {}
    for cid, d, c in cent_rows:
        by_d.setdefault(d, {})[cid] = c
    for d, per_cid in by_d.items():
        if len(per_cid) != len(cids):
            missing = sorted(set(cids) - set(per_cid))
            raise ValueError(
                f"ragged centroid table: dimension {d} lacks cells for "
                f"clusters {missing} — embedding vectors must have "
                "uniform length"
            )
    wide_rows = [
        tuple([d] + [by_d[d][cid] for cid in cids]) for d in sorted(by_d)
    ]
    schema = "d int, " + ", ".join(f"c{cid} long" for cid in cids)
    spark = dims.sparkSession
    wide = local_frame(spark, wide_rows, schema)
    q = F.col("q").cast("long")
    sums = [
        F.sum((q - F.col(f"c{cid}")) * (q - F.col(f"c{cid}"))).alias(f"d{cid}")
        for cid in cids
    ]
    dists = dims.join(F.broadcast(wide), "d").groupBy(id_col).agg(*sums)
    best, chain = argmin_chain(cids)
    return dists.select(
        id_col, chain.cast("int").alias("cid"), best.alias("dist")
    )


def argmin_chain(cids: list[int]):
    """(best, chain) Column pair for the tie-broken argmin over the
    ``d<cid>`` distance columns: ``best`` is the least distance,
    ``chain`` resolves to the SMALLEST cid attaining it. ONE definition —
    the batch assignment and the streaming router both compile through
    it, so their documented bit-parity is structural, not copy-paste."""
    cols = [F.col(f"d{cid}") for cid in cids]
    best = F.least(*cols) if len(cols) > 1 else cols[0]
    chain = None
    for cid in cids:
        cond = F.col(f"d{cid}") == best
        chain = (
            F.when(cond, F.lit(cid))
            if chain is None
            else chain.when(cond, F.lit(cid))
        )
    return best, chain


def embedding_qarr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
) -> DataFrame:
    """(id, qarr) COMPACT lattice quantization: one int-array row per
    vector — n rows instead of the long form's n·d. Element d equals
    :func:`embedding_dims`'s q for the same (id, d): the identical
    round(double·scale) HALF_UP arithmetic runs in the JVM (quantization
    must NOT move to numpy — np.round is half-even and the trunc(x+.5)
    trick mis-rounds doubles like 0.49999999999999994), and rows whose
    vector is NULL or empty are dropped to mirror the long form exactly
    (posexplode emits no rows for them). The transform lambda is
    interpreted, but it is ONE linear pass per element; the quadratic
    distance/pair math runs vectorized in numpy (guide §4.2), not here."""
    qarr = F.transform(
        F.col(vec_col),
        lambda v: F.round(v.cast("double") * F.lit(float(scale))).cast("int"),
    )
    return df.select(F.col(id_col), qarr.alias("qarr")).where(
        F.col("qarr").isNotNull() & (F.size("qarr") > 0)
    )


def _cent_matrix(cent_rows: list[tuple[int, int, int]]):
    """(cids, dim, k×d int64 matrix) from (cid, d, c) cells, with the
    same non-empty / non-ragged guards as :func:`_assign_wide`."""
    import numpy as np

    cids = sorted({cid for cid, _, _ in cent_rows})
    if not cids:
        raise ValueError(
            "k-means assignment needs a non-empty centroid table "
            "(got zero (cid, d, c) rows)"
        )
    by_d: dict[int, dict[int, int]] = {}
    for cid, d, c in cent_rows:
        by_d.setdefault(d, {})[cid] = c
    for d, per_cid in by_d.items():
        if len(per_cid) != len(cids):
            missing = sorted(set(cids) - set(per_cid))
            raise ValueError(
                f"ragged centroid table: dimension {d} lacks cells for "
                f"clusters {missing} — embedding vectors must have "
                "uniform length"
            )
    dims_sorted = sorted(by_d)
    mat = np.array(
        [[by_d[d][cid] for d in dims_sorted] for cid in cids],
        dtype=np.int64,
    )
    return cids, len(dims_sorted), mat


def _batch_matrix(col, dim: int):
    """n×dim int64 matrix from an Arrow list<int> column — a zero-copy
    offsets/values reshape (the lists are uniform length by operator
    contract; checked, with a clear error, not assumed)."""
    import numpy as np

    offs = np.asarray(col.offsets)
    if len(offs) > 1 and not (np.diff(offs) == dim).all():
        raise ValueError(
            "k-means requires uniform-length embedding vectors "
            f"(expected {dim} lattice components per row)"
        )
    vals = np.asarray(col.values)
    n = len(offs) - 1
    return vals[offs[0]: offs[0] + n * dim].reshape(n, dim).astype(np.int64)


def _assign_np(
    qdf: DataFrame,
    cent_rows: list[tuple[int, int, int]],
    id_col: str,
    keep_qarr: bool = False,
) -> DataFrame:
    """(id[, qarr], cid, dist) via one vectorized Arrow pass: squared
    lattice distances to every centroid come from ONE integer matmul per
    batch (dist = |q|² − 2 q·Cᵀ + |c|², exact int64 — the binomial
    expansion of the spec's Σ(q−c)²), and the argmin ties to the
    smallest cid because np.argmin returns the FIRST minimum and the
    centroid rows are cid-sorted. Bit-identical to :func:`_assign` /
    :func:`_assign_wide` with zero joins and zero exchanges — the wide
    form pays a broadcast join plus a groupBy(id) shuffle of n·d rows
    (guide §2.4 "remove shuffles outright", §4.2 "vectorized native
    code inside the Arrow boundary")."""
    import numpy as np

    cids, dim, cmat = _cent_matrix(cent_rows)
    cids_np = np.array(cids, dtype=np.int32)
    cnorm = (cmat * cmat).sum(axis=1)
    out_type = qdf.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {out_type}"
        + (", qarr array<int>" if keep_qarr else "")
        + ", cid int, dist long"
    )

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            ids = b.column(0)
            qarr = b.column(1)
            q = _batch_matrix(qarr, dim)
            d2 = (
                (q * q).sum(axis=1, keepdims=True)
                - 2 * (q @ cmat.T)
                + cnorm[None, :]
            )
            best = d2.argmin(axis=1)
            dist = d2[np.arange(len(q)), best]
            cols = [ids] + ([qarr] if keep_qarr else []) + [
                pa.array(cids_np[best], type=pa.int32()),
                pa.array(dist, type=pa.int64()),
            ]
            names = [id_col] + (["qarr"] if keep_qarr else []) + [
                "cid", "dist"
            ]
            yield pa.RecordBatch.from_arrays(cols, names)

    return qdf.select(id_col, "qarr").mapInArrow(assign, schema)


def _centroid_rounds_np(
    qdf: DataFrame, k: int, iterations: int, id_col: str
) -> list[tuple[int, int, int]]:
    """Bounded centroid rounds on the compact array frame. Init and
    update arithmetic match :func:`_centroid_rounds` cell-for-cell: init
    = the k smallest ids' lattice vectors (cid by id rank), update =
    floor(Σq / n) per (cid, d) — the floor division runs in the SAME
    Spark expression as before, on exact int64 sums. Per round the long
    form paid a broadcast join plus TWO n·d-row shuffle aggregates and
    two jobs; here assignment + per-task partial sums are one Arrow pass
    and the only exchange carries ~tasks·k·d partial rows (the
    map-side-combine shape, computed in numpy)."""
    import numpy as np

    rows = qdf.orderBy(id_col).limit(k).collect()
    cent_rows = [
        (ci, d, int(q))
        for ci, r in enumerate(rows)
        for d, q in enumerate(r["qarr"])
    ]
    for _ in range(iterations):
        cids, dim, cmat = _cent_matrix(cent_rows)
        cids_np = np.array(cids, dtype=np.int32)
        cnorm = (cmat * cmat).sum(axis=1)
        nk = len(cids)

        def partials(batches, _cmat=cmat, _cnorm=cnorm, _cids=cids_np,
                     _dim=dim, _nk=nk):
            import pyarrow as pa

            S = np.zeros((_nk, _dim), dtype=np.int64)
            N = np.zeros(_nk, dtype=np.int64)
            for b in batches:
                q = _batch_matrix(b.column(1), _dim)
                d2 = (
                    (q * q).sum(axis=1, keepdims=True)
                    - 2 * (q @ _cmat.T)
                    + _cnorm[None, :]
                )
                best = d2.argmin(axis=1)
                np.add.at(S, best, q)
                N += np.bincount(best, minlength=_nk)
            nz = np.nonzero(N)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(_cids[nz], _dim), type=pa.int32()),
                    pa.array(np.tile(np.arange(_dim, dtype=np.int32),
                                     len(nz)), type=pa.int32()),
                    pa.array(S[nz].reshape(-1), type=pa.int64()),
                    pa.array(np.repeat(N[nz], _dim), type=pa.int64()),
                ],
                ["cid", "d", "_s", "_n"],
            )

        newc = (
            qdf.select(id_col, "qarr")
            .mapInArrow(partials, "cid int, d int, _s long, _n long")
            .groupBy("cid", "d")
            .agg(F.sum("_s").alias("_s"), F.sum("_n").alias("_n"))
            .select(
                "cid",
                "d",
                F.floor(F.col("_s") / F.col("_n")).cast("long").alias("c"),
            )
        )
        cent_rows = [
            (int(r["cid"]), int(r["d"]), int(r["c"])) for r in newc.collect()
        ]
    return cent_rows


def _centroid_rounds(
    df: DataFrame,
    dims: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
) -> list[tuple[int, int, int]]:
    """Run the bounded centroid rounds (init = k smallest ids' vectors,
    `iterations` assign→update steps) and return the trained centroid
    cells as (cid, d, c) tuples."""
    init_ids = (
        df.select(id_col)
        .orderBy(id_col)
        .limit(k)
        .select(
            id_col,
            (F.row_number().over(Window.orderBy(id_col)) - 1)
            .cast("int")
            .alias("cid"),
        )
    )
    cent_rows = [
        (int(r["cid"]), int(r["d"]), int(r["c"]))
        for r in dims.join(F.broadcast(init_ids), id_col)
        .select("cid", "d", F.col("q").cast("long").alias("c"))
        .collect()
    ]
    for _ in range(iterations):
        assign = _assign_wide(dims, cent_rows, id_col)
        newc = (
            assign.join(dims, id_col)
            .groupBy("cid", "d")
            .agg(F.sum("q").alias("_s"), F.count("*").alias("_n"))
            .select(
                "cid",
                "d",
                F.floor(F.col("_s") / F.col("_n")).cast("long").alias("c"),
            )
        )
        # k·d integers — bounded driver state, same as MLlib KMeans
        cent_rows = [
            (int(r["cid"]), int(r["d"]), int(r["c"])) for r in newc.collect()
        ]
    return cent_rows


def kmeans_centroids(df: DataFrame, k: int = 8, iterations: int = 3) -> DataFrame:
    """(cid, d, c) trained centroid frame — the standing table a batch
    job persists and `streaming.stream_cluster_assign` routes against.
    k·d rows; write it with a plain `.write.parquet` and reload it for
    the stream."""
    qdf = embedding_qarr(df, "vec_id", "embedding", KMEANS_SCALE)
    cent_rows = _centroid_rounds_np(qdf, k, iterations, "vec_id")
    return local_frame(df.sparkSession, cent_rows, "cid int, d int, c long")


def kmeans_lattice(df: DataFrame, k: int = 8, iterations: int = 3) -> DataFrame:
    """Lloyd's k-means on the integer lattice: init = the k smallest ids'
    vectors, `iterations` assign→update rounds, one final assignment.
    Returns (cluster, n_members, wcss, min_vec_id) per non-empty cluster.

    r11 shape: the vectorized Arrow path — the final assignment is one
    matmul pass over (id, qarr) rows and the ONLY exchange in the output
    plan is the k-row groupBy(cluster)."""
    qdf = embedding_qarr(df, "vec_id", "embedding", KMEANS_SCALE)
    final = _assign_np(
        qdf, _centroid_rounds_np(qdf, k, iterations, "vec_id"), "vec_id"
    )
    return final.groupBy(F.col("cid").alias("cluster")).agg(
        F.count("*").alias("n_members"),
        F.sum("dist").alias("wcss"),
        F.min("vec_id").alias("min_vec_id"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    threshold_pct: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KMEANS_SCALE,
    max_cluster_size: int | None = 8192,
    n_bands: int = 4,
    pair_block_elems: int = 1 << 23,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means first, then near-duplicate
    pairs ONLY within each cluster — the clustering bounds the pairwise
    work to Σ m_c² instead of n² (the whole point at 100 TB: with n/k
    per cluster the comparison volume drops k-fold, and each cluster's
    pair join is an independent shuffle partition).

    Cosine in pure integers on the same lattice as the clustering:
    cos(a,b) ≥ p/100  ⇔  dot > 0  ∧  dot²·10⁴ ≥ p²·|a|²·|b|²
    — every quantity BIGINT, so pair decisions are bit-reproducible.
    Returns (cluster, a_id, b_id, int_dot) — a_id < b_id.

    ``max_cluster_size`` caps the worst cluster (r5 VERDICT item 4):
    Σ m_c² is only bounded if no cluster is huge, and k-means cannot
    split a cluster of (near-)identical vectors. The cap is ON BY
    DEFAULT (r6 VERDICT item 2: the measured uncapped shape goes 12×
    for 10× data at sf1); pass ``max_cluster_size=None`` to explicitly
    opt into the exact-but-quadratic form. Clusters above the cap
    fall back to banded exact-match LSH on the SAME quantized lattice:
    each member gets ``n_bands`` signatures (md5 of its q-values on the
    dims ≡ b mod n_bands, in d order) and only pairs sharing a band
    signature are dotted — near-identical vectors agree on every band,
    far pairs in a pathological mega-cluster are skipped instead of
    dotted. Exact within small clusters, documented-recall within capped
    ones; pair decisions stay bit-reproducible either way. The default
    cap is 8192 (r12, was 65536): with the blockwise pair scan the
    in-task MEMORY is bounded at any m, but the m²·d pair arithmetic
    still runs inside one task per cluster, and 8192²·d ≈ 4·10¹² int ops
    is the most a single task can defensibly hold; 65536² was 64× that.

    ``pair_block_elems`` bounds the within-cluster pair scan's working
    set: the Q·Qᵀ matmul runs in row blocks of ⌊pair_block_elems / m⌋
    rows so no m×m matrix ever materialises (peak ≈ 4 block buffers ·
    8 B · pair_block_elems ≈ 256 MB at the 2²³ default) — output
    bit-identical to the full matrix, see cluster_pairs below.

    r11 shuffle/compute shape (guide §2.3, §4.2): vectors stay ONE
    compact (id, qarr) row each. The within-cluster pair phase is a
    groupBy(cid) + per-cluster integer MATMUL (Q·Qᵀ in int64 — exact,
    and |q|² norms are its diagonal): the shuffle carries n rows instead
    of the former n·d lattice rows, and the m_c²·d pair arithmetic runs
    vectorized instead of fanning each candidate pair out to d joined
    rows through a groupBy(cid, a, b) (measured at sf0.1: that stage ran
    as ONE 2.3 s task after AQE coalesced the small exchange). Only
    pairs PASSING the threshold ever become rows."""
    import numpy as np

    qdf = embedding_qarr(df, id_col, vec_col, scale)
    cent_rows = _centroid_rounds_np(qdf, k, iterations, id_col)
    tagged = _assign_np(qdf, cent_rows, id_col, keep_qarr=True).select(
        "cid", id_col, "qarr"
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"cluster int, a_id {id_type}, b_id {id_type}, int_dot long"
    p2 = threshold_pct * threshold_pct

    def cluster_pairs(pdf):
        import pandas as pd

        m = len(pdf)
        empty = pd.DataFrame(
            {"cluster": pd.array([], dtype="int32"),
             "a_id": [], "b_id": [],
             "int_dot": pd.array([], dtype="int64")}
        )
        if m < 2:
            return empty
        pdf = pdf.sort_values(id_col, kind="mergesort")
        q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
        ids = pdf[id_col].to_numpy()
        n2 = np.einsum("ij,ij->i", q, q)
        cid = int(pdf["cid"].iloc[0])
        # Blockwise Q·Qᵀ (r11 VERDICT item 1): one task receives a WHOLE
        # cluster here, and the full m×m int64 dots matrix plus
        # triu_indices(m) needs ~70 GB at m = 65536 — guaranteed worker
        # OOM at scale. Row-blocks of b rows against the full Q bound the
        # peak at O(b·m) (b sized so each block buffer is ~pair_block_elems
        # int64s) while the arithmetic, the threshold predicate and the
        # row-major (i asc, j asc) output order stay bit-identical to the
        # full-matrix form: nonzero() is C-order, and ascending blocks
        # concatenate in the same global order triu_indices walked.
        bsz = max(1, min(m, pair_block_elems // m))
        cols = np.arange(m)
        outs = []
        for i0 in range(0, m - 1, bsz):
            i1 = min(i0 + bsz, m)
            dv = q[i0:i1] @ q.T
            keep = (
                (cols[None, :] > np.arange(i0, i1)[:, None])
                & (dv > 0)
                & (dv * dv * 10000 >= p2 * n2[i0:i1, None] * n2[None, :])
            )
            if not keep.any():
                continue
            ra, cb = np.nonzero(keep)
            kv = dv[ra, cb]
            outs.append(pd.DataFrame(
                {
                    "cluster": np.full(len(kv), cid, dtype="int32"),
                    "a_id": ids[ra + i0],
                    "b_id": ids[cb],
                    "int_dot": kv,
                }
            ))
        if not outs:
            return empty
        return outs[0] if len(outs) == 1 else pd.concat(outs, ignore_index=True)

    if max_cluster_size is None:
        return tagged.groupBy("cid").applyInPandas(cluster_pairs, out_schema)

    # k-row sizes frame, broadcast onto the compact rows
    sizes = tagged.groupBy("cid").agg(F.count("*").alias("_m"))
    t2 = tagged.join(F.broadcast(sizes), "cid")
    pair_src = t2.where(F.col("_m") <= max_cluster_size).drop("_m")
    big = t2.where(F.col("_m") > max_cluster_size).drop("_m")
    small_pairs = pair_src.groupBy("cid").applyInPandas(
        cluster_pairs, out_schema
    )
    # per-band signature: md5 of the q-values on dims ≡ b mod n_bands in
    # ascending d order — transform/filter preserve array order, so the
    # strings (and md5s) equal the former sort_array(collect_list) build
    # without its groupBy shuffle
    dq = F.transform(
        F.col("qarr"), lambda x, i: F.struct(i.alias("d"), x.alias("q"))
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(dq, lambda s: s["d"] % n_bands == b),
                        lambda s: s["q"].cast("string"),
                    ),
                    ",",
                )
            ).alias("sig"),
        )
        for b in range(n_bands)
    ]
    sig = big.select(
        "cid", id_col, F.explode(F.array(*band_structs)).alias("_bs")
    ).select("cid", id_col, F.col("_bs.band").alias("band"),
             F.col("_bs.sig").alias("sig"))
    ca = sig.select("cid", "band", "sig", F.col(id_col).alias("a_id"))
    cb = sig.select("cid", "band", "sig", F.col(id_col).alias("b_id"))
    cand = (
        ca.join(cb, ["cid", "band", "sig"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("cid", "a_id", "b_id")
        .distinct()
    )
    # candidate pairs from capped clusters: attach both q arrays by id
    # and dot them in one vectorized Arrow pass (norms recomputed from
    # the same rows — exact int64 either way)
    joined = (
        cand.join(
            tagged.select(F.col(id_col).alias("a_id"),
                          F.col("qarr").alias("_qa")),
            "a_id",
        )
        .join(
            tagged.select(F.col(id_col).alias("b_id"),
                          F.col("qarr").alias("_qb")),
            "b_id",
        )
        .select("cid", "a_id", "b_id", "_qa", "_qb")
    )

    def cand_dots(batches):
        import pyarrow as pa

        dim = None
        for b in batches:
            if b.num_rows == 0:
                continue
            qa_col = b.column(3)
            if dim is None:
                offs = np.asarray(qa_col.offsets)
                dim = int(offs[1] - offs[0])
            qa = _batch_matrix(qa_col, dim)
            qb = _batch_matrix(b.column(4), dim)
            dv = (qa * qb).sum(axis=1)
            n2a = (qa * qa).sum(axis=1)
            n2b = (qb * qb).sum(axis=1)
            keep = (dv > 0) & (dv * dv * 10000 >= p2 * n2a * n2b)
            idx = np.nonzero(keep)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(pa.array(idx)),
                    b.column(1).take(pa.array(idx)),
                    b.column(2).take(pa.array(idx)),
                    pa.array(dv[idx], type=pa.int64()),
                ],
                ["cluster", "a_id", "b_id", "int_dot"],
            )

    big_pairs = joined.mapInArrow(cand_dots, out_schema)
    return small_pairs.unionByName(big_pairs)


def _kmeans_ctes(k: int, iterations: int, scale: int) -> str:
    """Shared DuckDB CTE chain: lattice dims, init, c0..c{iterations},
    distances d{t} and assignments a{t} (a{iterations+1} is final)."""
    parts = [
        f"""
WITH dims AS (
  SELECT vec_id, t.d - 1 AS d,
         CAST(round(CAST(embedding[t.d] AS DOUBLE) * {scale}) AS INT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(d)
),
init_ids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
  FROM embeddings ORDER BY vec_id LIMIT {k}
),
c0 AS (
  SELECT i.cid, dm.d, CAST(dm.q AS BIGINT) AS c
  FROM init_ids i JOIN dims dm ON dm.vec_id = i.vec_id
)"""
    ]
    for t in range(1, iterations + 2):
        prev = f"c{t - 1}"
        parts.append(
            f""",
d{t} AS (
  SELECT dm.vec_id, c.cid,
         CAST(sum(CAST(dm.q - c.c AS BIGINT) * CAST(dm.q - c.c AS BIGINT))
              AS BIGINT) AS dist
  FROM dims dm JOIN {prev} c ON dm.d = c.d
  GROUP BY dm.vec_id, c.cid
),
a{t} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{t}
  ) WHERE rn = 1
)"""
        )
        if t <= iterations:
            parts.append(
                f""",
c{t} AS (
  SELECT a.cid, dm.d,
         CAST(floor(CAST(sum(dm.q) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM a{t} a JOIN dims dm ON a.vec_id = dm.vec_id
  GROUP BY a.cid, dm.d
)"""
            )
    return "".join(parts)


def kmeans_oracle_sql(k: int = 8, iterations: int = 3) -> str:
    """DuckDB transcription of kmeans_lattice: the same lattice recurrence
    unrolled into CTEs c0..c{iterations} + a final assignment."""
    return (
        _kmeans_ctes(k, iterations, KMEANS_SCALE)
        + f"""
SELECT cid AS cluster, count(*) AS n_members,
       CAST(sum(dist) AS BIGINT) AS wcss, min(vec_id) AS min_vec_id
FROM a{iterations + 1} GROUP BY cid ORDER BY cluster"""
    )


def semantic_dedup_oracle_sql(
    k: int = 8,
    iterations: int = 3,
    threshold_pct: int = 25,
) -> str:
    """DuckDB transcription of semantic_dedup_pairs: the kmeans CTE chain
    + within-cluster integer-cosine pair selection."""
    p2 = threshold_pct * threshold_pct
    fin = f"a{iterations + 1}"
    return (
        _kmeans_ctes(k, iterations, KMEANS_SCALE)
        + f""",
tagged AS (
  SELECT a.cid, dm.vec_id, dm.d, dm.q
  FROM {fin} a JOIN dims dm ON a.vec_id = dm.vec_id
),
norms AS (
  SELECT cid, vec_id,
         CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS n2
  FROM tagged GROUP BY cid, vec_id
),
dots AS (
  SELECT ta.cid, ta.vec_id AS a_id, tb.vec_id AS b_id,
         CAST(sum(CAST(ta.q AS BIGINT) * tb.q) AS BIGINT) AS int_dot
  FROM tagged ta JOIN tagged tb
    ON ta.cid = tb.cid AND ta.d = tb.d AND ta.vec_id < tb.vec_id
  GROUP BY ta.cid, ta.vec_id, tb.vec_id
)
SELECT d.cid AS cluster, d.a_id, d.b_id, d.int_dot
FROM dots d
JOIN norms na ON na.vec_id = d.a_id AND na.cid = d.cid
JOIN norms nb ON nb.vec_id = d.b_id AND nb.cid = d.cid
WHERE d.int_dot > 0
  AND d.int_dot * d.int_dot * 10000 >= {p2} * na.n2 * nb.n2
ORDER BY cluster, a_id, b_id"""
    )


def semantic_dedup_capped_oracle_sql(
    k: int = 8,
    iterations: int = 3,
    threshold_pct: int = 25,
    max_cluster_size: int = 60,
    n_bands: int = 4,
) -> str:
    """DuckDB transcription of semantic_dedup_pairs with a cluster-size
    cap: full pair join inside small clusters, banded exact-match LSH
    (md5 of the per-band q-values in d order — the LITERAL same strings
    Spark hashes) inside oversized ones."""
    p2 = threshold_pct * threshold_pct
    fin = f"a{iterations + 1}"
    return (
        _kmeans_ctes(k, iterations, KMEANS_SCALE)
        + f""",
tagged AS (
  SELECT a.cid, dm.vec_id, dm.d, dm.q
  FROM {fin} a JOIN dims dm ON a.vec_id = dm.vec_id
),
norms AS (
  SELECT cid, vec_id,
         CAST(sum(CAST(q AS BIGINT) * q) AS BIGINT) AS n2
  FROM tagged GROUP BY cid, vec_id
),
sizes AS (
  SELECT cid, count(*) AS m FROM {fin} GROUP BY cid
),
small AS (
  SELECT t.* FROM tagged t JOIN sizes s ON t.cid = s.cid
  WHERE s.m <= {max_cluster_size}
),
big AS (
  SELECT t.* FROM tagged t JOIN sizes s ON t.cid = s.cid
  WHERE s.m > {max_cluster_size}
),
sig AS (
  SELECT cid, vec_id, d % {n_bands} AS band,
         md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY d)) AS sig
  FROM big GROUP BY cid, vec_id, d % {n_bands}
),
cand AS (
  SELECT DISTINCT sa.cid, sa.vec_id AS a_id, sb.vec_id AS b_id
  FROM sig sa JOIN sig sb
    ON sa.cid = sb.cid AND sa.band = sb.band AND sa.sig = sb.sig
   AND sa.vec_id < sb.vec_id
),
dots AS (
  SELECT ta.cid, ta.vec_id AS a_id, tb.vec_id AS b_id,
         CAST(sum(CAST(ta.q AS BIGINT) * tb.q) AS BIGINT) AS int_dot
  FROM small ta JOIN small tb
    ON ta.cid = tb.cid AND ta.d = tb.d AND ta.vec_id < tb.vec_id
  GROUP BY ta.cid, ta.vec_id, tb.vec_id
  UNION ALL
  SELECT c.cid, c.a_id, c.b_id,
         CAST(sum(CAST(da.q AS BIGINT) * db.q) AS BIGINT) AS int_dot
  FROM cand c
  JOIN dims da ON da.vec_id = c.a_id
  JOIN dims db ON db.vec_id = c.b_id AND db.d = da.d
  GROUP BY c.cid, c.a_id, c.b_id
)
SELECT d.cid AS cluster, d.a_id, d.b_id, d.int_dot
FROM dots d
JOIN norms na ON na.vec_id = d.a_id AND na.cid = d.cid
JOIN norms nb ON nb.vec_id = d.b_id AND nb.cid = d.cid
WHERE d.int_dot > 0
  AND d.int_dot * d.int_dot * 10000 >= {p2} * na.n2 * nb.n2
ORDER BY cluster, a_id, b_id"""
    )
