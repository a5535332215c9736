"""Distributed graph operators: fixed-point PageRank over a link graph.

No reference counterpart (net-new, north-star scale surface): crawl-graph
link analysis is a standard ranking / spam-filtering signal in web-scale
training-data pipelines (Page et al. 1999; Brin & Page 1998 — public
papers). The reference repo (`lib/ndr_import`) has no graph operators.

Design notes for 100 TB:

* **Integer fixed-point arithmetic.** Scores are BIGINTs scaled by
  ``PAGERANK_SCALE`` (10^12); every step is integer multiply / integer
  division on non-negative values, so the result is bit-identical across
  engines, partitionings, and re-runs — no floating-point reduction-order
  drift, which matters when a re-run of a 1000-executor job must
  reproduce the ranking exactly. The deterministic DuckDB oracle is an
  unrolled-CTE transcription of the same arithmetic.
* **Shuffle shape.** Each iteration is: join(edges, scores) on ``src``
  → per-edge contribution → ``groupBy(dst).sum`` (partial map-side
  aggregation) → left join back onto the node set. The ``edges``
  subplan is identical across iterations, so Catalyst's
  ``ReusedExchange`` dedupes the edge shuffle; scores shuffle once per
  iteration on a (id, int64) pair — 16 bytes/row.
* **Dangling mass.** Nodes without out-links simply contribute nothing
  (their rank leaks to the teleport term); nodes without in-links get
  the teleport floor via the left join + ``coalesce(0)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12
PAGERANK_DAMPING_PCT = 85  # d = 0.85 as an integer percentage
LINK_STRIDE = 7919  # 1000th prime; arbitrary fixed stride
OUT_DEGREE = 3  # links per synthetic node, shared with the oracles


def synthetic_link_graph(docs: DataFrame, out_degree: int = OUT_DEGREE) -> DataFrame:
    """(src, dst) edge frame derived deterministically from a document set
    (ids in ``doc_id``): doc ``i`` links to ``(i + j*LINK_STRIDE) mod n``
    for ``j = 1..out_degree``, self-loops dropped. ``n`` rides along via
    a broadcast scalar — no driver-side collect, the whole graph stays a
    lazy plan."""
    n = docs.agg(F.count("*").alias("_n"))
    jays = F.array(*[F.lit(j) for j in range(1, out_degree + 1)])
    return (
        docs.select(F.col("doc_id").alias("src"))
        .crossJoin(F.broadcast(n))
        .select("src", "_n", F.explode(jays).alias("_j"))
        .select(
            "src",
            ((F.col("src") + F.col("_j") * LINK_STRIDE) % F.col("_n")).alias(
                "dst"
            ),
        )
        .where(F.col("dst") != F.col("src"))
    )


def pagerank_fixed_point(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """(id, score) after ``iterations`` synchronous PageRank rounds in
    scaled integer arithmetic:

        score_0(v)   = PAGERANK_SCALE div n
        score_k+1(v) = (PAGERANK_SCALE*(100-d) div 100) div n
                       + (d * Σ_{u→v} (score_k(u) div outdeg(u))) div 100

    All quantities are non-negative BIGINTs, every ``div`` is integral,
    so the fixpoint trajectory is exactly reproducible (and exactly
    matched by the unrolled SQL oracle). With scale 10^12 and d=85 the
    intermediate ``d * Σ`` stays well under 2^63 for any graph whose max
    in-degree × scale < 10^17."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    outd = edges.groupBy("src").agg(F.count("*").alias("od"))
    # exact python int
    teleport_num = PAGERANK_SCALE * (100 - PAGERANK_DAMPING_PCT) // 100

    # r11 loop shape (guide §2.4 "remove shuffles outright"): scores stay
    # SPARSE inside the loop — only nodes with in-links carry a row;
    # every other node's score is the round's closed-form constant
    # (scale div n at round 0, teleport_num div n afterwards — a node
    # with no in-links receives exactly the teleport term), re-attached
    # where the matvec consumes it via coalesce on a LEFT join from the
    # edge frame. This deletes the per-round nodes-left-join (a full
    # node-set shuffle per iteration) and the nodes subtree's repeated
    # plan copies; the zero-fill happens ONCE after the loop. Values are
    # bit-identical: the recurrence consumes the same score for every
    # src either way.
    # loop-invariant subtrees are lazily checkpointed ONCE: every round
    # (and the final zero-fill) references a truncated plan instead of
    # re-embedding the edge/node subtrees — without this the 5-round
    # logical plan carries ~240 Exchange nodes and Catalyst planning
    # time, not stage work, dominates the query (measured: 2.3 s steady
    # with 0.6 s of stage wall at sf0.1). The join also computes only
    # once per run instead of once per round.
    ce = edges.join(outd, "src").localCheckpoint(eager=False)
    nodes = nodes.localCheckpoint(eager=False)
    nn = nodes.agg(F.count("*").alias("_n"))
    scores = None
    for it in range(iterations):
        base = PAGERANK_SCALE if it == 0 else teleport_num
        default = f"CAST({base} AS BIGINT) div _n"
        if scores is None:  # round 0: every src holds the init constant
            joined = ce.crossJoin(F.broadcast(nn))
            src_score = default
        else:
            joined = ce.join(
                scores.withColumnRenamed("id", "src"), "src", "left"
            ).crossJoin(F.broadcast(nn))
            src_score = f"coalesce(score, {default})"
        contrib = joined.select(
            F.col("dst").alias("id"),
            F.expr(f"({src_score}) div od").alias("_c"),
        )
        sums = contrib.groupBy("id").agg(F.sum("_c").alias("_m"))
        scores = sums.crossJoin(F.broadcast(nn)).select(
            "id",
            (
                F.expr(f"CAST({teleport_num} AS BIGINT) div _n")
                + F.expr(f"({PAGERANK_DAMPING_PCT} * _m) div 100")
            ).alias("score"),
        )
    if scores is None:  # iterations == 0: every node sits at the init value
        return nodes.crossJoin(F.broadcast(nn)).select(
            "id",
            F.expr(f"CAST({PAGERANK_SCALE} AS BIGINT) div _n").alias("score"),
        )
    # one zero-fill at the end: nodes with no in-links hold exactly the
    # teleport term of the final round
    return (
        nodes.crossJoin(F.broadcast(nn))
        .join(scores, "id", "left")
        .select(
            "id",
            F.expr(
                f"coalesce(score, CAST({teleport_num} AS BIGINT) div _n)"
            ).alias("score"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """(node, triangles) for every node on ≥1 triangle, from a directed
    edge list treated as an undirected simple graph.

    The classic two-join formulation (Suri & Vassilvitskii 2011, "Counting
    Triangles and the Curse of the Last Reducer"): canonicalise each edge
    to (lo, hi), dedupe, then wedges = E ⋈ E on the middle vertex with an
    ordering predicate so every triangle {a<b<c} materialises exactly
    once as (a,b)+(b,c), and closes iff (a,c) ∈ E. Two shuffles on
    vertex keys + one semi-join-shaped closure join; per-triangle output
    explodes to its 3 corners and aggregates map-side. Skewed high-degree
    vertices are the known hazard at scale — the ordering predicate
    already halves wedge volume; beyond that, the standard fix is
    degree-ordered orientation, noted here as the upgrade path."""
    und = (
        edges.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")
    closed = wedges.join(
        und.select(F.col("lo").alias("a"), F.col("hi").alias("c")),
        ["a", "c"],
    )
    corners = closed.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def pagerank_oracle_sql() -> str:
    """DuckDB transcription of synthetic_link_graph + pagerank_fixed_point:
    the same integer recurrence unrolled into CTEs r0..r5 (5 rounds), top 30.
    DuckDB sum(BIGINT) widens to HUGEINT, hence the CAST back."""
    teleport_num = PAGERANK_SCALE * (100 - PAGERANK_DAMPING_PCT) // 100
    jays = ", ".join(str(j) for j in range(1, OUT_DEGREE + 1))
    parts = [
        f"""
WITH dn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT d.doc_id AS src, (d.doc_id + j * {LINK_STRIDE}) % dn.n AS dst
  FROM documents d, dn, unnest([{jays}]) AS tj(j)
  WHERE (d.doc_id + j * {LINK_STRIDE}) % dn.n <> d.doc_id
),
nodes AS (SELECT DISTINCT src AS id FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT id, {PAGERANK_SCALE} // nn.n AS score FROM nodes, nn)"""
    ]
    for k in range(1, 6):
        parts.append(
            f""",
r{k} AS (
  SELECT nd.id,
         {teleport_num} // nn.n
         + ({PAGERANK_DAMPING_PCT} * coalesce(s.m, 0)) // 100 AS score
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS id, CAST(sum(p.score // o.od) AS BIGINT) AS m
    FROM edges e
    JOIN r{k - 1} p ON e.src = p.id
    JOIN outd o ON e.src = o.src
    GROUP BY e.dst
  ) s ON nd.id = s.id
)"""
        )
    parts.append(
        f"""
SELECT id, score FROM r5
ORDER BY score DESC, id LIMIT 30"""
    )
    return "".join(parts)


HITS_SCALE = 10**6


def hits_fixed_point(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """(id, hub, authority): Kleinberg's HITS (1999, public) as an exact
    integer recurrence — the coupled twin of `pagerank_fixed_point`:

        a' = Aᵀ h   (authority = sum of pointing hubs)
        h' = A a'   (hub = sum of pointed authorities)

    with each vector rescaled after its matvec by truncating division
    with ``max(1, max(v) div HITS_SCALE)`` — values stay non-negative
    (init `HITS_SCALE`, sums of non-negatives), so Spark `div` == DuckDB `//` and
    the whole trajectory is engine- and partitioning-exact. Per round:
    two keyed join+agg jobs on the edge frame (map-side combined); state
    between rounds is a node-sized frame, localCheckpoint-truncated like
    connected components."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst")))
        .distinct()
    )
    # loop-invariant subtrees: one lazy checkpoint each, so the four
    # unrolled rounds reference truncated plans (same rationale as the
    # PageRank loop above)
    edges = edges.localCheckpoint(eager=False)
    nodes = nodes.localCheckpoint(eager=False)
    # r11 loop shape (guide §2.4): the hub/authority vectors stay SPARSE
    # inside the loop. A node missing from `a` holds 0 — and a 0 row
    # contributes exactly nothing to the next matvec's inner join, while
    # the rescale max over the sparse aggregate equals the max over the
    # zero-filled frame (all values are non-negative sums). So the two
    # per-round nodes-left-joins existed only for the OUTPUT shape; they
    # happen once after the loop now. Every src has an out-edge and
    # every dst an in-edge by construction, so the matvec join finds a
    # row for every edge endpoint that could carry mass — the
    # trajectory is bit-identical. Round 1's a' = Σ h_0(src) = HITS_SCALE ×
    # indegree folds the constant init vector into the aggregate, which
    # also removes h_0's node-set materialisation.
    h = None
    a = None
    for it in range(iterations):
        # a' = sum over in-edges of h(src)
        if h is None:  # h_0 ≡ HITS_SCALE for every node
            a_raw = edges.groupBy(F.col("dst").alias("id")).agg(
                (F.count(F.lit(1)) * F.lit(HITS_SCALE)).cast("long").alias("v")
            )
        else:
            a_raw = (
                edges.join(h.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("h").alias("v"))
            )
        amax = a_raw.agg(F.max("v").alias("m"))
        a = (
            a_raw.crossJoin(F.broadcast(amax))
            .select(
                "id",
                F.expr(f"v div greatest(1, m div {HITS_SCALE})").alias("a"),
            )
        )
        # h' = sum over out-edges of a(dst)
        h_raw = (
            edges.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("v"))
        )
        hmax = h_raw.agg(F.max("v").alias("m"))
        h = (
            h_raw.crossJoin(F.broadcast(hmax))
            .select(
                "id",
                F.expr(f"v div greatest(1, m div {HITS_SCALE})").alias("h"),
            )
        ).localCheckpoint(eager=False)
    # one zero-fill at the end restores the dense output contract
    return (
        nodes.join(h, "id", "left")
        .join(a.withColumnRenamed("a", "authority"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("h"), F.lit(0).cast("long")).alias("hub"),
            F.coalesce(F.col("authority"), F.lit(0).cast("long")).alias(
                "authority"
            ),
        )
    )


def hits_oracle_sql(iterations: int = 4) -> str:
    """DuckDB transcription of synthetic_link_graph + hits_fixed_point,
    unrolled (MATERIALIZED per round — each state is referenced twice),
    top 30 hubs."""
    jays = ", ".join(str(j) for j in range(1, OUT_DEGREE + 1))
    parts = [f"""
WITH dn AS (SELECT count(*) AS n FROM documents),
edges AS MATERIALIZED (
  SELECT d.doc_id AS src, (d.doc_id + j * {LINK_STRIDE}) % dn.n AS dst
  FROM documents d, dn, unnest([{jays}]) AS tj(j)
  WHERE (d.doc_id + j * {LINK_STRIDE}) % dn.n <> d.doc_id
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges
          UNION SELECT DISTINCT dst FROM edges),
h0 AS (SELECT id, CAST({HITS_SCALE} AS BIGINT) AS h FROM nodes)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
ar{k} AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(sum(p.h), 0) AS BIGINT) AS v
  FROM nodes n LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN h{k - 1} p ON p.id = e.src
  GROUP BY n.id
), am{k} AS (
  SELECT greatest(1, CAST(max(v) AS BIGINT) // {HITS_SCALE}) AS m FROM ar{k}
),
a{k} AS MATERIALIZED (SELECT id, v // m AS a FROM ar{k}, am{k}),
hr{k} AS MATERIALIZED (
  SELECT n.id, CAST(COALESCE(sum(p.a), 0) AS BIGINT) AS v
  FROM nodes n LEFT JOIN edges e ON e.src = n.id
  LEFT JOIN a{k} p ON p.id = e.dst
  GROUP BY n.id
), hm{k} AS (
  SELECT greatest(1, CAST(max(v) AS BIGINT) // {HITS_SCALE}) AS m FROM hr{k}
),
h{k} AS MATERIALIZED (SELECT id, v // m AS h FROM hr{k}, hm{k})""")
    parts.append(f"""
SELECT h.id, h.h AS hub, a.a AS authority
FROM h{iterations} h JOIN a{iterations} a USING (id)
ORDER BY hub DESC, id LIMIT 30""")
    return "".join(parts)


def synthetic_block_graph(
    docs: DataFrame,
    block: int = 32,
    stride: int = 5,
) -> DataFrame:
    """(src, dst) edges with PLANTED community structure: node ``i``
    links only inside its ``block``-sized id block, to
    ``block_start + ((i % block + j*stride) % block)`` for
    j = 1..OUT_DEGREE —
    the deterministic fixture for community detection (stride coprime to
    block keeps each block connected). Pure per-row arithmetic; no
    shuffle, no collect."""
    i = F.col("doc_id")
    start = i - (i % block)
    jays = F.array(*[F.lit(j) for j in range(1, OUT_DEGREE + 1)])
    return (
        docs.select(i.alias("src"))
        .select("src", F.explode(jays).alias("_j"))
        .select(
            "src",
            (
                (F.col("src") - (F.col("src") % block))
                + ((F.col("src") % block + F.col("_j") * stride) % block)
            ).alias("dst"),
        )
        .where(F.col("dst") != F.col("src"))
    )


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """(id, label) after `iterations` SYNCHRONOUS label-propagation
    rounds (Raghavan et al. 2007, "Near linear time algorithm to detect
    community structures") over the undirected closure of `edges`,
    made fully deterministic:

        label_0(v)   = v
        label_k+1(v) = the most frequent label among v's neighbours'
                       label_k, ties broken to the SMALLEST label

    Integer labels + the min-tie-break make the whole trajectory
    bit-reproducible across partitionings and engines (the async
    random-order variant of the paper is not) — same discipline as the
    integer PageRank/HITS fixed points above.

    Shuffle shape per round: join(und_edges, labels) on the neighbour
    key → count per (node, label) — map-side combinable — → one
    max-of-struct aggregate per node (cnt, -label) so the argmax needs
    NO window over the corpus. The undirected edge frame is built once
    and reused (ReusedExchange across rounds); labels shuffle as
    (id, int64) pairs."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = und.select(F.col("src").alias("id")).distinct()
    labels = nodes.select("id", F.col("id").alias("label"))
    for _ in range(iterations):
        neigh = und.join(
            labels.select(
                F.col("id").alias("dst"), F.col("label").alias("_nl")
            ),
            "dst",
        ).select(F.col("src").alias("id"), F.col("_nl"))
        counted = neigh.groupBy("id", "_nl").agg(
            F.count(F.lit(1)).alias("_c")
        )
        labels = counted.groupBy("id").agg(
            (-F.max(F.struct(F.col("_c"), (-F.col("_nl")).alias("_m")))["_m"]).alias(
                "label"
            )
        )
    return labels


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int) -> DataFrame:
    """(id, hops) for every node reachable from `seeds` within
    `max_hops` directed hops — minimum hop count, frontier-expansion
    BFS (the crawl-reachability / contamination-blast-radius pass).

    This is the one iterative graph shape the fixed-point family above
    doesn't cover: the WORKING SET is the frontier, not the node set.
    Per round the join touches only last round's newly-discovered nodes
    — on a 100 TB crawl graph where a seed set reaches a small
    neighbourhood, rounds get *cheaper* as the frontier saturates,
    where a Bellman-Ford-style relaxation would re-shuffle every
    visited node every round. The frontier dedups (distinct on id)
    before the anti-join against the visited set, so edge fan-in never
    amplifies; `edges` is re-used across rounds (ReusedExchange) and
    the visited set localCheckpoints every 2 rounds to
    truncate the union lineage. All-integer — bit-identical across
    engines and re-runs.
    """
    visited = seeds.select(
        F.col("id").cast("long").alias("id"), F.lit(0).cast("int").alias("hops")
    ).distinct()
    frontier = visited.select("id")
    for k in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = nxt.join(visited, "id", "left_anti").select(
            "id", F.lit(k).cast("int").alias("hops")
        )
        visited = visited.union(new)
        if k % 2 == 0:
            visited = visited.localCheckpoint(eager=False)
        frontier = new.select("id")
    return visited


def bfs_oracle_sql(max_hops: int, seed_mod: int) -> str:
    """DuckDB transcription of synthetic_link_graph + bfs_hops, unrolled:
    the oracle uses the simpler (and per-round heavier) relaxation form
    d_k = min(d_{k-1}, 1 + d_{k-1} of any in-neighbour) — same results
    by induction on hop count, deliberately NOT the same plan."""
    jays = ", ".join(str(j) for j in range(1, OUT_DEGREE + 1))
    parts = [
        f"""
WITH n AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id + j * {LINK_STRIDE}) % (SELECT n FROM n) AS dst
  FROM documents, unnest([{jays}]) AS tj(j)
  WHERE (doc_id + j * {LINK_STRIDE}) % (SELECT n FROM n) <> doc_id
),
d0 AS (
  SELECT doc_id AS id, 0 AS hops FROM documents WHERE doc_id % {seed_mod} = 0
)"""
    ]
    for k in range(1, max_hops + 1):
        parts.append(
            f""",
d{k} AS (
  SELECT id, min(hops) AS hops FROM (
    SELECT id, hops FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS id, p.hops + 1 AS hops
    FROM d{k - 1} p JOIN e ON e.src = p.id
  ) GROUP BY id
)"""
        )
    parts.append(
        f"""
SELECT cast(hops as int) AS hops, cast(count(*) as bigint) AS n_nodes,
       min(id) AS min_id, max(id) AS max_id
FROM d{max_hops} GROUP BY hops ORDER BY hops"""
    )
    return "".join(parts)


def label_propagation_oracle_sql(
    iterations: int = 4,
    block: int = 32,
    stride: int = 5,
) -> str:
    """DuckDB transcription of synthetic_block_graph + label_propagation:
    the same deterministic recurrence unrolled into CTEs l0..l{k}, the
    argmax expressed as row_number over (cnt DESC, label ASC)."""
    jays = ", ".join(str(j) for j in range(1, OUT_DEGREE + 1))
    parts = [
        f"""
WITH raw_e AS (
  SELECT doc_id AS src,
         (doc_id - doc_id % {block})
         + ((doc_id % {block} + j * {stride}) % {block}) AS dst
  FROM documents, unnest([{jays}]) AS tj(j)
  WHERE (doc_id - doc_id % {block})
        + ((doc_id % {block} + j * {stride}) % {block}) <> doc_id
),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw_e
    UNION ALL SELECT dst AS src, src AS dst FROM raw_e
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT src AS id FROM und),
l0 AS (SELECT id, id AS label FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
l{k} AS (
  SELECT id, label FROM (
    SELECT u.src AS id, p.label,
      row_number() OVER (
        PARTITION BY u.src
        ORDER BY count(*) DESC, p.label ASC
      ) AS rn
    FROM und u JOIN l{k - 1} p ON u.dst = p.id
    GROUP BY u.src, p.label
  ) WHERE rn = 1
)"""
        )
    parts.append(
        f"""
SELECT label AS community, count(*) AS n_members,
       min(id) AS min_id, max(id) AS max_id
FROM l{iterations}
GROUP BY label ORDER BY community"""
    )
    return "".join(parts)
