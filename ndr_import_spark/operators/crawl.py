"""Crawl-compliance operators: robots.txt filtering and per-domain stats
for WARC-extracted corpora.

Net-new (BASELINE.json north_star): the compliance stage a crawl-derived
training corpus runs before anything else — drop documents whose URL a
site's robots.txt disallows for the harvesting agent.

Semantics (documented SUBSET of the robots exclusion protocol, RFC 9309):
the rule group applying to the given user-agent (exact token match,
falling back to ``*``), its ``Disallow:`` path prefixes and ``Allow:``
path prefixes, decided by LONGEST-MATCH precedence (RFC 9309 §2.2.2 —
the most specific matching rule wins; Allow wins ties). ``$``-anchors and
``*``-wildcards inside paths are NOT interpreted (treated literally) —
the honest cut line, stated here rather than silently mis-matched.

Scale design: robots.txt bodies are parsed ONCE on the HOST-sized frame
(one row per site — bounded by the web's host count, millions, not the
corpus' trillions of documents) into (host, rule, is_allow) rows; the
corpus joins that frame on the HOST equi-key — never a cross product —
and the longest-matching rule per document is decided by one
max-over-struct aggregate, map-side combinable. The corpus never meets
Python; rule parsing is a pure-Column split/explode pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_host(url: Column) -> Column:
    """Host of an absolute URL (lowercased, port kept) — pure regexp."""
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))


def url_path(url: Column) -> Column:
    """Path component of an absolute URL ('/' when absent) — pure regexp."""
    p = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


# Tracking query parameters stripped during canonicalization (shared
# literally with the DuckDB oracle; RE2-compatible — no lookarounds).
TRACKING_PARAM_RE = r"^(utm_[a-zA-Z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=|$)"


def canonicalize_urls(
    df: DataFrame, id_col: str = "doc_id", url_col: str = "url"
) -> DataFrame:
    """(id, scheme, host, path, query_canon, url_canon) — the standard
    URL-dedup normal form for crawl corpora: fragment dropped, scheme and
    host lowercased, leading ``www.`` and default ports (:80 http /
    :443 https) stripped, duplicate path slashes collapsed, trailing
    slash removed (except root), tracking parameters removed and the
    remaining query parameters SORTED.

    Scale shape: fully per-row — every step including the parameter
    sort runs as codegen array expressions (``split`` → higher-order
    ``filter`` → ``array_sort`` → ``array_join``); ZERO shuffle.
    Duplicate ``id_col`` values are therefore harmless (each row is
    canonicalised independently) — callers may feed raw, non-distinct
    link streams."""
    nofrag = F.substring_index(F.col(url_col), "#", 1)
    # scheme-less inputs: protocol-relative '//host/p' gets 'http:',
    # bare 'host/p' gets 'http://' — otherwise the host/path extractors
    # (which anchor on '<scheme>://') would see '' and collapse every
    # malformed URL into one 'http:///' dedup group
    nofrag = (
        F.when(nofrag.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), nofrag)
        .when(nofrag.startswith("//"), F.concat(F.lit("http:"), nofrag))
        .otherwise(F.concat(F.lit("http://"), nofrag))
    )
    scheme = F.lower(
        F.regexp_extract(nofrag, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(nofrag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(
        nofrag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.when(path == "/", path).otherwise(
        F.regexp_replace(path, r"/+$", "")
    )
    query = F.regexp_extract(nofrag, r"\?([^#]*)", 1)

    # Per-row array pipeline — no explode/groupBy/join round-trip, so
    # duplicate ids cannot cross-contaminate each other's params.
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    out = df.select(
        F.col(id_col).alias("_id"),
        scheme.alias("scheme"),
        host.alias("host"),
        path.alias("path"),
        F.array_join(F.array_sort(kept), "&").alias("query_canon"),
    )
    url_canon = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.col("host"),
        F.col("path"),
        F.when(
            F.col("query_canon") != "", F.concat(F.lit("?"), F.col("query_canon"))
        ).otherwise(F.lit("")),
    )
    return out.select(
        F.col("_id").alias(id_col),
        "scheme",
        "host",
        "path",
        "query_canon",
        url_canon.alias("url_canon"),
    )


def url_dedup(df: DataFrame) -> DataFrame:
    """(url_canon, n_variants, kept_id) — exact dedup on the canonical
    URL, keeping the smallest id per group (deterministic keep-first).
    Combinable min/count aggregates; one shuffle on the canonical key."""
    canon = canonicalize_urls(df, "doc_id", "url")
    return canon.groupBy("url_canon").agg(
        F.count("*").alias("n_variants"),
        F.min("doc_id").alias("kept_id"),
    )


def parse_robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    body_col: str = "robots_txt",
    user_agent: str = "*",
) -> DataFrame:
    """(host, rule, is_allow, rule_len) rows from raw robots.txt bodies.

    Selects the rule group for `user_agent` (exact token, case-insensitive)
    when one exists for the host, else the ``*`` group. Group membership
    follows the protocol's line structure: consecutive ``User-agent:``
    lines share the rule block that follows. Pure Column pipeline
    (split/explode/window-free prefix logic) over the host-sized frame."""
    ua = user_agent.lower()
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(
            F.split(F.col(body_col), r"\r?\n")
        ).alias("line_no", "line"),
    ).select(
        "host",
        "line_no",
        # strip comments and whitespace
        F.trim(F.regexp_replace(F.col("line"), r"#.*$", "")).alias("line"),
    )
    parsed = lines.select(
        "host",
        "line_no",
        F.lower(F.trim(F.regexp_extract(F.col("line"), r"^([A-Za-z-]+)\s*:", 1))).alias("key"),
        F.trim(F.regexp_extract(F.col("line"), r"^[A-Za-z-]+\s*:(.*)$", 1)).alias("value"),
    ).filter(F.col("key") != "")
    # group id: running count of user-agent lines that START a new group
    # (a UA line directly after another UA line joins the same group).
    # Window by host ordered by line number — host-sized data, tiny.
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("line_no")
    marked = parsed.withColumn(
        "_prev_key", F.lag("key").over(w)
    ).withColumn(
        "_new_group",
        (
            (F.col("key") == "user-agent")
            & (F.coalesce(F.col("_prev_key"), F.lit("")) != "user-agent")
        ).cast("int"),
    ).withColumn(
        "grp", F.sum("_new_group").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    # which groups name our UA / the wildcard
    group_uas = (
        marked.filter(F.col("key") == "user-agent")
        .groupBy("host", "grp")
        .agg(
            F.max((F.lower(F.col("value")) == ua).cast("int")).alias("_has_ua"),
            F.max((F.col("value") == "*").cast("int")).alias("_has_star"),
        )
    )
    host_has_ua = group_uas.groupBy("host").agg(
        F.max("_has_ua").alias("_host_has_ua")
    )
    chosen = (
        group_uas.join(host_has_ua, "host")
        .filter(
            ((F.col("_host_has_ua") == 1) & (F.col("_has_ua") == 1))
            | ((F.col("_host_has_ua") == 0) & (F.col("_has_star") == 1))
        )
        .select("host", "grp")
    )
    rules = (
        marked.join(chosen, ["host", "grp"])
        .filter(F.col("key").isin("allow", "disallow") & (F.col("value") != ""))
        .select(
            "host",
            F.col("value").alias("rule"),
            (F.col("key") == "allow").alias("is_allow"),
            F.length("value").alias("rule_len"),
        )
        .distinct()
    )
    return rules


def robots_filter(
    docs: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
) -> DataFrame:
    """Drop documents whose URL path the host's robots.txt disallows for
    `user_agent` (longest-match precedence, Allow wins ties; hosts with
    no robots row are fully allowed — the protocol's default).

    The DECISION is computed once per distinct (host, path) pair — a
    frame bounded by distinct URLs, smaller than the corpus and far
    smaller than corpus × rules: the pair frame host-equi-joins the
    host-sized rule frame, the prefix match is a codegen `startswith`
    filter, and ONE max-over-struct aggregate picks the governing rule
    (map-side combinable). The corpus itself is then filtered by a
    LEFT SEMI join on (host, path) — duplicate documents survive intact
    and no corpus-wide window or row-collapsing groupBy exists."""
    rules = parse_robots_rules(robots, "host", "robots_txt", user_agent)
    keyed = docs.withColumn("_host", url_host(F.col("target_uri"))).withColumn(
        "_path", url_path(F.col("target_uri"))
    )
    pairs = keyed.select("_host", "_path").distinct()
    decided = (
        pairs.join(rules, pairs["_host"] == rules["host"], "left")
        .groupBy("_host", "_path")
        .agg(
            # non-matching rules contribute NULL (ignored by MAX) — a pair
            # whose host has rules but none matching stays in the frame
            # with _best NULL, i.e. allowed by default (a pre-filter here
            # would silently DROP such pairs)
            F.max(
                F.when(
                    F.col("rule").isNotNull()
                    & F.col("_path").startswith(F.col("rule")),
                    F.struct(
                        F.col("rule_len").alias("l"),
                        # Allow outranks Disallow at equal length
                        F.col("is_allow").cast("int").alias("a"),
                    ),
                )
            ).alias("_best")
        )
    )
    allowed = decided.filter(
        F.col("_best").isNull() | (F.col("_best.a") == 1)
    ).select("_host", "_path")
    return keyed.join(allowed, ["_host", "_path"], "left_semi").select(
        *docs.columns
    )


def per_domain_stats(docs: DataFrame) -> DataFrame:
    """(host, n_docs, total_chars, avg_chars) — the crawl-balance profile
    run before per-source caps. One combinable aggregate on the host key
    (AQE handles the mega-domain skew; `per_source_cap` is the follow-up
    stage for actually capping)."""
    return (
        docs.select(
            url_host(F.col("target_uri")).alias("host"),
            F.length(F.col("text")).alias("_n"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("total_chars"),
            F.round(F.avg("_n"), 5).alias("avg_chars"),
        )
    )


# --------------------------------------------------------------- links

# One regex, two capture groups: (1) the <a ...> attribute blob, (2) the
# anchor markup up to the matching </a>. (?is): case-insensitive, dot
# spans newlines. RE2/Java compatible — no lookarounds.
_A_TAG_RE = r"(?is)<a\s([^>]*)>(.*?)</a>"


def extract_links(df: DataFrame) -> DataFrame:
    """Outlink extraction for crawled HTML → one row per <a href> with
    (src_host, href, anchor, nofollow, dst_url, dst_host).

    Resolution (RFC 3986 subset, the crawl-graph normal form):
    absolute ``scheme://`` hrefs pass through; ``//host/…`` inherits the
    page scheme; ``/path`` is root-relative; anything else resolves
    against the page's directory with a bounded ``..`` collapse (3
    passes — deeper chains stay literal rather than silently wrong).
    Non-navigational schemes (mailto:, javascript:, tel:, data:) and
    fragment-only hrefs drop. Anchor text is the tag-stripped,
    whitespace-collapsed inner markup.

    Scale shape: everything is per-row codegen (regexp_extract_all +
    explode) — no shuffle, no Python; the explode's fan-out is the
    page's link count. Feed the result to host_link_graph (one
    map-side-combinable aggregate) and onward to pagerank/hits over
    hosts — the crawl story end-to-end: warc_extract → extract_links →
    host_link_graph → graph algorithms."""
    html = F.col("html")
    attrs = F.regexp_extract_all(html, F.lit(_A_TAG_RE), F.lit(1))
    texts = F.regexp_extract_all(html, F.lit(_A_TAG_RE), F.lit(2))
    base = F.col("url")
    scheme = F.lower(F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(base)
    bdir = F.regexp_replace(url_path(base), r"[^/]*$", "")

    pairs = df.select(
        F.col("doc_id").alias("src_id"),
        scheme.alias("_scheme"),
        host.alias("src_host"),
        bdir.alias("_dir"),
        F.explode(F.arrays_zip(attrs.alias("a"), texts.alias("t"))).alias("_l"),
    )
    attr = F.col("_l.a")
    # href value: double-quoted | single-quoted | bare token. The
    # (^|\s) anchor keeps data-href= / xlink:href-ish attributes from
    # matching inside their own names (review finding: data-href="wrong"
    # href=right extracted "wrong")
    href = F.when(
        attr.rlike(r'(?i)(^|\s)href\s*=\s*"'),
        F.regexp_extract(attr, r'(?i)(^|\s)href\s*=\s*"([^"]*)"', 2),
    ).when(
        attr.rlike(r"(?i)(^|\s)href\s*=\s*'"),
        F.regexp_extract(attr, r"(?i)(^|\s)href\s*=\s*'([^']*)'", 2),
    ).otherwise(
        F.regexp_extract(attr, r"""(?i)(^|\s)href\s*=\s*([^\s>'"]+)""", 2)
    )
    href = F.trim(href)
    nofollow = attr.rlike(r"""(?i)rel\s*=\s*['"]?[^'">]*nofollow""")
    anchor = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("_l.t"), r"(?s)<[^>]*>", " "),
            r"\s+",
            " ",
        )
    )
    rows = pairs.select(
        "src_id",
        "src_host",
        "_scheme",
        "_dir",
        href.alias("href"),
        anchor.alias("anchor"),
        nofollow.alias("nofollow"),
    ).where(
        (F.col("href") != "")
        & ~F.col("href").startswith("#")
        & ~F.col("href").rlike(r"(?i)^(mailto|javascript|tel|data):")
    )
    nofrag = F.substring_index(F.col("href"), "#", 1)
    resolved = (
        F.when(nofrag.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), nofrag)
        .when(
            nofrag.startswith("//"),
            F.concat(F.col("_scheme"), F.lit(":"), nofrag),
        )
        .when(
            nofrag.startswith("/"),
            F.concat(
                F.col("_scheme"), F.lit("://"), F.col("src_host"), nofrag
            ),
        )
        .otherwise(
            F.concat(
                F.col("_scheme"),
                F.lit("://"),
                F.col("src_host"),
                F.col("_dir"),
                nofrag,
            )
        )
    )
    # '..' collapse must never cross the authority: 'https://h/../b'
    # would otherwise match '/h/../' and swallow the host (review
    # finding). Split off scheme://host, collapse the path alone, clamp
    # any climb above the root, then reassemble.
    authority = F.regexp_extract(
        resolved, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1
    )
    pathq = F.regexp_replace(
        resolved, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""
    )
    for _ in range(3):  # bounded ../ collapse (path only)
        pathq = F.regexp_replace(pathq, r"/[^/.][^/]*/\.\./", "/")
    pathq = F.regexp_replace(pathq, r"^(/\.\.)+(/|$)", "/")
    dst = F.concat(authority, pathq)
    return rows.select(
        "src_id",
        "src_host",
        "href",
        "anchor",
        "nofollow",
        dst.alias("dst_url"),
        F.lower(F.regexp_extract(dst, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)).alias(
            "dst_host"
        ),
    )


def host_link_graph(
    links: DataFrame, respect_nofollow: bool = True, drop_self: bool = False
) -> DataFrame:
    """(src_host, dst_host, n_links) — the host-level edge list feeding
    pagerank/hits. One combinable groupBy on the (src, dst) pair —
    shuffle volume is the DISTINCT edge count, not the link count
    (partial aggregation collapses repeats map-side)."""
    edges = links
    if respect_nofollow:
        edges = edges.where(~F.col("nofollow"))
    if drop_self:
        edges = edges.where(F.col("src_host") != F.col("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def crawl_frontier(
    links: DataFrame,
    seen_urls: DataFrame,
    host_scores: DataFrame,
    k_per_host: int = 100,
) -> DataFrame:
    """Next-wave crawl frontier from extracted outlinks: canonicalise
    candidate URLs, drop the already-crawled set, rank within each host
    and keep `k_per_host` (the politeness budget).

    Inputs: `links` from extract_links (respects its nofollow flag);
    `seen_urls` with a canonical ``url_canon`` column (what the crawl
    store already holds); `host_scores` as (host, host_score) — e.g.
    pagerank over host_link_graph.

    Ranking: per host, by (n_inlinks DESC, url_canon ASC) — popular
    pages first, deterministic ties. Output: (host, url_canon,
    n_inlinks, host_score, rank).

    Plan shape at 100 TB: candidate canonicalisation is the
    canonicalize_urls pipeline (per-row codegen + a bounded param
    sort); the seen filter is an equi anti-join on the canonical URL
    (never a broadcast of the corpus-sized seen set); the per-host cap
    reuses per_source_cap's SALTED two-phase top-k so a mega-host
    cannot funnel one reducer; host_scores joins on the host equi-key
    (host-count-sized frame)."""
    from pyspark.sql import Window

    from ndr_import_spark.operators.corpus import per_source_cap

    cand = links.where(~F.col("nofollow")).select(
        F.col("dst_url").alias("u")
    )
    canon = canonicalize_urls(cand, id_col="u", url_col="u")
    per_url = canon.groupBy("url_canon", "host").agg(
        F.count(F.lit(1)).alias("n_inlinks")
    )
    fresh = per_url.join(
        seen_urls.select("url_canon"), "url_canon", "left_anti"
    )
    capped = per_source_cap(
        fresh,
        k_per_host,
        score=F.col("n_inlinks"),
        source_col="host",
        id_col="url_canon",
        score_col="_cap_score",
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_inlinks").desc(), F.col("url_canon")
    )
    return (
        capped.join(host_scores, "host", "left")
        .select(
            "host",
            "url_canon",
            "n_inlinks",
            F.coalesce(F.col("host_score"), F.lit(0)).alias("host_score"),
            F.row_number().over(w).alias("rank"),
        )
    )


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """Sitemap ingestion (sitemaps.org protocol) — the frontier-seeding
    companion to robots_filter: explode <urlset> bodies into (host,
    kind='url', loc, lastmod, priority) rows and <sitemapindex> bodies
    into (host, kind='index', loc, NULL, NULL) child-sitemap rows.

    Spark-first: the XML never leaves the JVM — Spark's `xpath`
    expression extracts the loc/lastmod/priority arrays (local-name()
    predicates, so the default sitemaps.org namespace needs no
    registration), arrays_zip + explode aligns them positionally.
    lastmod/priority are surfaced only when the document supplies one
    per <url> (counts match the loc count) — partially-annotated
    sitemaps keep their locs and get NULLs rather than misaligned
    metadata. Per-row codegen throughout; no shuffle at all."""
    def xp(expr: str) -> Column:
        return F.expr(f'xpath(sitemap_xml, "{expr}")')

    url_locs = xp("//*[local-name()='urlset']/*[local-name()='url']"
                  "/*[local-name()='loc']/text()")
    lastmods = xp("//*[local-name()='urlset']/*[local-name()='url']"
                  "/*[local-name()='lastmod']/text()")
    prios = xp("//*[local-name()='urlset']/*[local-name()='url']"
               "/*[local-name()='priority']/text()")
    idx_locs = xp("//*[local-name()='sitemapindex']/*[local-name()='sitemap']"
                  "/*[local-name()='loc']/text()")
    n = F.size(url_locs)
    lastmods = F.when(F.size(lastmods) == n, lastmods).otherwise(
        F.array_repeat(F.lit(None).cast("string"), n)
    )
    prios = F.when(F.size(prios) == n, prios).otherwise(
        F.array_repeat(F.lit(None).cast("string"), n)
    )
    urls = (
        df.select(
            F.col("host"),
            F.explode(F.arrays_zip(
                url_locs.alias("loc"),
                lastmods.alias("lastmod"),
                prios.alias("priority"),
            )).alias("z"),
        )
        .select(
            "host",
            F.lit("url").alias("kind"),
            F.col("z.loc").alias("loc"),
            F.col("z.lastmod").alias("lastmod"),
            F.col("z.priority").cast("double").alias("priority"),
        )
    )
    children = df.select(
        F.col("host"),
        F.lit("index").alias("kind"),
        F.explode(idx_locs).alias("loc"),
        F.lit(None).cast("string").alias("lastmod"),
        F.lit(None).cast("double").alias("priority"),
    )
    return urls.unionAll(children)
