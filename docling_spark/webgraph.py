"""Web-graph operators over the Common-Crawl-style pages table.

The reference's HTML backend walks anchor elements while extracting
content (docling/backend/html_backend.py, ``<a>`` inline handling); a
crawl-scale corpus additionally needs the *graph* those anchors induce
- outlink edges per host, link-authority scores, and URL
canonicalization so mirror URLs collapse before dedup.  All three are
re-expressed Spark-first: scan-side regexp column algebra, equi-joins,
and fixed-point iteration as a bounded chain of join+agg stages - no
RDDs, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from docling_spark.textfns import _ident, md5_int_sql, url_host

_HREF_RE = r'href="([^"]*)"'
_ABS_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"


def link_graph(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """Host-level outlink graph from raw html: one edge row per
    (src_host, dst_host) with total link count and distinct-target
    count.  Root-relative hrefs (``/path``) resolve to the source
    host; absolute hrefs resolve to their own host; anything else
    (fragments, mailto:, protocol-relative) is dropped - the
    conservative subset both engines normalize identically.

    Plan shape (100-TB lens): the href extraction is a scan-side
    ``regexp_extract_all`` projection (whole-stage codegen, html never
    leaves the executor), one explode, and a single hash aggregation
    on the (src_host, dst_host) key with map-side partials; the
    distinct-target count is Spark's two-phase partial-distinct, so a
    hot host pair ships pre-deduplicated target sets per map task.
    No UDF, no second pass over html.
    """
    html_s = F.col(html_col).cast("string")
    src = url_host(url_col)
    rows = (pages
            .select(src.alias("src_host"),
                    F.explode(F.regexp_extract_all(
                        html_s, F.lit(_HREF_RE), 1)).alias("href")))
    is_abs = F.col("href").rlike(_ABS_RE)
    is_rel = F.col("href").startswith("/") & ~F.col("href").startswith("//")
    dst = F.when(is_abs, F.lower(F.regexp_replace(
        F.regexp_extract("href", _ABS_RE + r"([^/?#]+)", 1),
        r":\d+$", ""))).otherwise(F.col("src_host"))
    target = F.when(is_abs, F.col("href")).otherwise(
        F.concat(F.col("src_host"), F.col("href")))
    return (rows.where(is_abs | is_rel)
            .select("src_host", dst.alias("dst_host"),
                    target.alias("target"))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("target").alias("n_targets"))
            .withColumn("internal", F.col("src_host") == F.col("dst_host")))


_ANCHOR_RE = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_stats(pages: DataFrame, url_col: str = "url",
                 html_col: str = "html") -> DataFrame:
    """Inbound anchor-text profile per destination host: how the web
    describes each host (n_anchors, distinct normalized texts, and the
    modal text) - the classic link-text quality/relevance signal for
    crawl corpora.  Anchor scope matches :func:`link_graph`: absolute
    and root-relative hrefs only, plain (non-nested) anchor bodies.

    Plan shape (100-TB lens): one scan-side ``regexp_extract_all`` of
    the full anchor tags (html read once, never shuffled), one explode,
    then a (dst_host, text) hash agg with map-side partials; the modal
    text is max-count + lexicographic-min tiebreak resolved with one
    host-keyed join against the host totals - host cardinality, not
    data volume.  No UDF, no window.
    """
    html_s = F.col(html_col).cast("string")
    src = url_host(url_col)
    tags = (pages
            .select(src.alias("src_host"),
                    F.explode(F.regexp_extract_all(
                        html_s, F.lit(_ANCHOR_RE), 0)).alias("tag")))
    href = F.regexp_extract("tag", _ANCHOR_RE, 1)
    text = F.lower(F.trim(F.regexp_replace(
        F.regexp_extract("tag", _ANCHOR_RE, 2), r"\s+", " ")))
    anchors = tags.select("src_host", href.alias("href"),
                          text.alias("anchor_text"))
    is_abs = F.col("href").rlike(_ABS_RE)
    is_rel = F.col("href").startswith("/") & ~F.col("href").startswith("//")
    dst = F.when(is_abs, F.lower(F.regexp_replace(
        F.regexp_extract("href", _ABS_RE + r"([^/?#]+)", 1),
        r":\d+$", ""))).otherwise(F.col("src_host"))
    counts = (anchors.where((is_abs | is_rel) & (F.col("anchor_text") != ""))
              .select(dst.alias("dst_host"), "anchor_text")
              .groupBy("dst_host", "anchor_text")
              .agg(F.count(F.lit(1)).alias("cnt")))
    totals = counts.groupBy("dst_host").agg(
        F.sum("cnt").alias("n_anchors"),
        F.count(F.lit(1)).alias("n_texts"),
        F.max("cnt").alias("top_count"))
    top = (counts.join(totals.select("dst_host", "top_count"), "dst_host")
           .where(F.col("cnt") == F.col("top_count"))
           .groupBy("dst_host")
           .agg(F.min("anchor_text").alias("top_text")))
    return totals.join(top, "dst_host").select(
        "dst_host", "n_anchors", "n_texts", "top_text", "top_count")


def host_budget_cap(df: DataFrame, k: int = 5, n_salts: int = 16,
                    url_col: str = "url",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-host crawl-budget cap: keep the ``k`` smallest-id documents
    per host (the Common-Crawl-style host sampling stage that stops a
    single portal from dominating the corpus).

    Scale shape: a naive ``row_number() OVER (PARTITION BY host)``
    sorts a mega-host's full membership in ONE task.  Instead the
    two-phase salted top-N from ``dedup.exact_duplicates``: phase 1
    ranks per (host, salt) - a degenerate 10^8-page host is spread over
    ``n_salts`` parallel sort tasks - and phase 2 re-ranks only the
    <= n_salts*k survivors per host, a bounded input that cannot
    straggle.  The global k smallest are a subset of the per-salt k
    smallest, so the result is identical to the single-window form
    (oracle-checked).
    """
    from pyspark.sql import Window
    base = df.select(F.col(id_col), F.col(url_col),
                     url_host(url_col).alias("host"))
    salted = base.withColumn(
        "salt", F.pmod(F.xxhash64(id_col), F.lit(n_salts)))
    w1 = Window.partitionBy("host", "salt").orderBy(id_col)
    survivors = (salted.withColumn("rn", F.row_number().over(w1))
                 .where(F.col("rn") <= k).drop("rn", "salt"))
    w2 = Window.partitionBy("host").orderBy(id_col)
    return (survivors.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= k)
            .select("host", id_col, url_col, "rank"))


def canonical_url(col: str = "url") -> Column:
    """Canonical form of an absolute URL as pure regexp algebra
    (Java-regex/RE2 common subset, oracle-replicable):

    - scheme and host lowercased, default ports ``:80``/``:443``
      stripped;
    - fragment dropped;
    - tracking params (``utm_*``, ``fbclid``, ``gclid``) removed with
      separator repair, a now-empty query string dropped;
    - trailing ``index.html`` collapsed to the directory, empty path
      normalized to ``/``.

    Everything is scan-side column algebra - at 100 TB this runs
    inside the parquet scan's codegen stage and feeds dedup directly.
    """
    scheme = F.lower(F.regexp_extract(
        F.col(col), r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_replace(
        F.regexp_extract(F.col(col), _ABS_RE + r"([^/?#]+)", 1),
        r":(80|443)$", ""))
    # path+query, fragment excluded
    rest = F.regexp_extract(F.col(col), _ABS_RE + r"[^/?#]*([^#]*)", 1)
    # tracking params, separator-anchored so a param whose name merely
    # ENDS in a tracking suffix (e.g. "xutm_source") is left alone and
    # RE2-compatible (no lookbehind, oracle-replicable). Order matters:
    # (1) every "&"-prefixed tracking param (arbitrary runs: each match
    # consumes its own "&", so consecutive params are consecutive
    # non-overlapping matches), (2) a tracking param in "?" head
    # position followed by a survivor, (3) a sole "?" tracking param.
    rest = F.regexp_replace(rest, r"&(utm_[a-z]+|fbclid|gclid)=[^&#]*", "")
    rest = F.regexp_replace(rest, r"\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&",
                            "?")
    rest = F.regexp_replace(rest, r"\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$",
                            "")
    rest = F.regexp_replace(rest, r"\?$", "")
    rest = F.regexp_replace(rest, r"/index\.html$", "/")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    rest = F.when(rest.startswith("?"),
                  F.concat(F.lit("/"), rest)).otherwise(rest)
    return F.concat(scheme, F.lit("://"), host, rest)


def url_dup_stats(df: DataFrame, url_col: str = "url",
                  id_col: str = "doc_id") -> DataFrame:
    """Collapse mirror URLs: group rows by :func:`canonical_url` and
    report group size, distinct raw spellings, and the keeper (lowest
    id) - the URL-level dedup that runs before any content dedup.

    One hash aggregation on the canonical key (map-side partial
    count + partial-distinct raw set + partial min).  No window, no
    sort: the keeper is ``min(id)``, so a hot canonical URL (the
    portal-homepage skew case) collapses map-side instead of landing
    on one reducer as a sorted group.
    """
    canon = canonical_url(url_col)
    return (df.select(F.col(id_col), F.col(url_col).alias("raw_url"),
                      canon.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_urls"),
                 F.countDistinct("raw_url").alias("n_raw_forms"),
                 F.min(id_col).alias("keeper_id")))


def policy_filter(pages: DataFrame, rules: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """Robots-style crawl-policy verdict per URL: ``rules`` is a small
    (host, path_prefix, allow) table; the most specific (longest-prefix)
    matching rule decides, a deny wins length ties (robots.txt
    precedence), and a URL with no matching rule is allowed.

    Plan shape (100-TB lens): the rule table is policy configuration -
    thousands of rows, never data-scale - so it is ``broadcast()`` and
    the whole verdict is one broadcast equi-join on host + a url-keyed
    hash agg (longest match via max(len), deny-wins via min(allow) among
    the max-length matches, both map-side combinable), then one
    broadcast join back onto the pages. The corpus never shuffles.
    """
    host = url_host(url_col)
    path = F.regexp_extract(F.col(url_col), _ABS_RE + r"[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    base = pages.select(F.col(url_col), host.alias("host"),
                        path.alias("path"))
    r = rules.select(F.col("host").alias("r_host"), "path_prefix", "allow")
    m = base.join(
        F.broadcast(r),
        (F.col("host") == F.col("r_host"))
        & F.col("path").startswith(F.col("path_prefix")),
        "left")
    # composite key: longest prefix wins, a deny (odd key) wins the tie;
    # prefixes of one path with equal length are the same string, so
    # max_by ties are between identical values
    key = (F.length("path_prefix") * 2
           + F.when(F.col("allow"), 0).otherwise(1))
    return (m.groupBy(url_col, "host", "path")
            .agg(F.max(key).alias("rule_key"),
                 F.max_by("path_prefix",
                          F.length("path_prefix")).alias("matched_prefix"))
            .select(url_col, "host", "path", "matched_prefix",
                    F.when(F.col("rule_key").isNull(), F.lit(True))
                    .otherwise(F.col("rule_key") % 2 == 0)
                    .alias("allowed")))


def pagerank(edges: DataFrame, n_iter: int = 5,
             damping: float = 0.85,
             checkpoint_every: int = 3) -> DataFrame:
    """PageRank over an edge list ``(src, dst)`` with ``n_iter``
    synchronous power iterations - link authority for crawl
    prioritization and quality weighting.

    Spark-first iterative design: every iteration is ONE equi-join of
    the rank vector against the out-degree-annotated edge list on the
    src key plus ONE hash aggregation on dst; dangling mass and the
    teleport term are 1-row aggregates broadcast back (never a
    data-scale shuffle).  The loop runs on the driver but only builds
    the plan - nothing is collected.  At 100 TB you would
    ``persist()`` the rank vector and checkpoint every few iterations
    to truncate lineage; edges are pre-partitioned on src once and
    every iteration reuses that exchange.

    ``checkpoint_every`` defaults to 3: without it the logical plan
    (and the lineage a recovering executor would replay) grows
    O(n_iter), which at real iteration counts (50-100) makes planning
    itself the bottleneck.  Each checkpoint also ``persist()``s the
    rank vector so the dangling-mass aggregate and the contribution
    join read one materialization instead of recomputing the prefix.
    ``checkpoint_every=0`` disables (small graphs / unit tests).

    Deterministic: node set = src ∪ dst, self-loops and duplicate
    edges removed, rank rounded to 6 decimals at the output (absorbs
    float summation order across partitionings).
    """
    # e/nodes feed every iteration (contrib join, the final select, the
    # seed ranks): materialize each once instead of re-running the
    # upstream edge extraction per consumer per iteration (lazy - the
    # first action fills the cache; the 100-TB analog is the persisted
    # pre-partitioned edge table the docstring promises)
    e = (edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
         .where(F.col("src") != F.col("dst")).distinct()
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct()
             .localCheckpoint(eager=False))
    n_row = nodes.select(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = (nodes.crossJoin(F.broadcast(n_row))
             .select("node", (F.lit(1.0) / F.col("n")).alias("rank")))
    cached: list[DataFrame] = []
    for it in range(n_iter):
        if checkpoint_every and it and it % checkpoint_every == 0:
            # truncate lineage so the plan depth stays O(checkpoint_every)
            # instead of O(n_iter) - values are unchanged (tested); at
            # fleet scale use persist()+checkpoint() on cluster storage
            ranks = ranks.localCheckpoint(eager=True)
            for df in cached:  # checkpoint materialized - caches done
                df.unpersist(False)
            cached = []
        else:
            # each iteration reads ranks TWICE (dangling mass +
            # contribution join): persist so the second read and the
            # next checkpoint hit one materialization, not a recompute.
            # Round 8: persist also when checkpoint_every=0 - without
            # it every iteration re-evaluated its predecessor TWICE,
            # i.e. a 2^n_iter recompute of the edge extraction feeding
            # the loop (crawl_frontier ran this path). persist() is
            # lazy, so plans/values are unchanged; the caches are
            # released below once the final ranks materialize.
            ranks = ranks.persist()
            cached.append(ranks)
        with_deg = ranks.join(outdeg, ranks.node == outdeg.src, "left")
        # mass of dangling nodes (no out-edges) is redistributed
        dangling = with_deg.where(F.col("outdeg").isNull()).select(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        contrib = (with_deg.where(F.col("outdeg").isNotNull())
                   .select("src", (F.col("rank") / F.col("outdeg"))
                           .alias("share"))
                   .join(e, "src")
                   .groupBy("dst")
                   .agg(F.sum("share").alias("in_mass")))
        ranks = (nodes.join(contrib, nodes.node == contrib.dst, "left")
                 .crossJoin(F.broadcast(n_row))
                 .crossJoin(F.broadcast(dangling))
                 .select(
                     "node",
                     ((1.0 - damping) / F.col("n")
                      + damping * (F.coalesce(F.col("in_mass"), F.lit(0.0))
                                   + F.col("dm") / F.col("n")))
                     .alias("rank")))
    if cached:
        # materialize the final vector, then release every persisted
        # intermediate - previously the caches outlived the call and
        # leaked executor storage for the driver's lifetime
        ranks = ranks.localCheckpoint(eager=True)
        for df in cached:
            df.unpersist(False)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def parse_robots(robots: DataFrame, agent: str = "*") -> DataFrame:
    """robots.txt bodies -> the (host, path_prefix, allow) rules table
    :func:`policy_filter` consumes - the parser that completes the
    WARC -> policy chain (Common Crawl stores robots.txt responses as
    ordinary WARC records; their bodies land here).

    ``robots``: (host, body). Grammar per REP (RFC 9309): ``#``
    comments stripped, keys case-insensitive, a GROUP is one-or-more
    consecutive ``User-agent`` lines followed by its ``Allow``/
    ``Disallow`` rules; a group applies when it names ``agent``
    exactly or ``*``, and when any exact-agent group exists the ``*``
    groups are ignored (most-specific-agent precedence). An empty
    ``Disallow:`` value means "allow everything" and emits no rule
    (policy_filter already defaults to allow).

    Plan shape (100-TB lens): bodies split/posexploded to lines, group
    ids assigned by a running sum over a per-HOST window ordered by
    line position - robots bodies are small and host-partitioned, so
    the windows never see data-scale partitions; everything else is
    hash aggregation + one broadcast-sized semi-join on the applicable
    group set. No UDFs.
    """
    from pyspark.sql import Window

    lines = (robots
             .select("host", F.posexplode(F.split("body", r"\r?\n"))
                     .alias("pos", "line"))
             .select("host", "pos",
                     F.trim(F.regexp_replace("line", r"#.*$", ""))
                     .alias("line"))
             .where(F.col("line") != ""))
    kv = lines.select(
        "host", "pos",
        F.lower(F.trim(F.regexp_extract("line", r"^([^:]+):", 1)))
        .alias("key"),
        F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$", 1))
        .alias("value"))
    kv = kv.where(F.col("key").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("key") == "user-agent").cast("int")
    prev_ua = F.lag(is_ua, 1, 0).over(w)
    # a UA line NOT preceded by a UA line opens a new group
    kv = kv.withColumn(
        "group_id",
        F.sum(F.when((is_ua == 1) & (prev_ua == 0), 1).otherwise(0))
        .over(w))
    agents = (kv.where(F.col("key") == "user-agent")
              .select("host", "group_id",
                      F.lower(F.col("value")).alias("ua")))
    mine = agents.where(F.col("ua") == agent.lower()) \
        .select("host", "group_id").distinct()
    wild = agents.where(F.col("ua") == "*") \
        .select("host", "group_id").distinct()
    hosts_with_exact = mine.select("host").distinct()
    applicable = mine.unionByName(
        wild.join(hosts_with_exact, "host", "left_anti"))
    rules = (kv.where(F.col("key").isin("allow", "disallow"))
             .join(applicable, ["host", "group_id"])
             .where(F.col("value") != "")
             .select("host",
                     F.col("value").alias("path_prefix"),
                     (F.col("key") == "allow").alias("allow"))
             .distinct())
    return rules


def parse_sitemaps(sitemaps: DataFrame) -> DataFrame:
    """sitemap.xml bodies -> one row per entry: ``(host, kind, loc,
    lastmod, priority)`` where kind is ``url`` (a page in a urlset) or
    ``sitemap`` (a child sitemap in a sitemapindex) - the URL-discovery
    complement to :func:`parse_robots` for seeding/refreshing a crawl
    frontier from the pages a host advertises.

    ``sitemaps``: (host, body). Pure scan-side regexp algebra over the
    two-level sitemap grammar ((?s) dot-matches-newline blocks, field
    extracts inside each block; Java-regex/RE2 common subset so the
    oracle replays it): no XML parser needed for the fixed tag set, no
    UDF, one explode per kind. Missing lastmod/priority surface as
    NULL.
    """
    def entries(kind: str, block_tag: str):
        block_re = f"(?s)<{block_tag}[^>]*>(.*?)</{block_tag}>"
        e = (sitemaps
             .select("host", F.explode(F.regexp_extract_all(
                 F.col("body"), F.lit(block_re), 1)).alias("entry")))
        loc = F.regexp_extract("entry", r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
        lastmod = F.regexp_extract(
            "entry", r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1)
        prio = F.regexp_extract(
            "entry", r"(?s)<priority>\s*(.*?)\s*</priority>", 1)
        return (e.select(
            "host", F.lit(kind).alias("kind"), loc.alias("loc"),
            F.when(lastmod == "", None).otherwise(lastmod).alias("lastmod"),
            F.when(prio == "", None).otherwise(prio).cast("double")
            .alias("priority"))
            .where(F.col("loc") != ""))

    return entries("url", "url").unionByName(
        entries("sitemap", "sitemap"))


def crawl_frontier(pages: DataFrame, rules: DataFrame,
                   k_per_host: int = 3, n_iter: int = 3,
                   damping: float = 0.85, n_salts: int = 16,
                   url_col: str = "url",
                   html_col: str = "html") -> DataFrame:
    """The full crawl-prioritization composition in one operator:
    host authority (PageRank over the host link graph extracted from
    the pages themselves), robots policy verdicts, and a per-host
    budget cap - the ranked URL frontier a recrawl scheduler consumes.

    Pipeline (every stage is an operator already oracle-checked on its
    own): :func:`link_graph` -> host edges keyed by md5-60bit host ids
    (engine-portable, no driver-side id assignment) ->
    :func:`pagerank` -> a host-cardinality rank dimension broadcast
    onto the :func:`policy_filter` survivors -> two-phase salted
    per-host cap (the host_budget_cap recipe: a mega-host's membership
    sorts across ``n_salts`` parallel tasks, then only the bounded
    survivors re-rank). Hosts outside the link graph rank 0.

    Output: (url, host, host_rank, slot) - slot 1..k per host,
    deterministic (url ASC within host).
    """
    from pyspark.sql import Window

    def hid(c):
        return F.expr(md5_int_sql(_ident(c)))

    lg = link_graph(pages, url_col, html_col)
    edges = lg.select(hid("src_host").alias("src"),
                      hid("dst_host").alias("dst"))
    pr = pagerank(edges, n_iter=n_iter, damping=damping,
                  checkpoint_every=0)
    hosts = (lg.select(F.col("src_host").alias("host"))
             .unionByName(lg.select(F.col("dst_host").alias("host")))
             .distinct())
    host_rank = (hosts.select("host", hid("host").alias("node"))
                 .join(pr, "node").select("host", "rank"))
    allowed = (policy_filter(pages, rules, url_col)
               .where(F.col("allowed"))
               .select(url_col, "host"))
    ranked = (allowed.join(F.broadcast(host_rank), "host", "left")
              .select(url_col, "host",
                      F.coalesce("rank", F.lit(0.0)).alias("host_rank")))
    salted = ranked.withColumn(
        "salt", F.pmod(F.xxhash64(url_col), F.lit(n_salts)))
    w1 = Window.partitionBy("host", "salt").orderBy(url_col)
    survivors = (salted.withColumn("rn", F.row_number().over(w1))
                 .where(F.col("rn") <= k_per_host).drop("rn", "salt"))
    w2 = Window.partitionBy("host").orderBy(url_col)
    return (survivors.withColumn("slot", F.row_number().over(w2))
            .where(F.col("slot") <= k_per_host)
            .select(url_col, "host",
                    F.round("host_rank", 6).alias("host_rank"), "slot"))


def url_features(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Scan-side URL shape features - the zero-content signals crawl
    classifiers lean on (spam URLs are deep, parameter-heavy, and
    tracking-laden; canonical content lives shallow):

    host, tld, path_depth (non-empty segments), path_len, n_params,
    has_tracking (utm_*/fbclid/gclid), is_index (ends in / or
    /index.html), is_media (common static-asset extensions).

    One projection of pure regexp algebra - free with the scan at
    100 TB, and every expression has an exact RE2 twin.
    """
    u = F.col(url_col)
    host = url_host(url_col)
    tld = F.regexp_extract(host, r"\.([a-z0-9-]+)$", 1)
    path = F.regexp_extract(u, _ABS_RE + r"[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    seg_split = F.filter(F.split(path, "/"), lambda s: s != "")
    n_params = F.when(query == "", 0).otherwise(
        F.size(F.split(query, "&")))
    has_tracking = query.rlike(r"(^|&)(utm_[a-z]+|fbclid|gclid)=")
    is_index = path.rlike(r"(/|/index\.html?)$") | (path == "")
    is_media = path.rlike(
        r"\.(jpe?g|png|gif|webp|bmp|tiff?|svg|ico|css|js|woff2?|ttf|"
        r"mp[34]|avi|mov|webm|pdf|zip|gz)$")
    return pages.select(
        u,
        host.alias("host"),
        tld.alias("tld"),
        F.size(seg_split).cast("int").alias("path_depth"),
        F.length(path).cast("int").alias("path_len"),
        n_params.cast("int").alias("n_params"),
        has_tracking.alias("has_tracking"),
        is_index.alias("is_index"),
        is_media.alias("is_media"))
