"""Crawl scheduling (S1): distributed frontier management.

The reference's ``download()`` walks seed/TOC pages and follows
discovered links one process at a time
(/root/reference/ferenda/documentrepository.py:964-1040
``download``/``download_get_basefiles``), with DocumentStore tracking
what exists.  The HTTP fetch itself is environment-bound (and out of
scope in this sandbox); what *does* restate to Spark is the
scheduler: breadth-first frontier expansion over the link graph with
a visited set, which at crawl scale (10^12 urls) must be a
distributed anti-join, not a driver-side ``set``.

``crawl_frontier`` is that scheduler: per round, join the frontier
with the link table, anti-join against everything visited, record the
round as the url's depth (= min hops from any seed, since BFS visits
each url first at its shortest distance).  Each round is one shuffle
join; frontier and visited are persisted and the previous round's
cache is dropped, so round N never recomputes rounds 1..N-1 (the
kg_closure lesson).  The per-round ``count()`` is the driver's
scheduling decision — one scalar per round, not a data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FRONTIER_MAX_DEPTH = 3


def crawl_frontier(links: DataFrame, seeds: DataFrame) -> DataFrame:
    """BFS reachability over ``links(src, dst)`` from ``seeds``:
    (url, depth) rows, depth = min hops from any seed, bounded by
    ``FRONTIER_MAX_DEPTH``. Stops early when a round discovers nothing."""
    links = links.select("src", "dst").persist()
    visited = (seeds.select(F.col("url")).distinct()
               .withColumn("depth", F.lit(0)).persist())
    frontier = visited.select("url")
    prev_frontier = None  # the persisted nxt backing `frontier`
    for depth in range(1, FRONTIER_MAX_DEPTH + 1):
        nxt = (frontier.join(links, frontier["url"] == links["src"])
               .select(F.col("dst").alias("url")).distinct()
               .join(visited, "url", "left_anti")
               .withColumn("depth", F.lit(depth))
               .persist())
        n_new = nxt.count()  # scheduling decision; materializes nxt
        if n_new == 0:
            nxt.unpersist()
            break
        new_visited = visited.unionByName(nxt).persist()
        new_visited.count()  # materialize before dropping the parent
        visited.unpersist()
        # the previous round's frontier is fully contained in the new
        # visited set (just materialized) — safe to drop its cache now
        if prev_frontier is not None:
            prev_frontier.unpersist()
        visited = new_visited
        prev_frontier = nxt
        frontier = nxt.select("url")
    links.unpersist()
    if prev_frontier is not None:
        prev_frontier.unpersist()
    return visited


def schedule_fetches(frontier: DataFrame, delays: DataFrame = None,
                     default_delay_millis: int = 1000,
                     max_per_host: int = None) -> DataFrame:
    """Politeness scheduling: admitted frontier urls → per-host fetch
    slots.  Adds ``host``, ``fetch_seq`` (1-based position in the
    host's queue, deterministic url order) and ``not_before_millis``
    = ``(fetch_seq-1) · delay`` — the earliest offset, relative to
    the host queue's start, at which the fetch respects the host's
    crawl delay.  A wave-based executor then runs slot t =
    ``not_before_millis div wave_millis`` of every host in parallel.

    ``delays`` is :func:`~ferenda_spark.operators.robots.parse_robots`
    output (its ``crawl_delay_millis``; hosts without a record — or
    the whole argument omitted — fall back to ``default_delay_millis``,
    one polite request/second).  ``max_per_host`` caps each host's
    queue per scheduling round (the head-host guard: a 10^8-url host
    must not monopolize the round; the tail re-enters next round).

    Scale shape: the per-host sequence is a window PARTITIONED BY
    host — inherently so, politeness is a per-host total order; the
    parallelism is across the ~10^8 hosts of a web corpus, and
    ``max_per_host`` bounds the skew of any one partition.  The
    delays side is one short row per domain and is broadcast.  No
    other shuffle."""
    from pyspark.sql import Window

    from ferenda_spark.functions.web import url_host_col

    out = frontier.withColumn("host", url_host_col(F.col("url")))
    if delays is not None:
        d = delays.select(F.col("domain").alias("host"),
                          "crawl_delay_millis")
        out = out.join(F.broadcast(d), "host", "left")
    else:
        out = out.withColumn("crawl_delay_millis",
                             F.lit(None).cast("long"))
    delay = F.coalesce(F.col("crawl_delay_millis"),
                       F.lit(int(default_delay_millis)))
    w = Window.partitionBy("host").orderBy("url")
    out = (out.withColumn("fetch_seq", F.row_number().over(w))
           .withColumn("not_before_millis",
                       (F.col("fetch_seq") - 1).cast("long") * delay)
           .drop("crawl_delay_millis"))
    if max_per_host is not None:
        out = out.filter(F.col("fetch_seq") <= int(max_per_host))
    return out


REDIRECT_ROUNDS = 4


def resolve_redirects(redirects: DataFrame) -> DataFrame:
    """HTTP redirect chains → final-url map: ``redirects(src, dst)``
    (one 3xx Location edge per captured source url) becomes
    ``(src, final_url, hops, resolved)`` for every redirect source.

    The reference follows redirects one GET at a time inside
    ``requests`` (documentrepository.py:964-1040 ``download``); at
    crawl scale the archive already *recorded* every hop as an index
    row, so resolution is a graph problem: follow each chain to its
    terminal url so that identity joins (dedup, linking, host graph)
    see one canonical url per document.

    Pointer doubling — ``REDIRECT_ROUNDS`` iterations of
    ``m := m ∘ m`` — so a chain of length up to ``2**REDIRECT_ROUNDS``
    resolves in ``REDIRECT_ROUNDS``
    self-joins, not ``2**REDIRECT_ROUNDS`` sequential ones (the same
    O(log diameter) idiom as dedup.components).  Each round is one
    shuffle join on the composed key; the map is persisted per round
    and the parent cache dropped.

    Semantics (exactly restatable in SQL, and what the oracle pins):
    every source follows exactly ``min(chain_length, 2**rounds)``
    hops; ``resolved`` is true iff the reached url has no outgoing
    redirect itself.  Cycles (a→b→a) and chains deeper than
    ``2**REDIRECT_ROUNDS`` therefore come back ``resolved = false`` carrying
    the partially-followed target — a loud, bounded answer, never an
    unterminated loop.  Conflicting captures for one source collapse
    deterministically to ``min(dst)`` first.
    """
    # each round is localCheckpoint'ed (the pagerank convention):
    # lineage stays O(1) deep and the returned plan reads the final
    # materialized map, never the recursive join chain
    m = (redirects.select("src", "dst")
         .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .groupBy("src").agg(F.min("dst").alias("dst"))
         .withColumn("hops", F.lit(1).cast("long"))
         .localCheckpoint())
    for _ in range(REDIRECT_ROUNDS):
        a, b = m.alias("a"), m.alias("b")
        m = (a.join(b, F.col("a.dst") == F.col("b.src"), "left")
             .select(F.col("a.src").alias("src"),
                     F.coalesce(F.col("b.dst"), F.col("a.dst"))
                     .alias("dst"),
                     (F.col("a.hops")
                      + F.coalesce(F.col("b.hops"), F.lit(0)))
                     .alias("hops"))
             .localCheckpoint())
    # resolved ⇔ the final url is not itself a redirect source
    domain = (redirects.select(F.col("src").alias("dst")).distinct()
              .withColumn("_open", F.lit(True)))
    return (m.join(domain, "dst", "left")
            .select("src", F.col("dst").alias("final_url"), "hops",
                    F.coalesce(~F.col("_open"), F.lit(True))
                    .alias("resolved")))


def host_graph(links: DataFrame) -> DataFrame:
    """Page-level ``links(src, dst)`` → the host-level weighted
    webgraph ``(src_host, dst_host, n_links, n_src_pages)`` — the
    Common-Crawl host-graph projection that host ranking, spam
    scoring and politeness budgeting all consume.  Host extraction is
    pure codegen in the scan (functions/web.url_host_col); the
    projection is ONE groupBy shuffle with map-side partial
    aggregation, so hub hosts (10^8-page domains) combine before the
    exchange.  ``n_src_pages`` is an exact distinct.  Self-edges
    (intra-host links, the overwhelming majority of the web) are
    dropped."""
    from ferenda_spark.functions.web import url_host_col

    h = links.select(
        url_host_col(F.col("src")).alias("src_host"),
        url_host_col(F.col("dst")).alias("dst_host"),
        F.col("src"))
    h = h.filter(F.col("src_host").isNotNull()
                 & F.col("dst_host").isNotNull())
    h = h.filter(F.col("src_host") != F.col("dst_host"))
    return (h.groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links"),
                 F.countDistinct("src").alias("n_src_pages")))


def snapshot_churn(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Crawl-over-crawl change detection: two snapshots of
    ``(url, content_hash)`` → one row per url in either snapshot with
    ``status`` ∈ {'new', 'gone', 'modified', 'unchanged'} — the
    page-level signal recrawl scheduling and incremental regeneration
    consume (the snapshot analog of the reference's per-document
    conditional-GET change detection, documentrepository.py:1064-1132
    ``download_if_needed``'s etag/last-modified checks, restated as a
    set comparison over whole crawls).

    Scale design: ONE full-outer shuffle join on url — a uniform
    high-cardinality key, no skew funnel — comparing only the hashes
    (content bytes never move); the status is a codegen CASE over
    null-ness and hash equality.  At 10^12 urls the join is the
    floor for any exact churn computation."""
    p = prev.select(F.col("url"), F.col("content_hash").alias("_ph"))
    c = curr.select(F.col("url"), F.col("content_hash").alias("_ch"))
    j = p.join(c, "url", "full_outer")
    status = (F.when(F.col("_ph").isNull(), F.lit("new"))
              .when(F.col("_ch").isNull(), F.lit("gone"))
              .when(F.col("_ph") == F.col("_ch"), F.lit("unchanged"))
              .otherwise(F.lit("modified")))
    return j.select("url", status.alias("status"))


def host_churn(churn: DataFrame) -> DataFrame:
    """Per-host churn profile over :func:`snapshot_churn` output:
    ``(host, n_new, n_gone, n_modified, n_unchanged, churn_permille)``
    where ``churn_permille = 1000 * (new+gone+modified) DIV total`` —
    pure BIGINT arithmetic (engine-deterministic, the integer-rank
    convention), ranking hosts for recrawl budget allocation: a host
    whose pages churn every crawl earns a short revisit interval,
    a static archive earns a long one.

    Host extraction is codegen in the scan; the profile is ONE
    groupBy with map-side partial counts (conditional sums combine
    before the exchange), so a 10^8-page host is one reducer key fed
    by partial aggregates, never by raw rows."""
    from ferenda_spark.functions.web import url_host_col

    def n(s: str):
        return F.sum(F.when(F.col("status") == s, 1)
                     .otherwise(0)).cast("long")

    out = (churn
           .select(url_host_col(F.col("url")).alias("host"), "status")
           .filter(F.col("host").isNotNull())
           .groupBy("host")
           .agg(n("new").alias("n_new"),
                n("gone").alias("n_gone"),
                n("modified").alias("n_modified"),
                n("unchanged").alias("n_unchanged")))
    return out.withColumn(
        "churn_permille",
        F.expr("CAST(1000 * (n_new + n_gone + n_modified) DIV "
               "(n_new + n_gone + n_modified + n_unchanged) AS BIGINT)"))


MIN_REVISIT_S = 3600
MAX_REVISIT_S = 30 * 86400


def revisit_schedule(profile: DataFrame, interval_s: int) -> DataFrame:
    """Per-host recrawl intervals from a :func:`host_churn` profile:
    ``(host, n_pages, lambda_micro, revisit_s)``.

    The change-rate estimator is Cho & Garcia-Molina's bias-corrected
    repeated-access form (TOIT 2003, "Estimating frequency of
    change"): with ``n`` surviving pages observed across two crawls
    ``interval_s`` apart and ``X = n_modified`` of them changed,

        λ̂ = -ln((n - X + 0.5) / (n + 0.5)) / interval_s

    — the MLE for Poisson page change with the +0.5 correction that
    keeps an all-changed host finite.  ``revisit_s`` = 1/λ̂ clamped
    to [MIN_REVISIT_S, MAX_REVISIT_S]: the uniform-freshness revisit
    policy (revisit about as often as the host changes — churning
    hosts earn short intervals, static archives long ones), the
    scheduling signal ``fetch_schedule``'s politeness layer then
    spreads over time.

    Determinism: counts are exact BIGINTs and λ̂/revisit are ONE
    double expression over them (the assortativity convention), so
    the oracle reproduces both bit-for-bit.  new/gone pages carry no
    change observation and are excluded from n by construction
    (only modified+unchanged pages were seen in both crawls).
    """
    n = (F.col("n_modified") + F.col("n_unchanged")).cast("long")
    x = F.col("n_modified").cast("long")
    lam = (-F.log((n.cast("double") - x.cast("double") + 0.5)
                  / (n.cast("double") + 0.5))
           / F.lit(float(interval_s)))
    raw = F.when(lam > 0, (1.0 / lam)).otherwise(
        F.lit(float(MAX_REVISIT_S)))
    return (profile
            .filter(n > 0)
            .select("host", n.alias("n_pages"),
                    F.floor(lam * 1_000_000).cast("long")
                    .alias("lambda_micro"),
                    F.floor(F.greatest(
                        F.least(raw, F.lit(float(MAX_REVISIT_S))),
                        F.lit(float(MIN_REVISIT_S))))
                    .cast("long").alias("revisit_s")))
