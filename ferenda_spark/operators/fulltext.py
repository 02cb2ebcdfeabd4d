"""Fulltext search: fielded inverted index + boost-ranked queries.

The Spark restatement of the reference's fulltext engine
(/root/reference/ferenda/fulltextindex.py:395-470 ``update`` indexes
per-field documents with schema-declared boosts; :685-745 ``query``
runs boosted fielded search; documentrepository.py:2150-2250
``relate_fulltext`` feeds title/identifier/text per document).

Spark-first design — the index is a DataFrame, not a server:

* ``fulltext_index``: one row per (term, field, doc) with term
  frequency; built map-side (tokenize → explode) with ONE shuffle on
  the (term, field, doc) group key.  At 100 TB the index table is
  written bucketed by term so query-time term lookups prune buckets
  instead of scanning.
* ``idf_milli``: per-term inverse document frequency, pre-scaled to
  an integer (floor(1000·ln(N/df))) so scores are BIGINT arithmetic —
  deterministic across engines, no float-sum ordering hazards.
* ``fulltext_search``: filter the index to the query terms (a tiny
  IN-list the optimizer pushes into the scan), join the broadcast
  idf table, score = Σ tf·boost·idf_milli per doc, top-k by
  (score desc, doc asc).  Field boosts mirror the reference's
  ``boost``-annotated schema fields (fulltextindex.py:117-140).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _field_tokens(col) -> "F.Column":
    """Lowercased whitespace tokens (the index analyzer)."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"),
                    lambda t: t != "")


def fulltext_index(docs: DataFrame, id_col: str,
                   fields: dict[str, int]) -> DataFrame:
    """(term, field, boost, id, tf) rows — the inverted index.

    ``fields`` maps field column → integer boost (the reference's
    boosted schema fields, e.g. label=16, creator=4, text=1).
    """
    parts = []
    for fld, boost in fields.items():
        parts.append(
            docs.select(F.col(id_col).alias("id"),
                        F.explode(_field_tokens(F.col(fld))).alias("term"))
            .withColumn("field", F.lit(fld))
            .withColumn("boost", F.lit(boost).cast("long")))
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    return (rows.groupBy("term", "field", "boost", "id")
            .agg(F.count(F.lit(1)).alias("tf")))


def positional_index(docs: DataFrame, id_col: str,
                     fields: dict[str, int]) -> DataFrame:
    """(id, field, boost, term, pos) rows — the positional index
    backing phrase queries (the reference's fulltext engine gets
    phrase support from its backends' positional postings;
    fulltextindex.py query strings pass phrases through quoted).

    Map-side only (tokenize → posexplode), NO shuffle: phrase
    matching joins it on (id, field, pos), so at 100 TB the table is
    written bucketed by id to co-locate a document's postings."""
    parts = []
    for fld, boost in fields.items():
        parts.append(
            docs.select(
                F.col(id_col).alias("id"),
                F.posexplode(_field_tokens(F.col(fld)))
                .alias("pos", "term"))
            .withColumn("field", F.lit(fld))
            .withColumn("boost", F.lit(boost).cast("long")))
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    return rows


def phrase_hits(pindex: DataFrame, phrase: str) -> DataFrame:
    """(id, field, boost, hits) — exact-adjacency phrase occurrence
    counts from the positional index.

    Start-anchored chained equi-join: postings of term i must sit at
    start_pos + i within the same (id, field).  Each join key is
    (id, field, pos) — fine-grained and well-distributed, so no
    skew even for phrases of common words; the per-term IN-filter is
    pushed to the index scan first."""
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        return (pindex.filter(F.lit(False))
                .select("id", "field", "boost",
                        F.lit(0).cast("long").alias("hits")))
    base = pindex
    starts = (base.filter(F.col("term") == terms[0])
              .select("id", "field", "boost",
                      F.col("pos").alias("start")))
    for i, t in enumerate(terms[1:], start=1):
        nxt = (base.filter(F.col("term") == t)
               .select("id", "field",
                       (F.col("pos") - i).alias("start")))
        starts = starts.join(nxt, ["id", "field", "start"], "left_semi")
    return (starts.groupBy("id", "field", "boost")
            .agg(F.count(F.lit(1)).alias("hits")))


def idf_milli(index: DataFrame, n_docs: int) -> DataFrame:
    """Per-term integer idf: floor(1000·ln(N/df)), df = docs containing
    the term in ANY field. Broadcast-sized (vocabulary table)."""
    return (index.groupBy("term")
            .agg(F.countDistinct("id").alias("df"))
            .select("term", F.floor(
                F.log(F.lit(float(n_docs)) / F.col("df")) * 1000
            ).cast("long").alias("idf_milli")))


def doc_lengths(index: DataFrame) -> DataFrame:
    """(id, field, dl) — per-document field lengths in tokens,
    derived from the inverted index (dl = Σ tf).  At 100 TB this is
    a precomputed table written alongside the index, co-bucketed on
    id so BM25 scoring joins it without a shuffle."""
    return (index.groupBy("id", "field")
            .agg(F.sum("tf").cast("long").alias("dl")))


BM25_TOP_K = 20
BM25_K1_MILLI = 1200
BM25_B_MILLI = 750


def bm25_search(index: DataFrame, n_docs: int,
                query_terms: list[str]) -> DataFrame:
    """Okapi BM25 ranking: (id, score, rank), top-k.

    The reference's ElasticSearch backend scores with BM25 (the ES
    default similarity; fulltextindex.py:685+ delegates scoring to
    the server) — this is that ranking function restated as a
    DataFrame plan, with the same field-boost surface as
    ``fulltext_search``.

    Engine-deterministic integer arithmetic (Robertson/Zaragoza 2009
    formula, k1/b carried in milli-units as ``BM25_K1_MILLI`` and
    ``BM25_B_MILLI``):

        den  = tf·10^6·avgdl_milli
               + k1_milli·((1000-b_milli)·avgdl_milli + b_milli·dl·1000)
        part = boost · (idf_milli·tf·(k1_milli+1000)·avgdl_milli)
                       DIV (den DIV 1000)

    which equals boost·idf_milli·tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    up to the two floor divisions — BIGINT end-to-end, no float
    summation, so Spark and the SQL oracle agree bit-for-bit.  The
    den DIV 1000 pre-shrink keeps the numerator within BIGINT at
    book-length documents (dl ≲ 10^6 tokens).

    Plan shape: the term IN-list prunes the index scan, idf is a
    broadcast vocabulary table, doclens joins on the uniform
    (id, field) key, and the per-field avgdl table (one row per
    field) is broadcast.  Top-k is TakeOrdered — never a global
    ranking window."""
    terms = sorted({t for q in query_terms for t in q.lower().split()
                    if t})
    if not terms:
        return (index.filter(F.lit(False))
                .select("id", F.lit(0).cast("long").alias("score"),
                        F.lit(0).cast("int").alias("rank")))
    dl = doc_lengths(index)
    # one row per field: exact integer milli average length
    avgdl = (dl.groupBy("field")
             .agg(F.expr("(sum(dl) * 1000) div count(1)")
                  .alias("avgdl_milli")))
    # per-term df is invariant under the term filter, so the idf of
    # the pruned postings equals the full-vocabulary idf
    hits = index.filter(F.col("term").isin(*terms)).persist()
    idf = idf_milli(hits, n_docs)
    k1_milli, b_milli = BM25_K1_MILLI, BM25_B_MILLI
    k1p = k1_milli + 1000
    parts = (hits.join(F.broadcast(idf), "term")
             .join(dl, ["id", "field"])
             .join(F.broadcast(avgdl), "field")
             .select("id", F.expr(
                 f"boost * ((idf_milli * tf * {k1p} * avgdl_milli) div "
                 f"((tf * 1000000 * avgdl_milli + {k1_milli} * "
                 f"(({1000 - b_milli}) * avgdl_milli + "
                 f"{b_milli} * dl * 1000)) div 1000))")
                 .cast("long").alias("part")))
    scored = parts.groupBy("id").agg(F.sum("part").alias("score"))
    from ferenda_spark.operators.analytics import ranked_topk
    return ranked_topk(scored, [("score", True), ("id", False)], BM25_TOP_K)


PAGELEN = 10


def fulltext_search(index: DataFrame, idf: DataFrame | None,
                    query_terms: list[str], k: int = 20,
                    fields: list[str] | None = None,
                    eligible: DataFrame | None = None,
                    phrases: list[str] | None = None,
                    pindex: DataFrame | None = None,
                    n_docs: int | None = None,
                    repos: DataFrame | None = None,
                    boost_repos: dict | None = None,
                    exclude_repos: list[str] | None = None,
                    pagenum: int | None = None) -> DataFrame:
    """Boost-ranked fielded search: (id, score, rank), top-k.

    Score = Σ over matched (term, field) of tf·boost·idf_milli —
    BIGINT end-to-end. The term filter is an IN-list pushed to the
    index scan; the idf table is broadcast.

    Query terms run through the SAME analyzer as indexing (the
    reference analyzes queries with the index analyzer,
    fulltextindex.py query path) — a raw 'Table' must match indexed
    'table', and a multi-word query string is split like a field.

    Composable restrictions (the reference's parse_parameters
    surface, wsgiapp.py:483-600 + fulltextindex.py:307-333
    More/Less/Between and wildcard terms):

    * a term ending in ``*`` is a prefix query — it matches (and
      scores) every index term with that prefix, via a LIKE
      predicate pushed to the index scan;
    * ``fields`` restricts matching to the named index fields
      (fielded search, e.g. title-only);
    * ``eligible`` is an (id)-keyed DataFrame of documents passing
      caller-side metadata predicates (range/date/repo filters) —
      semi-joined into the hits BEFORE scoring, so at scale the
      filter prunes index postings instead of re-ranking rejects;
    * ``phrases`` (with ``pindex`` from ``positional_index``) are
      exact-adjacency phrase queries; a phrase contributes
      hits·boost·Σ(idf_milli of its terms) — integer arithmetic
      like the term path, so scores stay engine-deterministic.
      The positional postings are pruned to the phrase vocabulary
      and cached once, so an N-term phrase costs one postings scan,
      not N (ContextCleaner drops the cache on driver GC);
    * pass ``idf=None`` with ``n_docs`` to have idf computed from
      the index PRUNED to the query vocabulary — per-term df is
      invariant under a term filter, so values are identical to a
      full-vocabulary idf table but the plan never materializes the
      whole index (the one-shot-query shape; a serving deployment
      keeps a prebuilt idf table instead).

    API-shaped extras (the reference's query endpoint,
    wsgiapp.py:388-435 + parse_parameters boost_repos/exclude_repos/
    pagenum/pagelen):

    * ``repos`` is an (id, repo) DataFrame mapping documents to their
      repository; ``exclude_repos`` drops those repos' documents from
      the result and ``boost_repos`` (repo → integer multiplier)
      scales their scores — both applied to the posting-pruned scored
      set (a left join on the uniform id key), BEFORE top-k, so a
      boosted repo can displace unboosted hits exactly as the
      reference's index-level boosting does;
    * ``pagenum``/``PAGELEN`` return one result page plus the API
      envelope columns (start_index, items_per_page, total_results —
      the reference's startIndex/itemsPerPage/totalResults).  A deep
      page costs one TakeOrdered of pagenum·pagelen rows (the standard
      deep-paging tradeoff); total_results is one count aggregate over
      the scored set, broadcast onto the page rows.

    Top-k is TakeOrdered (orderBy+limit), never a global ranking
    window over every matching doc — a common query term matches a
    large fraction of the corpus, which a single-partition window
    would serialize (see analytics.ranked_topk).
    """
    exact = sorted({t for q in query_terms
                    for t in q.lower().split()
                    if t and not t.endswith("*")})
    prefixes = sorted({t[:-1] for q in query_terms
                       for t in q.lower().split()
                       if t.endswith("*") and t != "*"})
    conds = []
    if exact:
        conds.append(F.col("term").isin(*exact))
    for p in prefixes:
        conds.append(F.col("term").startswith(p))
    phrases = [p for p in (phrases or []) if p.strip()]
    if not conds and not phrases:
        # empty / whitespace-only query: empty result, stable schema
        empty = (index.filter(F.lit(False))
                 .select("id", F.lit(0).cast("long").alias("score"),
                         F.lit(0).cast("int").alias("rank")))
        if pagenum is not None:
            # identical column order and values as the non-empty path
            empty = (empty
                     .withColumn("total_results", F.lit(0).cast("long"))
                     .withColumn("start_index",
                                 F.lit((pagenum - 1) * PAGELEN)
                                 .cast("long"))
                     .withColumn("items_per_page",
                                 F.lit(PAGELEN).cast("long")))
        return empty
    ph_terms = sorted({t for p in phrases for t in p.lower().split()
                       if t})
    if idf is None:
        if n_docs is None:
            raise ValueError("idf=None needs n_docs to compute the "
                             "pruned idf table")
        icond = list(conds)
        if ph_terms:
            icond.append(F.col("term").isin(*ph_terms))
        ic = icond[0]
        for c in icond[1:]:
            ic = ic | c
        # prune FIRST, then cache: one tokenize pass feeds both the
        # idf and the hits scan, and the cached set is only the query
        # vocabulary's postings (ContextCleaner drops it on GC)
        index = index.filter(ic).persist()
        idf = idf_milli(index, n_docs)
    contribs = []
    if conds:
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        hits = index.filter(cond)
        if fields is not None:
            hits = hits.filter(F.col("field").isin(*fields))
        contribs.append(
            hits.join(F.broadcast(idf), "term")
            .select("id", (F.col("tf") * F.col("boost")
                           * F.col("idf_milli")).alias("part")))
    if phrases:
        if pindex is None:
            raise ValueError("phrase queries need pindex="
                             "positional_index(...)")
        # prune postings to the phrase vocabulary ONCE and cache:
        # each phrase term's join branch then reads the (tiny)
        # cached set instead of re-deriving the full positional
        # explode per branch
        pp = pindex.filter(F.col("term").isin(*ph_terms))
        if fields is not None:
            pp = pp.filter(F.col("field").isin(*fields))
        pp = pp.persist()
        for p in phrases:
            ph = phrase_hits(pp, p)
            p_terms = sorted({t for t in p.lower().split() if t})
            p_idf = (idf.filter(F.col("term").isin(*p_terms))
                     .agg(F.sum("idf_milli").alias("p_idf")))
            contribs.append(
                ph.crossJoin(F.broadcast(p_idf))
                .select("id", (F.col("hits") * F.col("boost")
                               * F.col("p_idf")).alias("part")))
    parts = contribs[0]
    for c in contribs[1:]:
        parts = parts.unionByName(c)
    if eligible is not None:
        parts = parts.join(eligible.select("id"), "id", "left_semi")
    scored = parts.groupBy("id").agg(F.sum("part").alias("score"))
    scored = _apply_repo_prefs(scored, repos, boost_repos, exclude_repos)
    from ferenda_spark.operators.analytics import ranked_topk
    order = [("score", True), ("id", False)]
    if pagenum is None:
        return ranked_topk(scored, order, k)
    # the paged path reads `scored` twice (count + top-k) — pin it so
    # the postings scan/join/aggregate lineage runs once per query
    scored = scored.persist()
    total = scored.agg(F.count("*").cast("long").alias("total_results"))
    page = (ranked_topk(scored, order, pagenum * PAGELEN)
            .filter(F.col("rank") > (pagenum - 1) * PAGELEN))
    return (page.crossJoin(F.broadcast(total))
            .withColumn("start_index",
                        F.lit((pagenum - 1) * PAGELEN).cast("long"))
            .withColumn("items_per_page", F.lit(PAGELEN).cast("long")))


def _apply_repo_prefs(scored: DataFrame, repos: DataFrame | None,
                      boost_repos: dict | None,
                      exclude_repos: list[str] | None) -> DataFrame:
    """Repo-level result shaping (wsgiapp.py parse_parameters
    boost_repos/exclude_repos).  The repo map joins on the uniform id
    key against the already-posting-pruned scored set; a document with
    no repo row keeps multiplier 1 and survives excludes."""
    if not boost_repos and not exclude_repos:
        return scored
    if repos is None:
        raise ValueError("boost_repos/exclude_repos need "
                         "repos=(id, repo)")
    # the contract is one repo per doc (the reference's model); a map
    # with duplicate id rows would duplicate result rows, so collapse
    # deterministically (max repo) rather than trust the caller
    rmap = (repos.select("id", "repo")
            .groupBy("id").agg(F.max("repo").alias("repo")))
    out = scored.join(rmap, "id", "left")
    if exclude_repos:
        out = out.filter(
            F.coalesce(~F.col("repo").isin(*list(exclude_repos)),
                       F.lit(True)))
    if boost_repos:
        mult = None
        for repo, m in sorted(boost_repos.items()):
            c = (F.col("repo") == repo)
            mult = (F.when(c, F.lit(int(m))) if mult is None
                    else mult.when(c, F.lit(int(m))))
        out = out.withColumn(
            "score",
            (F.col("score") * mult.otherwise(F.lit(1)).cast("long"))
            .cast("long"))
    return out.drop("repo")
