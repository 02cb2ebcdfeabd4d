"""Physical-plan regression guards: the properties that make the
engine scale must survive refactors — filter pushdown to the scan,
column pruning, broadcast of dimension sides, and salted-join result
equivalence."""

import re

from pyspark.sql import Row
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs(sc, group, action):
    """Run ``action`` under a job group; its result and the number of
    Spark jobs it started."""
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_extract_scan_prunes_columns(spark):
    from ferenda_spark.operators.extract import extract
    from ferenda_spark.sources.testdata import (
        DOC_PAGE_URL_RE,
        load_table,
        pages_from_documents,
    )
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ext = extract(pages_from_documents(docs), doc_url_regex=DOC_PAGE_URL_RE)
    m = re.search(r"ReadSchema: (\S+)", _plan(ext))
    assert m, "no parquet scan found"
    # only the columns the html derivation needs — not source/n_chars
    assert "n_chars" not in m.group(1)
    assert "source" not in m.group(1)


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02")) \
          .select("l_returnflag")
    plan = _plan(q)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_dimension_join_broadcasts(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    s = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey) \
          .groupBy("s_name").count()
    assert "BroadcastHashJoin" in _plan(j)


def test_entity_link_exact_phase_broadcasts(spark):
    from ferenda_spark.fixtures.pages import entities_df
    from ferenda_spark.operators.linker import link_labels
    mentions = spark.createDataFrame(
        [Row(id=i, label="Network Working Group") for i in range(10)])
    linked = link_labels(mentions, entities_df(spark))
    assert "BroadcastHashJoin" in _plan(linked)


def test_salted_resolve_equals_plain(spark):
    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.operators.resolve import (
        inbound_references,
        resolve_citations,
    )
    from ferenda_spark.pipeline import build_triples
    pages = pages_df(spark, 30, partitions=2).persist()
    edges = build_triples(pages, entities_df(spark)).persist()
    uris = pages.select("url")
    plain = set(map(tuple, resolve_citations(edges, uris).collect()))
    salted = set(map(tuple,
                     resolve_citations(edges, uris, salt=8).collect()))
    assert plain == salted and plain
    # inversion: every inbound edge corresponds to a resolved citation
    inb = inbound_references(edges, uris)
    assert inb.filter(F.col("pred") != "dcterms:isReferencedBy").count() == 0
    assert {r["subj"] for r in inb.collect()} <= {
        t[2] for t in plain if t[2] is not None}
    pages.unpersist()
    edges.unpersist()


def test_repetition_signals_zero_shuffle(spark):
    """Row-local Arrow UDF must not introduce an exchange."""
    from ferenda_spark.operators import textstats
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(textstats.text_metrics(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_canonical_url_dedup_single_exchange(spark):
    """Canonical key computed in the scan stage; the groupBy is the
    only shuffle, with map-side partial aggregation."""
    from ferenda_spark.functions.web import canonical_url_col
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = (docs.select(canonical_url_col(
        F.concat(F.lit("http://h/x/"), F.col("doc_id"))).alias("c"))
        .groupBy("c").count())
    plan = _plan(q)
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "HashAggregate" in plan


def test_patch_store_broadcasts(spark):
    """The patch dimension must broadcast — never shuffle the corpus
    to meet its patches."""
    from ferenda_spark.operators.patch import apply_patches
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    patches = spark.createDataFrame(
        [Row(doc_id=1, patch="@@ -1,1 +1,1 @@\n-x\n+y")])
    plan = _plan(apply_patches(docs, patches))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_queries_broadcast(spark, monkeypatch):
    """IVF probe side broadcasts; items are never shuffled."""
    from ferenda_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    monkeypatch.setattr("ferenda_spark.operators.similarity.TOPK", 3)
    plan = _plan(ivf_topk(emb, qs, dim=64))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key makes the join
    exchange-free — the co-located-join technique for repeated joins
    on the same key at scale (bucket count stands in for the
    partitioning a production warehouse declares once)."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    for name in ("bkt_a", "bkt_b"):
        (df.write.mode("overwrite")
         .option("path", str(tmp_path / name))
         .bucketBy(8, "k").sortBy("k").saveAsTable(name))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the fixture tables are tiny enough to auto-broadcast, which
        # would sidestep the technique under test — force the big-big
        # join shape bucketing exists for
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table("bkt_a"), spark.table("bkt_b")
        plan = _plan(a.join(b, "k"))
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan      # buckets align — no shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_quality_classifier_zero_shuffle(spark):
    """The hashed-feature scorer is one codegen projection — no
    exchange, no Python."""
    from ferenda_spark.operators.classify import quality_score
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(quality_score(docs))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan       # no row-at-a-time Python


def test_pagerank_bounded_shuffles(spark):
    """One aggregation shuffle per iteration plus the fixed setup
    (nodes distinct + outdeg) — the plan must not grow superlinearly
    with iterations and must keep map-side partial aggregation."""
    from ferenda_spark.operators.rank import pagerank
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7) % 23}") for i in range(200)],
        "src string, dst string")
    pr3 = pagerank(edges, iters=3)
    plan = _plan(pr3)
    # localCheckpoint per iteration truncates lineage: the FINAL plan
    # contains only the last iteration's joins, not all three
    assert plan.count("HashAggregate") <= 6
    pr3.collect()


def test_token_spans_single_winner_shuffle(spark):
    """Window hashing happens in the scan projection; the winner pass
    is aggregation (map-side partial min), never a per-hash window
    function (which would single-partition hot hashes)."""
    from ferenda_spark.operators.dedup import duplicate_token_spans
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(duplicate_token_spans(docs))
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_assign_shards_single_corpus_shuffle_and_broadcast_offsets(spark):
    """The packing phase shuffles the corpus exactly once (on the
    monotone bucket key for the per-bucket window); the bucket-offset
    table joins BROADCAST — the corpus never shuffles to meet it."""
    from ferenda_spark.operators.shards import assign_shards
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(assign_shards(docs, budget=20000, weight_col="n_chars"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    # exchanges: one hashpartitioning for the window + the broadcast
    # exchange for the offsets dim (which moves n_buckets rows, not
    # the corpus)
    import re
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex == 1, plan[:2000]
    assert "Window" in plan


def test_latest_fetch_single_exchange(spark):
    """Canonicalization is scan-side; the canonical-key window is the
    only shuffle (row_number and count share the partition)."""
    from datetime import datetime
    from ferenda_spark.operators.webfilter import latest_fetch
    df = spark.createDataFrame(
        [("https://a.com/x", datetime(2024, 1, 1))],
        "url string, warc_ts timestamp")
    plan = _plan(latest_fetch(df))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_pack_contexts_no_extra_shuffle(spark):
    """Context explode is pure arithmetic on the corpus offsets — no
    exchange beyond assign_shards' single corpus shuffle."""
    import re
    from ferenda_spark.operators.shards import pack_contexts
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_contexts(docs, 512, "n_chars"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Generate explode" in plan or "explode" in plan.lower()


def test_dedup_against_index_streams_the_index(spark):
    """The 100 TB side (the persisted band index) must only ever be
    the STREAMED side of broadcast semi-joins — never sorted, never
    exchanged for a merge join.  The only allowed exchanges move
    batch-derived band keys / ids."""
    from ferenda_spark.operators import dedup
    history = spark.range(0, 4).selectExpr(
        "id as doc_id",
        "concat('hist words number ', id, ' extra filler tokens') as text")
    index = dedup.minhash_bands(history, k=8, bands=4)
    batch = spark.range(100, 104).selectExpr(
        "id as doc_id",
        "concat('batch words number ', id, ' other filler tokens') as text")
    plan = _plan(dedup.dedup_against_index(batch, index))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan


# ------------------------------------------ session-7 plan guarantees

def test_url_template_stays_in_codegen(spark):
    """The template key is pure Column work — no Python eval, no
    exchange before the one aggregation."""
    from ferenda_spark.operators.webfilter import url_templates
    df = spark.createDataFrame(
        [(f"https://s{i%3}.com/p/{i}",) for i in range(50)],
        "url string")
    plan = _plan(url_templates(df))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # exactly the aggregation exchange, nothing upstream of it
    assert plan.count("Exchange") <= 2  # partial/final agg split + AQE


def test_cms_sketch_single_aggregate_no_python(spark, monkeypatch):
    from ferenda_spark.operators.sketch import cms_sketch
    df = spark.createDataFrame([(f"k{i%7}",) for i in range(100)],
                               "key string")
    monkeypatch.setattr("ferenda_spark.operators.sketch.CMS_WIDTH", 64)
    plan = _plan(cms_sketch(df))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "WindowExec" not in plan


def test_select_canonical_no_window(spark):
    from ferenda_spark.operators.dedup import select_canonical
    docs = spark.createDataFrame([(i, i * 2) for i in range(20)],
                                 "doc_id long, score long")
    cl = spark.createDataFrame([(i, i % 3) for i in range(10)],
                               "id long, comp long")
    plan = _plan(select_canonical(docs, cl, "score"))
    assert "Window" not in plan          # winner is a plain aggregate


def test_winnow_selection_per_row_no_shuffle(spark):
    """Fingerprint selection happens inside the row: the plan up to
    the output has no aggregation exchange and no Python."""
    from ferenda_spark.operators.dedup import winnow_fingerprints
    df = spark.createDataFrame(
        [(i, " ".join(f"w{j+i}" for j in range(30))) for i in range(10)],
        "doc_id long, text string")
    plan = _plan(winnow_fingerprints(df))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan.split("Generate")[0]


def test_bpe_pair_counts_partial_aggregation(spark):
    """Training's pair-count groupBy pre-aggregates map-side — hot
    pairs like (t,h) combine per partition before the shuffle."""
    from ferenda_spark.operators.tokenize import word_counts
    docs = spark.createDataFrame(
        [(f"u{i}", "the thin thing then") for i in range(8)],
        "url string, text string")
    plan = _plan(word_counts(docs))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange") == 1


def test_declared_canonical_no_python_after_harvest(spark):
    """After the one Arrow head harvest, key derivation and the
    winner window stay JVM-side; exactly one window partitioning."""
    from ferenda_spark.operators.webfilter import declared_canonical_fetch
    import datetime as dt
    fetches = spark.createDataFrame(
        [(f"https://s/{i}", dt.datetime(2024, 1, 1), b"<html/>")
         for i in range(4)],
        "url string, warc_ts timestamp, html binary")
    plan = _plan(declared_canonical_fetch(fetches))
    # one Arrow pass (the harvest), zero row-at-a-time Python
    assert plan.count("ArrowEvalPython") <= 1
    assert "BatchEvalPython" not in plan
    # row_number + count are two window specs but share ONE
    # partitioning: every Window node keys on canonical_url
    wins = [seg[:120] for seg in plan.split("Window")[1:]]
    assert wins and all("canonical_url" in seg for seg in wins)


def test_langid_profile_window_partitioned_by_lang(spark, monkeypatch):
    """The training window runs over PRE-AGGREGATED (lang, gram)
    counts partitioned by lang — never a global single-partition
    window (the r2 WindowExec lesson)."""
    from ferenda_spark.operators.langprofile import train_lang_profiles
    docs = spark.createDataFrame(
        [("en", "the thing there"), ("sv", "det var det")],
        "lang string, text string")
    monkeypatch.setattr("ferenda_spark.operators.langprofile.PROFILE_K", 10)
    plan = _plan(train_lang_profiles(docs))
    w = plan[plan.index("Window"):plan.index("Window") + 200]
    assert "lang" in w          # partitioned by lang, never global
    # gram counts pre-aggregate map-side before the shuffle
    assert "partial_count" in plan


def test_score_eval_single_shuffle(spark):
    """The whole threshold sweep is one combinable aggregation over
    the exploded (row × threshold) fan-out — plus only the join of
    scores to labels."""
    from ferenda_spark.operators.classify import score_eval
    scored = spark.createDataFrame(
        [(1, 3, 100)], "id long, n_tokens long, score_sum_milli long")
    labels = spark.createDataFrame([(1, True)], "id long, label boolean")
    plan = _plan(score_eval(scored, labels, thresholds=[0, 1, 2]))
    assert "partial_sum" in plan
    assert "Window" not in plan and "BatchEvalPython" not in plan


def test_harmonic_centrality_combinable_aggregate(spark, monkeypatch):
    """The centrality reduction over distance rows is one groupBy
    with map-side partials — no window, no python."""
    from ferenda_spark.operators.rank import harmonic_centrality
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    lms = spark.createDataFrame([(2,)], "node long")
    monkeypatch.setattr("ferenda_spark.operators.rank.HARMONIC_MAX_DEPTH", 4)
    plan = _plan(harmonic_centrality(edges, lms))
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Window" not in plan and "BatchEvalPython" not in plan


def test_sparql_subquery_takeordered_broadcast(spark):
    """A nested SELECT with ORDER BY DESC LIMIT compiles the inner
    top-k to TakeOrdered (never a global sort) and its tiny result
    broadcasts into the decorating join."""
    from ferenda_spark.operators.sparql import sparql_query
    edges = spark.createDataFrame(
        [("a", "p:ref", f"t{i}", False, None, None)
         for i in range(5)] +
        [(f"t{i}", "p:ch", str(i), True, None, None)
         for i in range(5)],
        "subj string, pred string, obj string, obj_is_literal boolean,"
        " obj_datatype string, obj_lang string")
    df = sparql_query(edges, """
SELECT ?t ?n ?ch WHERE {
  { SELECT ?t (COUNT(?s) AS ?n) WHERE { ?s p:ref ?t . }
    GROUP BY ?t ORDER BY DESC(?n) ?t LIMIT 3 }
  ?t p:ch ?ch .
}
""")
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_zero_or_one_path_no_closure_iteration(spark, monkeypatch):
    """pred? compiles to the single-step edge set — the iterative
    transitive closure must never run (it is the expensive machinery
    * and + pay for)."""
    from ferenda_spark.operators import analytics
    from ferenda_spark.operators.sparql import sparql_query

    def boom(*a, **kw):
        raise AssertionError("? path must not build a closure")
    monkeypatch.setattr(analytics, "transitive_closure", boom)
    edges = spark.createDataFrame(
        [("a", "p:part", "b", False, None, None)],
        "subj string, pred string, obj string, obj_is_literal boolean,"
        " obj_datatype string, obj_lang string")
    got = sparql_query(
        edges, "SELECT ?x WHERE { ?x p:part? <b> . }").collect()
    assert {r["x"] for r in got} == {"a", "b"}


def test_negated_property_set_is_scan_filter(spark):
    """!(p1|p2) compiles to a NOT IN filter at the scan — no join,
    no python."""
    from ferenda_spark.operators.sparql import sparql_query
    edges = spark.createDataFrame(
        [("a", "p:x", "b", False, None, None)],
        "subj string, pred string, obj string, obj_is_literal boolean,"
        " obj_datatype string, obj_lang string")
    df = sparql_query(
        edges, "SELECT ?s WHERE { ?s !(p:x|p:y) <b> . }")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan


def _alias_def_projections(df) -> list[str]:
    """Distinct optimized-plan nodes that mention the ALIAS_DEF pattern
    (a persisted input's plan prints once per reader; tree-drawing
    prefixes are stripped so those copies count once)."""
    from ferenda_spark.grammar.citations import ALIAS_DEF
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sorted({re.sub(r"^[\s:|+-]*", "", line)
                   for line in plan.split("\n")
                   if ALIAS_DEF.pattern in line})


def test_alias_map_projected_once_per_page(spark):
    """Spark does not eliminate common subexpressions inside
    transform/aggregate lambdas: the alias map must be its own
    projection, read by the section and token lambdas, in build_triples
    and in run_pipeline's per-page frame — never inlined into a lambda
    by an edit or by Catalyst's CollapseProject."""
    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.grammar.citations import ALIAS_DEF
    from ferenda_spark.operators.extract import extract
    from ferenda_spark.operators.fused import page_triples
    from ferenda_spark.pipeline import build_triples
    pages = pages_df(spark, 10, partitions=2)
    frames = {
        "build_triples": build_triples(pages, entities_df(spark)),
        # run_pipeline's cached per-page frame
        "page_triples": page_triples(extract(pages)),
    }
    for path, df in frames.items():
        nodes = _alias_def_projections(df)
        assert len(nodes) == 1, (path, [n[:120] for n in nodes])
        node = nodes[0]
        assert node.startswith("Project ["), (path, node[:120])
        calls = re.findall(r"regexp_extract_all\(text#\d+, (.*?), (\d+)\)",
                           node)
        assert [int(g) for _, g in calls] == [
            ALIAS_DEF.group_index("name"), ALIAS_DEF.group_index("num")
        ], (path, calls)
        assert node.count(ALIAS_DEF.pattern) == 2, path


def test_run_pipeline_one_html_free_materialization(spark, tmp_path,
                                                    monkeypatch):
    """A fresh run_pipeline caches one frame, which holds no html, and
    starts at most 10 jobs; its no-op rerun runs no Python stage."""
    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.pipeline import run_pipeline
    src = str(tmp_path / "pages")
    pages_df(spark, 30, partitions=2).write.parquet(src)
    pages, ents = spark.read.parquet(src), entities_df(spark)
    store = GraphStore(spark, str(tmp_path / "g"))

    persisted = []
    cls = type(pages)
    orig_persist = cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self.columns)
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording_persist)
    monkeypatch.setattr(cls, "cache", recording_persist)
    sc = spark.sparkContext
    stats, jobs = _jobs(sc, "run_pipeline_fresh",
                        lambda: run_pipeline(spark, pages, ents, store))
    assert stats["pages"] == 30
    assert persisted and all("html" not in cols for cols in persisted), \
        persisted
    assert jobs <= 10

    # the no-op rerun: no plan it executes may hold a Python operator
    sql_store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        execs = sql_store.executionsList()
        return [(e.executionId(), e.physicalPlanDescription())
                for e in (execs.apply(i) for i in range(execs.size()))]

    last = max((i for i, _ in executions()), default=-1)
    assert run_pipeline(spark, pages, ents, store)["skipped"] is True
    plans = [p for i, p in executions() if i > last]
    assert plans
    python_ops = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                  "BatchEvalPython", "FlatMapGroupsInPandas")
    assert not [p for p in plans if any(op in p for op in python_ops)]


def _changed(pages, n):
    """``pages`` with page ``n``'s html changed."""
    return pages.withColumn(
        "html", F.when(F.col("url").endswith(f"/rfc/{n}"),
                       F.concat(F.col("html"), F.lit(b" ")))
        .otherwise(F.col("html")))


def test_read_current_is_scans_and_one_broadcast_join(spark, tmp_path):
    """read_current("edge") over a store committed twice (the second
    commit retires a changed page) aggregates nothing, shuffles
    nothing and reads no provenance: it is the snapshot scans joined
    once to the per-url current table, which is broadcast once."""
    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.pipeline import run_pipeline
    pages, ents = pages_df(spark, 10, partitions=2), entities_df(spark)
    store = GraphStore(spark, str(tmp_path / "g"))
    run_pipeline(spark, pages, ents, store)
    assert run_pipeline(spark, _changed(pages, 3), ents, store)["pages"] == 1

    df = store.read_current("edge")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized
    assert "LeftSemi" not in optimized
    assert optimized.count("Join Inner") == 1, optimized
    plan = _plan(df)
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "/provenance/" not in plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    # the broadcast side is the one scan of current
    broadcast_side = plan.split("BroadcastExchange")[1]
    assert broadcast_side.count("FileScan") == 1, plan
    assert "ReadSchema: struct<url:string,input_hash:string,commit_id:" \
        in broadcast_side, plan


def test_read_current_jobs_do_not_grow_with_commits(spark, tmp_path,
                                                   monkeypatch):
    """Building read_current("edge") starts no Spark job (the scans
    take their schemas from the manifest), and running it takes the
    same number of jobs over 1, 2 and 5 commits, with one broadcast
    of current whatever the snapshot count. Compaction is held off, so
    the five commits leave five snapshots. The changes accumulate:
    each commit changes one more page and keeps the earlier changes,
    so each commits exactly one page."""
    from ferenda_spark.fixtures.pages import entities_df, pages_df
    from ferenda_spark.operators import graph
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.pipeline import run_pipeline
    monkeypatch.setattr(graph, "COMPACT_AFTER", 5)
    sc = spark.sparkContext
    pages, ents = pages_df(spark, 10, partitions=2), entities_df(spark)
    store = GraphStore(spark, str(tmp_path / "g"))
    run_pipeline(spark, pages, ents, store)
    runs = {}
    for commits in range(1, 6):
        if commits > 1:
            pages = _changed(pages, commits + 2)
            assert run_pipeline(spark, pages, ents, store)["pages"] == 1
        if commits not in (1, 2, 5):
            continue
        assert len(store.snapshots("edge")) == commits
        df, built = _jobs(sc, f"read_current_build_{commits}",
                          lambda: store.read_current("edge"))
        assert built == 0
        assert _plan(df).count("BroadcastExchange") == 1
        rows, ran = _jobs(sc, f"read_current_run_{commits}", df.collect)
        assert rows
        runs[commits] = ran
    assert runs[1] == runs[2] == runs[5], runs
