"""Snapshot resume: rerun is a no-op; a partial run reprocesses only
missing urls; final edge set equals the single-run result; compaction
and vacuum, alone and racing a commit, change no view."""

import os
import time

import pytest
from pyspark.sql import functions as F

import ferenda_spark.operators.graph as graph
from ferenda_spark.fixtures.pages import entities_df, pages_df
from ferenda_spark.operators.graph import GraphStore, pending_pages
from ferenda_spark.pipeline import run_pipeline

N = 40


def _edge_set(store):
    return {tuple(r) for r in
            store.read("edge").select("subj", "pred", "obj").collect()}


def test_rerun_is_noop(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    ents = entities_df(spark)

    first = run_pipeline(spark, pages, ents, store)
    assert first["pages"] == N and first["triples"] > 0
    single_run_edges = _edge_set(store)

    second = run_pipeline(spark, pages, ents, store)
    assert second["skipped"] is True
    assert _edge_set(store) == single_run_edges


def test_commit_leaves_only_data_files(spark, tmp_path):
    """A commit's snapshot directories hold parquet files and their
    checksums only, with no staging directory and no ``_SUCCESS``
    file; the one-row-per-page tables of a small batch are one file
    each, however many partitions the batch has."""
    store = GraphStore(spark, str(tmp_path / "g"))
    run_pipeline(spark, pages_df(spark, N, partitions=2),
                 entities_df(spark), store)
    for table in ("edge", "node", "provenance", "current"):
        (snap,) = store.snapshots(table)
        names = os.listdir(snap["path"])
        assert names and all(n.endswith((".parquet", ".parquet.crc"))
                             for n in names), (table, names)
        if table in ("provenance", "current"):
            assert sum(n.endswith(".parquet") for n in names) == 1, names


def test_changed_pages_reprocess(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages, ents, store)

    # mutate one page's html → exactly that url becomes pending
    changed = pages.withColumn(
        "html",
        F.when(F.col("url").endswith("/rfc/3"),
               F.concat(F.col("html"), F.lit(b" ")))
        .otherwise(F.col("html")))
    todo = pending_pages(changed, store)
    assert [r["url"] for r in todo.select("url").collect()] == \
        ["https://example.org/res/rfc/3"]


def test_resume_after_partial_commit(spark, tmp_path):
    """Run half, then run full input — second run only does the rest,
    and the final edges equal a from-scratch single run."""
    ents = entities_df(spark)
    pages = pages_df(spark, N, partitions=2)

    full_store = GraphStore(spark, str(tmp_path / "full"))
    run_pipeline(spark, pages, ents, full_store)
    want = _edge_set(full_store)

    part_store = GraphStore(spark, str(tmp_path / "part"))
    half = pages.filter(F.md5("url").rlike("^[0-7]"))
    n_half = half.count()
    run_pipeline(spark, half, ents, part_store)
    stats = run_pipeline(spark, pages, ents, part_store)
    assert stats["pages"] == N - n_half
    assert _edge_set(part_store) == want


RFC3 = "https://example.org/res/rfc/3"


def _retitled(pages, url=RFC3):
    """``pages`` with ``url``'s title prefixed by "Revised "."""
    return pages.withColumn("html", F.when(
        F.col("url") == url,
        F.encode(F.regexp_replace(F.decode("html", "UTF-8"), "<h1>",
                                  "<h1>Revised "), "UTF-8"))
        .otherwise(F.col("html")))


def _title(store, url=RFC3):
    (row,) = (store.read_current("edge")
              .filter((F.col("subj") == url)
                      & (F.col("pred") == "dcterms:title")).collect())
    return row["obj"]


def test_same_url_twice_in_one_batch_commits_the_winner(spark, tmp_path):
    """Two versions of one url in one batch: the batch commits one of
    them, the greatest input_hash, which current names. The url gets
    one provenance row and the winner's title in the current view,
    and the graph equals a scratch build of the winning version."""
    from ferenda_spark.operators.graph import with_input_hash
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    versions = {"old": pages, "new": _retitled(pages)}
    hashes = {k: with_input_hash(v).filter(F.col("url") == RFC3)
              .first()["input_hash"] for k, v in versions.items()}
    winner = max(hashes, key=hashes.get)
    batch = pages.unionByName(
        versions["new"].filter(F.col("url") == RFC3))
    stats = run_pipeline(spark, batch, ents, store)
    assert stats["pages"] == 6 and stats["triples"] == 261

    prov = store.read("provenance").filter(F.col("url") == RFC3).collect()
    assert [r["input_hash"] for r in prov] == [hashes[winner]]
    assert _title(store).startswith("Revised ") == (winner == "new")
    cur = store.read("current")
    assert cur.count() == cur.select("url").distinct().count() == 6
    _assert_current_is_scratch_build(spark, store, versions[winner], ents,
                                     tmp_path / "scratch")


def test_two_version_batch_rerun_is_a_noop(spark, tmp_path):
    """The batch is reduced to one version per url before the resume
    anti-join, so rerunning a batch that holds two versions of a url
    commits nothing, however often it runs."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    batch = pages.unionByName(_retitled(pages).filter(F.col("url") == RFC3))
    assert run_pipeline(spark, batch, ents, store)["pages"] == 6
    for _ in range(2):
        assert run_pipeline(spark, batch, ents, store)["skipped"] is True


def test_page_reverted_to_an_earlier_version_recommits(spark, tmp_path):
    """Commit pages A, then B (rfc/3 retitled), then A again: the third
    run commits rfc/3's first version again, because resume asks
    current and not every version ever committed, and the current view
    equals a scratch build of A."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    assert run_pipeline(spark, pages, ents, store)["pages"] == 6
    first_title = _title(store)
    assert run_pipeline(spark, _retitled(pages), ents, store)["pages"] == 1
    assert _title(store) == "Revised " + first_title

    stats = run_pipeline(spark, pages, ents, store)
    assert stats["skipped"] is False and stats["pages"] == 1
    assert _title(store) == first_title
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")


class _MergeCrash(RuntimeError):
    pass


def _crash_at_merge(pages, commit_id):
    raise _MergeCrash(commit_id)


def _dead_commits(store):
    """Commit ids in provenance that current does not name."""
    def ids(table):
        return {r["commit_id"] for r in
                store.read(table).select("commit_id").distinct().collect()}
    named = ids("current") if store.exists("current") else set()
    return ids("provenance") - named


def test_crash_in_first_merge_is_hidden_and_replays(spark, tmp_path,
                                                    monkeypatch):
    """A store's first commit dies in merge_current, its last write:
    its edge and node rows are appended but the current view shows
    none of them, its provenance rows stay under a commit id current
    does not name, and the rerun is not refused: it replays every page
    and equals a scratch build."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    with monkeypatch.context() as m:
        m.setattr(store, "merge_current", _crash_at_merge)
        with pytest.raises(_MergeCrash):
            run_pipeline(spark, pages, ents, store)
    assert not store.exists("current")
    assert store.read("edge").count() > 0 and store.read("node").count() > 0
    assert store.read_current("edge").count() == 0
    assert store.read_current("node").count() == 0
    dead = _dead_commits(store)
    assert len(dead) == 1
    assert store.read("provenance").count() == 6

    assert run_pipeline(spark, pages, ents, store)["pages"] == 6
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")
    assert _dead_commits(store) == dead


def test_crash_in_a_later_merge_is_hidden_and_replays(spark, tmp_path,
                                                      monkeypatch):
    """A later commit that dies in merge_current changes no view: the
    current view is still the earlier commit's, provenance keeps the
    dead attempt's row under a commit id current does not name, and
    the rerun commits the changed page and equals a scratch build."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    changed = _retitled(pages)
    run_pipeline(spark, pages, ents, store)
    with monkeypatch.context() as m:
        m.setattr(store, "merge_current", _crash_at_merge)
        with pytest.raises(_MergeCrash):
            run_pipeline(spark, changed, ents, store)
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch_a")
    (dead,) = _dead_commits(store)
    assert [r["url"] for r in store.read("provenance")
            .filter(F.col("commit_id") == dead).collect()] == [RFC3]

    assert run_pipeline(spark, changed, ents, store)["pages"] == 1
    _assert_current_is_scratch_build(spark, store, changed, ents,
                                     tmp_path / "scratch_b")
    assert _dead_commits(store) == {dead}


def test_null_html_page_commits_and_resumes(spark, tmp_path):
    """NULL html parses as empty content, as with_input_hash hashes
    it: the batch commits, the page gets a success row with no
    triples, and a rerun is a no-op."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, 6, partitions=2)
    url = "https://example.org/index/lost"
    lost = spark.createDataFrame(
        [(url, None, None, None, "en")], pages.schema)
    batch = pages.unionByName(lost)
    ents = entities_df(spark)

    stats = run_pipeline(spark, batch, ents, store)
    assert stats["pages"] == 7 and stats["triples"] > 0
    prov = store.read("provenance").filter(F.col("url") == url).collect()
    assert [(r["success"], r["rows_out"]) for r in prov] == [(True, 0)]
    assert run_pipeline(spark, batch, ents, store)["skipped"] is True


def test_compaction_preserves_contents_and_resume(spark, tmp_path,
                                                  monkeypatch):
    """compact() rewrites N append snapshots into one; table contents
    are row-identical, the manifest holds a single snapshot, and a
    rerun after compaction is still a no-op (resume state lives in
    the rows, not the file layout)."""
    import glob as _glob
    ents = entities_df(spark)
    pages = pages_df(spark, N, partitions=2)
    store = GraphStore(spark, str(tmp_path / "g"))
    half = pages.filter(F.md5("url").rlike("^[0-7]"))
    run_pipeline(spark, half, ents, store)
    run_pipeline(spark, pages, ents, store)      # 2 append snapshots
    assert len(store.snapshots("edge")) == 2
    before = _edge_set(store)

    store.compact("edge")
    snaps = store.snapshots("edge")
    assert len(snaps) == 1 and snaps[0]["compacted"]
    assert _edge_set(store) == before
    files = _glob.glob(str(tmp_path / "g" / "edge" / snaps[0]["id"]
                           ) + "/*.parquet")
    assert len(files) <= spark.sparkContext.defaultParallelism

    # old snapshot dirs survive until vacuum (reader grace period),
    # then are reclaimed without changing table contents
    edge_dir = tmp_path / "g" / "edge"
    n_dirs_before = len([p for p in edge_dir.iterdir() if p.is_dir()])
    assert n_dirs_before == 3                    # 2 old + 1 compacted
    # within the grace period, just-dropped dirs are kept
    assert store.vacuum("edge") == []
    monkeypatch.setattr(graph, "VACUUM_GRACE_S", 0.0)
    removed = store.vacuum("edge")
    assert len(removed) == 2
    assert _edge_set(store) == before

    stats = run_pipeline(spark, pages, ents, store)
    assert stats["skipped"] is True              # resume unaffected


def test_compaction_merges_concurrent_append(spark, tmp_path):
    """A snapshot appended while the rewrite runs must survive the
    compaction commit (validate-and-merge, not blind replacement)."""
    store = GraphStore(spark, str(tmp_path / "g"))
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    late = spark.createDataFrame([(3, "c")], "k long, v string")
    store.append(df1, "t")
    store.append(df2, "t")

    # simulate an append landing mid-rewrite: hook the manifest read
    # compact() does at start so the 'concurrent' append commits
    # after compact captured its rewrite set
    orig = store._read_manifest
    fired = {"done": False}

    def read_with_concurrent_append(table):
        snaps = orig(table)
        if not fired["done"]:
            fired["done"] = True
            store.append(late, "t")   # concurrent writer
        return snaps

    store._read_manifest = read_with_concurrent_append
    try:
        store.compact("t")
    finally:
        store._read_manifest = orig

    snaps = store.snapshots("t")
    assert snaps[0].get("compacted") and len(snaps) == 2
    rows = {(r["k"], r["v"]) for r in store.read("t").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}  # nothing lost


def test_compaction_aborts_when_rewrite_set_changes(spark, tmp_path):
    """If the snapshots being rewritten are no longer live at commit
    time (a peer's compaction rewrote them), the compaction must abort
    and clean up its orphan rather than duplicate rows."""
    from ferenda_spark.operators.graph import ConcurrentCommitError
    store = GraphStore(spark, str(tmp_path / "g"))
    peer = GraphStore(spark, str(tmp_path / "g"))
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    df2 = spark.createDataFrame([(2, "b")], "k long, v string")
    store.append(df1, "t")
    store.append(df2, "t")

    orig = store._read_manifest
    peer_snap = []

    def read_with_concurrent_compact(table):
        snaps = orig(table)
        if not peer_snap:
            # competing writer rewrites both snapshots first
            peer_snap.append(peer.compact("t"))
        return snaps

    store._read_manifest = read_with_concurrent_compact
    try:
        with pytest.raises(ConcurrentCommitError):
            store.compact("t")
    finally:
        store._read_manifest = orig

    # the table is the peer's compaction, untouched by the aborted one
    assert [s["id"] for s in store.snapshots("t")] == peer_snap
    rows = sorted((r["k"], r["v"]) for r in store.read("t").collect())
    assert rows == [(1, "a"), (2, "b")]
    # the aborted compact's directory was removed
    names = {p.name for p in (tmp_path / "g" / "t").iterdir()
             if p.is_dir()}
    assert {n for n in names if n.startswith("compact-")} == set(peer_snap)


def test_vacuum_grace_starts_when_a_snapshot_is_dropped(spark, tmp_path,
                                                        monkeypatch):
    """A snapshot written long ago and compacted away just now is kept
    for the grace period: a reader planned on the old manifest may
    still scan it. The directories current drops each commit are
    vacuumed by run_pipeline's upkeep once their grace has passed."""
    store = GraphStore(spark, str(tmp_path / "g"))
    for k in (1, 2):
        store.append(spark.createDataFrame([(k,)], "k long"), "t")
    old = [s["path"] for s in store.snapshots("t")]
    two_hours_ago = time.time() - 2 * 3600
    for path in old:
        os.utime(path, (two_hours_ago, two_hours_ago))
    store.compact("t")
    assert store.vacuum("t") == []
    assert all(os.path.isdir(p) for p in old)

    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    monkeypatch.setattr(graph, "VACUUM_GRACE_S", 0.0)
    run_pipeline(spark, pages, ents, store)
    run_pipeline(spark, pages.withColumn(
        "html", F.concat(F.col("html"), F.lit(b" "))), ents, store)
    cur = tmp_path / "g" / "current"
    assert [p.name for p in cur.iterdir() if p.is_dir()] == [
        s["id"] for s in store.snapshots("current")]


def test_upkeep_compacts_past_the_bound(spark, tmp_path, monkeypatch):
    """run_pipeline compacts each table whose live snapshot count has
    passed COMPACT_AFTER; the view and the resume state are unchanged."""
    monkeypatch.setattr(graph, "COMPACT_AFTER", 2)
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, N, partitions=2), entities_df(spark)
    tables = ("edge", "node", "provenance")
    for i in range(3):
        run_pipeline(spark, pages.filter(F.pmod(F.hash("url"), F.lit(3)) == i),
                     ents, store)
        # the third commit passes the bound of 2 and compacts each
        want = 1 if i == 2 else i + 1
        assert [len(store.snapshots(t)) for t in tables] == [want] * 3
    for table in tables:
        (entry,) = store.snapshots(table)
        assert entry["compacted"], table
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")
    assert run_pipeline(spark, pages, ents, store)["skipped"] is True


def test_upkeep_swallows_a_peer_compaction(spark, tmp_path, monkeypatch):
    """A peer that compacts the edge table while this run's upkeep is
    compacting it makes that compaction abort with
    ConcurrentCommitError; the upkeep swallows it, the run still
    reports its commit, and the view is the peer's compaction."""
    monkeypatch.setattr(graph, "COMPACT_AFTER", 1)
    store = GraphStore(spark, str(tmp_path / "g"))
    peer = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, N, partitions=2), entities_df(spark)
    half = pages.filter(F.md5("url").rlike("^[0-7]"))
    run_pipeline(spark, half, ents, store)

    orig = store._write_snapshot
    peer_snap = []

    def write_after_peer(df, table, snap_id, **extra):
        if table == "edge" and snap_id.startswith("compact-"):
            peer_snap.append(peer.compact("edge"))
        return orig(df, table, snap_id, **extra)

    store._write_snapshot = write_after_peer
    stats = run_pipeline(spark, pages, ents, store)
    assert stats["pages"] == N - half.count() and not stats["skipped"]
    assert [s["id"] for s in store.snapshots("edge")] == peer_snap
    for table in ("node", "provenance"):
        (entry,) = store.snapshots(table)
        assert entry["compacted"], table
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")


def test_compaction_between_append_and_merge_keeps_the_commit(
        spark, tmp_path):
    """A peer's compaction that lands after a commit's edge append and
    before its current merge rewrites that commit's rows with their
    commit id, so the merge makes them visible: no row is lost."""
    store = GraphStore(spark, str(tmp_path / "g"))
    peer = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, N, partitions=2), entities_df(spark)
    run_pipeline(spark, pages.filter(F.md5("url").rlike("^[0-7]")), ents,
                 store)

    orig = store.merge_current

    def merge_after_peer_compaction(batch, commit_id):
        peer.compact("edge")
        return orig(batch, commit_id)

    store.merge_current = merge_after_peer_compaction
    assert run_pipeline(spark, pages, ents, store)["pages"] > 0
    (entry,) = store.snapshots("edge")
    assert entry["compacted"]
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")


def _current_edge_set(store):
    return {tuple(r) for r in
            store.read_current("edge").select("subj", "pred",
                                              "obj").collect()}


def test_read_current_retires_superseded_versions(spark, tmp_path):
    """A changed page's OLD subgraph must drop out of the
    current-view: the raw union keeps both versions (snapshot
    retention), read_current keeps only the latest committed hash."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    v1_current = _current_edge_set(store)

    # a DOC page (index/listing pages emit no triples)
    url0 = (pages.filter(F.col("url").contains("/res/rfc/"))
            .orderBy("url").first()["url"])
    changed = pages.withColumn(
        "html",
        F.when(F.col("url") == url0,
               F.concat(F.col("html"), F.lit(b" "))
               ).otherwise(F.col("html")))
    stats = run_pipeline(spark, changed, ents, store)
    assert stats["pages"] == 1

    # raw union retains BOTH versions' subgraphs (snapshot retention)
    raw_hashes = (store.read("edge").filter(F.col("src_url") == url0)
                  .select("src_hash").distinct().count())
    assert raw_hashes == 2
    # current view keeps exactly the LATEST committed hash for url0
    cur_hashes = [r["src_hash"] for r in
                  store.read_current("edge")
                  .filter(F.col("src_url") == url0)
                  .select("src_hash").distinct().collect()]
    new_hash = (store.read("provenance")
                .filter((F.col("url") == url0) & F.col("success"))
                .orderBy(F.desc("attempt_ts")).first()["input_hash"])
    assert cur_hashes == [new_hash]
    # every other url's current edges are untouched
    cur = _current_edge_set(store)
    assert {t for t in cur if not t[0].startswith(url0)} == \
        {t for t in v1_current if not t[0].startswith(url0)}


def test_read_current_hides_orphan_partial_appends(spark, tmp_path):
    """Edges appended outside any commit (copied rows, and a
    fabricated uncommitted version) are invisible in read_current."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    clean = _current_edge_set(store)

    # simulate the crash window: recompute a page's edges and append
    # them WITHOUT a provenance row (same content, so a duplicate),
    # plus a fabricated uncommitted hash (partial new version)
    some = store.read("edge").limit(5)
    store.append(some, "edge")                          # replay dup
    store.append(some.withColumn("src_hash", F.lit("deadbeef")),
                 "edge")                                # orphan vers.
    assert store.read("edge").count() > len(clean)
    assert _current_edge_set(store) == clean


def test_read_current_node_dedups_replay(spark, tmp_path, monkeypatch):
    """A replay of committed pages (a second writer that read the
    pending set before the first one committed) appends the same node
    rows again; read_current("node") shows each (uri, src_hash) once
    with its props, though Spark cannot compare the props map."""
    import ferenda_spark.pipeline as pipeline
    from ferenda_spark.operators.graph import with_input_hash

    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, 6, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    want = {(r["uri"], r["src_hash"]): r["props"]
            for r in store.read("node").collect()}

    monkeypatch.setattr(
        pipeline, "pending_pages",
        lambda pages, store, salt: with_input_hash(pages, salt))
    assert run_pipeline(spark, pages, ents, store)["pages"] == 6
    assert store.read("node").count() == 2 * len(want)

    rows = store.read_current("node").collect()
    assert len(rows) == len(want)
    assert {(r["uri"], r["src_hash"]): r["props"] for r in rows} == want
    assert any(want.values())

EDGE_COLS = ["src_url", "subj", "pred", "obj", "obj_is_literal",
             "obj_datatype", "obj_lang", "src_hash"]


def _assert_current_is_scratch_build(spark, store, pages, ents, root):
    """store.read_current("edge") and ("node") equal a from-scratch
    build of ``pages`` as multisets."""
    scratch = GraphStore(spark, str(root))
    run_pipeline(spark, pages, ents, scratch)
    got = store.read_current("edge").select(*EDGE_COLS)
    want = scratch.read("edge").select(*EDGE_COLS)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert _multiset(store.read_current("node")) == _multiset(
        scratch.read("node"))


def test_read_current_identical_duplicate_page_seen_once(spark, tmp_path):
    """The same page twice in one batch (same url and input_hash)
    commits once: its edges are observed once."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, 6, partitions=2)
    ents = entities_df(spark)
    dup = pages.filter(F.col("url") == "https://example.org/res/rfc/3")
    stats = run_pipeline(spark, pages.unionByName(dup), ents, store)
    assert stats["pages"] == 6
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")


def test_read_current_edge_replay_by_second_writer(spark, tmp_path,
                                                   monkeypatch):
    """A second writer that read the pending set before the first one
    committed replays every page; each edge is still observed once."""
    import ferenda_spark.pipeline as pipeline
    from ferenda_spark.operators.graph import with_input_hash

    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, 6, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "pending_pages",
                  lambda pages, store, salt:
                  with_input_hash(pages, salt))
        assert run_pipeline(spark, pages, ents, store)["pages"] == 6
    assert store.read("edge").count() == 2 * store.read_current(
        "edge").count()
    _assert_current_is_scratch_build(spark, store, pages, ents,
                                     tmp_path / "scratch")


def test_read_current_after_compact_then_refresh(spark, tmp_path):
    """compact("edge") keeps each row's commit, so a refresh commit
    after it retires a changed page's compacted rows."""
    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    ents = entities_df(spark)
    run_pipeline(spark, pages.filter(F.md5("url").rlike("^[0-7]")), ents,
                 store)
    run_pipeline(spark, pages, ents, store)
    store.compact("edge")
    assert len(store.snapshots("edge")) == 1

    url0 = (pages.filter(F.col("url").contains("/res/rfc/"))
            .orderBy("url").first()["url"])
    changed = pages.withColumn(
        "html", F.when(F.col("url") == url0,
                       F.concat(F.col("html"), F.lit(b" "))
                       ).otherwise(F.col("html")))
    assert run_pipeline(spark, changed, ents, store)["pages"] == 1
    _assert_current_is_scratch_build(spark, store, changed, ents,
                                     tmp_path / "scratch")


# --- dependency-triggered regeneration (regen.py) --------------------------


def test_regenerate_exact_dependent_set(spark, tmp_path):
    """Touching ONE committed doc makes precisely that doc plus its
    transitive dependents over the committed citation graph stale —
    and nothing else (the reference's add_dependency +
    needed('generate') loop, documentrepository.py:2055-2077,
    documentstore.py:438-457). Oracle: a Python BFS over the collected
    dependency pairs."""
    from ferenda_spark.operators.regen import dependency_pairs, stale_set

    store = GraphStore(spark, str(tmp_path / "g"))
    pages = pages_df(spark, N, partitions=2)
    run_pipeline(spark, pages, entities_df(spark), store)

    deps = dependency_pairs(store.read_current("edge"),
                            pages.select("url"))
    dependents = {}
    for r in deps.collect():
        dependents.setdefault(r["depends_on"], set()).add(r["url"])

    victim = "https://example.org/res/rfc/3"
    want = {victim: 0}
    frontier = [victim]
    while frontier:
        nxt = []
        for u in frontier:
            for d in sorted(dependents.get(u, ())):
                if d not in want:
                    want[d] = want[u] + 1
                    nxt.append(d)
        frontier = nxt

    changed = spark.createDataFrame([(victim,)], "url string")
    got = {(r["url"], r["depth"])
           for r in stale_set(deps, changed).collect()}
    assert got == set(want.items())
    assert 1 < len(want) < N


def test_stale_set_cycle_and_depth(spark, monkeypatch):
    """Cycles terminate; depth is the minimum dependency distance."""
    from ferenda_spark.operators.regen import stale_set
    deps = spark.createDataFrame(
        [("B", "A"), ("C", "B"), ("A", "C"),   # 3-cycle
         ("D", "C"), ("D", "A")],              # D two ways, min depth
        "url string, depends_on string")
    changed = spark.createDataFrame([("A",)], "url string")
    got = {(r["url"], r["depth"]) for r in stale_set(deps, changed).collect()}
    assert got == {("A", 0), ("B", 1), ("D", 1), ("C", 2)}
    monkeypatch.setattr("ferenda_spark.operators.regen.STALE_MAX_DEPTH", 1)
    bounded = {(r["url"], r["depth"])
               for r in stale_set(deps, changed).collect()}
    assert bounded == {("A", 0), ("B", 1), ("D", 1)}


def test_partition_spec_prunes_and_preserves(spark, tmp_path):
    """Iceberg-style partition spec: {"edge": ["pred"]} lays snapshots
    out as pred=<v>/ directories; a constant-predicate filter (every
    SPARQL pattern shape) prunes partitions at planning time, reads
    restore identical multisets, and pre-spec unpartitioned snapshots
    stay readable side-by-side (spec evolution)."""
    plain = GraphStore(spark, str(tmp_path / "g"))
    part = GraphStore(spark, str(tmp_path / "g"),
                      partition_spec={"edge": ["pred"]})
    rows = [(f"s{i}", p, f"o{i}", False, None, None)
            for i in range(60) for p in
            ("dcterms:references", "dcterms:isPartOf", "rdf:type")]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, obj_lang string")
    # snapshot 1 unpartitioned (pre-spec), snapshot 2 partitioned
    plain.append(df.limit(30), "edge")
    part.append(df, "edge")

    got = part.read("edge")
    assert got.count() == 180 + 30
    # multiset round-trip by name (column ORDER may differ: partition
    # columns come last in the restored schema)
    all_rows = {(r["subj"], r["pred"], r["obj"]) for r in got.collect()}
    assert ("s0", "rdf:type", "o0") in all_rows

    filtered = got.filter(F.col("pred") == "dcterms:references")
    assert filtered.count() == 60 + 10
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the partitioned snapshot's scan carries the pred partition filter
    assert "PartitionFilters" in plan and "pred" in plan

    # a READER must not need the writer's spec: the layout is
    # self-describing per snapshot (serving CLI / downstream jobs
    # open stores with GraphStore(spark, dir) and no spec)
    specless = GraphStore(spark, str(tmp_path / "g"))
    assert specless.read("edge").count() == 180 + 30
    assert {(r["subj"], r["pred"], r["obj"])
            for r in specless.read("edge").collect()} == all_rows


def _multiset(df):
    """The rows of ``df`` as a multiset; node's map column rules out
    ``exceptAll``."""
    import collections
    import json
    return collections.Counter(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect())


def test_manifest_entry_without_schema_reads_the_same(spark, tmp_path):
    """Entries written before manifest entries recorded a schema have
    no ``schema`` key; such a store is read with schema inference and
    yields the same rows and columns."""
    import json
    store = GraphStore(spark, str(tmp_path / "g"))
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    changed = pages.withColumn(
        "html", F.when(F.col("url").endswith("/rfc/3"),
                       F.concat(F.col("html"), F.lit(b" ")))
        .otherwise(F.col("html")))
    run_pipeline(spark, changed, ents, store)
    want = {t: store.read_current(t) for t in ("edge", "node")}
    want["provenance"] = store.read("provenance")
    want = {t: (df.schema, _multiset(df)) for t, df in want.items()}

    for table in ("edge", "node", "provenance", "current"):
        snaps = store.snapshots(table)
        assert all("schema" in s for s in snaps)
        store._commit(table, [{k: v for k, v in s.items() if k != "schema"}
                              for s in snaps])
    old = GraphStore(spark, str(tmp_path / "g"))
    for table, (schema, rows) in want.items():
        got = (old.read("provenance") if table == "provenance"
               else old.read_current(table))
        assert got.schema == schema, table
        assert _multiset(got) == rows, table
    assert run_pipeline(spark, changed, ents, old)["skipped"] is True
    # the next commit writes entries with a schema beside the old ones
    assert run_pipeline(spark, changed.withColumn(
        "html", F.concat(F.col("html"), F.lit(b" "))), ents,
        old)["pages"] == 6
    assert ["schema" in s for s in old.snapshots("edge")] == [
        False, False, True]
    assert json.loads(old.snapshots("edge")[-1]["schema"])["type"] \
        == "struct"


def test_partitioned_and_compacted_snapshots_read_recorded_schema(
        spark, tmp_path):
    """A partitioned snapshot records its partition column last and a
    compacted one records its commit-id column, each as the schema a
    scan of the directory infers; reads built from those schemas
    return the rows they returned before."""
    import json

    from pyspark.sql.types import StructType

    from ferenda_spark.operators.graph import COMMIT_COL
    store = GraphStore(spark, str(tmp_path / "g"),
                       partition_spec={"edge": ["pred"]})
    pages, ents = pages_df(spark, 6, partitions=2), entities_df(spark)
    run_pipeline(spark, pages, ents, store)
    (entry,) = store.snapshots("edge")
    recorded = StructType.fromJson(json.loads(entry["schema"]))
    assert recorded.names[-1] == "pred"
    assert recorded == spark.read.parquet(entry["path"]).schema
    before = _multiset(store.read_current("edge"))

    store.compact("edge")
    (entry,) = store.snapshots("edge")
    assert entry["compacted"]
    recorded = StructType.fromJson(json.loads(entry["schema"]))
    assert COMMIT_COL in recorded.names and recorded.names[-1] == "pred"
    assert recorded == spark.read.parquet(entry["path"]).schema

    df = store.read_current("edge")
    assert COMMIT_COL not in df.columns
    assert _multiset(df) == before

