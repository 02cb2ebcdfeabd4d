"""Graph materialization: triples → (node, edge, provenance) tables
with snapshot lineage and idempotent resume.

The Spark restatement of the reference's relate/distill phases
(/root/reference/ferenda/documentrepository.py:1885-1995 ``relate``,
documentstore.py:400-470 ``needed()`` mtime freshness, documententry.py
:266-342 per-document status/duration lineage records): each stage
writes to a snapshot-committed table, and a page's old versions stay
in the tables. Which page version is committed is recorded in one
place, the small per-url ``current`` table: a read sees the version
it names (:meth:`GraphStore.merge_current`), and a rerun anti-joins
its input against it (:func:`pending_pages`), so only new or changed
documents reprocess.
After each commit, :meth:`GraphStore.upkeep` compacts the tables that
have passed a snapshot bound and vacuums what compaction dropped.

In production this is Iceberg (``df.writeTo(tbl).append()`` /
``MERGE INTO`` on (url, input_hash); snapshots are Iceberg snapshots).
The sandbox has no Iceberg runtime jars, so ``GraphStore`` implements
the identical contract over parquet directories with an atomically
renamed JSON manifest — every method maps 1:1 onto an Iceberg call,
noted inline. As in Iceberg's table metadata, each manifest entry
records its snapshot's schema, so a read is planned from the manifest
alone: building it opens no data file and starts no Spark job.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

# The store's own column on a compacted snapshot: the commit id of
# each rewritten row (an appended snapshot keeps it in its manifest
# entry instead). Reads add it to tag rows and drop it before
# returning them.
COMMIT_COL = "_commit_id"


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable, at every
    depth: a parquet scan returns its columns so."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _scan_schema(schema: StructType, partition_cols) -> StructType:
    """The schema a parquet scan of a directory written from a frame
    of ``schema`` returns: every column nullable, and the partition
    columns last, in ``partition_cols`` order."""
    parts = [schema[c] for c in partition_cols]
    return _nullable(StructType(
        [f for f in schema.fields if f.name not in partition_cols]
        + parts))


class ConcurrentCommitError(RuntimeError):
    """A competing writer changed the manifest in a way that makes
    this commit unsafe (rewrite set no longer live). The Iceberg
    analog is a CommitFailedException after CAS validation."""


def _try_break_stale(path: str, stale_after_s: float) -> None:
    """Break ``path`` if it is a stale commit lock.

    Breakers serialize on an O_EXCL intent file, and the winner
    re-reads the lock's (token, mtime) INSIDE that critical section,
    unlinking only a lock that is STILL stale and carries the token
    it originally judged stale. A fresh lock created between the
    outer staleness check and the unlink has a different token (and a
    young mtime) and survives — the TOCTOU the previous
    rename-then-unlink scheme still had: two breakers could both pass
    the mtime check, the first would break+let a new holder acquire,
    and the second's pending rename would then steal the new holder's
    live lock. A breaker that crashes inside the critical section
    leaves its intent file; peers clear it once it too is stale.
    """
    try:
        if time.time() - os.path.getmtime(path) <= stale_after_s:
            return
        with open(path) as lf:
            stale_token = lf.read()
    except (FileNotFoundError, OSError):
        return  # holder released / peer broke it — retry acquisition
    intent = path + ".break"
    try:
        ifd = os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:  # clear only a CRASHED breaker's stale intent
            if time.time() - os.path.getmtime(intent) > stale_after_s:
                os.unlink(intent)
        except FileNotFoundError:
            pass
        return
    try:
        os.close(ifd)
        try:
            with open(path) as lf:
                cur = lf.read()
            if (cur == stale_token
                    and time.time() - os.path.getmtime(path)
                    > stale_after_s):
                os.unlink(path)
        except FileNotFoundError:
            pass
    finally:
        try:
            os.unlink(intent)
        except FileNotFoundError:
            pass


COMMIT_LOCK_STALE_S = 300.0
COMMIT_LOCK_TIMEOUT_S = 60.0

# upkeep compacts a table once a commit leaves it with more live
# snapshots than this. Each live snapshot adds a scan to every read
# and commit (about 0.04 s and 0.12 s on a 4-CPU host), and a
# compaction rewrites the whole table; 3 to 5 minimized their sum per
# commit over 40 commits of 25 pages (the curve is in CHANGES.md), and
# 4 keeps a read within 1.5x of a one-snapshot store's
COMPACT_AFTER = 4
# vacuum deletes an unreferenced snapshot directory only once it has
# been unreferenced this long: a reader planned on an older manifest
# may still be scanning it, and a writer's snapshot is unreferenced
# until its manifest commit
VACUUM_GRACE_S = 3600.0


class GraphStore:
    """Snapshot-committed table store (Iceberg-contract emulation).

    ``partition_spec`` maps table → partition columns, the Iceberg
    partition-spec analog: ``{"edge": ["pred"]}`` lays every snapshot
    out as ``pred=<value>/`` directories, so a query filtering on a
    predicate (every SPARQL triple pattern with a constant predicate,
    i.e. nearly all of them) prunes to that predicate's files at
    PLANNING time — at 10^12 edges the scan never touches the other
    predicates' data.  Partitioning changes layout only: reads
    restore the column (select by name, not position), multisets are
    identical, and unpartitioned snapshots of the same table written
    before the spec remain readable side-by-side (spec evolution,
    like Iceberg's)."""

    def __init__(self, spark: SparkSession, root: str,
                 partition_spec: dict | None = None):
        self.spark = spark
        self.root = root
        self.partition_spec = dict(partition_spec or {})
        self._open_commit: str | None = None
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def _read_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _commit(self, table: str, snapshots: list[dict]) -> None:
        """Atomic commit: write tmp, rename over manifest — the analog
        of an Iceberg metadata-file swap. Callers hold the table's
        commit lock.

        Each directory the commit drops from the manifest has its
        mtime set to now, so :meth:`vacuum`'s grace period starts when
        it stops being live, not when it was written: a reader planned
        on the previous manifest may still be scanning it."""
        p = self._manifest_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        live = {s["id"] for s in snapshots}
        dropped = [s["path"] for s in self._read_manifest(table)
                   if s["id"] not in live]
        tmp = p + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snapshots, f, indent=1)
        os.replace(tmp, p)
        for path in dropped:
            with contextlib.suppress(FileNotFoundError):
                os.utime(path)

    def _commit_lock(self, table: str):
        """Mutual exclusion for read-merge-commit sequences — the
        stand-in for the Iceberg catalog's CAS commit. O_EXCL lock
        file on the table directory; valid on a POSIX fs (object
        stores need a real catalog service, which is the point of
        Iceberg's metastore).

        Stale-lock recovery: manifest commits are sub-second, so a
        lock file older than ``COMMIT_LOCK_STALE_S`` belongs to a writer
        that died mid-commit (SIGKILL/OOM before the finally-unlink);
        it is broken and acquisition retried rather than wedging the
        table forever.  The lock file records pid+timestamp for
        operator forensics."""

        @contextlib.contextmanager
        def lock():
            tdir = os.path.join(self.root, table)
            os.makedirs(tdir, exist_ok=True)
            path = os.path.join(tdir, "_commit.lock")
            token = f"{os.getpid()}:{uuid.uuid4().hex}"
            deadline = time.time() + COMMIT_LOCK_TIMEOUT_S
            while True:
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    _try_break_stale(path, COMMIT_LOCK_STALE_S)
                    if time.time() > deadline:
                        raise ConcurrentCommitError(
                            f"commit lock on {table} held past "
                            f"{COMMIT_LOCK_TIMEOUT_S}s")
                    time.sleep(0.05)
            try:
                os.write(fd, token.encode())
                os.close(fd)
                yield
            finally:
                # Release only OUR lock: if the lock was broken as
                # stale mid-commit and a peer now holds a fresh one,
                # the token differs and we must not unlink it.
                # (A commit that overruns stale_after_s has already
                # lost mutual exclusion; commits are sub-second.)
                try:
                    with open(path) as lf:
                        owner = lf.read()
                    if owner == token:
                        os.unlink(path)
                except FileNotFoundError:
                    pass  # broken as stale by a peer

        return lock()

    def snapshots(self, table: str) -> list[dict]:
        return self._read_manifest(table)

    # -- table ops (each maps to one Iceberg call) --------------------------

    def _write_snapshot(self, df: DataFrame, table: str,
                        snap_id: str, **extra) -> dict:
        """Write one snapshot directory and build its manifest entry
        (shared by append, compact and merge_current so the on-disk
        layout cannot fork between them).

        The entry records the schema a scan of the directory returns
        (:func:`_scan_schema`), so a read plans from the manifest and
        opens no parquet footer — Iceberg keeps the schema in table
        metadata for the same reason. Without its native library,
        Hadoop's local file system starts a ``chmod`` process for each
        directory and file it makes, so the snapshot's fixed staging
        directories are made here, and no ``_SUCCESS`` file is written
        (the manifest entry is the snapshot's commit)."""
        path = os.path.join(self.root, table, snap_id)
        cols = self.partition_spec.get(table) or []
        os.makedirs(os.path.join(path, "_temporary", "0", "_temporary"))
        w = df.write.mode("append").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        if cols:
            w = w.partitionBy(*cols)
        w.parquet(path)
        return {"id": snap_id, "path": path, "ts": time.time(),
                "schema": _scan_schema(df.schema, cols).json(), **extra}

    @contextlib.contextmanager
    def commit(self):
        """Scope one commit and yield its id. Every :meth:`append`
        made inside it records the id in its manifest entry; an append
        made outside any commit records none, and :meth:`read_current`
        never shows its rows. The id is not a data column, so copying
        committed rows into a plain ``append`` cannot make them
        visible.

        Nothing inside the commit is visible until its last write,
        :meth:`merge_current`, names it in ``current``: a commit that
        dies before then leaves rows under an id no read or resume
        asks for, and its pages are rerun."""
        self._open_commit = f"commit-{uuid.uuid4().hex}"
        try:
            yield self._open_commit
        finally:
            self._open_commit = None

    def append(self, df: DataFrame, table: str) -> str:
        """Iceberg: ``df.writeTo(table).append()``. The data write
        happens outside the commit lock (long); only the
        read-modify-write of the manifest is serialized. Inside
        :meth:`commit` the entry carries that commit's id."""
        snap_id = f"snap-{len(self._read_manifest(table)):06d}-{uuid.uuid4().hex[:8]}"
        extra = ({"commit_id": self._open_commit}
                 if self._open_commit is not None else {})
        entry = self._write_snapshot(df, table, snap_id, **extra)
        with self._commit_lock(table):
            snaps = self._read_manifest(table)
            snaps.append(entry)
            self._commit(table, snaps)
        return snap_id

    def merge_current(self, pages: DataFrame, commit_id: str) -> None:
        """Iceberg: ``MERGE INTO current USING pages ON url`` — make
        ``commit_id``'s version of each of ``pages``' urls the one
        :meth:`read_current` shows and :func:`pending_pages` resumes
        against. It is a commit's last write, and the one that
        publishes it.

        ``pages`` holds one row per url (:func:`pending_pages` reduces
        a batch so), and ``current(url, input_hash, commit_id)`` keeps
        one row per url: the rewrite is the previous table minus
        ``pages``' urls plus ``pages``' rows. The read-merge-write
        runs under the ``current`` commit lock, so two writers'
        merges serialize and the later commit wins each url it
        touched. The previous table's directory leaves the manifest
        and is vacuumed once its grace period has passed."""
        rows = pages.select("url", "input_hash",
                            F.lit(commit_id).alias("commit_id"))
        with self._commit_lock("current"):
            prev = self._read_manifest("current")
            if prev:
                rows = (self._read_snapshots(prev)
                        .join(pages.select("url"), "url", "left_anti")
                        .unionByName(rows))
            # AQE sizes the files from the bytes: one for a small store,
            # and never more than the shuffle partitions
            entry = self._write_snapshot(rows.hint("rebalance"), "current",
                                         f"snap-{commit_id}")
            self._commit("current", [entry])

    def read(self, table: str) -> DataFrame:
        """Iceberg: ``spark.read.table(table)`` (current snapshot).
        Raw union of every committed append — includes superseded
        page versions and any orphaned partial appends; query-facing
        consumers want :meth:`read_current`."""
        snaps = self._read_manifest(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots")
        return self._read_snapshots(snaps)

    def _read_snapshots(self, snaps: list[dict],
                        tagged: bool = False) -> DataFrame:
        """Union per-snapshot scans by NAME.  One multi-path parquet
        scan refuses partitioned snapshot roots ("conflicting
        directory structures") and mixed flat/partitioned layouts
        (spec evolution), and a READER must not need the writer's
        partition spec — the layout is self-describing per snapshot.
        Filters on a partition column still prune inside each
        partitioned scan; same files either way.

        Each scan takes the schema its manifest entry records, so
        building the union starts no Spark job: inferring a schema
        runs one job per snapshot to read parquet footers. An entry
        without a schema (written before entries carried one) is
        read with inference.

        ``tagged`` gives every row its commit id as ``COMMIT_COL``:
        a compacted snapshot's stored column, else the snapshot's
        manifest entry (NULL outside a commit). Untagged, the stored
        column is dropped."""
        out = None
        for snap in snaps:
            reader = self.spark.read
            if "schema" in snap:
                reader = reader.schema(
                    StructType.fromJson(json.loads(snap["schema"])))
            df = reader.parquet(snap["path"])
            if COMMIT_COL in df.columns:
                if not tagged:
                    df = df.drop(COMMIT_COL)
            elif tagged:
                df = df.withColumn(
                    COMMIT_COL,
                    F.lit(snap.get("commit_id")).cast("string"))
            out = df if out is None else out.unionByName(df)
        return out

    def read_current(self, table: str) -> DataFrame:
        """Exactly-once, latest-version view of a lineage-tagged
        table (edge/node rows carrying ``src_url``/``src_hash``).

        Which rows are current was decided at commit time: the
        ``current`` table names, per url, the ``input_hash`` and the
        commit whose rows a reader sees (:meth:`merge_current`). The
        view is the union of the table's snapshot scans, each row
        tagged with its snapshot's commit id, inner-joined to
        ``current`` on (src_url, src_hash, commit id). That closes
        three gaps the raw union has:

        * rows appended outside a commit, or by a commit that died
          before its ``current`` merge, match no ``current`` row and
          are INVISIBLE — the orphan snapshot of a writer that died
          mid-batch never surfaces, even when it died in the store's
          first commit, before any ``current`` existed;
        * rows of a url's superseded version are RETIRED — a changed
          page's old subgraph drops out because ``current`` names its
          new hash (the Iceberg analog is ``MERGE INTO`` on
          (url, input_hash));
        * a replay of the same (url, input_hash) by a second commit
          emits identical rows under another commit id, and only the
          commit ``current`` names is seen — exactly-once observation
          without a ``dropDuplicates``.

        A read therefore runs no provenance aggregate and no shuffle
        of the graph: it is the snapshot scans, planned from the
        manifest without a job, plus one join to a table of one row
        per url, which the planner broadcasts once while that table
        is small. An inner join, not a left semi-join: Spark pushes a
        semi-join into every branch of the snapshot union, and each
        branch then broadcasts ``current`` in a job of its own; an
        inner join stays above the union and broadcasts it once. It
        keeps each row at most once because ``current`` holds one row
        per url.

        Tables without lineage columns (provenance itself, bulk
        loads) pass through as ``read``. A lineage table in a store
        with no ``current`` table has no committed row, so its view is
        empty.
        """
        snaps = self._read_manifest(table)
        if not snaps:
            raise FileNotFoundError(f"table {table} has no snapshots")
        tagged = self._read_snapshots(snaps, tagged=True)
        if "src_url" not in tagged.columns:
            return tagged.drop(COMMIT_COL)
        if not self.exists("current"):
            return tagged.drop(COMMIT_COL).where(F.lit(False))
        cur = self.read("current").select(
            F.col("url").alias("src_url"),
            F.col("input_hash").alias("src_hash"),
            F.col("commit_id").alias(COMMIT_COL))
        return (tagged.join(cur, ["src_url", "src_hash", COMMIT_COL])
                .select(*tagged.columns).drop(COMMIT_COL))

    def exists(self, table: str) -> bool:
        return bool(self._read_manifest(table))

    def compact(self, table: str) -> str:
        """Iceberg: ``rewrite_data_files`` — rewrite the snapshots
        live at start-of-compaction into ONE snapshot of
        ``defaultParallelism`` files.

        Every read and commit scans each live snapshot, so many
        small commits cost per-scan and per-file (the small-files
        problem). The rewrite uses ``repartition`` (a shuffle of data
        being fully rewritten anyway, like Iceberg's bin-packing
        rewrite) so the many-small-file read stays fully parallel —
        ``coalesce`` would fold it into a few sequential tasks.

        It rewrites the raw union, every row of every live snapshot,
        whether a read sees it today or not: a commit whose edge
        append has landed but whose ``current`` merge has not must
        keep its rows through a compaction that runs in between.
        Each rewritten row keeps the commit that made it: the
        compacted snapshot stores it as the ``COMMIT_COL`` column
        (the rows come from many commits, so one manifest entry
        cannot name it). :meth:`read_current` joins on it exactly as
        on an appended snapshot's manifest id, so a compaction
        changes no view, and a later commit that retires a url
        retires its compacted rows too.

        Concurrency: the rewrite window is long, so the commit
        validates-and-merges like Iceberg under the commit lock —
        snapshots appended while the rewrite ran are carried over
        untouched after the compacted entry. If any snapshot of the
        rewrite set is NO LONGER live at commit time (a concurrent
        compaction rewrote it), the commit ABORTS with
        :class:`ConcurrentCommitError` and removes its own orphan
        directory — carrying on would duplicate its rows. Old
        snapshot directories stay on disk until :meth:`vacuum` (the
        expire_snapshots analog) — the manifest swap must not race
        in-flight readers of the old file set."""
        import shutil
        before = self._read_manifest(table)
        if not before:
            raise FileNotFoundError(f"table {table} has no snapshots")
        rows = self._read_snapshots(before, tagged=True).repartition(
            self.spark.sparkContext.defaultParallelism)
        snap_id = f"compact-{uuid.uuid4().hex[:8]}"
        entry = self._write_snapshot(rows, table, snap_id, compacted=True)
        rewritten = {s["id"] for s in before}
        with self._commit_lock(table):
            now = self._read_manifest(table)
            live = {s["id"] for s in now}
            if not rewritten <= live:
                shutil.rmtree(entry["path"], ignore_errors=True)
                raise ConcurrentCommitError(
                    f"compact {table}: rewrite set changed underneath "
                    f"(missing {sorted(rewritten - live)}); retry")
            tail = [s for s in now if s["id"] not in rewritten]
            self._commit(table, [entry] + tail)
        return snap_id

    def vacuum(self, table: str) -> list[str]:
        """Iceberg: ``expire_snapshots`` + orphan-file cleanup —
        delete snapshot directories that the manifest no longer
        references (after compaction, or a ``current`` rewrite).

        Runs under the commit lock so the live set cannot change
        mid-sweep. A directory is kept until ``VACUUM_GRACE_S`` after
        its mtime: :meth:`_commit` sets that when it drops the
        directory from the manifest, so a reader still scanning the
        previous file set keeps it, and a concurrent writer's
        snapshot, materialized BEFORE its manifest entry is
        committed, is as young as its write."""
        import shutil
        tdir = os.path.join(self.root, table)
        removed = []
        with self._commit_lock(table):
            live = {s["id"] for s in self._read_manifest(table)}
            cutoff = time.time() - VACUUM_GRACE_S
            for name in sorted(os.listdir(tdir)):
                full = os.path.join(tdir, name)
                if (os.path.isdir(full) and name not in live
                        and os.path.getmtime(full) < cutoff):
                    shutil.rmtree(full)
                    removed.append(name)
        return removed

    def upkeep(self) -> None:
        """The store's one upkeep path, run by ``run_pipeline`` after
        each commit: every table a commit writes that has more than
        ``COMPACT_AFTER`` live snapshots is compacted, then every one
        is vacuumed (``current`` holds one snapshot, so it is only
        vacuumed).

        A :class:`ConcurrentCommitError` means a peer compacted or is
        vacuuming the same table, so its upkeep is being done; it is
        swallowed, and the commit that ran this still succeeds."""
        for table in ("edge", "node", "provenance", "current"):
            with contextlib.suppress(ConcurrentCommitError):
                if len(self._read_manifest(table)) > COMPACT_AFTER:
                    self.compact(table)
                self.vacuum(table)


# -- resume / incremental recompute ----------------------------------------

def with_input_hash(pages: DataFrame, config_salt: str = "") -> DataFrame:
    """Content hash for change detection (reference: md5 content hashes,
    documententry.py:248-253; download_is_different:1096-1101).

    ``config_salt`` folds the run's EXTRACTION CONFIGURATION (discovery
    regex, forced language, grammar version, ...) into the hash:
    changing the config changes every input_hash, so the resume
    anti-join reprocesses the whole corpus and the changed-page
    contract retires each page's previous-config subgraph — instead
    of a corrected rerun silently no-op'ing against ``current`` rows
    committed under the wrong configuration.

    NULL html hashes as empty content rather than NULL: a NULL
    input_hash never matches itself in the resume anti-join's
    equality keys, so such a page would re-process on EVERY run
    (unbounded provenance growth, never-skipped replays)."""
    content = F.coalesce(F.col("html").cast("binary"), F.lit(b""))
    if config_salt:
        # empty salt keeps the historical pure-content hash, so
        # existing stores stay resumable
        content = F.concat(F.encode(F.lit(config_salt + "|"), "UTF-8"),
                           content)
    return pages.withColumn("input_hash", F.md5(content))


def pending_pages(pages: DataFrame, store: GraphStore,
                  config_salt: str = "") -> DataFrame:
    """The pages a run must commit: the ``needed()`` freshness check
    as an anti-join against ``current``, the store's one record of
    what is committed. Only urls that are new, or whose committed
    version differs, remain; with no ``current`` table every page
    does.

    The batch is first reduced to one version per url, its greatest
    ``input_hash``, before the anti-join: reduced after it, a rerun of
    a batch holding two versions of a url would find the losing one
    missing from ``current``, commit it, and flip the url every run.
    The reduction costs one job over the url column alone, and a
    window only when some url repeats.
    """
    hashed = with_input_hash(pages, config_salt)
    if not (pages.groupBy("url").count()
            .filter(F.col("count") > 1).isEmpty()):
        hashed = (hashed.withColumn("_latest", F.max("input_hash").over(
                      Window.partitionBy("url")))
                  .filter(F.col("input_hash") == F.col("_latest"))
                  .drop("_latest").dropDuplicates(["url"]))
    if not store.exists("current"):
        return hashed
    done = store.read("current").select("url", "input_hash")
    return hashed.join(done, ["url", "input_hash"], "left_anti")


# -- node/edge projections ---------------------------------------------------

def edges_from_triples(triples: DataFrame) -> DataFrame:
    return triples.select("subj", "pred", "obj", "obj_is_literal",
                          "obj_datatype", "obj_lang")


def nodes_from_triples(triples: DataFrame,
                       lineage: tuple[str, ...] = ()) -> DataFrame:
    """node(uri, rdf_type, label, props) — a pivot-style projection of
    the triple table (reference facet_query SELECT shape,
    documentrepository.py:2290-2380).

    ``lineage`` names columns of ``triples`` (e.g. src_url, src_hash)
    to group by alongside the subject; they lead the output, so each
    page version gets its own node row tagged with its own lineage."""
    t = triples
    # props: first (minimum) literal obj per pred. map_from_entries
    # THROWS on duplicate keys under Spark's default
    # mapKeyDedupPolicy=EXCEPTION, and a subject CAN carry two
    # literals for one predicate (e.g. an in-batch redelivery of an
    # updated page) — so entries are sorted and folded to one
    # deterministic value per pred before the map is built.
    lit_entries = F.array_sort(F.filter(
        F.collect_list(F.when(F.col("obj_is_literal"),
                              F.struct("pred", "obj"))),
        lambda e: e["obj"].isNotNull()))
    empty = F.array().cast("array<struct<pred:string,obj:string>>")
    first_per_pred = F.aggregate(
        lit_entries, empty,
        lambda acc, e: F.when(F.size(acc) == 0, F.array(e))
        .when(F.element_at(acc, F.size(acc))["pred"] == e["pred"], acc)
        .otherwise(F.concat(acc, F.array(e))))
    return (t.groupBy(*lineage, F.col("subj").alias("uri"))
            .agg(
                F.min(F.when(F.col("pred") == "rdf:type", F.col("obj")))
                .alias("rdf_type"),
                F.min(F.when(F.col("pred") == "dcterms:title",
                             F.col("obj"))).alias("label"),
                F.map_from_entries(first_per_pred).alias("props")))


# -- graph diff / P-R harness ------------------------------------------------

TRIPLE_KEY = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype",
              "obj_lang"]


def graph_diff(got: DataFrame, want: DataFrame,
               key: list[str] | None = None):
    """(in_both, only_got, only_want) on canonicalized triple sets —
    the reference's validation compare (rdflib graph_diff per
    decorators.py:253-259, assertEqualGraphs testutil.py:58-117)
    restated as intersect/except on DataFrames."""
    key = key or TRIPLE_KEY
    g = got.select(*key).distinct()
    w = want.select(*key).distinct()
    return g.intersect(w), g.subtract(w), w.subtract(g)


def precision_recall(got: DataFrame, want: DataFrame,
                     key: list[str] | None = None) -> dict:
    """Triple P/R vs a golden set (the BASELINE ≥0.95 gate).

    The three set-op counts share both distinct inputs, so each side
    is persisted for the three actions (otherwise intersect+subtract
    ×2 re-scan and re-shuffle each input up to three times)."""
    key = key or TRIPLE_KEY
    g = got.select(*key).distinct().persist()
    w = want.select(*key).distinct().persist()
    try:
        tp = g.intersect(w).count()
        fp = g.subtract(w).count()
        fn = w.subtract(g).count()
    finally:
        g.unpersist()
        w.unpersist()
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": tp / (tp + fp) if tp + fp else 1.0,
        "recall": tp / (tp + fn) if tp + fn else 1.0,
    }
