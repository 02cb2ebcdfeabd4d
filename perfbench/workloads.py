"""The three workloads, driven through the package's public API from a
single client that waits for each call before making the next (a
closed loop, one client).

``build_fresh``        ``run_pipeline`` over the whole corpus into an
                       empty ``GraphStore``, a fresh store per call.
``build_incremental``  a store holding the base corpus, copied before
                       each call, refreshed with a seeded few percent of
                       pages changed and a few percent new.
``query_serving``      a store committed in two batches, read by the
                       top-cited SPARQL query, again and again, along
                       the ``tools/query_graph.py`` path.

Every workload reports the same end-to-end metrics (see README.md);
``build_incremental`` adds two. With tracing on it reports the
per-layer metrics instead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import pandas as pd
from pyspark.sql import functions as F

from ferenda_spark.fixtures.pages import entities_df
from ferenda_spark.grammar.citations import (
    alias_map,
    cite_objs,
    stateful_reference_structs,
)
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.graph import (
    GraphStore,
    pending_pages,
)
from ferenda_spark.operators.sparql import parse_sparql, sparql_query
from ferenda_spark.pipeline import build_triples, run_pipeline

import corpus
import queries
from env import (StageMeter, dir_bytes, force, plan_metrics, restart_spark,
                 tree_cpu_s)

FRESH_PAGES = 1000
REFRESH_PAGES = 2000
CHANGED_PERMILLE = 40
NEW_PERMILLE = 30
SERVING_PAGES = 600
MIN_PR = 0.95
# Timed calls per run, at least: a fixed amount of work, so that the
# median does not slide along the JIT's warm-up with the host's speed.
# ``--seconds`` adds calls only once a call gets much faster.
BUILD_CALLS = 1
QUERY_CALLS = 6


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def metered(fn, *args):
    """(wall seconds, CPU seconds of the process tree, result). The CPU
    time leaves out what the hypervisor gives to other guests, which on
    a shared host swings the wall time of the same call by half."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, tree_cpu_s() - c0, out


def tail_percentile(xs) -> tuple[int, float] | None:
    """(p, value): the highest of p99/p95/p90/p75/p50 with at least
    ten samples beyond it, or None when there are too few samples."""
    xs = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, xs[min(len(xs) - 1, int(len(xs) * p / 100))]
    return None


class TracedStore(GraphStore):
    """A GraphStore whose appends are spans carrying the bytes they
    wrote."""

    def __init__(self, spark, root, tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def append(self, df, table):
        with self.tracer.span(f"graph.append.{table}") as sp:
            snap = super().append(df, table)
        sp["bytes"] = dir_bytes(os.path.join(self.root, table, snap))
        return snap


class Workload:
    """One run of one workload: inputs, set-up, store preparation, the
    timed closed loop, correctness checks and metrics."""

    name = ""

    def __init__(self, seed, seconds, tracer, work, cache):
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.work, self.cache = work, cache
        self.attempted = self.failed = 0
        self.scale = False
        self.info: dict = {}
        self.calls: list[float] = []     # the workload's timed call
        self.cpu: list[float] = []       # its CPU seconds
        self.builds: list[tuple] = []    # committing run_pipeline calls
        self.noops: list[float] = []
        self.reads: list[float] = []
        self.shuffle: list[int] = []
        self.rss_peaks: list[int] = []   # peak RSS of each call
        self.rss = None                  # the run's RssSampler
        self._n = 0

    # -- plumbing ----------------------------------------------------------

    def path(self, name):
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def store(self, root):
        if self.tracer.enabled:
            return TracedStore(self.spark, root, self.tracer)
        return GraphStore(self.spark, root)

    def read(self, path):
        return self.spark.read.parquet(path)

    def attempt(self, fn, *args):
        """One counted call; a raise counts as failed and gives None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, ok, what):
        """A failed check fails the call it checks."""
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {self.name}: {what}", file=sys.stderr)

    def build(self, pages, store):
        """One ``run_pipeline`` call: (seconds, CPU seconds, stats)."""
        with self.tracer.span("run_pipeline"):
            return metered(run_pipeline, self.spark, pages, self.entities,
                           store)

    def commit(self, pages, store):
        """A ``run_pipeline`` call that must commit work; its time and
        edge rows feed ``triples_per_s``."""
        meter = StageMeter(self.spark) if self.tracer.enabled else None
        res = self.attempt(self.build, pages, store)
        if res is None:
            return None
        dt, cpu, stats = res
        self.mark()
        self.check(not stats["skipped"], "build committed nothing")
        self.builds.append((dt, cpu, stats["triples"]))
        if meter is not None:
            self.shuffle.append(meter.take())
        return res

    def noop_and_read(self, pages, store):
        """The same call again, which must be a no-op, then a forced
        read of the current edge view."""
        res = self.attempt(self.build, pages, store)
        if res is not None:
            self.mark()
            self.check(res[2]["skipped"], "rerun was not a no-op")
            self.noops.append(res[0])
        with self.tracer.span("graph.read_current"):
            res = self.attempt(timed, force, store.read_current("edge"))
        if res is not None:
            self.mark()
            self.reads.append(res[0])

    def mark(self):
        """Record the peak RSS since the previous call ended."""
        if self.rss is not None:
            self.rss_peaks.append(self.rss.take())

    def loop(self, body, min_reps):
        """Closed loop: repeat ``body`` until ``seconds`` have passed
        and it ran at least ``min_reps`` times."""
        t0, reps = time.perf_counter(), 0
        while reps < min_reps or time.perf_counter() - t0 < self.seconds:
            body()
            reps += 1
        self.info["reps"] = reps
        self.info["calls_s"] = [round(c, 3) for c in self.calls]
        self.info["cpu_s"] = [round(c, 3) for c in self.cpu]

    # -- phases --------------------------------------------------------------

    def warm_up(self, spark):
        """The end of set-up: the workload's first build, into an empty
        store, so that JIT, code generation and the Python workers are
        warm before anything is timed."""
        self.spark = spark
        self.entities = entities_df(spark)
        run_pipeline(spark, self.read(self.first_dir), self.entities,
                     GraphStore(spark, self.warm_root))
        # A build's peak RSS swings by half with the number of Python
        # workers alive at once; with one timed build the warm-up build
        # gives the median its other sample.
        self.mark()

    def prepare(self):
        """Store preparation: after set-up, outside ``setup_s`` and the
        timed calls."""

    def e2e(self) -> dict:
        rows = median([r for *_, r in self.builds])
        self.info["call_p50_ms"] = round(median(self.calls) * 1000, 1)
        self.info["triples_per_s"] = round(
            rows / median([s for s, *_ in self.builds]), 1)
        self.info["triples_per_cpu_s"] = round(
            rows / median([c for _, c, _ in self.builds]), 1)
        return {
            "call_cpu_s": (median(self.cpu), "s"),
            "peak_rss_mb": (median(self.rss_peaks) / 2**20, "MB"),
        }

    # -- per-layer profile (tracing on) ------------------------------------

    def layers(self, pages, before, store, traced_s, untraced_s) -> dict:
        """Per-layer metrics of this run.

        ``pages`` against the store state ``before`` the timed call
        gives the pages the call processes; the ladder and the grammar
        builders run over those. ``traced_s`` and ``untraced_s`` time
        the same call with tracing on and off."""
        out = {}
        with self.tracer.span("graph.pending"):
            dt, todo = timed(lambda: pending_pages(pages, before)
                             .drop("input_hash").persist())
            dt2, n = timed(todo.count)
        out["graph.pending_s"] = (dt + dt2, "s")
        out["graph.pending_rows"] = (n, "count")
        todo_dir = self.path("pending")
        todo.write.parquet(todo_dir)
        todo.unpersist()
        out.update(self.ladder(todo_dir))
        out.update(self.grammar(todo_dir))
        out.update(self.span_metrics())
        out["graph.snapshots"] = (len(store.snapshots("edge")), "count")
        out["trace.overhead_s"] = (traced_s - untraced_s, "s")
        out["call.unaccounted_s"] = (untraced_s - self.accounted(out), "s")
        return out

    def accounted(self, out) -> float:
        """The layer times that make up one timed call."""
        return sum(out[k][0] for k in (
            "graph.pending_s", "scan.s", "extract.boundary_s",
            "extract.parse_s", "fused.self_s", "graph.append_s.edge",
            "graph.append_s.node", "graph.append_s.provenance"))

    def labels(self):
        return [(r["label"], r["uri"]) for r in
                self.entities.filter(F.col("kind") == "publisher")
                .select("label", "uri").collect()]

    def ladder(self, pages_dir) -> dict:
        """Forced prefixes: scan → identity mapInPandas → extract →
        build_triples. Each rung's time minus the one before it is that
        layer's cost."""
        src = self.read(pages_dir).select("url", "html", "lang")
        rungs = {}
        for name, df in (
                ("scan", src),
                ("identity", src.mapInPandas(lambda it: it, src.schema)),
                ("extract", extract(src, entity_labels=self.labels())),
                ("build_triples", build_triples(src, self.entities))):
            with self.tracer.span(f"ladder.{name}"):
                rungs[name] = plan_metrics(df)
        t = {k: v[0] for k, v in rungs.items()}
        py = next((m for node, m in rungs["extract"][1]
                   if node == "MapInPandas"), {})
        triples = next((m["numOutputRows"] for _, m in
                        rungs["build_triples"][1] if "numOutputRows" in m), 0)
        return {
            "scan.s": (t["scan"], "s"),
            "extract.boundary_s": (t["identity"] - t["scan"], "s"),
            "extract.parse_s": (t["extract"] - t["identity"], "s"),
            "extract.rows_out": (py.get("pythonNumRowsReceived", 0), "count"),
            "extract.python_bytes_sent": (py.get("pythonDataSent", 0),
                                          "bytes"),
            "extract.python_bytes_received": (
                py.get("pythonDataReceived", 0), "bytes"),
            "fused.self_s": (t["build_triples"] - t["extract"], "s"),
            "fused.triples_out": (triples, "count"),
        }

    def grammar(self, pages_dir) -> dict:
        """Each public citation-grammar Column builder over a cached
        extract output; the alias map is precomputed for the two
        builders that take it."""
        ext = (extract(self.read(pages_dir), entity_labels=self.labels())
               .filter(F.col("is_doc"))
               .withColumn("aliases", alias_map(F.col("text"))).persist())
        force(ext)
        aliases = F.col("aliases")
        cols = {
            "grammar.alias_map_s": alias_map(F.col("text")),
            "grammar.cite_objs_s": F.concat(
                cite_objs(F.col("preamble"), aliases),
                F.flatten(F.transform(
                    "sections", lambda s: cite_objs(s["text"], aliases)))),
            "grammar.stateful_refs_s": stateful_reference_structs(
                F.col("url"), F.col("preamble"), F.col("sections"),
                aliases),
        }
        out = {}
        for name, col in cols.items():
            with self.tracer.span(name):
                out[name] = (timed(force, ext.select(col.alias("c")))[0], "s")
        ext.unpersist()
        return out

    def span_metrics(self) -> dict:
        spans = self.tracer.spans

        def durations(name, scale=1.0):
            return [(s["end"] - s["start"]) * scale for s in spans
                    if s["name"] == name]

        out = {}
        for table in ("edge", "node", "provenance"):
            out[f"graph.append_s.{table}"] = (
                median(durations(f"graph.append.{table}")), "s")
            out[f"graph.bytes_written.{table}"] = (median(
                [s["bytes"] for s in spans
                 if s["name"] == f"graph.append.{table}"]), "bytes")
        committing = [s for s in spans if s["name"] == "run_pipeline"
                      and any(c["parent"] == s["id"] for c in spans)]
        out["pipeline.self_s"] = (median([
            (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in spans
                if c["parent"] == s["id"]) for s in committing]), "s")
        out["graph.read_current_s"] = (median(self.reads), "s")
        out["spark.shuffle_bytes"] = (median(self.shuffle), "bytes")
        for stage in ("parse", "plan", "exec"):
            out[f"sparql.{stage}_ms"] = (
                median(durations(f"sparql.{stage}", 1000)), "ms")
        out["sparql.rows_out"] = (median(
            [s["rows"] for s in spans if s["name"] == "sparql.exec"]),
            "count")
        return out

    # -- queries ---------------------------------------------------------

    def query(self, store, shape, params):
        """The tools/query_graph.py path: read_current → parse →
        compile → collect."""
        text = queries.SPARQL[shape]
        with self.tracer.span("sparql.query", shape=shape):
            edges = store.read_current("edge").select(*queries.EDGE_COLS)
            with self.tracer.span("sparql.parse"):
                q = parse_sparql(text, params)
            with self.tracer.span("sparql.plan"):
                out = sparql_query(edges, text, params)
            with self.tracer.span("sparql.exec") as sp:
                if q.form in ("construct", "describe"):
                    rows = out.orderBy("subj", "pred", "obj").collect()
                elif q.order_by:
                    rows = out.collect()
                else:
                    rows = out.orderBy(*out.columns).collect()
                if sp is not None:
                    sp["rows"] = len(rows)
        return rows

    def profile_queries(self, store):
        """One unchecked query of the cheapest serving shape, so that a
        build workload's traced run also reports the SPARQL layers."""
        self.attempt(self.query, store, "topcited", {})


class BuildFresh(Workload):
    """Why: every page goes through the Python parse and the fused
    triple expression — the paper's throughput path."""

    name = "build_fresh"

    def inputs(self):
        self.pages_dir, self.golden_dir = corpus.fresh_inputs(
            self.cache, self.seed, FRESH_PAGES)
        self.first_dir, self.warm_root = self.pages_dir, self.path("warm")

    def call(self, store):
        res = self.commit(self.read(self.pages_dir), store)
        if res is not None:
            self.calls.append(res[0])
            self.cpu.append(res[1])
        return store

    def measure(self):
        stores = []
        self.loop(lambda: stores.append(
            self.call(self.store(self.path("fresh")))), BUILD_CALLS)
        if self.tracer.enabled:
            self.noop_and_read(self.read(self.pages_dir), stores[-1])
        counts = {rows for *_, rows in self.builds}
        self.check(len(counts) == 1, f"edge counts differ: {counts}")
        pr = self.attempt(lambda: queries.triple_pr(
            stores[-1].read_current("edge").select(*queries.EDGE_COLS)
            .toPandas(), pd.read_parquet(self.golden_dir)))
        if pr is not None:
            self.info["precision"] = round(pr["precision"], 4)
            self.info["recall"] = round(pr["recall"], 4)
            self.check(min(pr["precision"], pr["recall"]) >= MIN_PR,
                       f"triple P/R below {MIN_PR}: {pr}")
        self.last_store, self.counts = stores[-1], counts

    def traced_layers(self):
        self.profile_queries(self.last_store)
        untraced, stats = timed(run_pipeline, self.spark,
                                self.read(self.pages_dir), self.entities,
                                GraphStore(self.spark, self.path("untraced")))
        out = self.layers(self.read(self.pages_dir),
                          GraphStore(self.spark, self.path("empty")),
                          self.last_store, self.calls[-1], untraced)
        if self.scale:
            self.scaling(stats["triples"] / untraced)
        return out

    def scaling(self, tps4):
        """triples/s at local[4] (``tps4``, untraced) over 4x triples/s
        at local[1], on the same corpus, each level in its own session.
        It runs on request (``--scaling``) in the traced run, which
        already makes an untraced local[4] build: the benchmark's time
        budget has no room for a second session in every run."""
        self.spark = restart_spark(self.spark, 1, self.work)
        self.entities = entities_df(self.spark)
        res = self.attempt(timed, run_pipeline, self.spark,
                           self.read(self.pages_dir), self.entities,
                           GraphStore(self.spark, self.path("fresh1")))
        if res is not None:
            dt, stats = res
            self.check(stats["triples"] in self.counts,
                       f"local[1] edges {stats['triples']} != {self.counts}")
            self.info["local1_build_s"] = round(dt, 3)
            self.info["scaling_eff_1to4"] = round(
                tps4 / (4 * stats["triples"] / dt), 4)


class BuildIncremental(Workload):
    """Why: the resume anti-join, the provenance scan and the
    read_current semi-join/distinct do most of the work; extract and
    triples see only the changed and new pages."""

    name = "build_incremental"

    def inputs(self):
        (self.base_dir, self.updated_dir, self.info["changed_pages"],
         self.info["new_pages"]) = corpus.refresh_inputs(
            self.cache, self.seed, REFRESH_PAGES, CHANGED_PERMILLE,
            NEW_PERMILLE)
        self.first_dir = self.base_dir
        self.warm_root = self.path("base")

    def prepare(self):
        """The expected current edges: a from-scratch build of the
        updated corpus. The base store to copy is the warm-up's."""
        scratch = GraphStore(self.spark, self.path("scratch"))
        run_pipeline(self.spark, self.read(self.updated_dir), self.entities,
                     scratch)
        self.expected_dir = self.path("expected")
        scratch.read_current("edge").write.parquet(self.expected_dir)

    def copy(self):
        root = self.path("refresh")
        shutil.copytree(self.warm_root, root)
        return root

    def call(self):
        store = self.store(self.copy())
        pages = self.read(self.updated_dir)
        res = self.commit(pages, store)
        if res is None:
            return
        self.calls.append(res[0])
        self.cpu.append(res[1])
        self.noop_and_read(pages, store)
        got, want = store.read_current("edge"), self.read(self.expected_dir)
        diff = self.attempt(lambda: (got.exceptAll(want).count(),
                                     want.exceptAll(got).count()))
        self.check(diff == (0, 0), f"refreshed edges differ: {diff}")
        self.last_store = store

    def measure(self):
        self.loop(self.call, min_reps=2)

    def e2e(self) -> dict:
        return {**super().e2e(),
                "noop_rerun_s": (median(self.noops), "s"),
                "read_current_s": (median(self.reads), "s")}

    def traced_layers(self):
        untraced, _ = timed(run_pipeline, self.spark,
                            self.read(self.updated_dir), self.entities,
                            GraphStore(self.spark, self.copy()))
        self.profile_queries(self.last_store)
        return self.layers(self.read(self.updated_dir),
                           GraphStore(self.spark, self.copy()),
                           self.last_store, self.calls[-1], untraced)


class QueryServing(Workload):
    """Why: the same GraphStore is read, not written; extract does no
    work, so build-layer changes must predict no change here."""

    name = "query_serving"

    def inputs(self):
        self.base_dir, self.updated_dir, _, _ = corpus.refresh_inputs(
            self.cache, self.seed, SERVING_PAGES, CHANGED_PERMILLE,
            NEW_PERMILLE)
        self.first_dir, self.warm_root = self.base_dir, self.path("served")

    def prepare(self):
        """Commit a refresh on top of the warm-up's base commit, so that
        reads union two snapshots and retire superseded page versions;
        then compute every query's expected answer."""
        self.served = self.store(self.warm_root)
        updated = self.read(self.updated_dir)
        self.commit(updated, self.served)
        if self.tracer.enabled:
            self.noop_and_read(updated, self.served)
        edges = (self.served.read_current("edge")
                 .select(*queries.EDGE_COLS).toPandas())
        self.mix = queries.MIX
        self.expected = queries.oracle_answers(edges, self.mix)

    def round(self):
        for (shape, params), want in zip(self.mix, self.expected):
            res = self.attempt(metered, self.query, self.served, shape,
                               params)
            if res is not None:
                self.mark()
                self.calls.append(res[0])
                self.cpu.append(res[1])
                self.by_shape.setdefault(shape, []).append(res[0])
                self.info["query_rows_by_shape"][shape] = len(res[2])
                self.check(queries.canonical(shape, res[2]) == want,
                           f"{shape} {params} differs from DuckDB")

    def measure(self):
        self.by_shape, self.info["query_rows_by_shape"] = {}, {}
        self.loop(self.round, QUERY_CALLS)
        self.info["query_p50_ms_by_shape"] = {
            k: round(median(v) * 1000, 1) for k, v in self.by_shape.items()}
        tail = tail_percentile(self.calls)
        self.info["query_samples"] = len(self.calls)
        self.info["query_tail"] = (
            {"percentile": tail[0], "ms": round(tail[1] * 1000, 1)}
            if tail else "fewer than 11 samples")

    def traced_layers(self):
        shape, params = self.mix[0]
        untraced = self.tracer.enabled
        self.tracer.enabled = False
        dt, _ = timed(self.query, self.served, shape, params)
        self.tracer.enabled = untraced
        return self.layers(self.read(self.updated_dir), self.served,
                           self.served, self.calls[-1], dt)

    def accounted(self, out) -> float:
        """parse + plan + exec of the last traced query, which like the
        untraced one runs warm."""
        spans = self.tracer.spans
        last = [s["id"] for s in spans if s["name"] == "sparql.query"][-1]
        return sum(s["end"] - s["start"] for s in spans
                   if s["parent"] == last)


WORKLOADS = {w.name: w for w in (BuildFresh, BuildIncremental, QueryServing)}
