"""sf0.1 → sf1 scaling probe for the most expensive gates.

    python tools/bench_sf1.py [sf1_dir] [query ...]

Runs each query at /root/testdata/sf0.1 and at the sf1 dir (10×
documents/embeddings — tools/make_sf1.py), fresh-uncached per level,
and prints per-query wall times plus the sf0.1→sf1 scaling factor.
The mp-canary (bench.py's fixed multi-process workload) runs per
pass so host weather is visible next to every number.  A query
scaling ≳ super-linearly above ~10× flags a plan that hides below
the sf0.1 noise floor (r4 verdict next-round #3)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from bench import _force, _mp_canary  # noqa: E402
from ferenda_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "kg_edges", "rdfa_roundtrip_docs", "sim_semantic_dedup",
    "kg_trustrank", "kg_hits", "kg_cocitation", "kg_triangles",
    "dedup_token_spans_docs", "kg_sparql_subdocs",
    "langid_classify_docs", "fulltext_bm25_docs",
]


def main() -> None:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    names = sys.argv[2:] or DEFAULT
    reg = entry_mod.registry()
    spark = get_spark(app_name="bench-sf1", master="local[32]",
                      shuffle_partitions=32)
    rows = {}
    # three passes: the first sf0.1 pass eats JVM/JIT/scan warmup
    # (kg_edges measured 0.6× "scaling" without it); the sf0.1-warm
    # pass is the honest small-scale number, sf1/sf0.1-warm the
    # honest factor.
    for level, sf_dir in (("sf0.1-cold", "/root/testdata/sf0.1"),
                          ("sf1", sf1_dir),
                          ("sf0.1", "/root/testdata/sf0.1")):
        canary = _mp_canary()
        print(f"PASS level={level} canary={canary}", flush=True)
        for name in names:
            t0 = time.time()
            _force(reg[name][0](spark, sf_dir))
            dt = round(time.time() - t0, 2)
            rows.setdefault(name, {})[level] = dt
            print(f"Q {level} {name} {dt}s", flush=True)
        rows.setdefault("_canary", {})[level] = canary
    print(json.dumps(rows))
    print("| query | sf0.1 cold (s) | sf0.1 warm (s) | sf1 (s) | factor (vs warm) |")
    print("|---|---|---|---|---|")
    for name in names:
        c = rows[name]["sf0.1-cold"]
        a, b = rows[name]["sf0.1"], rows[name]["sf1"]
        print(f"| {name} | {c} | {a} | {b} | {b / max(a, 0.01):.1f}x |")
    spark.stop()


if __name__ == "__main__":
    main()
