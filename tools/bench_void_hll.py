"""Exact vs HLL VoID statistics on the largest corpus available.

    python tools/bench_void_hll.py [n_edges]

Builds a deterministic edge table of ``n_edges`` rows (default 20M:
2M subjects, 11 predicates, 3M objects — known cardinalities), then
times void_description exact vs approximate=True and reports each
estimate's relative error.  The r4 verdict's next-round #6: the
10^12-row path (one pass, no per-column countDistinct shuffles)
exercised in anger with a documented accuracy band."""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _mp_canary  # noqa: E402
from ferenda_spark.operators import voidstats  # noqa: E402
from ferenda_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    spark = get_spark(app_name="bench-void-hll", master="local[32]",
                      shuffle_partitions=32)
    edges = (spark.range(n).select(
        (F.col("id") % 2_000_000).cast("string").alias("subj"),
        F.concat(F.lit("p"), (F.col("id") % 11).cast("string"))
        .alias("pred"),
        (F.col("id") % 3_000_000).cast("string").alias("obj"),
        (F.col("id") % 5 == 0).alias("obj_is_literal")))
    print(f"CANARY {_mp_canary()}", flush=True)
    results = {}
    for mode, approx in (("exact", False), ("hll", True)):
        t0 = time.time()
        s = voidstats.dataset_summary(edges, approximate=approx) \
            .collect()[0]
        dt = time.time() - t0
        results[mode] = (s, dt)
        print(f"VOID mode={mode} wall={dt:.1f}s "
              f"n_triples={s['n_triples']} subj={s['n_subjects']} "
              f"props={s['n_properties']} obj={s['n_objects']}",
              flush=True)
    ex, hl = results["exact"][0], results["hll"][0]
    for col in ("n_subjects", "n_properties", "n_objects"):
        rel = abs(hl[col] - ex[col]) / max(ex[col], 1)
        print(f"ERR {col} exact={ex[col]} hll={hl[col]} "
              f"rel={rel:.4f}")
    print(f"SPEEDUP {results['exact'][1] / results['hll'][1]:.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
