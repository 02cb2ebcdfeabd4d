"""spark-submit entry for the scaling measurement — the launch-mode
fidelity twin of ``bench.py --kg-worker``.

Usage:
    zip -qr /tmp/fs.zip ferenda_spark
    spark-submit --master local[N] --py-files /tmp/fs.zip \
        tools/scaling_job.py <pages_parquet_dir>

Runs pipeline.build_triples (read → extract with publisher linking →
per-page triple array → explode → count) as a production submission
would: the library arrives via --py-files, the session comes from
spark-submit's conf, and the job prints one JSON line (grep
SCALING_RESULT on stdout; spark-submit logs go to stderr).  Protocol
matches bench.py: one warmup run (JIT/codegen/Python-pool
amortization), then 3 timed reps with the cache dropped, min(wall) =
the stall-free capability.
"""

import json
import sys
import time

from pyspark.sql import SparkSession

from ferenda_spark.fixtures.pages import entities_df
from ferenda_spark.pipeline import build_triples


def main() -> None:
    pages_dir = sys.argv[1]
    spark = SparkSession.builder.appName("ferenda-scaling").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    ents = entities_df(spark)

    def fresh_pages():
        p = spark.read.parquet(pages_dir).persist()
        p.count()
        return p

    build_triples(fresh_pages(), ents).count()          # warmup
    samples, n = [], 0
    for _ in range(3):
        spark.catalog.clearCache()
        pages = fresh_pages()
        t0 = time.time()
        n = build_triples(pages, ents).count()
        samples.append(round(time.time() - t0, 3))
    sec = min(samples)
    print("SCALING_RESULT " + json.dumps(
        {"cores": cores, "triples": n, "sec": sec, "all_secs": samples,
         "triples_per_sec": round(n / sec, 1)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
