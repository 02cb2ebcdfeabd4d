"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload build_fresh --seed 1 \
        --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench/cache``); stores, Spark's scratch files and
temporary files live under ``.perfbench/run-<pid>`` and are removed at
exit; traced runs write their spans to ``.perfbench/spans``. The last
stdout line is the JSON result; an ``INFO`` line before it carries the
run's details (CPU canary and steal, checks, percentile of the query
tail, scaling efficiency).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("build_fresh", "build_incremental", "query_serving")
CORES = 4


def _result(wl, metrics) -> dict:
    def num(v):
        return None if isinstance(v, float) and math.isnan(v) else v
    return {"correct": wl.failed == 0 and wl.attempted > 0,
            "attempted": wl.attempted, "failed": wl.failed,
            "metrics": {k: {"value": num(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true",
                    help="traced build_fresh only: also build at local[1] "
                         "and report scaling_eff_1to4")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ferenda_spark")):
        print(f"perfbench: no ferenda_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import env
    import workloads

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tracer = env.Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        args.seed, args.seconds, tracer, work, os.path.join(base, "cache"))
    wl.scale = args.scaling
    phases, t0 = {}, time.perf_counter()

    def phase(name):
        nonlocal t0
        t1 = time.perf_counter()
        phases[name] = t1 - t0
        t0 = t1

    canary, ticks = [env.cpu_canary(CORES)], env.cpu_ticks()
    wl.inputs()
    env.prepare_env(ROOT, work)
    wl.spark = None
    phase("inputs")
    try:
        with env.RssSampler() as wl.rss:
            cpu0 = env.tree_cpu_s()
            wl.warm_up(env.start_spark(CORES, work))
            phase("setup")
            setup_cpu = env.tree_cpu_s() - cpu0
            wl.prepare()
            phase("prepare")
            wl.measure()
            phase("measure")
        if args.trace:
            metrics = wl.traced_layers()
        else:
            metrics = {"setup_s": (setup_cpu, "s"), **wl.e2e()}
        phase("after")
    finally:
        if wl.spark is not None:
            env.stop_spark(wl.spark)
        env.rmtree(work)
    phase("teardown")
    steal = env.steal_share(ticks, env.cpu_ticks())
    canary.append(env.cpu_canary(CORES))

    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
            "cpu_canary_s": [round(c, 4) for c in canary],
            "cpu_steal": round(steal, 4),
            "failed_ratio": wl.failed / max(wl.attempted, 1),
            "phases_s": {k: round(v, 3) for k, v in phases.items()},
            **wl.info}
    if args.trace:
        spans = os.path.join(base, "spans", f"{wl.name}-s{args.seed}.json")
        tracer.write(spans)
        info["spans"] = {"file": os.path.relpath(spans, ROOT),
                         "count": len(tracer.spans)}
    print("INFO " + json.dumps(info))
    print(json.dumps(_result(wl, metrics)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
