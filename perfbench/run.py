"""Benchmark entry point.

    python3 perfbench/run.py --workload zipf-serve --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up, measures for ``--seconds``, checks the outputs
against the naive scorer and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
A human-readable detail record (and, traced, the spans) goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def parse_args(argv):
    from workloads import SIZES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: a small instance for the benchmark's own test")
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "textsearch_spark", "__init__.py")):
        print(f"perfbench: no textsearch_spark package under {REPO}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    from harness import (Tracer, Workspace, host_probe_s, start_spark, steal_s,
                         stop_spark, tree_peak_rss_mb)
    from workloads import SIZES, WORKLOADS, Ctx

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cpus = len(os.sched_getaffinity(0))
    with Workspace(REPO) as ws:
        probe_start, steal_start = host_probe_s(), steal_s()
        t0 = time.perf_counter()
        spark = start_spark(ws, cpus)
        session_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, bool(args.trace))
            ctx = Ctx(spark, ws, tracer, args.seed, args.seconds,
                      SIZES[args.workload][args.size], cpus, t0)
            res = WORKLOADS[args.workload](ctx)
            res.e2e["peak_rss_mb"] = (tree_peak_rss_mb(), "MB")
        finally:
            stop_spark(spark)
        probe_end, steal = host_probe_s(), steal_s() - steal_start

    res.layers["session.start_s"] = (session_s, "s")
    res.layers["host.probe_start_s"] = (probe_start, "s")
    res.layers["host.probe_end_s"] = (probe_end, "s")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    have = res.layers if args.trace else res.e2e
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "end_to_end": res.e2e, "layers": res.layers, "host_steal_s": steal,
              **res.detail}
    print(json.dumps({"detail": detail}), file=sys.stderr)
    if args.trace:
        print(json.dumps({"spans": tracer.to_json()}), file=sys.stderr)
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": res.attempted, "failed": res.failed,
        "metrics": {m["name"]: {"value": have[m["name"]][0], "unit": have[m["name"]][1]}
                    for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
