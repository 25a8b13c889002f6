"""Benchmark entry point.

    python3 perfbench/run.py --workload longdoc_crawl --seed 1 --seconds 20 --trace 0

Runs one workload on local[<cores>] from this checkout and prints, as the
last stdout line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. A metric of a layer the workload does not run
reads 0. Host readings go to a "perfbench-meta" line before it; with
--trace 1 the spans are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(run, trace: bool, spec: dict) -> dict:
    """The contract line: every declared metric of the run's kind, by name
    and unit. End-to-end metrics must all be measured; per-layer metrics
    of layers this workload does not run read 0."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = run.layers if trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not trace:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = declared()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {names}")

    tmp = host.prepare_env()
    meta = {"workload": args.workload, "seed": args.seed, "cores": host.cores(),
            "loadavg_start": os.getloadavg(), "burn_iters_per_s_start": host.burn()}
    try:
        from perfbench.workloads import WORKLOADS

        run = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), tmp)
        line = result_line(run, bool(args.trace), spec)
    finally:
        host.shutdown(tmp)
    meta.update(run.meta, loadavg_end=os.getloadavg(),
                burn_iters_per_s_end=host.burn())
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": run.spans, "groups": run.groups},
                      f, indent=1)
    print("perfbench-meta: " + json.dumps(meta), flush=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
