"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload backfill|watch|dedup \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed and
cached under ``.perfbench/inputs``; the last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also writes the span file under
``.perfbench/traces``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("backfill", "watch", "dedup")
KEEP_CACHED_SEEDS = 3


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _evict_inputs(cache: Path, workload: str, keep: Path) -> None:
    """Keep the inputs of the few most recently used seeds."""
    dirs = sorted((d for d in cache.glob(f"{workload}-*") if d != keep),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[KEEP_CACHED_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "mousedatapipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no mousedatapipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    e2e_units, layer_units = _metric_units()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import common

    bench = ROOT / ".perfbench"
    run_dir = bench / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    env = common.pin_env(ROOT, run_dir)

    import gen
    import workloads

    cache = bench / "inputs"
    t0 = time.perf_counter()
    inputs, info = gen.ensure_inputs(cache, args.workload, args.seed,
                                      bool(args.trace))
    info["generate_s"] = time.perf_counter() - t0
    os.utime(inputs)
    _evict_inputs(cache, args.workload, inputs)
    print(json.dumps({"inputs": info, "pinned_env": env}), file=sys.stderr)

    ctx = workloads.Context(workload=args.workload, seed=args.seed,
                            seconds=args.seconds, traced=bool(args.trace),
                            inputs=inputs, work=run_dir)
    spark = None
    try:
        with common.RssSampler() as rss:
            spark, setups = common.start_session()
            res = workloads.run(spark, ctx)
        res.layer["session.start_s"] = setups[0]["start_s"]
        res.layer["memory.peak_rss_mb"] = rss.peak_mb
        print(json.dumps({"setups": setups, "phases": res.phases}),
              file=sys.stderr)
        e2e = {"setup_s": common.median(s["total_s"] for s in setups),
               "items_per_s": res.items_per_s,
               "latency_p50_s": res.latency_p50_s,
               "latency_p95_s": res.latency_p95_s}
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            common.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"stop_s": time.perf_counter() - t0}),
              file=sys.stderr)

    if args.trace:
        trace_file = bench / "traces" / f"{args.workload}-{args.seed}.json"
        res.dump_trace(trace_file, setups, e2e)
        units = layer_units
        # A layer the workload never calls reads 0.
        values = {k: res.layer.get(k, 0) for k in units}
    else:
        units = e2e_units
        values = {k: e2e[k] for k in units}
    print(json.dumps({
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted, "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
