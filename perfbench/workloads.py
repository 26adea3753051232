"""The three workloads' run loops: warm-up, the timed region, output
checks, and (``--trace 1``) a traced repeat with per-layer metrics.

Every workload reports the same end-to-end quantities over its own
items (complete repetitions for ``backfill``, landed files for
``watch``, documents for ``dedup``): items per second and the median
and 95th-percentile item latency. In the closed loops every item of a
pass waits for the whole pass, so its latency is the pass wall time.
A failed or wrong item counts in ``failed``; an exception inside a pass
fails every item of that pass and the run continues.
"""

from __future__ import annotations

import json
import math
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

import backfill
import common
import dedup
import gen
import reference
import watch


# A closed-loop run times at least this many passes or iterations.
MIN_SAMPLES = 2


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    traced: bool
    inputs: Path
    work: Path


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    items_per_s: float = 0.0
    latency_p50_s: float = 0.0
    latency_p95_s: float = 0.0
    layer: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    phases: dict = field(default_factory=dict)

    def set_latencies(self, samples: list[float]) -> None:
        self.latency_p50_s = common.percentile(samples, 50)
        self.latency_p95_s = common.percentile(samples, 95)
        self.layer["latency.samples"] = len(samples)

    def dump_trace(self, path: Path, setups: list, e2e: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"setups": setups, "end_to_end": e2e,
                                    "layers": self.layer,
                                    "spans": self.spans}, indent=0))


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------
def _backfill(spark, ctx: Context, res: Result) -> None:
    off = common.Tracer(spark, False, f"backfill-{ctx.seed}")
    n_complete = gen.COMPLETE_PER_PART

    def one_pass(part: int, tracer, traced: bool):
        """(wall seconds or None if the pass raised, part dir, output dir)."""
        part_dir = gen.part_dir(ctx.inputs, ctx.seed, part)
        out = ctx.work / f"pass{part}"
        try:
            return (backfill.run_pass(spark, tracer, part_dir, out,
                                      traced)["wall_s"], part_dir, out)
        except Exception:  # noqa: BLE001 - a failed pass fails its items
            _log_failure(f"backfill pass {part}")
            return None, part_dir, out

    def check(part_dir: Path, out: Path) -> int:
        try:
            return backfill.check_pass(part_dir, out)[1]
        except Exception:  # noqa: BLE001 - unreadable output fails the pass
            _log_failure(f"backfill check {part_dir.name}")
            return n_complete

    t0 = time.perf_counter()
    for part in gen.WARM_PARTS:
        one_pass(part, off, False)
    res.layer["session.warm_s"] = time.perf_counter() - t0

    # Passes on fresh backlogs until --seconds are spent, and at least
    # MIN_SAMPLES of them.
    timed, t0 = [], time.perf_counter()
    for part in gen.TIMED_PARTS:
        timed.append(one_pass(part, off, False))
        if (time.perf_counter() - t0 >= ctx.seconds
                and len(timed) >= MIN_SAMPLES):
            break
    res.phases["passes_s"] = [w for w, _, _ in timed]
    samples, rates = [], []
    for wall, part_dir, out in timed:
        res.attempted += n_complete
        bad = check(part_dir, out) if wall is not None else n_complete
        res.failed += bad
        if bad < n_complete:
            rates.append((n_complete - bad) / wall)
            samples += [wall] * (n_complete - bad)
    if rates:
        res.items_per_s = common.median(rates)
        res.set_latencies(samples)
    if not ctx.traced:
        return

    on = common.Tracer(spark, True, f"backfill-{ctx.seed}-traced")
    counters = common.SparkCounters(spark)
    counters.start()
    wall, part_dir, out = one_pass(gen.TRACED_PART, on, True)
    res.layer.update(counters.stop())
    res.spans = on.spans
    res.attempted += n_complete
    res.failed += check(part_dir, out) if wall is not None else n_complete
    if wall is None:
        return
    scan = next(s for s in on.spans if s["name"] == "manifest.scan")
    probe = backfill.direct_probe(part_dir)
    res.layer.update({
        "manifest.scan_s": scan["dur_s"],
        "manifest.files": scan["files"],
        "manifest.complete_share": scan["complete"] / scan["reps"],
        "hdf5.decode_ms_per_file": probe["decode_ms"],
        "hdf5.ingest_s": on.total("hdf5.ingest"),
        "hdf5.mb_per_file": probe["mb_per_file"],
        "kernels.beam_ms_per_image": probe["beam_ms"],
        "kernels.beam_s": on.total("kernels.beam"),
        "backfill.python_work_share":
            n_complete * (probe["decode_ms"] + probe["beam_ms"]) / 1e3
            / (wall * common.CORES),
        "pipeline.program_s": on.total("pipeline.program"),
        "pipeline.shuffle_mb": sum(s["shuffle_write_mb"] for s in on.spans
                                   if s["name"] == "pipeline.program"),
        "sinks.stacked_write_s": on.total("sinks.stacked_write"),
        "sinks.csv_append_s": on.total("sinks.csv_append"),
        "sinks.files_written": sum(1 for _ in out.rglob("part-*")),
        "trace.overhead_s": wall - res.latency_p50_s,
    })


# ---------------------------------------------------------------------------
# watch
# ---------------------------------------------------------------------------
def _watch_stream(spark, ctx: Context, res: Result, name: str,
                  warm: list[str], timed: list[str], traced: bool = False):
    """One watcher run plus its output check; returns (run, latencies)."""
    names = warm + timed
    res.attempted += len(names)
    try:
        run = watch.run_stream(spark, ctx.inputs, ctx.work / name, warm,
                               timed, traced)
    except Exception:  # noqa: BLE001 - a failed stream fails its files
        _log_failure(f"watch stream {name}")
        res.failed += len(names)
        return None, []
    res.phases[name] = run["phases"]
    bad = {r["name"] for r in run["files"] if r["visible"] is None}
    try:
        got = pq.read_table(run["sink"]).to_pandas()
        truth = pd.read_parquet(ctx.inputs / "truth.parquet")
        logbook = pd.read_csv(ctx.inputs / "logbook.csv",
                              dtype={"ymd": str, "bg_ymd": str})
        wanted = set(names)
        truth = truth[[gen.landing_name(r.ymd, r.batch, r.repetition)
                       in wanted for r in truth.itertuples()]]
        truth = truth.assign(complete=True)
        expect = reference.per_repetition(truth, logbook, backfill.MU)
        wrong = reference.compare_repetitions(
            got, expect, columns=watch.CHECKED_COLUMNS)
        bad |= {gen.landing_name(*k) for k in wrong}
    except Exception:  # noqa: BLE001 - unreadable sink fails every file
        _log_failure(f"watch check {name}")
        bad = set(names)
    res.failed += len(bad)
    return run, [r["latency_s"] for r in run["files"]
                 if r["latency_s"] is not None]


def _watch(spark, ctx: Context, res: Result) -> None:
    truth = pd.read_parquet(ctx.inputs / "truth.parquet")
    names = [gen.landing_name(r.ymd, r.batch, r.repetition)
             for r in truth.itertuples()]
    warm = [n for n, w in zip(names, truth["warm"]) if w]
    timed = [n for n, w in zip(names, truth["warm"]) if not w]
    timed = timed[:watch.BURST * math.ceil(ctx.seconds / watch.TRIGGER_S)]

    run, lat = _watch_stream(spark, ctx, res, "timed", warm, timed)
    if lat:
        res.layer["session.warm_s"] = run["phases"]["warm_s"]
        span = (max(r["visible"] for r in run["files"] if r["visible"])
                - min(r["due"] for r in run["files"]))
        res.items_per_s = len(lat) / span
        res.set_latencies(lat)
    if not ctx.traced:
        return

    counters = common.SparkCounters(spark)
    counters.start()
    t0 = time.time()
    run, lat = _watch_stream(spark, ctx, res, "traced", warm, timed, True)
    res.layer.update(counters.stop())
    if not lat:
        return
    run_id = f"watch-{ctx.seed}-traced"
    batches = run["batches"]
    res.spans = [{"name": "watcher.stream", "start": t0, "end": time.time(),
                  "parent": None, "id": 0, "run_id": run_id}]
    res.spans += [{"name": "watcher.batch", "id": i + 1, "parent": 0,
                   "run_id": run_id, "start": b["commit"] - b["trigger_ms"]
                   / 1e3, "end": b["commit"],
                   "add_batch_ms": b["add_batch_ms"],
                   "get_batch_ms": b["get_batch_ms"]}
                  for i, b in enumerate(batches)]
    res.layer.update({
        "nexus.get_batch_ms_p50": common.median(b["get_batch_ms"]
                                                for b in batches),
        "watcher.add_batch_ms_p50": common.percentile(
            [b["add_batch_ms"] for b in batches], 50),
        "watcher.add_batch_ms_p95": common.percentile(
            [b["add_batch_ms"] for b in batches], 95),
        "watcher.trigger_ms_p50": common.percentile(
            [b["trigger_ms"] for b in batches], 50),
        "watcher.batches": len(batches),
        "watcher.rows_per_batch": sum(r["visible"] is not None
                                      for r in run["files"]) / len(batches),
        "watcher.sink_files_end": sum(1 for _ in run["sink"].rglob(
            "*.parquet")),
        "watch.gen_late_max_s": max(r["landed"] - r["due"]
                                    for r in run["files"]),
        "trace.overhead_s": common.percentile(lat, 50) - res.latency_p50_s,
    })


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------
def _census_failures(rows: list[tuple], oracle: list[tuple]) -> int:
    """Documents in sources whose census row differs from the oracle."""
    got = {r[0]: r for r in rows}
    want = {r[0]: r for r in oracle}
    bad = 0
    for src in set(got) | set(want):
        if got.get(src) != want.get(src):
            bad += (want.get(src) or got[src])[1]
    return bad


def _dedup(spark, ctx: Context, res: Result) -> None:
    _, oracle = reference.c06_oracle_rows(
        str(ctx.inputs / "documents.parquet"))
    n_docs = gen.DEDUP_DOCS

    def once():
        t0 = time.perf_counter()
        try:
            rows = dedup.run_c06(spark, ctx.inputs)
        except Exception:  # noqa: BLE001 - a failed iteration fails its docs
            _log_failure("dedup iteration")
            return None, n_docs
        return time.perf_counter() - t0, min(n_docs, _census_failures(
            rows, oracle))

    # One untimed iteration over the same corpus warms up; every timed
    # iteration reads the same files, so no separate corpus is needed.
    t0 = time.perf_counter()
    try:
        dedup.run_c06(spark, ctx.inputs)
    except Exception:  # noqa: BLE001 - the timed iterations still run
        _log_failure("dedup warm-up iteration")
    res.layer["session.warm_s"] = time.perf_counter() - t0

    walls, samples = [], []
    spent, n = 0.0, 0
    while spent < ctx.seconds or n < MIN_SAMPLES:
        wall, bad = once()
        n += 1
        res.attempted += n_docs
        res.failed += bad
        if wall is None:
            break
        spent += wall
        if bad < n_docs:
            walls.append(wall)
            samples += [wall] * (n_docs - bad)
    res.phases["iterations_s"] = walls
    if walls:
        res.items_per_s = n_docs / common.median(walls)
        res.set_latencies(samples)
    if not ctx.traced:
        return

    on = common.Tracer(spark, True, f"dedup-{ctx.seed}-traced")
    counters = common.SparkCounters(spark)
    counters.start()
    res.attempted += n_docs
    try:
        with on.span("dedup.iteration") as whole:
            rows, counts = dedup.run_traced(spark, on, ctx.inputs, n_docs)
    except Exception:  # noqa: BLE001
        _log_failure("dedup traced iteration")
        res.failed += n_docs
        return
    res.layer.update(counters.stop())
    res.failed += min(n_docs, _census_failures(rows, oracle))
    res.spans = on.spans
    res.layer.update(counts)
    res.layer.update({
        "text.exact_s": on.total("text.exact"),
        "similarity.lsh_edges_s": on.total("similarity.lsh_edges"),
        "graph.components_s": on.total("graph.components"),
        "trace.overhead_s": whole["dur_s"] - res.latency_p50_s,
    })


_RUNNERS = {"backfill": _backfill, "watch": _watch, "dedup": _dedup}


def run(spark, ctx: Context) -> Result:
    res = Result()
    t0 = time.perf_counter()
    _RUNNERS[ctx.workload](spark, ctx, res)
    res.phases["workload_s"] = time.perf_counter() - t0
    return res
