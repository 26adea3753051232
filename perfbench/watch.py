"""``watch``: the paper's watcher mode, open loop.

A generator thread lands repetition files into a landing directory on a
fixed schedule, below capacity, whether or not the watcher keeps up: a
burst of ``BURST`` files ``LEAD_S`` before each trigger is due, so a
sample's latency holds the watcher's processing path and not a random
share of the trigger wait. The files are Eiger-size frames; a trigger
of one file takes 1.4 to 2.1 s on 4 cores of a shared machine, one of
two files 1.8 to 3.2 s. Two files per 3 s trigger ran so close to
capacity that a slow stretch of the machine made triggers overrun and
latency jump; one file per trigger keeps a trigger at about two thirds
of the interval. The ``nexus`` stream source feeds
``run_watcher(..., trigger_seconds=3)``,
whose per-batch program (beam kernel, logbook lookup, flux and
transmission; every step per repetition, so a result never depends on
how files fall into micro-batches) appends to a parquet sink after the
watcher's anti-join against the sink.

Landing is atomic: a file is copied in under a name the source's glob
skips, stamped with its landing time as mtime (the source orders files
by mtime), then renamed. A file's latency runs from when it was *due*
to land to the end of the trigger that committed it to the sink, read
from the query's own progress reports (trigger start + trigger
duration), so the measurement adds no reads of the sink.
"""

from __future__ import annotations

import ast
import json
import math
import os
import shutil
import threading
import time
from datetime import datetime
from pathlib import Path

from mousedatapipeline_spark import pipeline
from mousedatapipeline_spark.functions.kernels import beam_analysis
from mousedatapipeline_spark.sources.logbook import load_logbook
from mousedatapipeline_spark.sources.nexus_source import NexusDataSource
from mousedatapipeline_spark.streaming.watcher import run_watcher

import backfill
import gen

TRIGGER_S = gen.WATCH_TRIGGER_S
BURST = gen.WATCH_BURST
LEAD_S = 0.3
DRAIN_TIMEOUT_S = 30.0
SINK_COLUMNS = ("ymd", "batch", "repetition", "configuration", "sample_name",
                "direct_flux", "sample_flux", "transmission", "tcf",
                "energy_kev", "scattering_prob", "com_y", "com_x")
CHECKED_COLUMNS = ("configuration", "direct_flux", "sample_flux",
                   "transmission", "tcf", "energy_kev", "scattering_prob")


def batch_program(logbook, job_group: str | None = None):
    """The watcher's per-micro-batch program; ``job_group`` tags the
    batch's Spark jobs (traced runs)."""
    lookup = pipeline.metadata_update(logbook)

    def run(batch):
        if job_group:
            batch.sparkSession.sparkContext.setJobGroup(job_group, job_group)
        beam = beam_analysis(backfill.images(batch))
        meas = backfill.measurements(batch, beam)
        return pipeline.flux_and_transmissions(lookup(meas)).select(
            *SINK_COLUMNS)
    return run


def _stage(src_dir: Path, landing: Path, names: list[str]) -> None:
    """Copy files into ``landing`` under hidden names the glob skips."""
    for n in names:
        shutil.copyfile(src_dir / n, landing / f".{n}.part")


def _land(landing: Path, name: str) -> int:
    now = time.time_ns()
    hidden = landing / f".{name}.part"
    os.utime(hidden, ns=(now, now))
    os.replace(hidden, landing / name)
    return now


def _offset_hwm(offset) -> int:
    """The source's high-water mark (max landed mtime, ns) in a progress
    offset, which PySpark reports as JSON or as a Python dict repr."""
    if offset is None:
        return -1
    if isinstance(offset, str):
        try:
            offset = json.loads(offset)
        except json.JSONDecodeError:
            offset = ast.literal_eval(offset)
    return int(offset.get("hwm", -1))


def _progress_batches(query) -> list[dict]:
    """Micro-batches that read data: their (start, end] mtime range, commit
    time (trigger start + trigger duration) and durations in ms."""
    out = []
    for p in query.recentProgress:
        src = p.sources[0] if p.sources else None
        if src is None or not src.numInputRows:  # an idle trigger
            continue
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        dur = p.durationMs
        out.append({
            "lo": _offset_hwm(src.startOffset),
            "hi": _offset_hwm(src.endOffset),
            "commit": start.timestamp() + dur["triggerExecution"] / 1e3,
            "add_batch_ms": dur.get("addBatch", 0),
            "get_batch_ms": (dur.get("latestOffset", 0)
                             + dur.get("getBatch", 0)),
            "trigger_ms": dur["triggerExecution"]})
    return out


def _wait_status(query, timeout: float) -> None:
    """Wait until the query's first trigger has run and it idles."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if query.exception() is not None:
            raise RuntimeError(f"watcher failed: {query.exception()}")
        st = query.status
        if not st["isTriggerActive"] and "Waiting" in st["message"]:
            return
        time.sleep(0.05)
    raise TimeoutError("watcher did not start")


def _drain(query, last_mtime: int) -> None:
    """Wait until a committed micro-batch covers ``last_mtime``."""
    end = time.monotonic() + DRAIN_TIMEOUT_S
    while time.monotonic() < end and query.exception() is None:
        if any(b["hi"] >= last_mtime for b in _progress_batches(query)):
            return
        time.sleep(0.05)


def run_stream(spark, inputs: Path, work: Path, warm: list[str],
               timed: list[str], traced: bool = False) -> dict:
    """One watcher on an empty landing dir. Once its first trigger has
    run, the ``warm`` files land in bursts of ``BURST``, each waited for
    before the next (the first batches of a query pay for code paths and
    worker start). Then the
    generator thread lands ``timed`` in bursts of ``BURST``, one burst
    ``LEAD_S`` before each trigger is due; the run waits
    until every landed file is committed (or the drain times out) and
    stops the watcher. Returns per-file records, the query's progress
    and phase times."""
    spark.dataSource.register(NexusDataSource)
    landing, sink, ckpt = work / "landing", work / "sink", work / "ckpt"
    landing.mkdir(parents=True)
    _stage(inputs / "warm", landing, warm)
    _stage(inputs / "staging", landing, timed)
    stream = (spark.readStream.format("nexus")
              .option("path", str(landing)).option("glob", "*.nxs").load())
    logbook = load_logbook(spark, str(inputs / "logbook.csv"))
    phases = {}
    t0 = time.perf_counter()
    program = batch_program(logbook, "watcher.batch" if traced else None)
    query = run_watcher(stream, program, str(sink), str(ckpt),
                        trigger_seconds=TRIGGER_S)
    landed: list[dict] = []
    try:
        _wait_status(query, 60.0)
        phases["start_s"] = time.perf_counter() - t0
        for i in range(0, len(warm), BURST):
            _drain(query, max(_land(landing, n) for n in warm[i:i + BURST]))
        phases["warm_s"] = time.perf_counter() - t0 - phases["start_s"]

        def generate() -> None:
            # Spark fires a processing-time trigger on the multiples of
            # its interval since the epoch.
            now = time.time()
            first = (math.floor(now / TRIGGER_S) + 1) * TRIGGER_S - LEAD_S
            if first - now < 0.5:
                first += TRIGGER_S
            for i, n in enumerate(timed):
                due = first + (i // BURST) * TRIGGER_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                mtime = _land(landing, n)
                landed.append({"name": n, "due": due, "mtime": mtime,
                               "landed": mtime / 1e9})

        gen_thread = threading.Thread(target=generate, daemon=True)
        t1 = time.perf_counter()
        gen_thread.start()
        gen_thread.join()
        _drain(query, max(r["mtime"] for r in landed))
        phases["timed_s"] = time.perf_counter() - t1
        batches = _progress_batches(query)
    finally:
        query.stop()
    for r in landed:
        hit = [b for b in batches if b["lo"] < r["mtime"] <= b["hi"]]
        r["visible"] = hit[0]["commit"] if hit else None
        r["latency_s"] = (r["visible"] - r["due"]) if hit else None
    timed_from = min(r["mtime"] for r in landed)
    return {"files": landed, "sink": sink, "phases": phases,
            "batches": [b for b in batches if b["hi"] >= timed_from]}
