"""Shared measurement plumbing: pinned environment, session set-up,
spans, Spark status-store counters, process-tree RSS and statistics.

Nothing here changes what the program computes; it only times calls
into the program's public functions and reads counters from outside.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import subprocess
import threading
import time
from pathlib import Path

CORES = 4
DRIVER_MEM_GB = 4

# The environment the program reads, pinned for every run. session.py
# sizes local[N] from SPARK_GRAFT_CPUS and the driver heap from
# SPARK_GRAFT_DRIVER_MEM_GB (48 GB by default, more than the machine
# has); Python workers import the package through PYTHONPATH.
PINNED_ENV = {
    "SPARK_GRAFT_CPUS": str(CORES),
    "SPARK_GRAFT_DRIVER_MEM_GB": str(DRIVER_MEM_GB),
    "PYTHONHASHSEED": "0",
}


def pin_env(root: Path, work: Path) -> dict:
    """Pin the program's environment and keep every file Spark, the JVM
    and Python write inside ``work`` (under the checkout)."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(PINNED_ENV)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p)
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    env["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"spark.driver.extraJavaOptions='{java_opts}'",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    os.environ.update(env)
    return {k: env[k] for k in
            ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM_GB", "PYTHONPATH")}


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------
class Tracer:
    """Spans kept in memory (the caller writes them out at the end). When
    disabled, ``span`` only times the block (the end-to-end runs)."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "id": len(self.spans), "start": time.time(), **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self.spark.sparkContext.setJobGroup(name, name)
            shuffle0 = _shuffle_write_bytes(self.spark)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            if self.enabled:
                rec["shuffle_write_mb"] = (_shuffle_write_bytes(self.spark)
                                           - shuffle0) / 2**20
                self._stack.pop()
                parent = (self.spans[self._stack[-1]]["name"]
                          if self._stack else "")
                self.spark.sparkContext.setJobGroup(parent, parent)

    def total(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------------------
# Spark's own counters, read from the status store over py4j
# ---------------------------------------------------------------------------
def _status_store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _shuffle_write_bytes(spark) -> int:
    ex = _status_store(spark).executorList(True)
    return sum(ex.apply(i).totalShuffleWrite() for i in range(ex.size()))


class SparkCounters:
    """Task time, GC, shuffle, spill and job/stage/task counts of the
    stages that completed between ``start()`` and ``stop()``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = _status_store(spark)

    def _stages(self) -> dict:
        gw = self._sc._gateway
        stages = self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)
        out = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            if str(s.status()) == "COMPLETE":
                out[s.stageId()] = (s.executorRunTime(), s.jvmGcTime(),
                                    s.shuffleWriteBytes(),
                                    s.diskBytesSpilled(),
                                    s.numCompleteTasks())
        return out

    def _jobs(self) -> set:
        jobs = self._store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    def start(self) -> None:
        self._t0 = time.perf_counter()
        self._base_stages, self._base_jobs = self._stages(), self._jobs()

    def stop(self) -> dict:
        wall = time.perf_counter() - self._t0
        new = [v for k, v in self._stages().items()
               if k not in self._base_stages]
        run_ms, gc_ms, shuffle, spill, tasks = (sum(c) for c in zip(
            *new)) if new else (0, 0, 0, 0, 0)
        return {
            "spark.task_s": run_ms / 1e3,
            "spark.core_busy_share": run_ms / 1e3 / (wall * CORES),
            "spark.gc_s": gc_ms / 1e3,
            "spark.shuffle_write_mb": shuffle / 2**20,
            "spark.spill_mb": spill / 2**20,
            "spark.jobs": len(self._jobs() - self._base_jobs),
            "spark.stages": len(new),
            "spark.tasks": tasks,
        }


# ---------------------------------------------------------------------------
# Peak RSS of the Spark processes (the driver JVM and every Python worker
# it forks), sampled from /proc
# ---------------------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Every ``period`` seconds, sum the RSS of all descendants of this
    process (the JVM and its Python workers); keep the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._halt.is_set():
            todo, total = _children(os.getpid()), 0
            while todo:
                pid = todo.pop()
                total += _rss_kb(pid)
                todo += _children(pid)
            self.peak_kb = max(self.peak_kb, total)
            self._halt.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._halt.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# Session set-up
# ---------------------------------------------------------------------------
SETUP_REPEATS = 3


def _first_job(spark) -> None:
    """One job with a shuffle on every core. It starts no Python worker:
    the workloads' warm-ups do, outside the set-up."""
    from pyspark.sql import functions as F

    (spark.range(0, 4096, numPartitions=CORES)
     .groupBy((F.col("id") % 7).alias("k")).count().collect())


def start_session() -> tuple[object, list[dict]]:
    """Start the SparkSession through the program's ``get_spark`` and run
    a first job, ``SETUP_REPEATS`` times; each repeat after the first
    stops the session and starts a new one in the same JVM (the first
    also launches the JVM). Returns the live session and one record per
    set-up (``start_s``, ``warm_s``, ``total_s``)."""
    from mousedatapipeline_spark.session import get_spark

    records, spark = [], None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        _first_job(spark)
        t2 = time.perf_counter()
        records.append({"start_s": t1 - t0, "warm_s": t2 - t1,
                        "total_s": t2 - t0, "cold": i == 0})
    return spark, records


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    (and with it every Python worker) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------
def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, math.ceil(q / 100 * len(xs)) - 1))
    return xs[k]


def median(values) -> float:
    return statistics.median(values)
