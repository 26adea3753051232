"""Seeded, deterministic inputs for the three workloads.

Every input is a pure function of ``(workload, seed)`` (and, for
``backfill``, the part) and lands in ``<cache>/<workload>-<seed>/``; a
``READY.json`` marker written last makes the cache reusable. Generation
runs before any timed region and is never counted in a metric. Before
the session starts, ``GEN_PROCS`` forked processes write the HDF5
files.

- ``backfill``: disjoint backlogs ``part<k>/`` (a warm-up part, then one
  per timed or traced pass, so no pass re-reads files an earlier pass
  decoded). Each is a tree ``tree/<year>/<ymd>/<ymd>_<batch>_<rep>/`` in
  the MOUSE layout the manifest checks: 2 detector masters and 2
  ``im_craw.nxs`` under the beam-profile subdirectories, 1 of each at
  top level. The top-level ``im_craw.nxs`` is real HDF5 written by
  ``write_hdf5``: a chunked ``shuffle+gzip`` Eiger-size detector frame
  plus every ``MOUSE_SCHEMA`` scalar. ``INCOMPLETE_PER_PART`` of the
  repetitions lack their top-level master and must be skipped. Each
  part's ``logbook.csv`` carries the background pointers; its
  ``truth.parquet`` holds the ground truth.
- ``watch``: the same repetition files, flat (``MOUSE_<ymd>_<b>_<r>.nxs``)
  in ``warm/`` (the warm-up files) and ``staging/``, from which a
  generator thread lands them.
- ``dedup``: ``documents.parquet`` with planted exact-duplicate and
  near-duplicate mass.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from mousedatapipeline_spark.sources.minihdf5 import write_hdf5

# Bumped whenever the generator's code changes its output, so stale
# caches are rebuilt instead of reused (a change of the sizes below is
# caught by ``_SPEC``).
GEN_VERSION = 3
GEN_PROCS = 4

# One frame of a Dectris Eiger R 1M, the MOUSE detector: 1030 x 1065
# pixels, the size the repository's own Eiger-size kernel test uses.
# Stored as one chunk per frame, as the detector's own writer does.
IMAGE_H, IMAGE_W = 1030, 1065
CHUNK = (IMAGE_H, IMAGE_W)
REPS_PER_BATCH = 3
BATCHES_PER_DAY = 2
DAYS_PER_PART = 1              # -> 6 repetitions (5 complete) per part
INCOMPLETE_PER_PART = 1
REPS_PER_PART = REPS_PER_BATCH * BATCHES_PER_DAY * DAYS_PER_PART
COMPLETE_PER_PART = REPS_PER_PART - INCOMPLETE_PER_PART
# Part 0 warms the session up, parts 1..MAX_TIMED_PARTS are timed passes
# (a run stops after ``--seconds`` of passes; the first PREMADE_PARTS
# are made before the run, any later one between passes), part
# TRACED_PART is the traced pass.
MAX_TIMED_PARTS = 30
PREMADE_PARTS = 2
WARM_PARTS = (0,)
TIMED_PARTS = tuple(range(1, MAX_TIMED_PARTS + 1))
TRACED_PART = MAX_TIMED_PARTS + 1

DET_X_M = (0.15, 0.30, 0.55)   # detector positions -> 3 configurations
EIGER_INVALID = 4294967295.0   # the Eiger "dead pixel" flag value

# The watcher gets a burst of WATCH_BURST files every WATCH_TRIGGER_S
# seconds (see watch.py for how both were chosen), for up to 15 s.
WATCH_TRIGGER_S = 3
WATCH_BURST = 1
WATCH_FILES = WATCH_BURST * 5
# Three warm-up bursts, one per trigger: the first batch starts the
# Python workers, and the next are still slower than the rest (code
# paths run for the first time).
WATCH_WARM_FILES = WATCH_BURST * 3

DEDUP_DOCS = 1500
DEDUP_EXACT_SHARE = 0.10       # copies of an earlier document
DEDUP_NEAR_SHARE = 0.15        # an earlier document with a few words swapped
DEDUP_SOURCES = 8
DEDUP_LANGS = ("en", "de", "fr", "es")

WHY = {
    "backfill": "the paper's batch job: ingest + beam kernel in Python "
                "workers, then the pipeline's shuffles and both sinks",
    "watch": "the paper's watcher mode: small driver-decoded increments, "
             "many small appends, and a sink re-read on every trigger",
    "dedup": "JVM-only expressions and shuffles (shingles, MinHash/LSH, "
             "components): no HDF5 and no Python UDF",
}

_MOUSE_SCALARS = {
    "count_time": "/entry/instrument/detector00/count_time",
    "flux": "/entry/sample/beam/flux",
    "transmission": "/entry/sample/transmission",
    "wavelength": "/entry/instrument/monochromator/wavelength",
    "det_x": "/entry/instrument/detector00/transformations/det_x",
    "sample_x": "/entry/sample/transformations/sample_x",
    "sample_name": "/entry/sample/name",
    "proposal": "/entry/experiment_identifier",
}
_IMAGE_PATH = "/entry/instrument/detector00/data"
_UNITS = {"count_time": "s", "flux": "1/s", "wavelength": "nm",
          "det_x": "m", "sample_x": "m"}


def _rng(workload: str, seed: int, part: int = 0) -> np.random.Generator:
    code = sum(ord(c) for c in workload)
    return np.random.default_rng([seed, code, GEN_VERSION, part])


def _ymd(day: int) -> str:
    base = pd.Timestamp("2024-03-01") + pd.Timedelta(days=day)
    return base.strftime("%Y%m%d")


def _beam_image(rng: np.random.Generator, total: float) -> np.ndarray:
    """A direct-beam frame: a Gaussian spot of ``total`` expected counts
    with Poisson noise, a sparse single-count background and a few
    Eiger-flagged pixels. The spot is drawn only within 6 sigma, where
    all its counts lie."""
    h, w = IMAGE_H, IMAGE_W
    cy, cx = rng.uniform(0.4 * h, 0.6 * h), rng.uniform(0.4 * w, 0.6 * w)
    sy, sx = rng.uniform(6.0, 15.0, size=2)
    y0, y1 = int(cy - 6 * sy), int(cy + 6 * sy) + 1
    x0, x1 = int(cx - 6 * sx), int(cx + 6 * sx) + 1
    yy, xx = np.mgrid[y0:y1, x0:x1]
    shape = np.exp(-((yy - cy) ** 2 / (2 * sy * sy)
                     + (xx - cx) ** 2 / (2 * sx * sx)))
    img = np.zeros((h, w))
    img[y0:y1, x0:x1] = rng.poisson(total * shape / shape.sum())
    img.flat[rng.integers(0, h * w, size=200)] += 1.0
    img.flat[rng.integers(0, h * w, size=8)] = EIGER_INVALID
    return img


def _write_repetition(task: tuple) -> dict:
    """Write one repetition file; returns its image-derived ground truth
    (what the beam kernel must find)."""
    path, scalars, image_seed, expected_counts = task
    img = _beam_image(np.random.default_rng(image_seed), expected_counts)
    datasets = {_MOUSE_SCALARS[k]: v for k, v in scalars.items()}
    datasets[_IMAGE_PATH] = img
    write_hdf5(str(path), datasets,
               attrs={_MOUSE_SCALARS[k]: {"units": u}
                      for k, u in _UNITS.items()},
               chunks={_IMAGE_PATH: CHUNK},
               compress={_IMAGE_PATH: "shuffle+gzip"})
    prepared = np.where((img >= 0) & (img <= 2.0e7), img, 0.0)
    ys, xs = np.nonzero(prepared)
    v = prepared[ys, xs]
    total = float(v.sum())
    return {"total_intensity": total, "com_y": float((v * ys).sum() / total),
            "com_x": float((v * xs).sum() / total)}


def _write_all(tasks: list[tuple], forked: bool = True) -> list[dict]:
    """``_write_repetition`` over ``tasks``, in order: in forked processes,
    or in this one (once the JVM runs, this process is not forked)."""
    if not forked:
        return [_write_repetition(t) for t in tasks]
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(min(GEN_PROCS, max(1, len(tasks))))
    try:
        out = pool.map(_write_repetition, tasks, chunksize=1)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    return out


def _repetition(rng: np.random.Generator, ymd: str, batch: int, rep: int,
                det_x: float, sample: str) -> tuple[dict, int, float]:
    """One repetition's scalars, image seed and expected counts."""
    flux = float(rng.uniform(2.0e5, 1.0e6))
    count_time = float(rng.choice([1.0, 2.0]))
    tcf = float(rng.uniform(0.96, 1.06))
    scalars = {
        "count_time": count_time, "flux": flux,
        "transmission": float(rng.uniform(0.35, 0.95)),
        "wavelength": 0.15406,
        "det_x": det_x,
        "sample_x": float(rng.uniform(-0.002, 0.002)),
        "sample_name": sample,
        "proposal": f"P{ymd[2:6]}",
    }
    return scalars, int(rng.integers(0, 2**63)), flux * count_time * tcf


def _campaign(rng: np.random.Generator, first_day: int, n_days: int,
              first_batch: int):
    """(repetitions, logbook rows) for ``n_days`` of batches; each
    repetition is (ymd, batch, rep, scalars, image seed, counts)."""
    logbook = []
    batch = first_batch
    reps = []
    for day in range(first_day, first_day + n_days):
        ymd = _ymd(day)
        bg_batch = batch  # the first batch of the day is its background
        for _ in range(BATCHES_PER_DAY):
            det_x = DET_X_M[batch % len(DET_X_M)]
            sample = f"S{batch:05d}"
            logbook.append({
                "ymd": ymd, "batch": batch, "sample_name": sample,
                "project": f"proj{batch % 3}",
                "samplethickness": (float(rng.uniform(0.5, 2.0))
                                    if rng.random() < 0.4 else -1.0),
                "bg_ymd": ymd, "bg_batch": bg_batch,
                "dbg_ymd": None, "dbg_batch": None, "use": True})
            for rep in range(1, REPS_PER_BATCH + 1):
                reps.append((ymd, batch, rep,
                             *_repetition(rng, ymd, batch, rep, det_x,
                                          sample)))
            batch += 1
    return reps, logbook


def _truth(reps, extras, **cols) -> pd.DataFrame:
    return pd.DataFrame([
        {"ymd": ymd, "batch": batch, "repetition": rep, **scalars, **extra,
         **{k: v[i] for k, v in cols.items()}}
        for i, ((ymd, batch, rep, scalars, _, _), extra)
        in enumerate(zip(reps, extras))])


_PLACEHOLDER = {"/entry/frame_count": 1.0}
_SUB_DIRS = ("beam_profile", "beam_profile_through_sample")


def _layout_part(rng: np.random.Generator, out: Path, part: int):
    """Lay out one backlog's tree and logbook; return (write tasks,
    finish) where ``finish(extras)`` writes ``truth.parquet``."""
    placeholder = out / "placeholder.h5"
    write_hdf5(str(placeholder), _PLACEHOLDER)
    reps, logbook = _campaign(rng, part * DAYS_PER_PART, DAYS_PER_PART,
                              1000 * (part + 1))
    # A fixed number of incomplete repetitions per part, so every seed
    # asks the same amount of work of a pass.
    incomplete = set(rng.choice(len(reps), INCOMPLETE_PER_PART,
                                replace=False).tolist())
    tasks, complete = [], []
    for i, (ymd, batch, rep, scalars, image_seed, counts) in enumerate(reps):
        d = out / "tree" / ymd[:4] / ymd / f"{ymd}_{batch}_{rep}"
        complete.append(i not in incomplete)
        for sub in _SUB_DIRS:
            (d / sub).mkdir(parents=True, exist_ok=True)
            shutil.copyfile(placeholder, d / sub / "eiger_1_master.h5")
            shutil.copyfile(placeholder, d / sub / "im_craw.nxs")
        if complete[-1]:
            shutil.copyfile(placeholder, d / "eiger_2_master.h5")
        tasks.append((d / "im_craw.nxs", scalars, image_seed, counts))
    placeholder.unlink()
    pd.DataFrame(logbook).to_csv(out / "logbook.csv", index=False)

    def finish(extras: list[dict]) -> dict:
        _truth(reps, extras, complete=complete).to_parquet(
            out / "truth.parquet", index=False)
        return {"repetitions": len(reps),
                "complete": len(reps) - len(incomplete)}
    return tasks, finish


def landing_name(ymd: str, batch: int, rep: int) -> str:
    """The file name of one repetition in the watcher's landing dir."""
    return f"MOUSE_{ymd}_{batch}_{rep}.nxs"


def _gen_watch(rng: np.random.Generator, out: Path) -> dict:
    n = WATCH_FILES + WATCH_WARM_FILES
    n_days = -(-n // (BATCHES_PER_DAY * REPS_PER_BATCH))
    reps, logbook = _campaign(rng, 0, n_days, 1000)
    reps = reps[:n]
    warm = [i < WATCH_WARM_FILES for i in range(n)]
    for sub in ("warm", "staging"):
        (out / sub).mkdir()
    extras = _write_all([
        (out / ("warm" if w else "staging") / landing_name(ymd, batch, rep),
         scalars, image_seed, counts)
        for w, (ymd, batch, rep, scalars, image_seed, counts)
        in zip(warm, reps)])
    pd.DataFrame(logbook).to_csv(out / "logbook.csv", index=False)
    _truth(reps, extras, warm=warm).to_parquet(out / "truth.parquet",
                                               index=False)
    return {"files": WATCH_FILES, "warm_files": WATCH_WARM_FILES,
            "image": [IMAGE_H, IMAGE_W],
            "rate_per_s": WATCH_BURST / WATCH_TRIGGER_S}


_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: np.random.Generator, n: int = 4000) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 syllables: rich enough that two
    unrelated documents share few character 3-grams."""
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYLLABLES[int(i)] for i in
                          rng.integers(0, len(_SYLLABLES), size=k)))
    return sorted(words)


def _corpus(rng: np.random.Generator, vocab: list[str], n_docs: int,
            path: Path) -> dict:
    """Fresh documents, plus copies of an earlier fresh document: exact,
    or with two words swapped (a near-duplicate). Copies are never made
    of copies, so every duplicate cluster is a star and the connected
    components converge in the same number of rounds for every seed. A
    copy keeps its original's language, since near-duplicate search runs
    per language; its source is drawn afresh."""
    texts, langs, kinds, fresh = [], [], [], []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < DEDUP_EXACT_SHARE + DEDUP_NEAR_SHARE:
            orig = fresh[int(rng.integers(0, len(fresh)))]
            words = texts[orig].split()
            near = u >= DEDUP_EXACT_SHARE
            if near:
                for j in rng.integers(0, len(words), size=2):
                    words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            langs.append(langs[orig])
            kinds.append("near" if near else "exact")
        else:
            n = int(rng.integers(30, 90))
            texts.append(" ".join(vocab[k] for k in
                                  rng.integers(0, len(vocab), size=n)))
            langs.append(DEDUP_LANGS[int(rng.integers(0, len(DEDUP_LANGS)))])
            kinds.append("fresh")
            fresh.append(i)
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(k)}" for k in
                   rng.integers(0, DEDUP_SOURCES, size=n_docs)],
    })
    df["n_chars"] = df["text"].str.len().astype("int64")
    path.parent.mkdir(parents=True, exist_ok=True)
    df.to_parquet(path, index=False)
    counts = pd.Series(kinds).value_counts()
    return {"documents": n_docs,
            "planted_exact": int(counts.get("exact", 0)),
            "planted_near": int(counts.get("near", 0))}


def _gen_dedup(rng: np.random.Generator, out: Path) -> dict:
    vocab = _vocabulary(rng)
    return _corpus(rng, vocab, DEDUP_DOCS, out / "documents.parquet")


_GENERATORS = {"watch": _gen_watch, "dedup": _gen_dedup}
_SPEC = {"gen_version": GEN_VERSION, "image": [IMAGE_H, IMAGE_W],
         "reps_per_part": REPS_PER_PART, "complete": COMPLETE_PER_PART,
         "watch": [WATCH_FILES, WATCH_WARM_FILES],
         "dedup": [DEDUP_DOCS]}


def _ready(out: Path) -> dict | None:
    ready = out / "READY.json"
    if ready.exists():
        info = json.loads(ready.read_text())
        if info.get("spec") == _SPEC:
            return info
    return None


def _fresh(out: Path) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)


def _mark_ready(out: Path, sizes: dict) -> dict:
    info = {"spec": _SPEC, "sizes": sizes}
    tmp = out / "READY.json.tmp"
    tmp.write_text(json.dumps(info, indent=1))
    os.replace(tmp, out / "READY.json")
    return info


def ensure_parts(base: Path, seed: int, parts, forked: bool = True) -> None:
    """Generate the backfill backlogs ``part<k>`` not yet cached; the
    files of all of them are written in one process pool (``forked``)
    or in this process."""
    todo = [(p, base / f"part{p}") for p in parts
            if _ready(base / f"part{p}") is None]
    if not todo:
        return
    tasks, finishes = [], []
    for part, out in todo:
        _fresh(out)
        t, finish = _layout_part(_rng("backfill", seed, part), out, part)
        finishes.append((out, finish, len(tasks), len(tasks) + len(t)))
        tasks += t
    extras = _write_all(tasks, forked)
    for out, finish, lo, hi in finishes:
        _mark_ready(out, finish(extras[lo:hi]))


def part_dir(base: Path, seed: int, part: int) -> Path:
    """The directory of one backfill backlog, generated in this process
    if missing (the run is under way)."""
    ensure_parts(base, seed, (part,), forked=False)
    return base / f"part{part}"


def ensure_inputs(cache: Path, workload: str, seed: int,
                  traced: bool) -> tuple[Path, dict]:
    """Return ``(dir, info)`` for the workload's inputs, generating them
    on first use. ``info`` records the input sizes and why the workload
    exists. For ``backfill`` the warm-up part and the first timed parts
    are made here (and the traced part when ``traced``)."""
    out = cache / f"{workload}-{seed}"
    if workload == "backfill":
        out.mkdir(parents=True, exist_ok=True)
        ensure_parts(out, seed, (*WARM_PARTS, *TIMED_PARTS[:PREMADE_PARTS])
                     + ((TRACED_PART,) if traced else ()))
        sizes = {"repetitions_per_part": REPS_PER_PART,
                 "complete_per_part": COMPLETE_PER_PART,
                 "image": [IMAGE_H, IMAGE_W]}
    else:
        info = _ready(out)
        if info is None:
            _fresh(out)
            info = _mark_ready(out, _GENERATORS[workload](
                _rng(workload, seed), out))
        sizes = info["sizes"]
    return out, {"workload": workload, "seed": seed, "why": WHY[workload],
                 "sizes": sizes}
