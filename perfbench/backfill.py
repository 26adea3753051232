"""``backfill``: the paper's batch directory job, closed loop, one client.

Each pass processes one disjoint backlog part (a warm-up part, then one
new part per timed pass, so no pass re-reads files a previous pass
decoded):

    scan_files -> extract_keys -> repetition_manifest   (sources.manifest)
    -> ingest_hdf5 over the complete repetitions         (sources.hdf5)
    -> beam_analysis on the detector images              (functions.kernels)
    -> load_logbook -> full_program / nostack_program    (pipeline)
    -> write_stacked + append_metrics_csv                (sources.sinks)

The ingested table is materialised once per pass (a user re-reading
HDF5 for every consumer is not a workload anyone runs); everything else
is left to the program. The traced run additionally materialises at
every layer boundary so each layer's time is its own.
"""

from __future__ import annotations

import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mousedatapipeline_spark import pipeline
from mousedatapipeline_spark.functions.kernels import (
    beam_analysis,
    dynamic_beam_analysis,
    prepare_eiger_image,
)
from mousedatapipeline_spark.sources.hdf5 import (
    MOUSE_SCHEMA,
    flatten_tree,
    ingest_hdf5,
    open_h5,
)
from mousedatapipeline_spark.sources.logbook import load_logbook
from mousedatapipeline_spark.sources.manifest import (
    REPETITION_KEYS,
    extract_keys,
    repetition_manifest,
    scan_files,
)
from mousedatapipeline_spark.sources.sinks import (
    append_metrics_csv,
    write_stacked,
)

import gen
import reference

# Linear attenuation coefficient assumed for every sample, 1/mm: the
# MOUSE files carry none, and the thickness step needs one.
MU = 2.5
_TOP_LEVEL_DATA = r"\d{8}_\d+_\d+/im_craw\.nxs$"


def local_paths(files: DataFrame, path_col: str = "path") -> DataFrame:
    """Adapter for the ``scan_files -> ingest_hdf5`` seam: the
    ``binaryFile`` listing yields ``file:`` URIs, which ``open_h5``
    cannot open; strip the scheme so the ingest gets local paths."""
    return files.withColumn(path_col,
                            F.regexp_replace(F.col(path_col), "^file:", ""))


def measurements(raw: DataFrame, beam: DataFrame) -> DataFrame:
    """The pipeline's input row per repetition, from the HDF5 columns and
    the beam statistics: configuration from the detector position, the
    transmission correction factor as measured counts over expected
    counts (flux x count time)."""
    return raw.join(beam, ["batch", "repetition"]).select(
        "ymd", "batch", "repetition",
        F.to_date("ymd", "yyyyMMdd").alias("measurement_date"),
        F.round(F.col("det_x") * 100).cast("int").alias("configuration"),
        F.col("flux").alias("direct_flux"),
        "transmission",
        (F.col("total_intensity") / (F.col("flux") * F.col("count_time")))
        .alias("tcf"),
        (F.lit(1.0) - F.col("transmission")).alias("scattering_prob"),
        F.lit(MU).alias("mu"),
        F.col("wavelength").alias("wavelength_nm"),
        "com_y", "com_x")


def images(raw: DataFrame) -> DataFrame:
    return raw.select("batch", "repetition",
                      F.col("detector_data").alias("image"),
                      F.lit(gen.IMAGE_H).alias("height"),
                      F.lit(gen.IMAGE_W).alias("width"))


def _materialise(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def run_pass(spark, tracer, part: Path, out: Path, traced: bool) -> dict:
    """One backlog (a ``gen`` part directory) through to committed
    stacked + CSV output in ``out``."""
    keep = _materialise if traced else (lambda df: df)
    with tracer.span("backfill.pass", part=part.name) as whole:
        with tracer.span("manifest.scan") as sp:
            files = extract_keys(scan_files(spark, str(part / "tree")))
            manifest = repetition_manifest(files)
            complete = manifest.filter(F.col("is_complete")).select(
                *REPETITION_KEYS)
            targets = keep(local_paths(
                files.filter(F.col("path").rlike(_TOP_LEVEL_DATA))
                .join(complete, list(REPETITION_KEYS), "left_semi")))
            if traced:
                counts = manifest.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("is_complete").cast("int")).alias("c"),
                ).first()
                sp["reps"], sp["complete"] = counts["n"], counts["c"]
                sp["files"] = files.count()
        with tracer.span("hdf5.ingest"):
            raw = _materialise(ingest_hdf5(targets, MOUSE_SCHEMA))
        with tracer.span("kernels.beam"):
            beam = keep(beam_analysis(images(raw)))
        with tracer.span("pipeline.program"):
            logbook = load_logbook(spark, str(part / "logbook.csv"))
            meas = measurements(raw, beam)
            stacked = keep(pipeline.full_program(logbook)(meas))
            per_rep = keep(pipeline.nostack_program(logbook)(meas))
        with tracer.span("sinks.stacked_write"):
            write_stacked(stacked, str(out / "stacked"),
                          partition_cols=("ymd",))
        with tracer.span("sinks.csv_append"):
            append_metrics_csv(per_rep, str(out / "metrics_csv"))
    return {"wall_s": whole["dur_s"]}


def check_pass(part: Path, out: Path) -> tuple[int, int]:
    """(attempted, failed) repetitions for one pass, against the
    generator's ground truth through an independent pandas reference."""
    truth = pd.read_parquet(part / "truth.parquet")
    logbook = pd.read_csv(part / "logbook.csv", dtype={"ymd": str,
                                                       "bg_ymd": str})
    expect_rep = reference.per_repetition(truth, logbook, MU)
    expect_stack = reference.stacked(expect_rep)
    got_rep = pd.concat([pd.read_csv(p, dtype=str, keep_default_na=False)
                         for p in sorted((out / "metrics_csv").glob("*.csv"))])
    got_stack = pq.read_table(out / "stacked").to_pandas()
    bad = reference.compare_repetitions(got_rep, expect_rep)
    bad_groups = reference.compare_stacked(got_stack, expect_stack)
    for r in expect_rep[reference.STACK_KEYS + reference.KEYS[2:]].itertuples(
            index=False):
        if (r.ymd, r.batch, r.configuration) in bad_groups:
            bad.add((r.ymd, r.batch, r.repetition))
    return len(expect_rep), len(bad)


def direct_probe(part: Path, n: int = 6) -> dict:
    """Single-thread decode and kernel cost on a sample of the pass's
    files, outside Spark: the useful Python work per repetition."""
    paths = sorted((part / "tree").glob("*/*/*/im_craw.nxs"))[:n]
    keys = {"ymd": "", "batch": 0, "repetition": 0}
    decode, beam, size = [], [], []
    for p in paths:
        t0 = time.perf_counter()
        with open_h5(str(p)) as f:
            row = flatten_tree(f, MOUSE_SCHEMA, keys)
        t1 = time.perf_counter()
        img = np.asarray(row["detector_data"]).reshape(gen.IMAGE_H,
                                                       gen.IMAGE_W)
        dynamic_beam_analysis(prepare_eiger_image(img))
        t2 = time.perf_counter()
        decode.append((t1 - t0) * 1e3)
        beam.append((t2 - t1) * 1e3)
        size.append(p.stat().st_size / 2**20)
    return {"decode_ms": float(np.median(decode)),
            "beam_ms": float(np.median(beam)),
            "mb_per_file": float(np.mean(size))}
