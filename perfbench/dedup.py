"""``dedup``: the production dedup funnel ``c06_production_dedup_e2e``
over a generated corpus, closed loop, one client.

Every iteration calls ``c06`` as a user would and collects its census.
The traced iteration runs the same ``c06`` with the operators it calls
(``lsh_verified_edges`` and ``connected_components``) wrapped in spans:
the wrapper first materialises the operator's input (for the LSH stage
that forces the exact-hash window, ``text.exact``), then its output, so
each layer's span holds that layer's work. The census collect is the
last span.
"""

from __future__ import annotations

import contextlib
from pathlib import Path

from pyspark.sql import functions as F

from mousedatapipeline_spark.operators import graph
from mousedatapipeline_spark.plans import similarity_queries
from mousedatapipeline_spark.plans.curation_queries import (
    c06_production_dedup_e2e,
)


def run_c06(spark, inputs: Path) -> list[tuple]:
    return sorted(tuple(r) for r in
                  c06_production_dedup_e2e(spark, str(inputs)).collect())


@contextlib.contextmanager
def _patched(module, name: str, wrapper):
    real = getattr(module, name)
    setattr(module, name, wrapper(real))
    try:
        yield
    finally:
        setattr(module, name, real)


def run_traced(spark, tracer, inputs: Path, n_docs: int
               ) -> tuple[list[tuple], dict]:
    """One ``c06`` iteration with a span per layer; returns (census rows,
    layer counts)."""
    counts: dict = {}

    def lsh(real):
        def wrapped(surv, *args, **kwargs):
            with tracer.span("text.exact"):
                counts["text.exact_survivor_share"] = surv.count() / n_docs
            with tracer.span("similarity.lsh_edges"):
                edges = real(surv, *args, **kwargs).localCheckpoint(
                    eager=True)
                counts["similarity.verified_edges"] = edges.count()
            return edges
        return wrapped

    def components(real):
        def wrapped(*args, **kwargs):
            with tracer.span("graph.components"):
                cc = real(*args, **kwargs).localCheckpoint(eager=True)
                counts["graph.components"] = (
                    cc.select(F.countDistinct("component_id")).first()[0])
            return cc
        return wrapped

    with _patched(similarity_queries, "lsh_verified_edges", lsh), \
            _patched(graph, "connected_components", components):
        census = c06_production_dedup_e2e(spark, str(inputs))
    with tracer.span("dedup.census"):
        rows = sorted(tuple(r) for r in census.collect())
    return rows, counts
