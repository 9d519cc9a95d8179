"""The benchmark's workloads: which catalog queries run on which input.

Every query here is a catalog entry with a DuckDB oracle; the harness
runs them one after another (a closed loop with one client) and checks
each against its oracle once per run.

The two workloads sit on either side of the engine's fixed per-job
cost.  ``relational_scan`` gives few jobs much data, so scan, exchange
and codegen work decides its time; ``iterative_jobs`` gives many jobs
little data, so job scheduling, materialisation, driver round-trips,
Python workers and micro-batch overhead decide it.  A change to one side
is predicted flat on the other.  The figures in each workload's ``why``
in ``BENCHMARK.json`` come from the traced run's job survey on a 4-vCPU
host (``--trace 1``: jobs and ``spark.task_s`` per query against its
wall time).

Each workload names the package layers its queries must reach; a traced
run fails if one of them records no call, and together the workloads
reach every layer the tracer wraps.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.datagen import DataSpec
from perfbench.tracing import LAYERS


@dataclass(frozen=True)
class Workload:
    name: str
    data: DataSpec
    queries: tuple[str, ...]
    layers: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational_scan",
            DataSpec(sf=0.1, copies=3, docs=500, vectors=500),
            (
                "q1_pricing_summary",
                "flagship_revenue_by_region",
                "cumulative_revenue_by_day",
                "hhi_revenue_by_nation",
                "ols_normal_eq_lineitem",
            ),
            ("plans", "sources", "operators", "stats", "ml"),
        ),
        Workload(
            "iterative_jobs",
            DataSpec(sf=0.01, copies=1, docs=500, vectors=500),
            (
                # iterative operators: one materialised round per job
                "kmeans_lloyd_embeddings",
                "link_prediction_modgraph",
                # corpus path: dedup signatures, the Arrow/pandas UDF edge,
                # a streaming twin and similarity top-k
                "minhash_signatures_documents",
                "multimodal_media_card_documents",
                "stream_token_counts_documents",
                "embedding_cosine_topk",
                # small relational queries of the remaining layers
                "skewness_profile_lineitem",
                "poisson_deviance_lineitem",
                "acf_daily_events",
                "sql_facade_join",
            ),
            ("plans", "sources", "functions", "quality", "ts", "text",
             "dedup", "sim", "ml", "metrics", "multimodal", "streaming",
             "sql"),
        ),
    )
}

_reached = {layer for w in WORKLOADS.values() for layer in w.layers}
if _reached != set(LAYERS):
    raise RuntimeError(f"workload layers differ from the traced layers: "
                       f"{sorted(_reached ^ set(LAYERS))}")
