"""Eager materialization: the one place the package cuts a plan's lineage.

Spark plans are lazy, and Catalyst plans everything except where a plan
should stop.  Iterative loops (PageRank, connected components, k-core,
BPE merges, DBSCAN expansion) would otherwise grow one plan level per
round, and a stage read by several consumers would be rebuilt by each
of them.  Every such cut goes through :func:`pin`; when the caller also
needs scalars about the pinned frame (its row count for a broadcast
gate, a convergence delta, a percentile-mode switch), it uses
:func:`pin_observed`, which reads them from the materializing job
itself instead of running a second one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def pin(df: DataFrame) -> DataFrame:
    """Run ``df`` now (one job) and return a frame backed by the
    materialized blocks, with its lineage truncated: later actions on
    the result start from those blocks, and its partitioning is fixed.

    The blocks are EXECUTOR-LOCAL and NOT replayable: a lost executor
    loses its share of the pinned frame, and a job that needs those
    partitions fails instead of recomputing them.  That is fine on a
    single host or a small, stable cluster; on a 1000-executor 100-TB
    build, persist the stage instead (``text.stage_boundary`` with a
    ``stage_sink`` writes parquet and reads it back)."""
    return df.localCheckpoint(eager=True)


def pin_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """:func:`pin` ``df`` and return ``(pinned, values)``.

    ``values`` holds the row count under ``"n"`` plus one entry per
    named aggregate in ``metrics`` (e.g. ``delta=F.max("d")``).  They
    are observed metrics of the materializing job, so this costs no job
    beyond the pin.  On empty input ``n`` is 0 and most aggregates are
    ``None``."""
    obs = Observation()
    pinned = pin(
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            *(c.alias(k) for k, c in metrics.items()),
        )
    )
    return pinned, obs.get
