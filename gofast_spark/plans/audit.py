"""Physical-plan audit: the 100-TB checklist as a function.

``tests/test_plans.py`` hand-asserts plan shapes for specific queries;
this module generalizes the same checks into a reusable diagnostic any
user can run on any DataFrame before shipping it to a large cluster —
the programmatic version of eyeballing ``df.explain("formatted")``:

* how many exchanges (shuffles) the plan contains, and on which keys;
* whether small-side joins broadcast or sort-merge;
* cartesian / nested-loop joins (the scale-killers);
* whether parquet scans push filters and prune columns;
* interpreted row-at-a-time Python UDFs in the plan (BatchEvalPython)
  vs Arrow-batched ones (ArrowEvalPython / MapInPandas);
* whole-stage-codegen coverage.

Pure string analysis of the executed plan — no execution, no Spark
internals beyond ``queryExecution``; intended for interactive tuning
and CI assertions (``assert audit_plan(df)["cartesian_joins"] == 0``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """The physical (executed) plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def audit_plan(df: DataFrame, *, execute: bool = False) -> dict:
    """Summarize scale-relevant plan features as a flat dict.

    With AQE on, join strategies and codegen stage ids are only final
    after execution; ``execute=True`` materializes THIS query
    execution's RDD once (a distributed count — nothing is collected
    to the driver) so the audit reflects the final adaptive plan
    (``codegen_stages`` is 0 on an unexecuted AdaptiveSparkPlan).
    """
    if execute:
        # a separate df.write/.count would plan a NEW QueryExecution and
        # leave this one unexecuted — drive this plan's own RDD instead
        df._jdf.queryExecution().executedPlan().execute().count()
    plan = plan_string(df)
    lines = plan.splitlines()

    def count(pat: str) -> int:
        return sum(1 for ln in lines if re.search(pat, ln))

    scans = [ln for ln in lines if "FileScan" in ln or "Scan parquet" in ln]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    n_broadcast_ex = count(r"BroadcastExchange")
    n_shuffle_ex = count(r"Exchange (hash|range|SinglePartition)")
    return {
        "exchanges": n_broadcast_ex + n_shuffle_ex,
        "broadcast_exchanges": n_broadcast_ex,
        "shuffle_exchanges": n_shuffle_ex,
        "broadcast_hash_joins": count(r"BroadcastHashJoin"),
        "sort_merge_joins": count(r"SortMergeJoin"),
        "cartesian_joins": count(r"CartesianProduct"),
        "nested_loop_joins": count(r"BroadcastNestedLoopJoin"),
        "scans": len(scans),
        "scans_with_pushed_filters": sum(1 for p in pushed if p.strip()),
        "read_columns": sorted(
            {
                c.split(":")[0]
                for rs in read_schemas
                for c in rs.split(",")
                if ":" in c
            }
        ),
        "python_row_udfs": count(r"BatchEvalPython"),
        "arrow_udfs": count(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
        # "WholeStageCodegen (3)" and the "*(3)" star prefix; both only
        # appear on executed/final plans (pass execute=True)
        "codegen_stages": len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
            | set(re.findall(r"\*\((\d+)\)", plan))
        ),
    }


def audit_report(df: DataFrame) -> str:
    """Human-readable one-per-line audit (for notebooks/logs)."""
    a = audit_plan(df)
    warn = []
    if a["cartesian_joins"]:
        warn.append("CARTESIAN JOIN — unbounded pair blowup at scale")
    if a["python_row_udfs"]:
        warn.append("row-at-a-time Python UDF — use a pandas_udf")
    body = "\n".join(f"{k}: {v}" for k, v in a.items())
    if warn:
        body += "\n" + "\n".join(f"WARNING: {w}" for w in warn)
    return body


def suggest_shuffle_partitions(
    df: DataFrame, *, target_mb: int = 128, sample_rows: int = 1000
) -> int:
    """Estimate a shuffle-partition count so each post-shuffle
    partition lands near ``target_mb`` of in-memory data: rows are
    counted exactly, per-row width from a bounded head sample
    (driver-side, capped at ``sample_rows``).  Round the answer into
    ``df.repartition(n)`` / ``spark.sql.shuffle.partitions`` before a
    wide stage; at 100 TB the default 200-partition conf is the single
    most common mis-sizing."""
    n_rows = df.count()
    if n_rows == 0:
        return 1
    sample = df.limit(min(sample_rows, n_rows)).collect()
    import sys as _sys

    row_bytes = max(
        1,
        sum(_sys.getsizeof(v) for r in sample for v in r) // len(sample),
    )
    total_mb = n_rows * row_bytes / (1024 * 1024)
    return max(1, round(total_mb / target_mb))
