"""Read-only views of the Spark engine, taken from outside through the
driver's status stores (jobs, stages, cached RDDs, SQL plan graphs and
their metric values).  Nothing here submits a Spark job.

Objects are serialised on the JVM side with the same Jackson mapper the
REST API uses, so one py4j call returns a whole list as JSON.
"""

from __future__ import annotations

import json
import re

# Python-worker plan nodes: ArrowEvalPython, BatchEvalPython, MapInPandas,
# FlatMapGroupsInPandas, MapInArrow, AggregateInPandas, ...
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
# SQL metric name on a Python node -> python_edge metric
PYTHON_METRICS = {
    "number of output rows": "python_edge.rows",
    "data sent to Python workers": "python_edge.bytes_sent",
    "data returned from Python workers": "python_edge.bytes_returned",
    "time to run Python workers": "python_edge.run_s",
    "time to start Python workers": "python_edge.start_s",
    "time to initialize Python workers": "python_edge.init_s",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


_TOTAL = re.compile(r"\s*([\d.,]+)(?:\s+(B|KiB|MiB|GiB|TiB|ms|s|m|h))?\b")


def metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric value: ``"11,743"``, ``"2.1 s"``,
    ``"18.3 KiB"`` or the per-task form ``"total (min, med, max ...)\\n
    69 ms (11 ms, ...)"``, whose total is the figure after the newline.
    Sizes come back in bytes and times in seconds; a metric reported only
    as a per-task average (no total) counts as 0."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL.match(text)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS[m.group(2)] if m.group(2) else value


class StatusStore:
    """Jobs, stages, storage and SQL executions of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._ctx = sc._jsc.sc()
        scala = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)
        self._store = self._ctx.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def flush(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so the stores reflect all work finished so far."""
        self._ctx.listenerBus().waitUntilEmpty()

    def jobs(self, after: int = -1) -> list[dict]:
        return [
            j for j in self._json(self._store.jobsList(None))
            if j["jobId"] > after
        ]

    def stages(self, ids) -> dict[int, dict]:
        """Latest attempt of each listed stage, keyed by stage id."""
        want = set(ids)
        out: dict[int, dict] = {}
        rows = self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )
        for s in rows:
            if s["stageId"] in want and s["attemptId"] >= out.get(
                s["stageId"], {"attemptId": -1}
            )["attemptId"]:
                out[s["stageId"]] = s
        return out

    def retained_storage(self) -> tuple[int, int]:
        """(RDDs holding cached blocks, bytes they hold in memory + disk)."""
        rdds = self._json(self._store.rddList(True))
        return len(rdds), sum(r["memoryUsed"] + r["diskUsed"] for r in rdds)

    def execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def plan_nodes(self, first: int, last: int) -> list[dict]:
        """Plan-graph nodes, each with ``values`` (metric name -> parsed
        value), of SQL executions ``first`` up to ``last`` exclusive."""
        nodes = []
        for eid in range(first, last):
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                node["values"] = {
                    m["name"]: metric_value(values.get(str(m["accumulatorId"])))
                    for m in node.get("metrics") or ()
                }
                nodes.append(node)
        return nodes


def plan_metrics(nodes: list[dict]) -> dict[str, float]:
    """exchange.* and python_edge.* totals over executed plan nodes."""
    out = {"exchange.count": 0.0, "exchange.single_partition": 0.0,
           "python_edge.nodes": 0.0}
    out.update({m: 0.0 for m in PYTHON_METRICS.values()})
    for node in nodes:
        name = node.get("name") or ""
        if name == "Exchange":
            out["exchange.count"] += 1
            if "SinglePartition" in (node.get("desc") or ""):
                out["exchange.single_partition"] += 1
        elif _PYTHON_NODE.search(name):
            out["python_edge.nodes"] += 1
            for metric, key in PYTHON_METRICS.items():
                out[key] += node["values"].get(metric, 0.0)
    return out


def stage_metrics(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """spark.* totals over jobs and the stage records they ran; a stage
    a job skipped (its shuffle output already existed) ran no tasks."""
    ran = [s for s in stages.values() if s["status"] != "SKIPPED"]
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(ran)),
        "spark.stages_skipped": float(
            sum(j["numSkippedStages"] for j in jobs)
        ),
        "spark.tasks": float(sum(s["numCompleteTasks"] for s in ran)),
        "spark.failed_tasks": float(sum(s["numFailedTasks"] for s in ran)),
        "spark.task_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "spark.shuffle_write_bytes": float(
            sum(s["shuffleWriteBytes"] for s in ran)
        ),
        "spark.shuffle_read_bytes": float(
            sum(s["shuffleReadBytes"] for s in ran)
        ),
        "spark.input_bytes": float(sum(s["inputBytes"] for s in ran)),
        "spark.spill_bytes": float(sum(s["diskBytesSpilled"] for s in ran)),
    }
