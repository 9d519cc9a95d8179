"""gofast-spark benchmark: catalog queries in a closed loop on local[4].

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload relational_scan --seed 1 \\
        --seconds 10 --trace 0

One client runs the workload's catalog queries one after another, each
ending in the ``noop`` sink.  A run

1. starts the session: set-up time runs from process start to a session
   that has run one trivial job;
2. generates the workload's input from ``--seed`` (cached per seed);
3. times one cold pass over the queries;
4. collects every query once, untimed, and compares the result with the
   query's DuckDB oracle on the same input (``correct``);
5. times warm passes until ``--seconds`` have been spent in them (at
   least three).  A query's warm latency is its fastest execution in
   these passes, so a burst of load from elsewhere on the shared host
   that slows some of its executions does not move it; the warm pass
   is the sum of these latencies, and the percentiles are taken over
   them.

With ``--trace 1`` step 5 instead times untraced warm passes, then the
same number of traced passes with every layer's public functions wrapped
(see ``tracing.py``), checks that tracing changed neither any result nor
any query's Spark job count and that every layer the workload names was
called, runs the calibration probe of ``bench.py`` once as context, and
reports per-layer metrics.

Standard output ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``; a ``context`` line
before it carries the samples behind each metric, and the full record
(spans included) is written under ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_WARM_PASSES = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.engine import PYTHON_METRICS
    from perfbench.tracing import LAYERS

    units = {}
    for layer in LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.driver_s": "s"})
    for name in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks"):
        units[f"spark.{name}"] = "count"
    units.update({"spark.task_s": "s", "spark.gc_s": "s"})
    for name in ("shuffle_write", "shuffle_read", "input", "spill"):
        units[f"spark.{name}_bytes"] = "bytes"
    units.update({"exchange.count": "count",
                  "exchange.single_partition": "count",
                  "python_edge.nodes": "count"})
    for key in PYTHON_METRICS.values():
        units[key] = ("s" if key.endswith("_s")
                      else "bytes" if "bytes" in key else "count")
    units.update({
        "streaming.batches": "count", "streaming.input_rows": "count",
        "streaming.trigger_s": "s", "streaming.wal_commit_s": "s",
        "streaming.state_rows": "count",
        "storage.retained_rdds": "count", "storage.retained_bytes": "bytes",
        "sink.s": "s",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _result_hash(columns, rows) -> tuple[list[str], str]:
    from tests.oracle_util import normalize_rows

    norm, cols = normalize_rows(columns, rows)
    digest = hashlib.sha256("\n".join([*cols, *norm]).encode()).hexdigest()
    return cols, digest


class Loop:
    """Runs the workload's queries and keeps what each execution cost."""

    def __init__(self, spark, queries, data_dir: str):
        from gofast_spark.plans.catalog import QUERIES

        self.spark = spark
        self.registry = QUERIES
        self.queries = queries
        self.data_dir = data_dir
        self.tracer = None
        self.passes = 0
        self.attempted = 0
        self.failed = 0
        # query -> seconds of each of its executions in a warm pass
        self.warm: dict[str, list[float]] = {q: [] for q in queries}
        self.per_query: dict[str, list[float]] = {q: [] for q in queries}
        # (pass, query) -> wall-clock window, for attributing stream jobs
        self.windows: dict[tuple[int, str], tuple[float, float]] = {}

    def _execute(self, name: str, collect: bool):
        group = f"pb|{self.passes}|{name}"
        jsc = self.spark.sparkContext._jsc
        jsc.setJobGroup(group, name, False)
        if self.tracer is not None:
            self.tracer.query, self.tracer.base_group = name, group
        sink = (self.tracer.span("sink", "sink") if self.tracer is not None
                else contextlib.nullcontext())
        self.attempted += 1
        t0 = time.time()
        try:
            df = self.registry[name](self.spark, self.data_dir)
            with sink:
                if collect:
                    return df.columns, [tuple(r) for r in df.collect()]
                df.write.format("noop").mode("overwrite").save()
                return True
        except Exception:  # a failing query is counted, the loop goes on
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            self.windows[(self.passes, name)] = (t0, time.time())
            jsc.clearJobGroup()

    def timed_pass(self, warm: bool = True) -> float:
        """One pass over the queries into the noop sink; its seconds.
        Only warm passes feed the latency percentiles."""
        self.passes += 1
        total = 0.0
        for name in self.queries:
            t0 = time.perf_counter()
            ok = self._execute(name, collect=False)
            dt = time.perf_counter() - t0
            total += dt
            if ok:
                if warm:
                    self.warm[name].append(dt)
                self.per_query[name].append(dt)
        return total

    def collect_pass(self) -> dict[str, tuple | None]:
        """Untimed pass collecting every result: query -> (columns, rows)."""
        self.passes += 1
        return {name: self._execute(name, collect=True) for name in self.queries}

    def window(self, n: int) -> dict[str, tuple[float, float]]:
        return {q: w for (p, q), w in self.windows.items() if p == n}


def oracle_gate(results: dict, data_dir: str) -> dict[str, dict]:
    """Compare each collected result with its DuckDB oracle on the same
    input: query -> {"match", "hash"}.  A query whose Spark side failed
    is absent (it is already counted as a failed operation)."""
    from gofast_spark.plans.catalog import ORACLE_SQL
    from tests.oracle_util import duck_conn

    out = {}
    con = duck_conn(data_dir)
    con.execute("SET enable_progress_bar = false")
    try:
        for name, got in results.items():
            if got is None:
                continue
            cols, digest = _result_hash(*got)
            res = con.execute(ORACLE_SQL[name])
            want_cols, want = _result_hash(
                [d[0] for d in res.description], res.fetchall()
            )
            out[name] = {"match": (cols, digest) == (want_cols, want),
                         "hash": digest}
    finally:
        con.close()
    return out


def _warm_passes(loop: Loop, seconds: float, at_least: int) -> list[float]:
    passes = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(passes) < at_least:
        passes.append(loop.timed_pass())
    return passes


def _end_to_end(setup, cold, warm) -> dict[str, float]:
    """warm: query -> its latencies in the warm passes."""
    latencies = [min(v) for v in warm.values() if v]
    q = statistics.quantiles(latencies, n=10, method="inclusive")
    return {
        "setup_s": setup,
        "cold_pass_s": cold,
        "warm_pass_s": sum(latencies),
        "query_p50_s": statistics.median(latencies),
        "query_p90_s": q[8],
    }


class PassProbe:
    """Engine-side measurements of the passes of a traced run."""

    def __init__(self, spark):
        from perfbench.engine import StatusStore

        self.store = StatusStore(spark)
        self.store.flush()
        jobs = self.store.jobs()
        self.last_job = max((j["jobId"] for j in jobs), default=-1)
        self.next_execution = self.store.execution_count()

    def measure(self, loop: Loop, spans=(), stream_events=None) -> dict:
        from perfbench import engine, tracing

        self.store.flush()
        jobs = self.store.jobs(after=self.last_job)
        self.last_job = max((j["jobId"] for j in jobs), default=self.last_job)
        executions = self.store.execution_count()
        nodes = self.store.plan_nodes(self.next_execution, executions)
        self.next_execution = executions
        windows = loop.window(loop.passes)
        owner = tracing.assign_jobs(jobs, windows, spans)
        stages = self.store.stages(s for j in jobs for s in j["stageIds"])
        per_query = {}
        for name in loop.queries:
            mine = [j for j in jobs if owner[j["jobId"]][0] == name]
            ids = {s for j in mine for s in j["stageIds"]}
            m = engine.stage_metrics(mine, {i: stages[i] for i in ids
                                            if i in stages})
            per_query[name] = {
                "wall": windows[name][1] - windows[name][0],
                "jobs": len(mine),
                "stages": int(m["spark.stages"]),
                "shuffle_read": int(m["spark.shuffle_read_bytes"]),
                "shuffle_write": int(m["spark.shuffle_write_bytes"]),
                "input": int(m["spark.input_bytes"]),
                "task_s": m["spark.task_s"],
            }
        rdds, retained = self.store.retained_storage()
        metrics = {
            **engine.stage_metrics(jobs, stages),
            **engine.plan_metrics(nodes),
            "storage.retained_rdds": float(rdds),
            "storage.retained_bytes": float(retained),
        }
        if stream_events is not None:
            metrics.update(tracing.streaming_metrics(stream_events))
        if spans:
            layers = tracing.layer_metrics(spans, jobs, owner)
            metrics.update({k: v for k, v in layers.items()
                            if not k.startswith("sink.")})
            metrics["sink.s"] = layers["sink.self_s"]
            metrics["unattributed.jobs"] = float(
                sum(1 for j in jobs if owner[j["jobId"]][1] is None)
            )
        return {"metrics": metrics, "per_query": per_query}


def _traced_run(spark, loop: Loop, layers, seconds: float) -> dict:
    """Untraced then traced warm passes, the self-checks and the
    per-layer metrics (median over the traced passes)."""
    from perfbench.tracing import StreamProgress, Tracer, import_all

    probe = PassProbe(spark)
    untraced, untraced_jobs = [], None
    deadline = time.perf_counter() + seconds / 2
    while time.perf_counter() < deadline or not untraced:
        untraced.append(loop.timed_pass())
        untraced_jobs = probe.measure(loop)["per_query"]

    tracer = Tracer(spark, import_all())
    tracer.install(loop.registry)
    missing = tracer.missing_layers()
    if missing:
        raise RuntimeError(f"tracing wrapped no function in layers {missing}")
    listener = StreamProgress()
    spark.streams.addListener(listener)
    loop.tracer = tracer
    traced, samples = [], []
    try:
        for _ in untraced:
            first_span = len(tracer.spans)
            traced.append(loop.timed_pass())
            samples.append(probe.measure(
                loop, tracer.spans[first_span:], listener.take()
            ))
        traced_results = loop.collect_pass()
    finally:
        loop.tracer = None
        spark.streams.removeListener(listener)
        tracer.uninstall()

    traced_jobs = samples[-1]["per_query"]
    job_diff = {q: (untraced_jobs[q]["jobs"], traced_jobs[q]["jobs"])
                for q in loop.queries
                if untraced_jobs[q]["jobs"] != traced_jobs[q]["jobs"]}
    if job_diff:
        raise RuntimeError(
            f"tracing changed Spark job counts (untraced, traced): {job_diff}"
        )
    silent = [layer for layer in layers
              if not sum(s["metrics"][f"{layer}.calls"] for s in samples)]
    if silent:
        raise RuntimeError(f"traced queries called no function of {silent}")
    overhead = statistics.median(traced) / statistics.median(untraced)
    keys = samples[0]["metrics"].keys()
    metrics = {k: statistics.median(s["metrics"][k] for s in samples)
               for k in keys}
    metrics["trace.overhead_ratio"] = overhead
    return {
        "metrics": metrics,
        "untraced_passes_s": untraced,
        "traced_passes_s": traced,
        "traced_results": traced_results,
        "job_survey": traced_jobs,
        "wrapped": dict(tracer.wrapped),
        "spans": [
            {"sid": s.sid, "name": s.name, "layer": s.layer,
             "parent": s.parent, "query": s.query, "t0": s.t0, "t1": s.t1}
            for s in tracer.spans
        ],
    }


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = _parse_args(argv)
    from perfbench import startup

    startup.check_imports()
    startup.prepare_env(ROOT)
    spark = startup.open_session(ROOT)
    setup = startup.process_age()
    # process age at the end of each phase, for the run's time budget
    phases = {"session": setup}
    try:
        from perfbench import datagen
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}")
        workload = WORKLOADS[args.workload]
        data_dir = datagen.ensure_data(
            startup.work_dir(ROOT, "data"), workload.data, args.seed
        )
        phases["inputs"] = startup.process_age()
        loop = Loop(spark, workload.queries, data_dir)
        cold = loop.timed_pass(warm=False)
        phases["cold_pass"] = startup.process_age()
        gate = oracle_gate(loop.collect_pass(), data_dir)
        phases["oracle"] = startup.process_age()
        record = {"workload": workload.name, "seed": args.seed,
                  "trace": args.trace, "data": os.path.relpath(data_dir, ROOT),
                  "cold_pass_s": cold}
        if args.trace:
            traced = _traced_run(spark, loop, workload.layers, args.seconds)
            import bench

            phases["traced_passes"] = startup.process_age()
            record["calibration_s"] = bench._calibrate(spark, reps=1)
            phases["calibration"] = startup.process_age()
        else:
            ticks = startup.cpu_ticks()
            record["warm_passes_s"] = _warm_passes(
                loop, args.seconds, MIN_WARM_PASSES
            )
            record["host_steal_share"] = startup.steal_share(ticks)
            phases["warm_passes"] = startup.process_age()
    finally:
        startup.stop_session(spark)
    phases["stopped"] = startup.process_age()

    checked = len(gate)
    wrong = sorted(q for q, g in gate.items() if not g["match"])
    record.update({
        "setup_s": setup,
        "per_query_s": loop.per_query,
        "latency_samples": {q: len(v) for q, v in loop.warm.items()},
        "attempted_ops": loop.attempted,
        "failed_ops": loop.failed,
        "checked": checked,
        "wrong_results": len(wrong),
        "mismatched": wrong,
        "phases_s": phases,
    })
    if args.trace:
        changed = sorted(
            q for q, g in gate.items()
            if traced["traced_results"].get(q) is not None
            and _result_hash(*traced["traced_results"][q])[1] != g["hash"]
        )
        if changed:
            raise RuntimeError(f"tracing changed the results of {changed}")
        units = per_layer_units()
        values = traced["metrics"]
        record.update({k: traced[k] for k in (
            "untraced_passes_s", "traced_passes_s", "job_survey", "wrapped",
            "spans")})
        record["unattributed_jobs"] = values.get("unattributed.jobs")
    else:
        units = END_TO_END_UNITS
        values = _end_to_end(setup, cold, loop.warm)

    out_dir = startup.work_dir(ROOT, "out")
    path = os.path.join(
        out_dir, f"{workload.name}-s{args.seed}-t{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f)
    context = {k: v for k, v in record.items() if k != "spans"}
    context["record"] = os.path.relpath(path, ROOT)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": checked == len(workload.queries) and not wrong
        and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
