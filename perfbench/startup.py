"""Process environment, Spark session and set-up timing for the benchmark.

Set-up time is measured from the kernel's record of process start to a
session that has run one trivial job, so interpreter start, imports,
JVM launch and the first job's compilation all count.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import time

CPUS = 4


def process_age() -> float:
    """Seconds since this process started (Linux clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime) counted after the parenthesised command name
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def cpu_ticks() -> list[int]:
    """The host's CPU time counters, as the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of CPU time since ``before`` that the hypervisor gave to
    other guests (steal), as context for a run's noise."""
    delta = [b - a for a, b in zip(before, cpu_ticks())]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def work_dir(root: str, *parts: str) -> str:
    """A directory under the checkout's ``.perfbench`` scratch area."""
    path = os.path.join(root, ".perfbench", *parts)
    os.makedirs(path, exist_ok=True)
    return path


def prepare_env(root: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the package."""
    os.environ["TMPDIR"] = work_dir(root, "tmp", "py")
    os.environ["SPARK_LOCAL_DIRS"] = work_dir(root, "tmp", "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work_dir(root, 'tmp', 'jvm')} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def check_imports() -> None:
    """Exit early unless the checkout holds what a run needs.  Only the
    modules are located here; importing them is left to the code that
    uses them, so no harness-only import counts in set-up time."""
    for module in ("gofast_spark.plans.catalog", "tests.oracle_util"):
        try:
            found = importlib.util.find_spec(module) is not None
        except ImportError:
            found = False
        if not found:
            sys.exit(f"perfbench: cannot find module {module}")


def open_session(root: str):
    """The benchmark's session on ``local[4]``, after one trivial job."""
    from gofast_spark import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{CPUS}]",
        **{
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": work_dir(root, "tmp", "warehouse"),
            # keep every job, stage and SQL execution of a run in the
            # status stores the traced run reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
