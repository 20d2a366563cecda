"""Session lifetime, Spark job counters and the result shape shared by
the workloads."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from stats import Tracer, median, percentile, tail_percentile


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


@dataclass
class Ctx:
    """What a workload gets: its seed, run length, scratch directory
    inside the checkout, and the live session."""
    seed: int
    seconds: float
    trace: bool
    work: str
    cpus: int
    spark: object = None
    session_start_s: float = 0.0


@dataclass
class Result:
    """One workload run. ``e2e`` is printed with --trace 0, ``layers``
    with --trace 1; ``report`` rows are the human-readable lines printed
    before the JSON (name, value, unit, samples)."""
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: list[tuple[str, float, str, int]] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    tracer: Tracer | None = None

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; record a failure by name."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def timing(self, base: str, values: list[float], suffix: str = "", unit: str = "ms") -> None:
        """Report ``{base}_p50{suffix}`` and, when the samples leave ten
        beyond a higher percentile, the highest such one."""
        self.report.append((f"{base}_p50{suffix}", median(values), unit, len(values)))
        q = tail_percentile(len(values))
        if q is not None and q > 50.0:
            self.report.append((f"{base}_p{q:g}{suffix}", percentile(values, q), unit,
                                len(values)))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(ctx: Ctx, cpus: int | None = None):
    """Start the engine's session on local[cpus]; returns seconds taken."""
    from sparkstreamingtwitter_presidential_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    t0 = time.perf_counter()
    ctx.spark = get_spark(
        "perfbench", cpus=cpus or ctx.cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return time.perf_counter() - t0


def stop_session(ctx: Ctx) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def restart_session(ctx: Ctx, cpus: int) -> None:
    """Replace the session's SparkContext with one on local[cpus] (the
    JVM stays up)."""
    ctx.spark.stop()
    start_session(ctx, cpus)


class JobCounter:
    """Jobs, tasks and failed tasks per job group, from the status
    tracker (the public API that still works with the UI disabled). It
    also times itself: its calls are the traced run's instrumentation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs = self.tasks = self.failed_tasks = self.ops = 0
        self.cost_s = 0.0

    def group(self, name: str) -> str:
        t0 = time.perf_counter()
        self.sc.setJobGroup(name, name, interruptOnCancel=False)
        self.cost_s += time.perf_counter() - t0
        return name

    def count(self, group: str, ops: int = 1) -> None:
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        self.ops += ops
        for j in st.getJobIdsForGroup(group):
            self.jobs += 1
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:
                    self.tasks += si.numTasks
                    self.failed_tasks += si.numFailedTasks
        self.cost_s += time.perf_counter() - t0

    def metrics(self) -> dict[str, tuple[float, str]]:
        """Engine counts per operation."""
        ops = max(1, self.ops)
        return {
            "engine.jobs_per_op": (self.jobs / ops, "count"),
            "engine.tasks_per_op": (self.tasks / ops, "count"),
            "engine.failed_tasks": (float(self.failed_tasks), "count"),
        }


def overhead_ratio(traced_wall_s: float, charged_s: float) -> float:
    """Tracing overhead of a traced measurement: its wall time over the
    same less ``charged_s``, the instrumentation time (span bookkeeping,
    job-group calls) spent inside the measured interval."""
    return traced_wall_s / (traced_wall_s - charged_s)
