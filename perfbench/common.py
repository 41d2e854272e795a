"""Run environment, Spark session lifetime and statistics shared by the
workloads."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from . import config as C

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class RunEnv:
    """One run's fresh scratch directory under the checkout, and the
    process environment the program needs."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    dir: str = ""
    cpus: int = 1

    def __post_init__(self):
        self.dir = os.path.join(ROOT, C.RUN_DIR, f"{self.workload}-{self.seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.cpus = max(1, min(os.cpu_count() or 1, C.MAX_CPUS))
        # Python workers import the package by module path, so the checkout
        # root must be on their path, not only on the driver's.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = C.DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM writes no /tmp files
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # keep the JVM's temporary files in the run dir (no /tmp/hsperfdata)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.compress"] = "false"
            os.makedirs(self.path("events"), exist_ok=True)
        return conf

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(env: RunEnv):
    """(spark, seconds to start it) through the program's own factory."""
    from ct_clickhouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{env.workload}", extra_conf=env.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MiB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return float("nan")
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM (it exits when its stdin
    closes) and wait for it; its Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the JVM wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---- statistics -----------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs) -> tuple[float, float, int]:
    """(percentile, value, n): the highest whole percentile that still has
    at least ten samples above it (p99 needs 1000 samples, p90 100)."""
    n = len(xs)
    if n < 20:
        return (100.0, float(max(xs)), n)
    p = math.floor(100.0 * (1.0 - 10.0 / n))
    ys = sorted(xs)
    return (float(p), float(ys[min(n - 1, int(math.ceil(p / 100.0 * n)) - 1)]), n)


@dataclass
class Result:
    """What one run reports. ``e2e`` and ``layers`` hold name -> (value,
    unit); ``extra`` holds a workload's own layer metrics as name ->
    (value, unit, end-to-end metric it should move); ``op_ms`` the
    latencies of the primary operation; ``detail`` goes to stderr and to
    a traced run's report file."""

    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    op_ms: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
