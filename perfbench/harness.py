"""Shared benchmark plumbing: environment knobs, session set-up, spans,
the host canary and small statistics helpers."""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "sparkstreamingflume_spark"
DRIVER_MEM = "3g"  # the library's 16g default exceeds a 15 GiB host
SETUP_REPS = 3
CANARY_ROWS = 10_000_000  # bench.py's md5 canary


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> dict[str, str]:
    """Size Spark for the host through the library's own environment
    knobs (session.py is left as is) and return what was set."""
    knobs = {
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(knobs)
    os.makedirs(knobs["SPARK_LOCAL_DIRS"], exist_ok=True)
    return knobs


def require_program() -> None:
    """Refuse to run without the program's sources next to the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.exit(f"perfbench: no {PACKAGE}/ package under {ROOT}; nothing to measure")
    sys.path.insert(0, ROOT)


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    spans: list[dict] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def start_session(app: str, extra_conf: str = ""):
    """``session.get_session`` with extra Spark conf passed through the
    ``SPARK_GRAFT_EXTRA_CONF`` knob."""
    from sparkstreamingflume_spark.session import get_session

    os.environ["SPARK_GRAFT_EXTRA_CONF"] = extra_conf
    return get_session(app)


def stop_spark() -> None:
    """Stop the active session and the JVM behind it, and wait for the JVM
    (and the Python workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def canary(spark) -> float:
    """bench.py's fixed-work host-speed probe: md5-aggregate 10M rows."""
    from pyspark.sql import functions as F

    t0 = time.time()
    (
        spark.range(CANARY_ROWS)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .agg(F.count(F.when(F.col("h") > "f0", 1)))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.time() - t0


def host_canary(spark, samples: int = 2) -> list[float]:
    """Canary samples taken after the workload's timed work, behind one
    untimed run of the canary plan (as bench.py). Not interleaved with the
    timed work: runs with the canary ahead of q_diversity_select's passes
    settled near 4 s a pass, runs without it at 2.3-3.3 s."""
    canary(spark)
    return [canary(spark) for _ in range(samples)]


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (the py4j gateway's child process)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    details: dict = field(default_factory=dict)
