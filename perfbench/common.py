"""Run context and result record shared by the workloads."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty sample."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    if len(vals) == 1:
        return float(vals[0])
    k = (len(vals) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (k - lo))


@dataclass
class Outcome:
    """What one workload run produced: metrics, checks and counts."""

    metrics: dict = field(default_factory=dict)  # contract metric -> (value, unit)
    named: dict = field(default_factory=dict)  # workload-specific names -> (value, unit)
    layers: dict = field(default_factory=dict)  # per-layer metric -> value
    checks: dict = field(default_factory=dict)  # check -> {"passed", ...}
    known_defects: list = field(default_factory=list)  # checks expected to fail
    notes: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """An output check: one attempted operation, failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks[name] = {"passed": bool(ok), **({} if ok else {"detail": detail})}
        return ok

    @property
    def correct(self) -> bool:
        return all(c["passed"] for n, c in self.checks.items() if n not in self.known_defects)


class Context:
    """Per-run settings and services handed to a workload."""

    def __init__(self, root: str, seed: int, seconds: int, tracer, t0: float, cores: int):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.t0 = t0
        self.cores = cores
        self.work = os.path.join(root, ".perfbench_work")
        self.data = os.path.join(self.work, "data")
        self.run_dir = os.path.join(self.work, "run")
        self.helpers: set[int] = set()  # helper pids, left out of peak RSS
        self.input_s = 0.0  # time spent generating inputs, not set-up
        self.setup_s: float | None = None
        self._session_ready: float | None = None
        self._spark = None

    def timed_input(self, fn, *args, **kwargs):
        """Run an input-generation step; its time is kept out of set-up."""
        t = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            self.input_s += time.monotonic() - t

    def session(self, cores: int | None = None):
        """The Spark session: ``local[cores]``, UTC, every scratch path
        inside the work directory."""
        from pyspark.sql import SparkSession

        cores = cores or self.cores
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        self._spark = spark
        if self._session_ready is None:
            self._session_ready = time.monotonic()
        return spark

    def stop_session(self) -> None:
        if self._spark is not None:
            self._spark.stop()
            self._spark = None

    def mark_setup(self, workload_setup_s: float) -> None:
        """Set-up = process start → session ready (less input generation)
        plus the workload's own set-up (a median where it is repeated)."""
        self.setup_s = self._session_ready - self.t0 - self.input_s + workload_setup_s
