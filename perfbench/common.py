"""Run plumbing shared by the workloads: timing statistics, the run
context (session, tracer, counters, metrics), memory and host signature."""

from __future__ import annotations

import math
import os
import platform
import statistics
import subprocess
import time

import numpy as np

from perfbench.trace import SparkJobs, Tracer

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1). Refuses, with ValueError,
    when fewer than ``MIN_TAIL`` samples lie beyond it."""
    n = len(values)
    beyond = n - math.ceil(q * n)
    if beyond < MIN_TAIL:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {beyond} beyond it; need {MIN_TAIL}"
        )
    return sorted(values)[math.ceil(q * n) - 1]


def timing(values: list[float], unit: str = "s") -> dict:
    """Median, sample count and the highest of p90/p99 that the samples
    support."""
    out = {"value": statistics.median(values) if values else None, "unit": unit,
           "n": len(values)}
    for q in (0.99, 0.9):
        try:
            out[f"p{q * 100:g}"] = percentile(values, q)
            break
        except ValueError:
            pass
    return out


def dir_usage(path: str) -> tuple[int, int]:
    """Files and bytes under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for {pid}")


class Run:
    """One workload run: its session, tracer, op counters and metrics.

    ``failed`` counts ops that raised, failed a check or showed a known
    defect (``failures`` describes them); ``wrong`` lists the wrong answers
    that no known defect explains, and makes the run incorrect.
    """

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 root: str, work: str, t0: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.root, self.work, self.t0 = root, work, t0
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.wrong: list[str] = []
        self.detail: dict[str, dict] = {}  # workload-specific metrics
        self.layers: dict[str, float] = {}  # per-layer metrics (traced)

    def session(self):
        from stackai_vector_db_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t
        if self.tracer.enabled:
            self.tracer.jobs = SparkJobs(self.spark)
            self.tracer.jobs.new_jobs()  # skip the start-up jobs
        return self.spark

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def fail(self, what: str, wrong: bool, ops: int = 1) -> None:
        self.failed += ops
        self.failures.append(what)
        if wrong:
            self.wrong.append(what)

    def metric(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.detail[name] = {"value": value, "unit": unit, "n": n}

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM it launched."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb() + vm_hwm_mb(jvm)


def host_signature(spark, root: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024 if mem_kb else None,
        "heap": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "commit": git_commit(root),
    }


def git_commit(root: str) -> str | None:
    """The checked-out commit; None outside a git checkout."""
    # the ceiling keeps git from taking up a repository above the checkout
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        p = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=30, env=env)
    except (OSError, subprocess.SubprocessError):
        return None
    return p.stdout.strip() if p.returncode == 0 else None
