"""Helpers shared by the benchmark's workloads: percentiles, the per-run
sandbox, the Spark session and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4

with open(os.path.join(HERE, "workloads.json")) as _f:
    CONFIG = json.load(_f)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); +inf entries sort
    last, so a never-served item can set a high percentile."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[hi] == v[lo]:
        return v[lo]
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


class Sandbox:
    """Per-run temp dir inside the checkout; every temp file of the run
    (Python, JVM, Spark, the engine's mkdtemp work dirs) lands in it."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        os.environ["TMPDIR"] = self.dir
        tempfile.tempdir = self.dir
        self._n = 0
        self._cleanups: list = []

    def defer(self, fn) -> None:
        """Run ``fn`` at the end of the run, before the JVM stops (last
        deferred first); used to stop every process and pipeline the run
        started, also when it fails."""
        self._cleanups.append(fn)

    def run_deferred(self) -> None:
        while self._cleanups:
            fn = self._cleanups.pop()
            try:
                fn()
            except Exception:  # noqa: BLE001 — keep stopping the rest
                pass

    def fresh(self, name: str) -> str:
        self._n += 1
        d = os.path.join(self.dir, f"{name}-{self._n}")
        os.makedirs(d)
        return d

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


class Session:
    """Start the Spark session; at the end, stop it and the driver JVM."""

    def __init__(self, sandbox: Sandbox) -> None:
        self.sandbox = sandbox
        self.spark = None

    def start(self):
        from go_pq_cdc_elasticsearch_spark.session import get_spark

        d = self.sandbox.dir
        # the launcher JVM that spark-submit starts first gets the same
        # tmpdir and no perf-data file under /tmp
        jvm_opts = f"-Djava.io.tmpdir={d} -XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
        self.spark = get_spark(
            "perfbench",
            cpus=CPUS,
            extra_conf={
                "spark.local.dir": os.path.join(d, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(d, "warehouse"),
                "spark.driver.extraJavaOptions": jvm_opts,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the context, then end the JVM and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": int(max(attempted, 1)),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
