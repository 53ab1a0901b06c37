"""Closed-loop client: one client, one statement at a time, against a
LightningContext (and its REST server) on a local Spark session.

A run has three untimed-input steps and two timed ones:

1. inputs      seeded parquet files             (excluded from setup_s)
2. session     SparkSession from ``get_spark``   (setup_s)
3. setup       warehouse/lake population, server (setup_s)
4. statements  generated with expected results  (excluded from setup_s)
5. warm-up     untimed statements of each kind; writes go to objects
               whose state no timed statement checks (setup_s)

then the timed loop over the statements. ``setup_s`` is the wall time
from process start to the first timed statement minus steps 1 and 4,
which are the benchmark's own work.
"""

from __future__ import annotations

import os
import tempfile
import time
from dataclasses import dataclass, field
from typing import Optional

from check import Stmt, check

PROCESS_T0 = time.perf_counter()


@dataclass
class Result:
    idx: int
    stmt: Stmt
    lat_ms: float
    error: Optional[str]
    info: dict = field(default_factory=dict)


class RunEnv:
    """Paths and shared handles of one run. All files live under
    ``run_dir`` (removed by the caller); ``excluded_s`` accumulates the
    benchmark's own input and oracle work."""

    def __init__(self, run_dir: str, seed: int):
        self.run_dir, self.seed = run_dir, seed
        self.spark = None
        self.excluded_s = 0.0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def excluded(self):
        return _Stopwatch(self)


class _Stopwatch:
    def __init__(self, env):
        self.env = env

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        self.env.excluded_s += time.perf_counter() - self.t0
        return False


class Workload:
    """One traffic mix. Subclasses fill in the steps; ``execute`` runs a
    statement and returns (rows as tuples, extra info)."""

    name = ""

    def __init__(self, env: RunEnv, tag: str = "a"):
        self.env, self.tag = env, tag
        self.ctx = None

    def dir(self, *parts: str) -> str:
        return self.env.path(self.tag, *parts)

    def make_inputs(self) -> None:
        pass

    def setup(self) -> None:
        from lightning_metastore_spark.context import LightningContext
        self.ctx = LightningContext(self.env.spark,
                                    warehouse=self.dir("warehouse"))

    def statements(self) -> list[Stmt]:
        raise NotImplementedError

    def warmup(self) -> None:
        pass

    def execute(self, st: Stmt) -> tuple[list[tuple], dict]:
        return [tuple(r) for r in self.ctx.sql(st.text).collect()], {}

    def close(self) -> None:
        pass


# -- Spark session --------------------------------------------------------

def configure_spark_env(run_dir: str, traced: bool) -> None:
    """Environment for ``get_spark``: ``local[nproc]`` (or
    ``SPARK_GRAFT_CPUS``), temp and local dirs inside the run directory
    unless ``SPARK_LOCAL_DIRS`` names one, no console progress bars."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if traced:
        # the status tracker must keep every job of the traced loop
        confs += ["spark.ui.retainedJobs=100000",
                  "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"


def start_spark():
    from lightning_metastore_spark.session import get_spark
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then reap
            proc.kill()
            proc.wait(timeout=30)


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    total = vm_hwm_mb("self")
    pid = jvm_pid()
    if pid is not None:
        total += vm_hwm_mb(pid)
    return total


# -- the closed loop ----------------------------------------------------------

def run_loop(wl: Workload, stmts: list[Stmt], cap_s: float,
             tracer=None, groups=None) -> list[Result]:
    """Run ``stmts`` in order, one at a time. Statements still pending
    after ``cap_s`` seconds are not attempted."""
    results = []
    t_start = time.perf_counter()
    for i, st in enumerate(stmts):
        if time.perf_counter() - t_start > cap_s:
            break
        if groups is not None:
            groups.set(i)
        if tracer is not None:
            tracer.begin(i)
        t0 = time.perf_counter()
        rows, info, err = None, {}, None
        try:
            rows, info = wl.execute(st)
        except Exception as e:  # noqa: BLE001 — a failed statement is data
            err = f"{type(e).__name__}: {str(e).strip()[:300]}"
        t1 = time.perf_counter()
        if tracer is not None:
            root = tracer.end(err is not None)
            t0, t1 = root.t0, root.t1
        if err is None:
            mismatch = check(st, rows)
            if mismatch is not None:
                err = f"wrong result: {mismatch}"
        results.append(Result(i, st, (t1 - t0) * 1000.0, err, info))
    if groups is not None:
        groups.clear()
    return results
