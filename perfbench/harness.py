"""Session set-up and tear-down, job-group accounting and machine facts.

The session comes from the program's own ``session.get_spark`` with its
defaults. The benchmark sets only the master (``local[nproc]``) and, through
``SPARK_DRIVER_MEMORY``, a heap that fits a small machine. The other
environment variables set here keep Spark's scratch files inside the
checkout; they do not change how a query runs.
"""

from __future__ import annotations

import os
import platform
import subprocess
import time
from contextlib import contextmanager

DRIVER_MEMORY = "2g"


def isolate_env(tmp_dir: str) -> None:
    """Point every scratch directory (Python, Spark block manager, JVM) at
    ``tmp_dir``. Must run before pyspark starts the JVM."""
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData".strip()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup(nproc_: int, tracer):
    """get_spark, package shipping, then a first tiny extraction job with one
    row per core so that every Python worker is spawned. Returns the session
    and the seconds spent in get_spark and in the first job."""
    with tracer.span("session.get_spark", "session"):
        t0 = time.perf_counter()
        from document_extraction_spark import get_spark

        spark = get_spark("perfbench", master=f"local[{nproc_}]")
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.worker_warmup", "session"):
        from document_extraction_spark.plans.extract_pipeline import build_extract_df

        rows = [(f"warm-{i}", 0, "user", None, None, f"<p>warm {i}</p>") for i in range(nproc_)]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, tool string, ts timestamp, text string"
        )
        n = len(build_extract_df(df).collect())
        t2 = time.perf_counter()
    if n != nproc_:
        raise RuntimeError(f"warm-up extraction returned {n} rows, expected {nproc_}")
    return spark, t1 - t0, t2 - t1


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both; the
    JVM stops its Python workers on the way down."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class JobGroups:
    """Names each closed-loop step as a Spark job group and counts its jobs
    and tasks with the StatusTracker once the run is over (the tracker is fed
    asynchronously, so counting right after an action could miss events)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, name: str):
        gid = f"perfbench-{self._n}-{name}"
        self._n += 1
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "jobs_failed": 0, "tasks": 0, "tasks_failed": 0}
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            out["jobs_failed"] += info.status == "FAILED"
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    out["tasks"] += st.numCompletedTasks + st.numFailedTasks
                    out["tasks_failed"] += st.numFailedTasks
        return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(children.get(pid, []))
        todo.extend(children.get(pid, []))
    return out


def worker_rss_peak_mb(root_pid: int) -> float:
    """Largest VmHWM (peak resident set) among the Python workers the JVM
    ``root_pid`` started: the pyspark daemon and the workers it forks."""
    peak_kb = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(since: list[int]) -> float:
    """Share of all CPU time since the ``since`` reading that the hypervisor
    gave to other guests (the ``steal`` column): how much a run's walls were
    stretched by the host rather than by the program."""
    delta = [b - a for a, b in zip(since, cpu_ticks())]
    return delta[7] / max(1, sum(delta))


def machine_info(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }
