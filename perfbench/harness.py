"""Run environment, tracing and statistics shared by the workloads.

Nothing here imports Spark at module load: ``pin_environment`` must set
the environment before the JVM and its Python workers start.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

#: driver heap for the local[nproc] session; the engine default (24g)
#: is sized for a much larger box than the ones this benchmark targets
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work_dir: str) -> dict:
    """Fix everything that changes how the engine runs, before it starts.

    - ``SPARK_GRAFT_CPUS``: without it ``session.default_parallelism``
      is 32 and the session runs oversubscribed at ``local[32]``.
    - ``SPARK_GRAFT_DRIVER_MEM``: the session default is 24g.
    - ``PYTHONPATH``: Python workers spawned by the JVM must import the
      engine package, whose UDFs they run.
    - scratch space (Spark local dirs, Python and Java temp files) goes
      under ``work_dir`` so a run writes only inside its checkout.
    """
    cpus = nproc()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [REPO_ROOT, BENCH_DIR]
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(paths + ([old] if old else [])),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    for p in paths:
        if p not in sys.path:
            sys.path.insert(0, p)
    return {"cpus": cpus, "driver_mem": DRIVER_MEM}


def spark_conf(work_dir: str) -> dict:
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def environment_record(spark) -> dict:
    """Cores, memory and versions, printed with every result."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    return {
        "cpus": nproc(),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "driver_mem": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": java[0] if java else "unknown",
        "python": platform.python_version(),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon it spawned) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()          # the JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process,
    from the kernel's per-process high-water marks."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans (name, start, end, parent, run id) and counters.

    Disabled, ``span`` is a no-op and ``enabled`` tells the workload not
    to force lazy Spark boundaries.  Self time of a span is its duration
    minus the part covered by its direct children.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, list[float]] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None = None) -> int | None:
        """Record a span measured elsewhere (streaming progress);
        returns its index, to be passed as a child's ``parent``."""
        if not self.enabled:
            return None
        self.spans.append({"name": name, "run_id": self.run_id,
                           "parent": parent, "start": start, "end": end})
        return len(self.spans) - 1

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters.setdefault(name, []).append(float(value))

    def self_times(self) -> dict[str, list[float]]:
        """name → self time of every span with that name."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child_time):
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - c)
        return out

    def mean_count(self, name: str) -> float:
        v = self.counters.get(name)
        return sum(v) / len(v) if v else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "counters": self.counters}, f)

    def summary_lines(self) -> list[str]:
        """Per-layer self-time table for the log."""
        rows = []
        for name, v in sorted(self.self_times().items()):
            rows.append(f"  {name:<40s} n={len(v):4d} "
                        f"self_total={sum(v):9.4f}s "
                        f"self_mean={sum(v) / len(v):9.4f}s")
        return rows


class SparkJobs:
    """Spark jobs/stages/tasks per operation, through job groups and
    the status tracker (traced runs only)."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._n = 0
        self.per_op: dict[str, list[tuple[int, int, int]]] = {}

    @contextlib.contextmanager
    def group(self, op_type: str, active: bool = True):
        if not (self.enabled and active):
            yield
            return
        self._n += 1
        gid = f"perfbench-{op_type}-{self._n}"
        self.sc.setJobGroup(gid, op_type)
        try:
            yield
        finally:
            self.record(op_type, gid)
            self.sc.setJobGroup("perfbench-idle", "idle")

    def record(self, op_type: str, gid: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        rec = (len(jobs), stages, tasks)
        self.per_op.setdefault(op_type, []).append(rec)
        return rec

    def means(self) -> tuple[float, float, float]:
        """(jobs, stages, tasks) per operation over all op types."""
        recs = [r for v in self.per_op.values() for r in v]
        if not recs:
            return 0.0, 0.0, 0.0
        n = len(recs)
        return tuple(sum(r[i] for r in recs) / n for i in range(3))

    def by_type(self) -> dict:
        return {k: {"ops": len(v),
                    "jobs": sum(r[0] for r in v) / len(v),
                    "stages": sum(r[1] for r in v) / len(v),
                    "tasks": sum(r[2] for r in v) / len(v)}
                for k, v in self.per_op.items()}


class CheckFailed(Exception):
    """An output check found a mismatch: the run is not correct."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
