"""Run environment, Spark start, memory reading and the HTTP client the
workloads share."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".bench_work")
DRIVER_MEMORY = "2g"


def pin_environment() -> dict[str, str]:
    """Pin what the package reads from the environment, before pyspark is
    imported. Returns the recorded settings.

    - ``local[nproc]``: the session factory reads ``SPARK_GRAFT_CPUS``;
    - ``SPARK_DRIVER_MEMORY``: the factory's default is 48g, more than
      many hosts have;
    - ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside the checkout, so shuffle
      files and the package's temp dirs stay there;
    - ``PYTHONPATH`` at the repo root, so Python workers started by
      ``mapInPandas`` import the package whatever the working directory.
    """
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def start_spark(tracer=None):
    """The package's session factory with the benchmark's run-local
    settings; returns (spark, wall seconds taken, CPU seconds used so
    far), the first job included."""
    from py_gtfs_duckdb_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # every JIT compiler thread lives as long as the JVM, so
            # cpu_seconds can leave their time out (see there)
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(WORK, "tmp") + " -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.range(1).count()
    elapsed = time.perf_counter() - t
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tracer.spans.append({
            "id": 0, "name": "session.start", "parent": None, "op": "setup",
            "thread": 0, "phase": "setup", "start": t, "end": t + elapsed,
        })
    return spark, elapsed, cpu_seconds(spark)


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM child, from
    /proc VmHWM (high-water marks, summed)."""
    kb = _vm_hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


def _proc_cpu_s(pid: int) -> float:
    """User + system time of a process and of its children that have
    ended and been waited for (utime, stime, cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def _jit_cpu_s(pid: int) -> float:
    """User + system time of the JVM's JIT compiler threads."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, fields = stat[stat.index("(") + 1:].rsplit(")", 1)
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = fields.split()
            total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(spark) -> float:
    """CPU time (user + system) used so far by this Python process, its
    JVM and the JVM's Python workers: work done, whatever share of the
    host's CPUs the run got. A worker that has ended still counts, in
    the process that waited for it.

    The JVM's JIT compiler threads are left out: compiling keeps lowering
    a call's CPU time for a dozen calls and more, and its share varies
    from run to run by more than a change worth measuring."""
    t = os.times()
    total = t.user + t.system
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += sum(_proc_cpu_s(p) for p in [proc.pid, *descendants(proc.pid)])
        total -= _jit_cpu_s(proc.pid)
    return total


def http_get(url: str, timeout: float = 120.0) -> tuple[int, bytes, float]:
    """(status, body, seconds). Non-2xx statuses return, not raise."""
    t = time.perf_counter()
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            status, body = resp.status, resp.read()
    except urllib.error.HTTPError as exc:
        status, body = exc.code, exc.read()
    return status, body, time.perf_counter() - t


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1, whole percents) by
    statistics.quantiles' inclusive method."""
    if not values:
        return float("nan")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


@dataclass
class Result:
    """What one run reports. ``e2e`` holds the metrics BENCHMARK.json gates;
    ``named`` the workload's own end-to-end figures; ``layers`` the traced
    per-layer figures."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    @property
    def correct(self) -> bool:
        return not self.problems


class Ctx:
    """What run.py hands a workload."""

    def __init__(self, spark, start, seed, seconds, tracer, run_dir):
        self.spark, self.seed = spark, seed
        self.start_s, self.start_cpu_s = start  # Spark start: wall, CPU
        self.seconds, self.tracer, self.run_dir = seconds, tracer, run_dir
        self._setup: tuple[float, float] | None = None

    def begin_setup(self) -> None:
        self._setup = (time.perf_counter(), cpu_seconds(self.spark))

    def end_setup(self, res) -> None:
        """Record set-up since begin_setup, Spark start included: CPU
        seconds as the gated ``setup_s``, wall seconds beside it."""
        wall, cpu = self._setup
        res.e2e["setup_s"] = (self.start_cpu_s + cpu_seconds(self.spark) - cpu, "s")
        res.named["setup_wall_s"] = (self.start_s + time.perf_counter() - wall, "s")

    def span(self, name, **kw):
        """A tracer span, or nothing on an untraced run."""
        return self.tracer.span(name, **kw) if self.tracer else contextlib.nullcontext()

    def phase(self, name: str) -> None:
        """Mark what follows as "warm-up" (left out of the per-layer
        figures) or "measure"."""
        if self.tracer:
            self.tracer.phase = name


def fresh_dir(*parts: str) -> str:
    path = os.path.join(*parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
