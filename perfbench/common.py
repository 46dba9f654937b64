"""Shared plumbing for the benchmark workloads: the Spark session, the
process-tree memory sampler, percentile and directory-size helpers."""

from __future__ import annotations

import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(workdir: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let Python workers import the engine and the benchmark."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # a small heap: the benchmark shares the machine, and its inputs are small
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def start_spark(workdir: str):
    """One local[nproc] session configured by the engine's own factory."""
    from storm_focused_crawler_spark.sources.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        app="perfbench",
        master=f"local[{cores()}]",
        extra={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait until no process this one started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while len(tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile with at least
    ten samples beyond it.  With ten samples or fewer no percentile
    qualifies, and the maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100, n
    k = n - 10  # 1-based rank with exactly ten samples above it
    return xs[k - 1], (100 * k) // n, n


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under *path*."""
    files = size = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            p = os.path.join(dp, f)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


class RssSampler:
    """Peak resident memory of this process, the JVM it started and the
    Python workers below it: the largest sum of their resident sets seen
    by polling /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            me = os.getpid()
            total = sum(_rss(p) for p in tree(me) if _counted(p, me))
            self.peak_bytes = max(self.peak_bytes, total)


def tree(root: int) -> list[int]:
    """*root* and every live descendant process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


def _counted(pid: int, me: int) -> bool:
    """This process, the JVM it started, and Python processes below them."""
    if pid == me:
        return True
    comm = _comm(pid)
    return comm.startswith("python") or (comm == "java" and _ppid(pid) == me)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return -1


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class Timer:
    """Wall-clock stopwatch; ``elapsed`` reads it while running."""

    def __init__(self):
        self.t0 = time.perf_counter()

    @property
    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


def cleanup(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)
