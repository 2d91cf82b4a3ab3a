"""Process-level plumbing shared by the workloads: locating the library,
the per-run scratch directory, the Spark session, memory and process
accounting, and the summary statistics.

Everything the benchmark writes lives under the checkout it runs from:
``.perfbench_work/`` (scratch, removed when a run ends) and ``.perfbench_out/``
(trace dumps kept after a traced run).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO_ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(REPO_ROOT, ".perfbench_out")

# Driver JVM heap.  local[n] runs every task inside this one JVM; 2g holds the
# hot-cluster pair join and the vector cache with room to spare while the
# whole process tree stays far below a 15 GB machine.
DRIVER_MEMORY = "2g"


def import_library():
    """Put the checkout that holds this file first on ``sys.path`` and import
    the library from it.  Raises ImportError when the checkout carries no
    library (the benchmark is meaningless without it)."""
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    import lsh_search_go_spark

    lib_dir = os.path.dirname(os.path.abspath(lsh_search_go_spark.__file__))
    if os.path.dirname(lib_dir) != REPO_ROOT:
        raise ImportError(f"lsh_search_go_spark resolved to {lib_dir}, "
                          f"not to the checkout at {REPO_ROOT}")
    return lsh_search_go_spark


@contextmanager
def run_dir(tag: str):
    """A fresh scratch directory for one benchmark process, removed on exit."""
    path = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        remove_if_empty(WORK_ROOT)


def remove_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def make_session(work: str, event_log_dir: str | None = None):
    """``local[nproc]`` session whose every file (shuffle, spill, JVM and
    Python temp files, event log) lands under ``work``.  Python workers
    import the same library copy as the driver: they get the checkout on
    PYTHONPATH, and the process moves into the checkout first because the
    worker daemon (``python -m``) puts its working directory ahead of
    PYTHONPATH on ``sys.path``."""
    os.chdir(REPO_ROOT)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp                       # pyspark gateway handshake
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    py_path = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONPATH"] = py_path
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # the whole heap is committed and touched at start-up, so the JVM's
        # peak resident size does not depend on when the collector chose to
        # grow the heap; what varies is what the program adds beyond it
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", py_path)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process this benchmark
    started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()        # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while True:
        alive = [p for p in children if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (from /proc)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        parent[int(name)] = ppid
    out, frontier = [], [root]
    while frontier:
        cur = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == cur]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (``VmHWM``) in MB per process name, summed over
    this process and all of its descendants: the driver, the JVM and the
    Python workers."""
    out: dict[str, float] = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat: the
    share of steal over a window tells host contention from program time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total / 1e6
