"""Process and session plumbing shared by every workload: the checkout
check, the environment the JVM and Python workers inherit, Spark session
start and full shutdown, the /proc memory sampler and the environment
record."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_out"
CORES = 4
ARROW_BATCH = 65536


def require_checkout() -> None:
    """The benchmark measures the package in the checkout it sits in; a
    directory without it is an error, not a silent import from elsewhere."""
    if not (ROOT / "liblognorm_spark" / "__init__.py").is_file():
        raise SystemExit(f"perfbench: no liblognorm_spark package under {ROOT}; "
                         "run from the root of a full checkout")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def prepare_process_env() -> None:
    """Keep every file the run writes inside the checkout, let the Python
    workers import the package from it, and silence the console progress
    bar (stdout carries the result)."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def start_session(cores: int = CORES):
    """Start the session through the package's own factory; returns
    (spark, seconds)."""
    from liblognorm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cpus=cores)
    return spark, time.perf_counter() - t0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark, then the JVM the gateway launched, and wait for it (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ------------------------------------------------------------- memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the resident memory of a process tree (the driver JVM and
    its Python workers) from /proc every ``interval`` seconds."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(self.pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss(self.pid))
        return self.peak


# ------------------------------------------------------------- records

def spark_confs(spark) -> dict:
    conf = spark.conf
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.adaptive.enabled",
        "spark.sql.files.maxPartitionBytes",
    )
    return {k: conf.get(k, None) for k in keys}


def environment(seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 2),
        "load_1m_start": os.getloadavg()[0],
        "seed": seed,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile_with_tail(xs: list[float], tail: int = 10):
    """The highest percentile of ``xs`` with at least ``tail`` samples
    beyond it, as (percent, value), or None when there are too few."""
    n = len(xs)
    if n <= tail:
        return None
    k = n - tail - 1
    return round(100.0 * (k + 1) / n, 1), sorted(xs)[k]
