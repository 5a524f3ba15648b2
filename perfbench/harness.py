"""Run plumbing shared by the workloads: the Spark session, the work
directory, the process-tree RSS sampler, the host record and the
summary statistics.  Nothing here gates, drops or rescales a run."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

# local[3] on a 4-core host leaves one core for the Python driver, GC
# and the OS (see README.md)
MASTER = "local[3]"
DRIVER_MEMORY = "2g"


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def ratio(num: float, den: float) -> float:
    """num / den, 0 when nothing was attempted (a layer the workload
    does not touch)."""
    return num / den if den else 0.0


def warm_median(pass_walls: list[float], warmup: int) -> float:
    """Median wall of the passes after the first ``warmup`` ones; the
    last pass when the window held no more than the warm-up."""
    warm = pass_walls[warmup:] or pass_walls[-1:]
    return median(warm)


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants, from /proc."""
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
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak RSS of this process and every descendant (the JVM and its
    Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class WorkDir:
    """Everything a run writes lives under ``<checkout>/.perfbench_work``
    and is removed when the run ends."""

    def __init__(self, root: Path):
        self.path = root / ".perfbench_work" / str(os.getpid())

    def __enter__(self) -> Path:
        for sub in ("tmp", "spark-local", "eventlog", "data"):
            (self.path / sub).mkdir(parents=True, exist_ok=True)
        return self.path

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()
        except OSError:
            pass  # another run still uses it, or it is not empty


def prepare_env(repo: Path, work: Path) -> None:
    """Environment for the JVM and the Python workers, set before the
    session starts: the checkout on PYTHONPATH (workers unpickle the
    engine's UDFs by import), and every temp and scratch path inside
    the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(repo), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata under /tmp, JVM temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def start_session(work: Path, trace: bool):
    import polars_iptools_spark as ip

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                # the Spark 4 defaults write zstd-compressed rolling logs
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = ip.get_spark(
        app_name="perfbench", master=MASTER, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def host_record_start() -> dict:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "BENCH"))
    import sysload

    meter = sysload.ExternalCpuMeter().__enter__()
    return {"meter": meter, "load_start": loadavg()}


def host_record_end(state: dict) -> dict:
    import sysload

    meter = state["meter"]
    meter.__exit__(None, None, None)
    return {
        "nproc": os.cpu_count(),
        "master": MASTER,
        "load_start": state["load_start"],
        "load_end": loadavg(),
        "external_cores_avg": meter.external_cores_avg,
        "cpu_calibration": sysload.cpu_calibration(os.cpu_count()),
    }
