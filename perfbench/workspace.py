"""Run environment: work dirs inside the checkout, a Spark session
sized to the host it runs on, and host telemetry (loadavg, CPU steal,
peak RSS).

Everything a run writes lives under ``<checkout>/.perfbench_work/``:
the per-run work dir (landing, state, checkpoints, generated inputs,
Spark local dirs, the SQL warehouse) is deleted when the run ends;
``tmp/`` (shared TMPDIR, which also caches the Avro C kernel build)
and ``reports/`` (one JSON report per run) persist.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

#: checkout root: the parent of this benchmark's directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(BASE, "tmp")
REPORTS = os.path.join(BASE, "reports")

#: Spark driver JVM heap: inside physical RAM with room for the Python
#: workers (the package default of 48g exceeds small hosts)
DRIVER_MEM = "3g"


def log(*parts) -> None:
    """Progress lines go to stderr; stdout carries only the result."""
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from /proc/stat; the
    steal share of a run shows how much CPU the host took away."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


class Workspace:
    """One run's work tree; ``close()`` removes it."""

    def __init__(self, tag: str):
        self.dir = os.path.join(BASE, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for d in (self.dir, TMP, REPORTS):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def start_spark(ws: Workspace, app: str, trace: bool,
                shuffle_partitions: int | None = None):
    """``get_spark(cpus=nproc)`` with the run's dirs, the package
    importable by Python workers, and console progress off. Static
    configs ride PYSPARK_SUBMIT_ARGS because ``get_spark`` builds the
    session itself. The traced run raises the status store's retention
    so no job of a run is evicted before its span reads it."""
    env = os.environ
    env["TMPDIR"] = TMP
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ws.path("warehouse"),
        "spark.local.dir": ws.path("spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP} -Dderby.system.home={ws.dir}",
    }
    if trace:
        confs.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    import shlex
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    from datastream_delta_plugins_spark.session import get_spark
    spark = get_spark(app, cpus=nproc(),
                      shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and every live descendant (the
    JVM and its Python workers), read before the session stops."""
    total_kb, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo += _children(pid)
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Clock:
    """Monotonic seconds since the process started its set-up."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def since(self) -> float:
        return time.perf_counter() - self.t0
