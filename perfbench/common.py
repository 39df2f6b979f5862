"""Shared plumbing for the benchmark workloads: the pinned Spark
environment, the per-run workspace, memory readings and the sample
statistics every workload reports."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

#: Driver JVM heap for every run. The package default (16g) is sized for
#: a larger host; the data here is small, and a heap the runs fill keeps
#: the peak RSS from depending on when the heap happened to grow.
DRIVER_MEMORY = "1g"

WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """A run-private directory tree under the checkout.

    Each run gets ``.perfbench_work/<pid>``; directories left by runs
    whose process is gone are removed first, so no run sees another
    run's log, sinks or checkpoints and repeated runs do not fill the
    disk. ``close`` removes the run's own tree.
    """

    def __init__(self, root: str):
        base = os.path.join(root, WORK_DIR)
        os.makedirs(base, exist_ok=True)
        for name in os.listdir(base):
            if name.isdigit() and not _pid_alive(int(name)):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        self.path = os.path.join(base, str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")
        self.local_dirs = self.sub("spark-local")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """An empty directory at ``parts`` (removed first if present)."""
        p = os.path.join(self.path, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def pin_environment(ws: Workspace) -> dict:
    """Pin what the Spark session reads from the environment: cores,
    local dirs, driver memory and temp dirs, all inside the checkout."""
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": ws.local_dirs,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": ws.tmp,
        # Python-side datetimes (poller offsets) must agree with the
        # session's UTC time zone
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    # get_spark derives shuffle partitions from SPARK_GRAFT_CPUS unless
    # this is set; an inherited value would silently change the plans.
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return env


def start_spark(ws: Workspace):
    """The engine's session (``get_spark``) with the benchmark's pins;
    fails when Spark's parallelism differs from the requested cores."""
    from timescale_cdc_spark.session import get_spark

    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={ws.tmp}"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            # every micro-batch's progress is read after the run
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )
    want = int(os.environ["SPARK_GRAFT_CPUS"])
    got = spark.sparkContext.defaultParallelism
    if got != want:
        raise RuntimeError(
            f"Spark defaultParallelism {got} != requested cores {want}"
        )
    return spark


def environment_record(spark, env: dict) -> dict:
    sc = spark.sparkContext
    return {
        **env,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "spark_version": spark.version,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
    }


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (/proc/stat);
    the difference over a run shows whether the host was contended."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    return (_vm_hwm_kb(jvm_pid(spark)) + _vm_hwm_kb("self")) / 1024.0


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()
    ) / 1000.0


def parquet_stats(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, int]:
    """(value, samples) of the tail of ``xs``: the mean of its slowest
    tenth, at least one sample (the 90% expected shortfall).

    The runs are short, so a percentile would either sit near the median
    or hang on one interpolated sample; this mean always includes the
    slowest operations (in ``cdc_fanout`` the bulk batch) and averages
    over more of them as runs grow."""
    if not xs:
        return float("nan"), 0
    k = math.ceil(len(xs) / 10)
    return statistics.fmean(sorted(xs)[-k:]), k


def sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)

