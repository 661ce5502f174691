"""Pinned run environment, Spark session lifecycle, and Spark's own task
metrics read from the monitoring REST API."""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

CORES = 4  # local[4] and one client thread: the box the figures are quoted for
DRIVER_MEM = "3g"  # local mode: the driver JVM hosts all four executor threads


def pin_environment(root: str, work: str) -> list[int]:
    """Pin cores, Spark sizing and every scratch path inside ``work``.
    Returns the cores the process tree is pinned to."""
    cores = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cores)  # children (JVM, Python workers) inherit it
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(cores)),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        # Spark's Python workers import the package from the checkout
        PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        # spark-submit's short-lived launcher JVM: keep its files in the checkout too
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):  # the program's own defaults
        os.environ.pop(k, None)
    return cores


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters: user, nice, system, idle, iowait,
    irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_cores(since: list[int], seconds: float) -> float:
    """Cores' worth of time the hypervisor gave to other guests since ``since``."""
    return (cpu_ticks()[7] - since[7]) / os.sysconf("SC_CLK_TCK") / seconds


def host_busy(sample_s: float = 0.5) -> float:
    """CPU cores kept busy by other processes (or taken by the hypervisor)
    during a short sample: whole-host busy time minus this process's own."""

    def snap():
        v = cpu_ticks()
        return sum(v) - v[3] - v[4], sum(os.times()[:4])

    b0, o0 = snap()
    t0 = time.monotonic()
    time.sleep(sample_s)
    b1, o1 = snap()
    hz = os.sysconf("SC_CLK_TCK")
    return max(0.0, ((b1 - b0) / hz - (o1 - o0)) / (time.monotonic() - t0))


def start_spark(work: str, ui: bool):
    """SparkSession for the pinned environment. The UI (and with it the
    monitoring REST API) is on only in traced runs."""
    from search_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
        },
    )


def warm_workers(spark) -> None:
    """One tiny Arrow UDF job per core: starts the Python workers and
    imports the package in them."""

    def touch(batches):
        import search_engine_spark.functions.tokenize  # noqa: F401

        yield from batches

    spark.range(0, CORES, numPartitions=CORES).mapInPandas(touch, "id long").count()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, shut the gateway JVM down and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc
    procs = [jvm.pid] + _descendants(jvm.pid)
    spark.stop()
    gw.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in procs):
        if time.monotonic() > deadline:
            for p in procs:
                if _alive(p):
                    os.kill(p, 9)
            break
        time.sleep(0.05)


class SparkStats:
    """Task metrics per job group, from Spark's status tracker (job and
    stage ids) and monitoring REST API (per-stage task metrics)."""

    FIELDS = ("spark.jobs", "spark.tasks", "spark.shuffle_write_mb",
              "spark.spill_mb", "spark.gc_s", "spark.executor_cpu_s")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._n = 0

    def group(self, label: str) -> str:
        self._n += 1
        gid = f"{label}-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def collect(self, gid: str, timeout_s: float = 10.0) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(gid))
        stage_ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        deadline = time.monotonic() + timeout_s
        while True:  # the status store is fed asynchronously by the listener bus
            stages = [a for s in stage_ids for a in self._get(f"/stages/{s}")]
            if all(a["status"] not in ("ACTIVE", "PENDING") for a in stages) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        ran = [a for a in stages if a["status"] != "SKIPPED"]
        return {
            "spark.jobs": float(len(jobs)),
            "spark.tasks": float(sum(a["numCompleteTasks"] for a in ran)),
            "spark.shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in ran) / 2**20,
            "spark.spill_mb": sum(a["diskBytesSpilled"] for a in ran) / 2**20,
            "spark.gc_s": sum(a.get("jvmGcTime", 0) for a in ran) / 1e3,
            "spark.executor_cpu_s": sum(a["executorCpuTime"] for a in ran) / 1e9,
        }
