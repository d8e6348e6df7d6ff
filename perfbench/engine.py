"""Spark session and process plumbing for the benchmark.

Everything a run writes lives under ``<checkout>/.bench_work/``: Spark's
local dirs, the JVM and Python temp dirs, generated inputs, streaming
sinks and (kept after the run) the trace files.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")


def config() -> dict:
    """perfbench/config.json: session profile, workload sizes, notes."""
    with open(os.path.join(HERE, "config.json")) as fh:
        return json.load(fh)


def process_start_time() -> float:
    """Wall-clock time at which this process was launched, read from
    /proc so that set-up includes interpreter start-up and imports."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # stat(5) field 22; fields[0] is field 3
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_work_dir() -> str:
    work = os.path.join(WORK_ROOT, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "inputs", "stream"):
        os.makedirs(os.path.join(work, sub))
    return work


def build_session(work: str):
    """local[N] session with the shared profile from config.json; every
    path Spark, the JVM or Python would write to points into ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM of the run, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark.sql import SparkSession

    n = cores()
    builder = (SparkSession.builder.master("local[%d]" % n)
               .appName("perfbench"))
    for key, value in config()["session_conf"].items():
        builder = builder.config(key, value)
    spark = (builder
             .config("spark.sql.shuffle.partitions", str(max(2 * n, 8)))
             .config("spark.local.dir", local)
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict:
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int = None) -> list:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def worker_peak_rss_mb() -> float:
    """Largest VmHWM (peak resident set) among this run's Python workers
    (processes started as ``-m pyspark.daemon`` and the workers they
    fork)."""
    peak_kb = 0
    for pid in descendants():
        try:
            with open("/proc/%d/cmdline" % pid, "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            with open("/proc/%d/status" % pid) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def shutdown(spark) -> None:
    """Stop the session, close the JVM's stdin so it exits, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = set(descendants())
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap(started)


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids=(), timeout: float = 30.0) -> None:
    """Wait for ``pids`` and any remaining descendants to end; kill what
    is still alive after ``timeout`` seconds."""
    def living():
        return [p for p in set(pids) | set(descendants()) if _alive(p)]

    deadline = time.monotonic() + timeout
    while living() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in living():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while living() and time.monotonic() < deadline + 10:
        time.sleep(0.2)
