"""Spark session lifetime and the pinned environment of a benchmark run.

All state (fixtures, writer dirs, checkpoints, Spark local dirs, the
event log, temp files) lives under one work directory inside the
checkout. The session runs ``local[<cores>]`` with the cores this
process may use and a driver heap sized to the machine.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover — non-Linux
        return os.cpu_count() or 1


def mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0  # pragma: no cover


def pin_environment(work: str) -> dict[str, str]:
    """Set the variables the library and Spark read, before pyspark is
    imported; returns what was pinned (recorded in the run's output)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap_gb = max(1, min(2, int(mem_total_gb() // 4)))
    pinned = {
        "SPARK_GRAFT_CPUS": str(usable_cores()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers (and the sim_kinesis runner) import the library
        # by module path; without this they fail with ModuleNotFoundError.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def start_session(work: str, cpus: int, extra: dict[str, str] | None = None):
    """A session from the library's own ``get_spark``, with every path pointed
    into ``work``. Returns (spark, seconds taken)."""
    t0 = time.perf_counter()
    from kinesis_iterator_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed, pre-touched heap: the JVM's share of peak RSS is then
        # the configured heap, not wherever G1's resizing happened to
        # stop (which moved it by up to 20% between identical runs).
        # No hsperfdata file: it would be written outside the work dir.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
    }
    conf.update(extra or {})
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _peak_rss_mb(pid: int | None) -> float:
    """A process's peak resident set (VmHWM), in MB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark driver: the JVM plus this Python process."""
    return _peak_rss_mb(jvm_pid(spark)) + _peak_rss_mb(os.getpid())


def restart_session(spark, work: str, cpus: int):
    """Stop ``spark`` and start a session with ``cpus`` cores in the same
    JVM (no event log). Returns (spark, seconds taken)."""
    from kinesis_iterator_spark.streaming import datasource

    datasource.remove_under_drain_guard(spark)
    spark.stop()
    # SparkSession.builder is shared and still holds the first session's
    # options.
    return start_session(work, cpus, {"spark.eventLog.enabled": "false"})


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    from kinesis_iterator_spark.streaming import datasource

    datasource.remove_under_drain_guard(spark)
    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — must not leave it running
            proc.kill()
            proc.wait(timeout=30)
