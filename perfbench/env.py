"""The pinned run environment and the Spark session's lifetime."""

from __future__ import annotations

import os
import signal
import time

from perfbench.trace import descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_env(run_dir: str) -> dict[str, str]:
    """Every core this process may use, a per-run Spark scratch dir that is
    removed with the run, driver memory well within physical RAM, at most
    two glibc malloc arenas, and the checkout on the Python workers' import
    path."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_DRIVER_MEM": f"{min(2048, total_mb // 4)}m",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "MALLOC_ARENA_MAX": "2",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def start_spark(app: str, env: dict[str, str], conf: dict[str, str] | None = None):
    from kafka_es_spark.session import get_spark

    # The serial collector with a fixed young generation grows the heap only
    # when live data needs it, so peak RSS follows what the engine holds;
    # G1 sizes the heap from GC pause times, which vary from run to run.
    base = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} "
        "-XX:-UsePerfData -XX:+UseSerialGC -Xmn256m",
    }
    spark = get_spark(app, shuffle_partitions=int(env["SPARK_GRAFT_CPUS"]),
                      extra_conf={**base, **(conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # a JVM that ignores EOF on stdin is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
