"""Session set-up for the benchmark.

``configure_env`` sizes the engine's session for this machine through
the environment variables ``get_spark`` already reads, and keeps
every scratch file inside the checkout.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes lives under here (git-ignored)
WORK = os.path.join(ROOT, ".perfbench")


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env() -> dict[str, str]:
    """Set the session sizing and scratch locations; returns them."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of physical memory, capped: inputs are small, and the
    # machine's memory may be shared
    driver_mb = min(4096, mem_total_mb() // 4)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM spark-submit starts to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


def start_session(cpus: int | None = None, shuffle_partitions: int | None = None):
    """``get_spark`` with the console progress bar off and the JVM's
    temp files inside the checkout."""
    from mpi_mapreduce_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    return get_spark(
        cpus=cpus,
        shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
