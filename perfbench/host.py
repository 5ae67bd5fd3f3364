"""Fit the Spark runner to the host from the benchmark's own files.

Everything is derived here and exported through the environment that
``searchengine_spark.session.get_spark`` already reads, so the engine's
session code runs unchanged:

* cores  = the CPUs this process may run on (what ``nproc`` prints
  without an ``OMP_NUM_THREADS`` cap) → ``SPARK_GRAFT_CPUS``;
* heap   = a quarter of ``MemTotal``, at most 1 GiB per core and at
  least 1 GiB → ``SPARK_DRIVER_MEM``. The session's own default,
  ``max(12, cores)`` GiB pre-touched, does not fit small hosts;
* scratch = ``<work>/spark-local`` → ``SPARK_LOCAL_DIRS``, plus
  ``TMPDIR`` and the JVM's ``java.io.tmpdir`` under ``<work>``, so a
  run reads and writes only inside the checkout;
* ``PYTHONPATH`` = the checkout root, so Spark's Python workers can
  import ``searchengine_spark``.
"""

from __future__ import annotations

import os


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def host_settings(root: str, work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = mem_total_bytes()
    heap_gib = max(1, min(cores, mem // (4 * 2**30)))
    return {
        "cores": cores,
        "mem_total_gib": round(mem / 2**30, 2),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": (
            "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")),
        "PYTHONPATH": root,
    }


def apply(settings: dict) -> None:
    for key, value in settings.items():
        if key.isupper():
            os.environ[key] = value
    os.makedirs(settings["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(settings["TMPDIR"], exist_ok=True)


def spark_conf(work: str) -> dict[str, str]:
    """Extra session settings passed through get_spark(extra_conf=…)."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
