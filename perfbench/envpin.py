"""Pin the process environment before pyspark or fsst_spark is imported.

Everything the benchmark and the Spark processes it starts write goes
under ``<root>/.perfbench_work``: temp files (including the native
kernel's compiled ``.so``), Spark's local dirs, the JVM's tmpdir, the
cached corpora and the trace files.
"""

from __future__ import annotations

import os
import sys


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """Driver heap sized to the box: 1/16 of RAM within [512m, 2g].

    The engine's own default is a pre-touched 8g heap, which on a
    small shared box costs start-up time and memory for no benefit at
    the benchmark's corpus sizes."""
    mb = mem_total_bytes() // 16 // (1 << 20)
    return f"{max(512, min(2048, mb))}m"


def pin(root: str) -> dict:
    """Set the variables the engine, the JVM and the Python workers read.

    Returns the pinned settings for the report."""
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cores = nproc()
    settings = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        # Python workers are forked by the JVM's worker daemon and import
        # fsst_spark by name: without the checkout on their path every
        # task fails with ModuleNotFoundError.
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # No hsperfdata in /tmp, JVM temp files inside the checkout.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(settings)
    return {"work": work, "cores": cores, **settings}
