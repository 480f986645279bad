"""Spark session sized for the machine the benchmark runs on.

``local[nproc]``, a driver heap well under physical memory, no UI and no
console progress bar, and every scratch file (Spark local dirs, JVM and
Python temp files) under one directory inside the checkout.  The repo root
goes on ``PYTHONPATH`` before the JVM starts, so the Python workers it
forks can import the package even when the benchmark is launched from
outside the repo root.
"""

from __future__ import annotations

import os
import sys


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def physical_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def prepare_env(repo_root: str, tmp_root: str) -> None:
    """Environment the JVM and its Python workers inherit."""
    os.makedirs(tmp_root, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp_root
    # every JVM, including spark-submit's launcher: temp files under
    # tmp_root and no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_root} -XX:-UsePerfData"
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)


def driver_memory_mb() -> int:
    """A quarter of physical memory, capped at 1.5 GiB: the benchmark's
    corpora are tens of MB, and the machine is shared."""
    return max(1024, min(1536, physical_mb() // 4))


def start_session(tmp_root: str, cpus: int):
    from pyspark.sql import SparkSession

    local_dir = os.path.join(tmp_root, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(tmp_root, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(8, 2 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
