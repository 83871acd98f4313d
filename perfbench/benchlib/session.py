"""Host description and a SparkSession configured from it.

Every figure the benchmark prints is tied to the host it ran on: nproc,
MemTotal, versions, load average at start and the source revision. The
session uses ``local[nproc]``, a driver heap sized from MemTotal, no UI,
and keeps every file it writes under the run's work directory."""

from __future__ import annotations

import os
import platform


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """An eighth of physical memory, clamped to [1 GiB, 8 GiB]: the JVM
    shares the host with the Python driver, nproc Python workers and
    whatever else runs there."""
    return max(1024, min(8192, mem_mb // 8))


def source_revision(root: str) -> str:
    """The commit of a git checkout, read from .git without running git;
    'unknown' for an exported tree."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def host_record(root: str) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_1m_at_start": os.getloadavg()[0],
        "revision": source_revision(root),
    }


def build_session(work_dir: str, event_dir: str | None):
    """local[nproc] session; ``event_dir`` turns the event log on (traced
    runs only). Mirrors bench.py's SQL settings so figures stay
    comparable with the repo's own harness."""
    from pyspark.sql import SparkSession

    cpus = nproc()
    heap_mb = driver_heap_mb(mem_total_mb())
    local_dir = os.path.join(work_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    # -Xms = -Xmx: a fixed-size heap, so the JVM's resident size does not
    # depend on when the collector chose to grow it
    java_opts = (
        f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData -Xms{heap_mb}m"
    )
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aspseek_perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_dir else "false")
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
