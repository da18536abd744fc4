"""Spark session sized from the host it runs on.

``session.get_spark`` defaults to a 64g heap plus 32g off-heap, which a
small host cannot commit. The benchmark keeps ``get_spark`` as shipped and
overrides only the sizes, through ``extra_conf``: ``local[N]`` with N the
CPUs this process may use, and heap / off-heap as shares of
``MemAvailable``.
"""

from __future__ import annotations

import os

# shares of MemAvailable: the corpora are small, so most memory stays free
# for the page cache, the Python workers and other tenants of the host
HEAP_SHARE, HEAP_MAX_MB, HEAP_MIN_MB = 0.15, 4096, 1024
OFFHEAP_SHARE, OFFHEAP_MAX_MB, OFFHEAP_MIN_MB = 0.05, 1024, 256


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemAvailable line in {meminfo}")


def _clamp(value: float, lo: int, hi: int) -> int:
    return int(max(lo, min(hi, value)))


def session_conf(
    scratch: str, avail_mb: int, event_log_dir: str | None = None
) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: memory sized from ``avail_mb`` and
    every scratch path (shuffle, JVM temp, warehouse, event log) inside
    ``scratch``."""
    heap = _clamp(avail_mb * HEAP_SHARE, HEAP_MIN_MB, HEAP_MAX_MB)
    offheap = _clamp(avail_mb * OFFHEAP_SHARE, OFFHEAP_MIN_MB, OFFHEAP_MAX_MB)
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.memory.offHeap.size": f"{offheap}m",
        "spark.local.dir": os.path.join(scratch, "local"),
        # a heap fixed and touched at start keeps the JVM's resident size
        # from following G1's run-to-run heap growth, so peak RSS changes
        # only with what the engine holds off the heap and in Python
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -XX:+AlwaysPreTouch "
        "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(scratch: str, event_log_dir: str | None = None):
    """Start the session; returns (spark, effective config record)."""
    from mapping_analysis_spark.session import get_spark

    cpus = usable_cpus()
    avail = mem_available_mb()
    extra = session_conf(scratch, avail, event_log_dir)
    spark = get_spark("perfbench", cpus=cpus, extra_conf=extra)
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.memory.offHeap.size",
        "spark.sql.shuffle.partitions",
        "spark.default.parallelism",
        "spark.sql.adaptive.enabled",
        "spark.eventLog.enabled",
    )
    effective = {k: conf.get(k, None) for k in keys}
    effective["mem_available_mb"] = avail
    return spark, effective
