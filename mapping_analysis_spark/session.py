"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same configs apply per
executor. AQE is on so skewed blocking-key joins re-plan at runtime
(the reference hand-balanced these with its BlockSplit custom partitioner,
analysis-core .../blocking/blocksplit/BlockSplitTripletCreator.java:49-117).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ram_share(fraction: float, cap_gb: int) -> str:
    """``fraction`` of the host's physical RAM as a JVM size, at most
    ``cap_gb``."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(cap_gb * 1024, int(ram * fraction) >> 20)}m"


def get_spark(
    app_name: str = "mapping_analysis_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls ``local[N]`` parallelism — the sandbox proxy for
    executor count (N vs 4N scaling evidence). Defaults to
    ``$SPARK_GRAFT_CPUS`` or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 4)

    # AQE defaults ON (runtime skew-split + partition coalescing are the
    # right call on a real cluster where stages run for seconds-minutes).
    # SPARK_GRAFT_AQE=false turns it off for latency-bound small-scale runs:
    # every AQE query stage is a separate driver round-trip + re-plan, and
    # when shuffle partitions are already statically sized to the core count
    # and skew is handled by explicit salting, those round-trips are pure
    # serial floor (measured: ~2-3× the job count on the ER pipeline).
    aqe = os.environ.get("SPARK_GRAFT_AQE", "true").lower() != "false"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # spark.default.parallelism stays at Spark's own default: the slot
        # count in local[N], total executor cores on a cluster. It floors
        # ``util.parallel_grouped`` and AQE's coalesced partition count, and
        # sets the file-scan split floor, so every Python-UDF stage (block
        # scorer, per-component merge, MFCC fingerprint) runs as one wave on
        # the slots. Each Python task carries a fixed ~0.35 s start-up
        # charge (README "Python task floor"), so 4× slots cost 4× that
        # charge per stage for no gain on small inputs. Runs that want a
        # finer fan-out pass ``shuffle_partitions``.
        # AQE coalescing is size-based, but grouped-map pandas stages are
        # COMPUTE-heavy per byte: the per-component merge shuffle is ~4 MB
        # for tens of thousands of O(n²) local solves, and the default 1 MB
        # minPartitionSize squeezed it to 3-4 tasks — 4 python workers
        # serializing the whole merge phase at every parallelism level.
        # 64k only binds for such tiny-by-bytes stages; normal stages still
        # coalesce to the advisory size.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio `bytes` rows are ~0.1-0.6 MB: a 10k-row Arrow batch is
        # >1 GB PER python worker (×32 workers = memory thrash that capped
        # the MFCC stage's 8→32-core speedup at ~2.2×); 256 rows ≈ 36 MB
        # keeps workers streaming while staying fully vectorized for
        # narrow-row UDF stages
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # local mode = ONE JVM hosting every task slot: the heap must be
        # sized for cpus × per-task buffers (16g with 32 binary-payload scan
        # tasks GC-thrashed the whole stage), yet fit the host: a fixed 64g
        # heap plus 32g off-heap let a 15 GB host's JVM grow until it ran
        # out of RAM. A quarter of physical RAM, capped at 64g.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _ram_share(1 / 4, 64)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # binary-payload scans (audio `bytes` ~0.1-0.6 MB/row) allocate
        # multi-MB column vectors per batch; ON-heap they churn G1 into a
        # kernel-time collapse at 32 concurrent tasks (measured 130 s for a
        # 5 GB scan vs 10 s off-heap). Off-heap vectors bypass GC entirely
        # and keep numeric scans fully vectorized at the default-sized
        # batch; 1024 rows bounds in-flight memory to ~150 MB/task
        .config("spark.sql.columnVector.offheap.enabled", "true")
        .config("spark.memory.offHeap.enabled", "true")
        # an eighth of physical RAM, capped at 32g
        .config(
            "spark.memory.offHeap.size",
            os.environ.get("SPARK_OFFHEAP", _ram_share(1 / 8, 32)),
        )
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
