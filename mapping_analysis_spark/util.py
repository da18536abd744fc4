"""Engine utilities.

``materialize`` — cut lineage by writing a DataFrame to parquet and
reading it back. Used instead of ``localCheckpoint`` inside driver loops:
in the sandbox's Spark build, repeated (local)checkpoints stop truncating
re-execution after ~16 accumulated calls per session (each subsequent
materialization re-runs the whole chain, doubling per iteration), while a
parquet round-trip is a definitive cut at flat cost (~0.5 s for loop-state
sized data). On a cluster, point ``SPARK_GRAFT_TMP`` at shared storage
(HDFS/S3) — the same pattern Flink's iterate achieves with its
intermediate result partitions.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

_BASE: str | None = None


def _base_dir() -> str:
    global _BASE
    if _BASE is None:
        root = os.environ.get("SPARK_GRAFT_TMP")
        if root:
            os.makedirs(root, exist_ok=True)
            _BASE = tempfile.mkdtemp(prefix="mas_mat_", dir=root)
        else:
            _BASE = tempfile.mkdtemp(prefix="mas_mat_")
        atexit.register(shutil.rmtree, _BASE, ignore_errors=True)
    return _BASE


def materialize(df, path: str | None = None) -> DataFrame:
    """Write ``df`` to parquet and return a DataFrame reading it back —
    a hard lineage cut. ``path`` may be provided to reuse/alternate a
    fixed location (bounded disk in loops); otherwise a fresh temp subdir
    is used.

    ``df`` may also be a pandas frame on the driver (the single-pass
    clustering lane's scored pairs and edges): a driver-local path is
    written there with pyarrow — no Spark job — and read back with the
    frame's own schema, so the result lands in the same place, in the
    same form, as the distributed path's."""
    if path is None:
        path = os.path.join(_base_dir(), uuid.uuid4().hex)
    if not isinstance(df, DataFrame):
        from pyspark.sql import SparkSession

        spark = SparkSession.active()
        if "://" in path:
            return materialize(spark.createDataFrame(df), path)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        table = pa.Table.from_pandas(df, preserve_index=False)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        return spark.read.schema(from_arrow_schema(table.schema)).parquet(path)
    spark = df.sparkSession
    # Small rowgroups (8 MB vs the 128 MB default): parquet splits only at
    # rowgroup boundaries, so a materialized table written as a few
    # AQE-coalesced partitions is otherwise re-read at ~#rowgroups-way
    # parallelism no matter how many cores the cluster has — measured as a
    # data-proportional non-scaling term in the N-vs-4N bench (the 4-core
    # level saturates on 4 read tasks; the 16-core level idles 12 slots).
    df.write.mode("overwrite").option(
        "parquet.block.size", str(8 * 1024 * 1024)
    ).parquet(path)
    return spark.read.parquet(path)


def parquet_rows(path: str) -> int | None:
    """Row count of a driver-local parquet directory from its file footers
    — a metadata read that costs no Spark job. None for remote URIs, an
    empty glob (e.g. a schemeless shared-FS default FS where the path is
    not on the driver's disk) or any pyarrow failure; callers then count
    with Spark or take their general path."""
    if "://" in path:
        return None
    try:
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:  # ArrowInvalid is a ValueError; OSError on races
        return None


def loop_paths(n: int = 2, tag: str = "loop") -> list[str]:
    """n alternating materialization paths for a driver loop (iteration i
    writes paths[i % n], so disk stays bounded while the previous
    iteration's data remains readable)."""
    base = os.path.join(_base_dir(), f"{tag}_{uuid.uuid4().hex[:8]}")
    return [f"{base}_{i}" for i in range(n)]


def parallel_grouped(df: DataFrame, *keys: str, factor: int = 1) -> DataFrame:
    """Hash-repartition by ``keys`` with an EXPLICIT partition count, for use
    immediately before a grouped-map (``groupBy(keys).applyInPandas``) stage.

    AQE's partition coalescing sizes post-shuffle partitions by BYTES; a
    grouped-map stage's cost is Python CPU per group, which that heuristic
    cannot see. Measured on the streaming micro-batch profile: the
    per-component merge's shuffle (a few MB of narrow state) was coalesced to
    ONE post-shuffle partition, so the whole merge ran as a single ~10 s task
    at every parallelism level — the dominant term of the per-batch serial
    floor. An explicit ``repartition(n, keys)`` plants a REPARTITION_BY_NUM
    shuffle, which AQE is not allowed to coalesce, and its
    ``HashPartitioning(keys, n)`` output satisfies the grouped-map's
    ClusteredDistribution requirement, so the planner inserts no second
    exchange — same shuffle count, restored parallelism.

    ``n`` is ``max(spark.sql.shuffle.partitions, defaultParallelism)``.
    ``get_spark`` leaves default parallelism at the slot count, so by
    default the stage runs as one wave of Python tasks on the slots (each
    Python task has a fixed start-up charge, so more waves cost more on
    small inputs); the scale jobs pass ``shuffle_partitions`` = 4× cores
    for finer partitions under skew.
    """
    spark = df.sparkSession
    # ``factor`` > 1 is for NARROW, compute-heavy grouped stages with
    # heavy-tailed group costs (the per-component merge: stage event logs
    # showed 8 of 73 tasks carrying half the stage's core-seconds and a
    # 55 s straggler tail at 16 cores — finer hash partitions isolate the
    # heavy groups and halve the tail). Do NOT raise it for data-heavy
    # shuffles: 4× reducers on the token-replicated scorer shuffle
    # measured 2.5× the stage's core-seconds (shuffle fragmentation +
    # per-task fixed cost dominate when each reduce partition is large).
    n = factor * max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    return df.repartition(n, *keys)
