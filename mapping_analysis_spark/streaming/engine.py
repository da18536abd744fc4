"""Streaming entity-resolution engine (foreachBatch micro-batch driver).

Re-creates the reference's incremental clustering protocol
(clusterstrategies/MultiIncrementalClusteringFunction.java:55-138 —
INITIAL_CLUSTERING / VERTEX_ADDITION) as a Structured Streaming job:

* source: file stream over the clips table directory (on a cluster this is
  ``spark.readStream.format("iceberg")`` — the file-stream source keeps the
  sandbox dependency-free; the engine only assumes an append-only table).
* per micro-batch (``foreachBatch``): union the state clusters that share
  a blocking key or an LSH band key with an arrival (the AFFECTED
  clusters) with the new arrivals and re-cluster that working set with
  the batch path's ``cluster_rounds`` (candidate components, then a
  greedy merge per component); every other cluster is carried over
  unchanged (the reference recomputes per affected key group too:
  VERTEX_ADDITION unions representatives ∪ new vertices). Finding the
  affected clusters reconstructs and scans the whole state, so the
  lookup grows with the corpus, not with the batch.
* state: log-structured parquet versions — per batch a DELTA
  ``state_dir/d=<batch_id>`` holding only the updated clusters (``rows/``)
  plus the ids consumed from prior state (``removed/`` tombstones), with a
  periodic full-snapshot compaction ``state_dir/v=<batch_id>`` every
  ``compact_every`` batches. Between compactions the state WRITES scale
  with the batch (touched clusters); every READ reconstructs
  ``state = base ∘ deltas`` (anti-join tombstones, union rows; tombstone
  sets are batch-sized → broadcast anti-joins).
* commit: a version's ``_COMMITTED`` file is its manifest, written last
  and atomically — batch id, kind, cluster total, the cumulative max event
  time and the band-key format. A version counts only with a manifest
  that parses and its data ``_SUCCESS`` markers. A batch takes everything
  it needs from the past out of the manifest of the latest committed
  version before it, the one its state load builds on, so a replayed
  batch reads what its first run read and — the pipeline being
  deterministic — rewrites byte-identical output (exactly-once effect on
  the sink).
* sink: output partitioned by ``batch_id``; a replay overwrites its own
  partition only (idempotent commit keyed by batchId — the Iceberg
  overwrite-by-filter pattern).
* watermark: rows older than (max event time of the earlier batches −
  delay) are dropped and counted (late-data policy of ``withWatermark``
  enforced explicitly since foreachBatch bypasses Spark's aggregation-level
  filtering).
* lineage/metrics: one row per (batch, input partition) — files, rows,
  late rows, clusters touched, wall time — appended under
  ``lineage_dir/batch_id=<id>`` (same idempotent scheme).

Checkpoint/resume: Spark's own ``checkpointLocation`` replays uncommitted
batches after a crash; the state-version scheme makes the replay
deterministic. Kill → restart ⇒ identical final state/output (tested in
tests/test_streaming.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import PipelineConfig, prepare
from ..operators.blocking import BAND_KEY_FORMAT, band_keys
from ..operators.clustering import ClusterRoundConfig, _cluster_state
from ..util import parquet_rows, scratch_scope


@dataclass
class StreamingERConfig:
    source_dir: str
    work_dir: str                      # holds state/, output/, lineage/, checkpoint/
    watermark_delay_sec: int = 600
    max_files_per_trigger: int = 4
    # streaming source format seam: "parquet" (default — schema supplied
    # from CLIPS_SCHEMA, maxFilesPerTrigger applies) or any registered
    # streaming source, e.g. "iceberg" with the iceberg-spark runtime on
    # the classpath — then ``source_dir`` is the table path/identifier and
    # the table supplies its own schema. Exact cluster config in
    # docs/ICEBERG.md; this sandbox has no iceberg jar, so the non-parquet
    # branch is wiring-tested only (tests/test_streaming.py).
    source_format: str = "parquet"
    source_options: dict = field(default_factory=dict)
    # full-snapshot compaction cadence: every Nth committed batch folds the
    # delta chain into a new base (amortized O(state/N) write per batch);
    # between compactions a batch writes only its touched clusters
    compact_every: int = 8
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)

    @property
    def state_dir(self) -> str:
        return _urljoin(self.work_dir, "state")

    @property
    def output_dir(self) -> str:
        return _urljoin(self.work_dir, "output")

    @property
    def lineage_dir(self) -> str:
        return _urljoin(self.work_dir, "lineage")

    @property
    def checkpoint_dir(self) -> str:
        return _urljoin(self.work_dir, "checkpoint")


def _urljoin(base: str, *parts: str) -> str:
    """Path join that is also URI-correct for hdfs://... work dirs."""
    if "://" in base:
        out = base.rstrip("/")
        for p in parts:
            out = f"{out}/{p.strip('/')}"
        return out
    return os.path.join(base, *parts)


class StreamingERJob:
    """Micro-batch incremental clustering over a clips file stream.

    All state-store metadata IO (listing committed versions, reading and
    writing their manifests, retiring history) goes through
    the ``fs.StateFS`` seam — ``work_dir`` may be a plain path (POSIX
    impl) or an ``hdfs://``/``s3a://`` URI (Hadoop FileSystem via the
    session JVM); Spark's own parquet reads/writes are URI-native either
    way."""

    def __init__(self, spark: SparkSession, cfg: StreamingERConfig):
        from .fs import state_fs_for

        self.spark = spark
        self.cfg = cfg
        self.fs = state_fs_for(cfg.work_dir, spark)
        self.fs.makedirs(cfg.state_dir)
        self.fs.makedirs(cfg.output_dir)
        self.fs.makedirs(cfg.lineage_dir)

    # -- state store (log-structured: deltas + periodic compaction) --------

    def _version_root(self, batch_id: int, kind: str) -> str:
        prefix = "v" if kind == "full" else "d"
        return self.fs.join(self.cfg.state_dir, f"{prefix}={batch_id}")

    def _data_dirs(self, batch_id: int, kind: str) -> list[str]:
        """The parquet dirs of a version, each guarded by its ``_SUCCESS``."""
        root = self._version_root(batch_id, kind)
        if kind == "full":
            return [root]
        return [self.fs.join(root, "rows"), self.fs.join(root, "removed")]

    def _manifest(self, batch_id: int, kind: str) -> dict | None:
        """The version's ``_COMMITTED`` manifest, or None if it is absent or
        does not parse (``write_text`` is atomic, so a manifest that does
        not parse was never committed)."""
        path = self.fs.join(self._version_root(batch_id, kind), "_COMMITTED")
        if not self.fs.exists(path):
            return None
        try:
            manifest = json.loads(self.fs.read_text(path))
            int(manifest["n_clusters_total"])
        except (ValueError, KeyError, TypeError):
            return None
        return manifest

    def _state_entries(self) -> list[tuple[int, str]]:
        """Committed state entries as (batch_id, kind), kind ∈ {'full',
        'delta'}, ascending by batch. A compaction batch leaves only its
        ``v=`` dir (its scratch delta is removed at commit).

        A version counts as committed only if BOTH its manifest AND its
        data files' ``_SUCCESS`` markers are present: the manifest is
        written strictly after the data, but a filesystem without atomic
        visibility ordering (object stores, a crash mid-rename-race) can
        surface it while the parquet write is still partial — requiring
        ``_SUCCESS`` makes a truncated version read as uncommitted, so
        recovery rebuilds from the previous committed version and the
        deterministic replay rewrites it (tested in tests/test_streaming.py
        failure-injection cases)."""
        out = []
        for d in self.fs.listdir(self.cfg.state_dir):
            kind = {"v=": "full", "d=": "delta"}.get(d[:2])
            if kind is None:
                continue
            b = int(d[2:])
            if self._manifest(b, kind) is not None and all(
                self.fs.exists(self.fs.join(p, "_SUCCESS"))
                for p in self._data_dirs(b, kind)
            ):
                out.append((b, kind))
        return sorted(out)

    def _committed_versions(self) -> list[int]:
        return [b for b, _ in self._state_entries()]

    def _marker_total(self, batch_id: int, kind: str) -> int | None:
        manifest = self._manifest(batch_id, kind)
        return None if manifest is None else int(manifest["n_clusters_total"])

    def _load_state(self, before_batch: int) -> DataFrame | None:
        """Reconstruct the cluster state as of just before ``before_batch``:
        latest full snapshot, then each newer delta applied in batch order
        (drop its tombstoned ids, union its rows). Tombstone sets are
        batch-sized, so the anti-joins broadcast."""
        entries = [(b, k) for b, k in self._state_entries() if b < before_batch]
        if not entries:
            return None
        fulls = [b for b, k in entries if k == "full"]
        if not fulls:
            raise RuntimeError(
                "state store has deltas but no base snapshot — compaction "
                "retirement removed too much"
            )
        base = max(fulls)
        state = self.spark.read.parquet(self._version_root(base, "full"))
        for b, kind in entries:
            if kind != "delta" or b <= base:
                continue
            rows_dir, removed_dir = self._data_dirs(b, kind)
            tomb = self.spark.read.parquet(removed_dir)
            rows = self.spark.read.parquet(rows_dir)
            state = state.join(tomb, "id", "left_anti").unionByName(rows)
        return state

    def _write_checked(self, df: DataFrame, path: str) -> DataFrame:
        """``materialize`` with an empty-plan guard: a parquet dir written
        from an EMPTY plan can end up with zero part files (AQE coalesces
        an empty shuffle to no partitions), leaving only ``_SUCCESS`` —
        nothing for readers (state reconstruction, the copy-publish sink,
        ``output()``) to infer a schema from. Such a dir is rewritten as
        one empty part file carrying the plan's schema before the
        read-back (``repartition(1)`` forces exactly one writer task,
        which always emits a footer). Same 8 MB-rowgroup write options as
        ``util.materialize`` (read-back parallelism)."""
        opts = {"parquet.block.size": str(8 * 1024 * 1024)}
        df.write.mode("overwrite").options(**opts).parquet(path)
        if not any(f.endswith(".parquet") for f in self.fs.listdir(path)):
            df.limit(0).repartition(1).write.mode("overwrite").options(
                **opts
            ).parquet(path)
        return self.spark.read.parquet(path)

    def _write_delta(
        self, rows: DataFrame, removed: DataFrame, batch_id: int
    ) -> tuple[DataFrame, int, int]:
        """Write this batch's delta rows (uncommitted) next to its
        tombstones ``removed`` (the read-back of ``d=<batch_id>/removed``,
        written before clustering) and return the rows read-back with the
        delta's row and tombstone counts. The write doubles as the lineage
        cut over the clustering plan, so downstream consumers (output sink,
        compaction) never re-execute it. Counts come from the parquet
        FOOTERS (driver-side metadata read, no Spark job) when the state dir
        is driver-local; remote/URI state falls back to two tiny count
        jobs."""
        rows_dir, removed_dir = self._data_dirs(batch_id, "delta")
        new_rows = self._write_checked(rows, rows_dir)
        n_new = parquet_rows(rows_dir)
        n_removed = parquet_rows(removed_dir)
        if n_new is None:
            n_new = new_rows.count()
        if n_removed is None:
            n_removed = removed.count()
        return new_rows, n_new, n_removed

    def _write_full(self, state: DataFrame, batch_id: int) -> None:
        """Compaction: write the fully reconstructed state (uncommitted)."""
        path = self._version_root(batch_id, "full")
        self.fs.rmtree(path)
        self._write_checked(state, path)

    def _verify_success_markers(self, batch_id: int, compacted: bool) -> None:
        """Fail LOUDLY at commit time if the data ``_SUCCESS`` markers that
        ``_state_entries`` requires are absent. Two distinct failure modes
        would otherwise be silent: (a) the deployment disabled success
        markers (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``,
        a common object-store tuning) — then EVERY committed version reads
        as uncommitted, ``_load_state`` returns None and a restarted job
        reprocesses batches as initial clustering while Spark's checkpoint
        skips already-committed epochs, i.e. silent state loss; (b) a
        truncated write. Verifying here, immediately after our own write
        completed, distinguishes them: the writes above just finished, so
        an absent marker means the committer writes none — abort before
        the version is ever published."""
        markers = [
            self.fs.join(d, "_SUCCESS")
            for d in self._data_dirs(batch_id, "full" if compacted else "delta")
        ]
        missing = [p for p in markers if not self.fs.exists(p)]
        if missing:
            raise RuntimeError(
                "state commit aborted: data _SUCCESS marker(s) missing "
                f"after a completed write: {missing}. The state store's "
                "commit protocol requires success markers — if this "
                "deployment sets mapreduce.fileoutputcommitter."
                "marksuccessfuljobs=false, re-enable it for the state "
                "directory (otherwise every committed version would "
                "silently read back as uncommitted)."
            )

    def _commit_state(
        self,
        batch_id: int,
        compacted: bool,
        n_clusters_total: int,
        max_event_time: float | None = None,
    ) -> None:
        """Publish the version by writing its manifest, last and atomically.
        The band-key format is always the current one: a batch that found a
        stale format rebuilt the index and compacted."""
        self._verify_success_markers(batch_id, compacted)
        kind = "full" if compacted else "delta"
        manifest = {
            "batch_id": batch_id,
            "kind": kind,
            "n_clusters_total": n_clusters_total,
            "max_event_time": max_event_time,
            "band_format": BAND_KEY_FORMAT,
        }
        self.fs.write_text(
            self.fs.join(self._version_root(batch_id, kind), "_COMMITTED"),
            json.dumps(manifest),
        )
        if compacted:
            # the scratch delta is folded into the snapshot
            self.fs.rmtree(self._version_root(batch_id, "delta"))
        # retire superseded history: keep the last two snapshots plus every
        # delta at/after the older of them (enough to replay the last batch
        # and debug one compaction generation back)
        entries = self._state_entries()
        fulls = [b for b, k in entries if k == "full"]
        if len(fulls) >= 2:
            for b, kind in entries:
                if b < fulls[-2]:
                    self.fs.rmtree(self._version_root(b, kind))

    # -- the micro-batch ---------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch. Its scratch — the clustering's working set,
        scored pairs and edge lists — is deleted when it returns or
        fails, so a long-running job holds one batch's scratch at most."""
        with scratch_scope():
            self._process_batch(batch_df, batch_id)

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        cfg = self.cfg
        pcfg = cfg.pipeline
        # Everything this batch takes from the past comes from the manifest
        # of the latest committed version before it — the version
        # _load_state builds on — so a replay reads what its first run read.
        prior = [(b, k) for b, k in self._state_entries() if b < batch_id]
        prev = self._manifest(*prior[-1]) if prior else {}
        if prev and "max_event_time" not in prev:
            print(
                f"[batch {batch_id}] state manifest has no max_event_time: "
                "running without a late-row threshold",
                flush=True,
            )
        prev_max = prev.get("max_event_time")
        # df.observe piggybacks input-row count, event-time high-water mark
        # AND the late-row count onto the FIRST action (the count below) —
        # no separate agg/count jobs (SURVEY §2.4 accumulators / §2.11
        # metrics). The watermark threshold is known before any action.
        from pyspark.sql import Observation

        threshold = None
        if prev_max is not None:
            threshold = prev_max - cfg.watermark_delay_sec
        obs_cols = [
            F.count(F.lit(1)).alias("rows"),
            F.max(F.unix_timestamp("event_time")).alias("max_ts"),
        ]
        if threshold is not None:
            obs_cols.append(
                F.sum(
                    (F.unix_timestamp("event_time") < F.lit(threshold)).cast("long")
                ).alias("late")
            )
        obs = Observation(f"batch_{batch_id}")
        observed_df = batch_df.observe(obs, *obs_cols)

        # ---- watermark filter first (late rows are counted by the observe
        # upstream, so they never reach the fingerprint UDF), then prepare.
        # Persisting PREPARED — audio bytes already consumed and dropped —
        # instead of the raw batch means the multi-GB binary column is
        # scanned exactly once per batch and never cached or re-read.
        on_time = observed_df
        if threshold is not None:
            on_time = observed_df.filter(
                F.unix_timestamp("event_time") >= F.lit(threshold)
            )
        prepared = prepare(on_time, pcfg).persist()
        prepared.count()  # one action: scan + fingerprints + observation
        observed = obs.get
        n_in = int(observed["rows"] or 0)
        if n_in == 0:
            prepared.unpersist()
            return
        batch_max = (
            float(observed["max_ts"]) if observed.get("max_ts") is not None else None
        )
        n_late = int(observed.get("late") or 0) if threshold is not None else 0
        candidates = [v for v in (prev_max, batch_max) if v is not None]
        new_max = max(candidates) if candidates else None

        # ---- load state of AFFECTED clusters only: same prefix blocking
        # key OR any shared LSH band key (so a new clip can bridge into a
        # state cluster whose prefix key diverged)
        rcfg = ClusterRoundConfig(
            min_sim=pcfg.min_sim,
            max_sources=pcfg.max_sources,
            max_block_rows=pcfg.max_block_rows,
            use_audio=pcfg.use_audio,
        )
        # the arrivals' band keys were computed once, in prepare
        arrivals = _cluster_state(prepared, rcfg.use_audio)
        state = self._load_state(batch_id)
        # The persisted band keys are equi-joined against the arrivals'
        # keys, so a state written under another key derivation
        # (round 2 changed it: murmur → fold-mix) would match none of them.
        # On a format mismatch the index is rebuilt from the trigram sets
        # and a compaction persists it.
        index_rebuilt = False
        stored_fmt = prev.get("band_format")
        if state is not None and stored_fmt != BAND_KEY_FORMAT:
            print(
                f"[batch {batch_id}] band-key index format "
                f"{stored_fmt!r} != {BAND_KEY_FORMAT!r}: rebuilding "
                "state index from trigram sets",
                flush=True,
            )
            state = state.withColumn("band_keys", band_keys(F.col("trigram_set")))
            index_rebuilt = True
        # The affected ids are this delta's tombstones. Writing them once,
        # as ``removed/``, runs the state reconstruct and both semi-joins a
        # single time; the working set then semi-joins the state against
        # that small read-back, keeping each touched row's stored band keys.
        # A replay discards this batch's earlier delta, half-written or
        # committed.
        self.fs.rmtree(self._version_root(batch_id, "delta"))
        rows_dir, removed_dir = self._data_dirs(batch_id, "delta")
        if state is not None:
            arr_keys = arrivals.select("blocking_key").distinct()
            arr_bands = (
                arrivals.select(F.explode("band_keys").alias("_bk")).distinct()
            )
            by_key = state.join(arr_keys, "blocking_key", "left_semi").select("id")
            by_band = (
                state.select("id", F.explode("band_keys").alias("_bk"))
                .join(arr_bands, "_bk", "left_semi")
                .select("id")
            )
            touched_ids = by_key.unionByName(by_band).distinct()
        else:
            touched_ids = arrivals.select("id").limit(0)
        removed = self._write_checked(touched_ids, removed_dir)
        working = arrivals
        if state is not None:
            touched = state.join(removed, "id", "left_semi")
            working = touched.unionByName(arrivals, allowMissingColumns=True)

        # ---- cluster the working set: same candidate components and
        # per-component greedy merge as batch mode (cluster_rounds), so
        # streaming output converges to the batch result for the same input
        from ..operators.clustering import cluster_rounds

        clusters = cluster_rounds(working, rcfg)
        # ---- delta state write: only this batch's updated clusters (with
        # the band keys of their fused labels) next to the tombstones above
        # — per-batch state writes scale with the batch. Cluster-count
        # bookkeeping rides the manifests:
        # total' = total − |tombstones| + |new rows|.
        new_rows, n_new, n_removed = self._write_delta(clusters, removed, batch_id)
        n_clusters = prev.get("n_clusters_total", 0) - n_removed + n_new
        # ---- periodic compaction: fold the delta chain into a snapshot
        fulls_before = [b for b, k in prior if k == "full"]
        deltas_since = [
            b
            for b, k in prior
            if k == "delta" and (not fulls_before or b > fulls_before[-1])
        ]
        compacted = (
            state is None
            or index_rebuilt  # persist the rebuilt band-key index
            or len(deltas_since) + 1 >= cfg.compact_every
        )
        if compacted:
            full = (
                new_rows
                if state is None
                else state.join(removed, "id", "left_anti").unionByName(new_rows)
            )
            self._write_full(full, batch_id)
        # ---- exactly-once sink: overwrite THIS batch's partition only.
        # The output rows ARE the just-written delta rows, so publishing is
        # a filesystem copy (hardlink locally, FileUtil.copy on Hadoop FS)
        # of the delta parquet instead of a second Spark re-encode job —
        # the band_keys index column rides along and output() drops it.
        # Visibility is still gated by the manifest; a replayed batch
        # rmtrees its own partition first (idempotent).
        out_path = self.fs.join(cfg.output_dir, f"batch_id={batch_id}")
        self.fs.rmtree(out_path)
        self.fs.copytree(rows_dir, out_path)

        # ---- state commit (the manifest carries the watermark) + lineage
        self._commit_state(batch_id, compacted, n_clusters, new_max)
        lineage_path = self.fs.join(cfg.lineage_dir, f"batch_id={batch_id}")
        self.fs.rmtree(lineage_path)
        part_counts = (
            prepared.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("n_input", F.lit(n_in))
            .withColumn("n_input_observed", F.lit(int(observed["rows"])))
            .withColumn("n_late_dropped", F.lit(n_late))
            .withColumn("n_clusters_total", F.lit(n_clusters))
            .withColumn("wall_sec", F.lit(round(time.time() - t0, 3)))
        )
        part_counts.write.mode("overwrite").parquet(lineage_path)
        prepared.unpersist()

    # -- query lifecycle ---------------------------------------------------

    def start(self, available_now: bool = True):
        from ..schema import CLIPS_SCHEMA
        from .metrics import ProgressLogListener

        # engine-level rate/duration log, one JSON line per micro-batch of
        # this job's query, which the listener picks out by its name (a
        # fresh one per start, so a restarted job's old listener stays
        # quiet). The listener appends line-by-line — a driver-LOCAL file by
        # design (it is diagnostics, not state); with a remote work_dir it
        # lands under the driver's tmp instead.
        tag = hashlib.md5(self.cfg.work_dir.encode()).hexdigest()[:8]
        query_name = f"streaming_er_{tag}_{uuid.uuid4().hex[:8]}"
        if "://" in self.cfg.work_dir:
            log_path = os.path.join(
                tempfile.gettempdir(), f"spark_graft_progress_{tag}.jsonl"
            )
        else:
            log_path = os.path.join(self.cfg.work_dir, "progress.jsonl")
        self._listener = ProgressLogListener(log_path, query_name)
        self.spark.streams.addListener(self._listener)
        if self.cfg.source_format == "parquet":
            reader = self.spark.readStream.schema(CLIPS_SCHEMA).option(
                "maxFilesPerTrigger", self.cfg.max_files_per_trigger
            )
            for k, v in self.cfg.source_options.items():
                reader = reader.option(k, v)
            stream = reader.parquet(self.cfg.source_dir)
        else:
            # e.g. "iceberg": the table supplies its own schema; rate
            # limiting uses the source's own options (for iceberg:
            # streaming-max-files-per-micro-batch — see docs/ICEBERG.md)
            reader = self.spark.readStream.format(self.cfg.source_format)
            for k, v in self.cfg.source_options.items():
                reader = reader.option(k, v)
            stream = reader.load(self.cfg.source_dir)
        stream = stream.withWatermark(
            "event_time", f"{self.cfg.watermark_delay_sec} seconds"
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .queryName(query_name)
            .option("checkpointLocation", self.cfg.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- results -----------------------------------------------------------

    def final_state(self) -> DataFrame | None:
        versions = self._committed_versions()
        if not versions:
            return None
        return self._load_state(versions[-1] + 1)

    def output(self) -> DataFrame:
        out = self.spark.read.option("basePath", self.cfg.output_dir).parquet(
            self.cfg.output_dir + "/batch_id=*"
        )
        # the sink publishes the delta parquet verbatim (hardlink/copy);
        # the band-key index column is state-internal — hide it here
        return out.drop("band_keys")

    def lineage(self) -> DataFrame:
        return self.spark.read.option("basePath", self.cfg.lineage_dir).parquet(
            self.cfg.lineage_dir + "/batch_id=*"
        )
