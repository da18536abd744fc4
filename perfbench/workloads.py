"""The three workloads: corpus shape, how each runs, what each reports.

``batch_backfill``  clusters a corpus once with ``pipeline.run_batch``.
``stream_ingest``   runs ``StreamingERJob`` from empty state over files whose
                    clusters arrive spread across micro-batches.
``stream_lookup``   seeds the job's state with one large file, then streams
                    small files of held-out duplicates of clusters in state.

Each run is a closed loop with one client: the next repetition or
micro-batch starts only after the previous one finished. ``--seconds``
bounds the warm batch repetitions; a stream run is one query over a fixed
set of files, sized to about the same length.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

from . import gen
from .stats import batch_times, read_progress
from .trace import (
    Patcher,
    Tracer,
    add_stream_prepare_spans,
    install_operator_wrappers,
    install_stream_wrappers,
    parquet_stats,
)

MIN_SIM = 0.7
LONG_MS = (500, 5001)
SHORT_MS = (500, 1501)


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str                     # "batch" or "stream"
    n_clips: int                  # whole corpus
    dur_ms: tuple[int, int]
    f1_floor: float               # the correctness check's lowest F1
    n_files: int = 0              # stream files after the first
    per_file: int = 0             # stream_lookup: held-out clips per file
    compact_every: int = 8
    cold_clips: int = 0           # batch: corpus of the cold first run


# Stream sizes are set by the per-batch floor on a 4-core host: a micro-
# batch of a few dozen clips costs ~14 s, plus ~1.5 s per delta in the
# state chain, so a stream run covers one whole compaction cycle of 2 batches.
WORKLOADS = {
    s.name: s
    for s in (
        Spec("batch_backfill", "batch", 500, LONG_MS, 0.95, cold_clips=100),
        # 1 + compact_every files: the first batch writes the base snapshot,
        # the rest cover one whole compaction cycle
        Spec("stream_ingest", "stream", 480, SHORT_MS, 0.95, n_files=2, compact_every=2),
        Spec(
            "stream_lookup", "stream", 560, SHORT_MS, 0.95,
            n_files=2, per_file=40, compact_every=2,
        ),
    )
}


def build_inputs(spec: Spec, seed: int, cache_root: str) -> str:
    """Cached corpus directory: ``source/`` (engine input) and
    ``gold.parquet``; batch corpora add ``cold/source/``, the head of the
    corpus that the cold first run clusters."""
    key = {
        "w": spec.name,
        "seed": seed,
        "n": spec.n_clips,
        "f": spec.n_files,
        "p": spec.per_file,
        "c": spec.cold_clips,
        "d": f"{spec.dur_ms[0]}_{spec.dur_ms[1]}",
    }

    def build(out: str) -> None:
        pdf = gen.corpus(spec.n_clips, seed, spec.dur_ms)
        if spec.kind == "batch":
            gen.write_batch(pdf, out)
            gen.write_batch(pdf.iloc[: spec.cold_clips], os.path.join(out, "cold"))
        elif spec.per_file:
            gen.write_stream(
                gen.split_seed_holdout(pdf, spec.n_files, spec.per_file, seed), out
            )
        else:
            gen.write_stream(gen.split_per_source(pdf, spec.n_files + 1, seed), out)

    return gen.cached(cache_root, key, build)


@dataclass
class Outcome:
    """What one pass of a workload measured and produced."""

    wall_s: float                  # measured wall of the pass
    units: list[int]               # measured repetitions / micro-batch ids
    unit_walls: list[float]        # per repetition / micro-batch
    unit_rows: list[int]
    member_lists: list[list[str]]  # output clusters as clip ids
    first_s: float                 # the cold first repetition / seed batch
    progress: list[dict]           # stream: per-batch progress rows
    state: dict                    # stream: final state-store figures


# -- batch --------------------------------------------------------------------


def _batch_once(spark, src: str, tracer: Tracer, unit: int):
    from mapping_analysis_spark.pipeline import PipelineConfig, run_batch

    clips = spark.read.parquet(src)
    with tracer.span("batch", unit=unit) as sp:
        with tracer.span("run_batch"):
            res = run_batch(clips, PipelineConfig(min_sim=MIN_SIM))
        with tracer.span("clustering.merge"):
            res["clusters"].count()
    obs = res["observations"]["pipeline_input"].get
    sp.attrs["rows"] = int(obs["rows"])
    sp.attrs["fingerprinted"] = int(obs.get("with_fingerprint") or 0)
    return res, sp


def run_batch_pass(
    spark, inputs: str, seconds: float, tracer: Tracer, traced: bool
) -> Outcome:
    """A cold first ``run_batch`` of the corpus head in the fresh session
    (the seed run), then warm repetitions over the whole corpus while the
    next is expected to end within ``seconds`` of the pass start; at least
    one."""
    walls, rows, res = [], [], None
    patcher = Patcher()
    if traced:
        install_operator_wrappers(tracer, patcher, "prepare")
    t0 = time.perf_counter()
    try:
        while len(walls) < 2 or (
            time.perf_counter() - t0 + statistics.median(walls[1:]) <= seconds
        ):
            if res is not None:
                res["prepared"].unpersist()
            src = os.path.join(inputs, "cold" if not walls else "", "source")
            res, sp = _batch_once(spark, src, tracer, len(walls))
            walls.append(sp.wall)
            rows.append(sp.attrs["rows"])
    finally:
        patcher.restore()
    wall = time.perf_counter() - t0
    members = [list(r.members) for r in res["clusters"].select("members").collect()]
    res["prepared"].unpersist()
    units = list(range(1, len(walls)))
    return Outcome(wall, units, walls[1:], rows[1:], members, walls[0], [], {})


# -- stream -------------------------------------------------------------------


def _stream_job(spark, spec: Spec, source: str, work: str):
    from mapping_analysis_spark.pipeline import PipelineConfig
    from mapping_analysis_spark.streaming.engine import (
        StreamingERConfig,
        StreamingERJob,
    )

    shutil.rmtree(work, ignore_errors=True)
    cfg = StreamingERConfig(
        source_dir=source,
        work_dir=work,
        max_files_per_trigger=1,
        compact_every=spec.compact_every,
        pipeline=PipelineConfig(min_sim=MIN_SIM),
    )
    return StreamingERJob(spark, cfg)


def _run_query(spark, job, timeout_s: float = 20.0) -> tuple[float, list[dict]]:
    """Run the job's availableNow query to the end; returns its wall and the
    progress records its listener wrote for this query."""
    t0 = time.perf_counter()
    query = job.start(available_now=True)
    try:
        query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream query failed: {query.exception()}")
        return wall, _own_progress(job, str(query.id), timeout_s)
    finally:
        spark.streams.removeListener(job._listener)


def _own_progress(job, query_id: str, timeout_s: float) -> list[dict]:
    """The query's progress records; the listener writes them
    asynchronously, so wait for its ``terminated`` line."""
    path = os.path.join(job.cfg.work_dir, "progress.jsonl")
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if os.path.exists(path):
            with open(path) as f:
                recs = [json.loads(line) for line in f]
            if any(r["event"] == "terminated" and r["id"] == query_id for r in recs):
                return batch_times(read_progress(path))
        time.sleep(0.05)
    raise RuntimeError("stream progress log never recorded query termination")


def _state_figures(job) -> dict:
    """Committed clusters and live bytes of the state store (base snapshot
    plus the deltas after it)."""
    entries = job._state_entries()
    base = max(b for b, k in entries if k == "full")
    live = [(b, k) for b, k in entries if b >= base]
    nbytes = 0
    for b, k in live:
        if k == "full":
            dirs = [os.path.join(job.cfg.state_dir, f"v={b}")]
        else:
            root = os.path.join(job.cfg.state_dir, f"d={b}")
            dirs = [os.path.join(root, "rows"), os.path.join(root, "removed")]
        nbytes += sum(parquet_stats(d)[1] for d in dirs)
    return {
        "rows": job._marker_total(*entries[-1]) or 0,
        "bytes": nbytes,
        "versions": len(live),
    }


def _final_members(spark, job, source: str) -> list[list[str]]:
    """Final state clusters with member ids mapped back to clip ids."""
    from pyspark.sql import functions as F

    ids = {
        r.id: r.clip_id
        for r in spark.read.parquet(source)
        .select("clip_id", F.xxhash64("clip_id").alias("id"))
        .collect()
    }
    rows = job.final_state().select("members").collect()
    return [[ids.get(m, f"?{m}") for m in r.members] for r in rows]


def run_stream_pass(
    spark, spec: Spec, inputs: str, work: str, tracer: Tracer, traced: bool
) -> Outcome:
    """One availableNow query over every file, one file per micro-batch."""
    source = os.path.join(inputs, "source")
    job = _stream_job(spark, spec, source, work)
    patcher = Patcher()
    if traced:
        install_operator_wrappers(tracer, patcher, "state.lookup")
        install_stream_wrappers(tracer, patcher, job)
    try:
        wall, progress = _run_query(spark, job)
    finally:
        patcher.restore()
    if traced:
        add_stream_prepare_spans(tracer)
    expected = spec.n_files + 1
    if len(progress) != expected:
        raise RuntimeError(f"{len(progress)} micro-batches ran, {expected} expected")
    # stream_lookup measures the batches after the seed batch only
    measured = progress[1:] if spec.per_file else progress
    return Outcome(
        wall_s=wall,
        units=[p["batch"] for p in measured],
        unit_walls=[p["trigger_s"] for p in measured],
        unit_rows=[p["rows"] for p in measured],
        member_lists=_final_members(spark, job, source),
        first_s=progress[0]["trigger_s"],
        progress=progress,
        state=_state_figures(job),
    )
