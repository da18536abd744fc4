"""Seeded input corpora for the benchmark workloads.

Every corpus comes from ``datagen.clips.generate_clips_pdf`` and is written
as parquet with the exact ``CLIPS_SCHEMA`` types (int32 ``sr_hz`` /
``dur_ms``, microsecond UTC ``event_time``), so the streaming file source
reads it with the engine's own schema. ``gold_cluster`` goes to a separate
gold table that only the correctness check reads.

``write_clips_parquet`` in the library writes each gold cluster's
duplicates into one file, so a stream built from it never matches across
micro-batches. The stream corpora here spread every cluster's duplicates
over different files (per-source arrival) and set file mtimes in arrival
order, which is the order the file source reads them in.

A corpus is generated once per (workload, seed, sizes) into a cache
directory and reused by later runs.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from mapping_analysis_spark.datagen.clips import generate_clips_pdf

_START = datetime(2026, 1, 1, tzinfo=timezone.utc)
# per-file event-time step and the out-of-order lag of late rows; the lag
# stays below the engine's default 600 s watermark delay, so late rows are
# reordered but never dropped and every input clip must reach the output
FILE_STEP_S = 60
LATE_LAG_S = (60, 420)
LATE_SHARE = 0.05
ROW_GROUP_ROWS = 256

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("clip_id", pa.string(), nullable=False),
        pa.field("bytes", pa.binary()),
        pa.field("sr_hz", pa.int32()),
        pa.field("dur_ms", pa.int32()),
        pa.field("codec", pa.string()),
        pa.field("transcript", pa.string()),
        pa.field("source", pa.string(), nullable=False),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)


def clips_table(pdf: pd.DataFrame) -> pa.Table:
    """Clips rows as an Arrow table with the ``CLIPS_SCHEMA`` types."""
    out = pdf[[f.name for f in _ARROW_SCHEMA]].copy()
    out["sr_hz"] = out["sr_hz"].astype("int32")
    out["dur_ms"] = out["dur_ms"].astype("int32")
    out["event_time"] = pd.to_datetime(out["event_time"], utc=True).astype(
        "datetime64[us, UTC]"
    )
    return pa.Table.from_pandas(out, schema=_ARROW_SCHEMA, preserve_index=False)


def _write(pdf: pd.DataFrame, path: str, mtime: float | None = None) -> None:
    pq.write_table(clips_table(pdf), path, row_group_size=ROW_GROUP_ROWS)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _arrival_times(rng: np.random.Generator, file_idx: np.ndarray) -> pd.Series:
    """Event time rising with the file index, plus a small late share that
    lags by less than the watermark delay."""
    secs = file_idx * FILE_STEP_S + rng.integers(0, FILE_STEP_S, len(file_idx))
    late = rng.random(len(file_idx)) < LATE_SHARE
    secs = secs - late * rng.integers(LATE_LAG_S[0], LATE_LAG_S[1], len(file_idx))
    return pd.Series(
        [_START + timedelta(seconds=int(s)) for s in secs], dtype=object
    )


def corpus(n_clips: int, seed: int, dur_ms: tuple[int, int]) -> pd.DataFrame:
    """Exactly ``n_clips`` clips: whole gold clusters in generation order,
    the last one possibly cut, so every seed does the same number of
    clips' work."""
    chunks, have, offset, step = [], 0, 0, max(8, n_clips // 3)
    while have < n_clips:
        chunk = generate_clips_pdf(
            step, seed=seed, cluster_offset=offset, dur_range_ms=dur_ms
        )
        chunks.append(chunk)
        have += len(chunk)
        offset += step
    return pd.concat(chunks, ignore_index=True).iloc[:n_clips].copy()


def split_per_source(
    pdf: pd.DataFrame, n_files: int, seed: int
) -> list[pd.DataFrame]:
    """Spread each gold cluster's duplicates over different files: the
    k-th duplicate of cluster c lands in file (offset_c + k) mod n_files,
    with a seeded per-cluster offset; duplicates share a file only when a
    cluster has more duplicates than there are files."""
    rng = np.random.default_rng((seed, 1))
    pdf = pdf.reset_index(drop=True)
    rank = pdf.groupby("gold_cluster").cumcount().to_numpy()
    clusters = pdf["gold_cluster"].to_numpy()
    uniq = np.unique(clusters)
    offsets = dict(zip(uniq, rng.integers(0, n_files, len(uniq))))
    file_idx = (np.array([offsets[c] for c in clusters]) + rank) % n_files
    pdf["event_time"] = _arrival_times(rng, file_idx)
    return [pdf[file_idx == i] for i in range(n_files)]


def split_seed_holdout(
    pdf: pd.DataFrame, n_files: int, per_file: int, seed: int
) -> list[pd.DataFrame]:
    """One seed part holding all clips but one duplicate of each of
    ``n_files * per_file`` clusters, then ``n_files`` parts of those
    held-out duplicates — each arrival already has its cluster in state."""
    rng = np.random.default_rng((seed, 2))
    pdf = pdf.reset_index(drop=True)
    sizes = pdf.groupby("gold_cluster")["clip_id"].transform("size")
    rank = pdf.groupby("gold_cluster").cumcount()
    candidates = pdf.index[(sizes >= 2) & (rank == sizes - 1)].to_numpy()
    n_held = n_files * per_file
    if len(candidates) < n_held:
        raise ValueError(
            f"corpus has {len(candidates)} clusters with duplicates; "
            f"{n_held} held-out clips requested"
        )
    held = rng.choice(candidates, n_held, replace=False)
    file_idx = np.zeros(len(pdf), dtype=np.int64)
    file_idx[held] = 1 + np.arange(n_held) // per_file
    pdf["event_time"] = _arrival_times(rng, file_idx)
    return [pdf[file_idx == i] for i in range(n_files + 1)]


def write_stream(parts: list[pd.DataFrame], out_dir: str) -> None:
    """One parquet file per part, mtimes one second apart in part order."""
    src = os.path.join(out_dir, "source")
    os.makedirs(src)
    t0 = _START.timestamp()
    for i, part in enumerate(parts):
        _write(part, os.path.join(src, f"part-{i:04d}.parquet"), t0 + i)
    gold = pd.concat(parts)[["clip_id", "gold_cluster"]]
    gold.to_parquet(os.path.join(out_dir, "gold.parquet"), index=False)


def write_batch(pdf: pd.DataFrame, out_dir: str) -> None:
    src = os.path.join(out_dir, "source")
    os.makedirs(src)
    _write(pdf, os.path.join(src, "clips.parquet"))
    pdf[["clip_id", "gold_cluster"]].to_parquet(
        os.path.join(out_dir, "gold.parquet"), index=False
    )


def cached(cache_root: str, key: dict, build) -> str:
    """Directory holding the corpus for ``key``; ``build(tmp_dir)`` fills a
    fresh one on a cache miss, renamed into place only when complete."""
    name = "-".join(f"{k}{v}" for k, v in sorted(key.items()))
    out = os.path.join(cache_root, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(key, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
