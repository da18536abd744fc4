"""Deterministic synthetic clip-corpus generator (FIXTURES.md §1).

Mirrors the reference's evaluation corpora: N duplicate-free sources, ≤1
record per (gold cluster, source) — like MusicBrainz SourceID 1–5
(io/impl/csv/MusicCSVToVertexFormatter.java:35) — with per-source transcript
corruption in the spirit of the reference's corruption functions
(model/functions/corruption/DataCorruption.java:27-50) and the typo classes
its cleaners repair (o↔0, l↔1, z↔2 — util/MusicUtils.java:42-45; "The "
prefix toggling that stresses Utils.getMusicBlockingLabel).

Audio: per-cluster seeded mixture of 2–4 sine partials + low noise; every
duplicate re-encodes the *same* underlying PCM (optionally level-shifted
within the SNR ≥ 30 dB invariant) under one of the pure-python codecs.

Everything is keyed off (seed, gold_cluster) so any scale factor is
reproducible and generation parallelizes per cluster (used via mapInPandas
at bench scale).
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

_FIRST = [
    "the beatles", "miles", "nina", "daniel", "fairuz", "bjork", "caetano",
    "johann", "aretha", "kraftwerk", "umm", "leonard", "ella", "serge",
    "mercedes", "talking", "duke", "billie", "oumou", "ravi", "astor",
    "cesaria", "fela", "goran", "hildegard", "janis", "khaled", "lata",
    "mariza", "nusrat", "orlando", "patsy",
]
_LAST = [
    "davis", "simone", "balavoine", "veloso", "bach", "franklin",
    "kulthum", "cohen", "fitzgerald", "gainsbourg", "sosa", "heads",
    "ellington", "holiday", "sangare", "shankar", "piazzolla", "evora",
    "kuti", "bregovic", "bingen", "joplin", "hadj", "mangeshkar",
    "nunes", "khan", "cachaito", "cline", "bembeya", "toure", "segovia",
    "baez",
]
# 32×32 = 1024 distinct artists, but the 4-char music blocking key
# (functions/text.py::music_blocking_label, "the " stripped) sees only the
# first name: 32 values, each first name with its own 4-char prefix (plus
# the variants a corrupted transcript makes — a dropped first token, a
# 0/1 typo in the prefix). The key cardinality is fixed at any corpus
# size, so every key group grows linearly with the corpus.
_ARTISTS = [f"{a} {b}" for a in _FIRST for b in _LAST]
_TITLE_WORDS = [
    "love", "night", "river", "dance", "blue", "light", "heart", "dream",
    "road", "fire", "rain", "golden", "silent", "echo", "shadow", "wild",
    "summer", "winter", "moon", "stone", "glass", "paper", "electric",
]
_ALBUMS = [
    "greatest hits", "live in tokyo", "unplugged", "the early years",
    "blue sessions", "midnight tapes", "studio one", "reworks",
]

CODECS = ["pcm_s16le", "pcm_s24le", "wav"]
SR_CHOICES = [8000, 16000, 22050, 44100]


def _encode_wav(pcm16: bytes, sr: int) -> bytes:
    data_len = len(pcm16)
    hdr = b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", data_len) + pcm16


def _pcm_to_s16le(pcm: np.ndarray) -> bytes:
    return (np.clip(pcm, -1, 1) * 32767.0).astype("<i2").tobytes()


def _pcm_to_s24le(pcm: np.ndarray) -> bytes:
    vals = (np.clip(pcm, -1, 1) * ((1 << 23) - 1)).astype(np.int32)
    out = np.zeros((len(vals), 3), dtype=np.uint8)
    out[:, 0] = vals & 0xFF
    out[:, 1] = (vals >> 8) & 0xFF
    out[:, 2] = (vals >> 16) & 0xFF
    return out.tobytes()


def cluster_pcm(rng: np.random.Generator, sr: int, dur_ms: int) -> np.ndarray:
    """Reference PCM for one gold cluster: 2-4 partials + noise floor."""
    n = int(sr * dur_ms / 1000)
    t = np.arange(n) / sr
    pcm = np.zeros(n)
    for _ in range(int(rng.integers(2, 5))):
        freq = float(rng.uniform(80, min(4000, sr / 2 - 100)))
        amp = float(rng.uniform(0.1, 0.3))
        phase = float(rng.uniform(0, 2 * np.pi))
        pcm += amp * np.sin(2 * np.pi * freq * t + phase)
    pcm += rng.normal(0, 0.005, n)
    peak = np.abs(pcm).max()
    if peak > 0.95:
        pcm = pcm * (0.95 / peak)
    return pcm.astype(np.float64)


def _corrupt_transcript(rng: np.random.Generator, text: str) -> str:
    """Per-source corruption: casing, punctuation→space, typos, token
    drops, 'The ' prefix toggle."""
    words = text.split()
    mode = rng.random()
    if mode < 0.25 and len(words) > 3:
        drop = int(rng.integers(0, len(words)))
        words = words[:drop] + words[drop + 1 :]
    out = " ".join(words)
    r = rng.random()
    if r < 0.3:
        out = out.upper()
    elif r < 0.5:
        out = out.title()
    if rng.random() < 0.3:
        out = out.replace("o", "0", 1)
    if rng.random() < 0.2:
        out = out.replace("l", "1", 1)
    if rng.random() < 0.25:
        if out.lower().startswith("the "):
            out = out[4:]
        else:
            out = "The " + out
    if rng.random() < 0.3:
        out = out.replace(" - ", " / ")
    return out


def base_transcript(rng: np.random.Generator) -> str:
    artist = _ARTISTS[int(rng.integers(0, len(_ARTISTS)))]
    n_title = int(rng.integers(1, 4))
    title = " ".join(
        _TITLE_WORDS[int(rng.integers(0, len(_TITLE_WORDS)))] for _ in range(n_title)
    )
    album = _ALBUMS[int(rng.integers(0, len(_ALBUMS)))]
    return f"{artist} - {title} - {album}"


def generate_clips_pdf(
    n_clusters: int,
    seed: int = 42,
    n_sources: int = 5,
    skew_keys: int = 0,
    start: datetime | None = None,
    late_fraction: float = 0.05,
    cluster_offset: int = 0,
    dur_range_ms: tuple[int, int] = (500, 5001),
) -> pd.DataFrame:
    """Generate the clips corpus as pandas (one row per clip).

    Columns: clip_id, bytes, sr_hz, dur_ms, codec, transcript, source,
    event_time, gold_cluster. ``gold_cluster`` is the generation-time truth
    (reference CID analogue) and must be dropped before feeding the engine.

    ``skew_keys`` > 0 forces that many hot transcript prefixes so a handful
    of blocking keys receive a large share of rows (salting test).
    """
    start = start or datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    seq = 0
    for c in range(cluster_offset, cluster_offset + n_clusters):
        crng = np.random.default_rng((seed, c))
        text = base_transcript(crng)
        if skew_keys and c % 7 < 2:
            # hot prefix: many clusters share the same leading token
            hot = f"hot{c % skew_keys:02d}"
            text = f"{hot}key {text}"
        sr = SR_CHOICES[int(crng.integers(0, len(SR_CHOICES)))]
        # dur_range_ms: the pinned bench tiers pick the clip-length
        # profile — the default long-form profile, or a short-clip profile
        # that packs more ROWS per resident-memory GB (the 10^12-clip
        # north target scales in rows; the sandbox page-cache protocol
        # caps resident bytes)
        dur_ms = int(crng.integers(dur_range_ms[0], dur_range_ms[1]))
        pcm = cluster_pcm(crng, sr, dur_ms)
        n_dups = int(crng.integers(2, n_sources + 1))
        sources = list(crng.choice(np.arange(1, n_sources + 1), n_dups, replace=False))
        for s in sources:
            srng = np.random.default_rng((seed, c, int(s)))
            clip_pcm = pcm
            if srng.random() < 0.5:
                # level shift within SNR>=30dB (gain error <= ~3%)
                clip_pcm = pcm * float(srng.uniform(0.99, 1.01))
            codec = CODECS[int(srng.integers(0, len(CODECS)))]
            if codec == "pcm_s16le":
                data = _pcm_to_s16le(clip_pcm)
            elif codec == "pcm_s24le":
                data = _pcm_to_s24le(clip_pcm)
            else:
                data = _encode_wav(_pcm_to_s16le(clip_pcm), sr)
            transcript = (
                text if int(s) == sources[0] else _corrupt_transcript(srng, text)
            )
            ts = start + timedelta(seconds=seq * 7)
            if srng.random() < late_fraction:
                ts -= timedelta(minutes=int(srng.integers(5, 60)))
            rows.append(
                {
                    "clip_id": f"c{c:06d}s{int(s):02d}",
                    "bytes": data,
                    "sr_hz": sr,
                    "dur_ms": dur_ms,
                    "codec": codec,
                    "transcript": transcript,
                    "source": str(int(s)),
                    "event_time": ts,
                    "gold_cluster": c,
                }
            )
            seq += 1
    return pd.DataFrame(rows)


def clips_spark_df(spark, n_clusters: int, seed: int = 42, **kw):
    """Clips corpus as a Spark DataFrame (gold_cluster retained; callers
    drop it before the engine and keep it for eval)."""
    from ..schema import CLIPS_SCHEMA

    import pyspark.sql.types as T

    schema = T.StructType(
        CLIPS_SCHEMA.fields + [T.StructField("gold_cluster", T.LongType(), False)]
    )
    pdf = generate_clips_pdf(n_clusters, seed=seed, **kw)
    return spark.createDataFrame(pdf, schema=schema)


def write_clips_parquet(
    spark, out_dir: str, n_clusters: int, seed: int = 42, partitions: int = 8, **kw
) -> None:
    """Materialize a corpus for streaming/bench runs. Generation is
    distributed: each task generates a contiguous cluster range."""
    import pyspark.sql.types as T

    from ..schema import CLIPS_SCHEMA

    schema = T.StructType(
        CLIPS_SCHEMA.fields + [T.StructField("gold_cluster", T.LongType(), False)]
    )
    per_part = (n_clusters + partitions - 1) // partitions
    ranges = [
        (i * per_part, min((i + 1) * per_part, n_clusters))
        for i in range(partitions)
        if i * per_part < n_clusters
    ]
    rng_df = spark.createDataFrame(ranges, "lo long, hi long").repartition(
        len(ranges)
    )

    def gen(iterator):
        # yield in ≤32-cluster chunks: one 5s/44.1kHz clip is ~0.6 MB of
        # PCM, so unbounded chunks would blow Arrow batch limits
        for pdf in iterator:
            for _, row in pdf.iterrows():
                lo, hi = int(row.lo), int(row.hi)
                for c0 in range(lo, hi, 32):
                    yield generate_clips_pdf(
                        min(32, hi - c0),
                        seed=seed,
                        cluster_offset=c0,
                        **kw,
                    )

    # 16 MB rowgroups (vs the 128 MB default): parquet splits only at
    # rowgroup boundaries, and with ~150 KB binary rows a 134 MB rowgroup
    # is ~900 clips — one indivisible unit of MFCC work. Measured on the
    # scaling corpus: the fingerprint stage's max task ran 3.6× the mean
    # (a split that snapped to two rowgroups), capping the stage's 4→16
    # core speedup. Fine rowgroups give the scheduler even, wave-packable
    # tasks at every parallelism level — the same layout rule a 100 TB
    # ingest table needs.
    rng_df.mapInPandas(gen, schema=schema).write.mode("overwrite").option(
        "parquet.block.size", str(16 * 1024 * 1024)
    ).parquet(out_dir)
