"""End-to-end batch entity-resolution pipeline over the clips table.

Spark-first re-creation of the reference's MusicbrainzBenchmark lifecycle
(analysis-examples/.../MusicbrainzBenchmark.java:55-166) — one lazily
planned DataFrame program instead of five Flink jobs with JSON handoffs:

  prepare (normalized transcript, blocking key, trigram set, LSH band keys,
  source bit, MFCC fingerprint) → clustering.cluster_rounds (candidate components over
  blocked ∪ LSH pairs scored by trigram cosine + MFCC cosine, mean-agg,
  then a per-component greedy merge) → majority representatives

The transcript plays the reference's ``artistTitleAlbum`` role; the MFCC
fingerprint adds the graft's audio channel, fused through the same
mean-aggregation semantics (absent channel = no vote,
MeanAggregationFunction.java:26-49).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.audio import mfcc_fingerprint
from .functions.similarity import trigram_set
from .functions.text import music_blocking_label, simplify, stable_hash64
from .operators.blocking import band_keys
from .operators.representatives import create_representatives
from .schema import SOURCE_BITS


@dataclass
class PipelineConfig:
    """Mirrors the reference's IncrementalConfig knobs
    (MusicbrainzBenchmark.java:56-77)."""

    blocking_length: int = 4
    min_sim: float = 0.7            # merge minSim (bench uses 0.8; csimq best 0.55)
    max_sources: int = 5
    use_audio: bool = True
    max_block_rows: int = 256        # salting threshold (scale knob)
    source_bits: dict = field(default_factory=lambda: dict(SOURCE_BITS))


def prepare(clips: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Derive engine columns: id (stable 64-bit from clip_id), normalized
    transcript, blocking key, trigram set, LSH band keys, source bit, MFCC
    fingerprint.

    All but the band keys and the fingerprint are native Columns
    (whole-stage codegen); those two are Arrow-batched pandas UDFs —
    computed ONCE per clip here, in the same stage, before any pair join,
    so the pair stage and the streaming lookup reuse the per-record arrays
    (the reference recomputes string sims per pair, row-at-a-time)."""
    cfg = cfg or PipelineConfig()
    out = (
        clips.withColumn("id", stable_hash64(F.col("clip_id")))
        .withColumn("transcript_norm", simplify(F.col("transcript")))
        .withColumn(
            "blocking_key",
            music_blocking_label(F.col("transcript"), cfg.blocking_length),
        )
        .withColumn("trigram_set", trigram_set(F.col("transcript")))
        .withColumn("band_keys", band_keys(F.col("trigram_set")))
        .withColumn(
            "source_bit",
            F.coalesce(
                *[
                    F.when(F.col("source") == k, F.lit(v))
                    for k, v in cfg.source_bits.items()
                ],
                F.lit(0),
            ).cast("long"),
        )
    )
    if cfg.use_audio and "bytes" in clips.columns:
        out = out.withColumn(
            "fingerprint",
            mfcc_fingerprint(F.col("bytes"), F.col("codec"), F.col("sr_hz")),
        )
    # the raw audio is consumed entirely by the fingerprint UDF — dropping
    # it here keeps the persisted/shuffled record ~KB instead of ~MB (at
    # 10^12 clips the payload must never travel past the scan stage)
    return out.drop("bytes")


def run_batch(
    clips: DataFrame, cfg: PipelineConfig | None = None
) -> dict[str, DataFrame]:
    """Full batch pipeline; returns the intermediate DataFrames too (the
    reference materializes each stage to JSON — we expose them lazily).

    Clustering = ``clustering.cluster_rounds``: connected components over
    the above-threshold, link-filtered candidate pairs, then the greedy
    merge (``merge.greedy_merge``) inside each component, which keeps every
    cluster source-consistent (no two members from one source)."""
    from pyspark.sql import Observation

    from .operators.clustering import ClusterRoundConfig, _cluster_state, cluster_rounds

    cfg = cfg or PipelineConfig()
    # prepared is consumed by clustering AND the final member join;
    # persist so the fingerprint UDF runs once per record, not per consumer.
    # df.observe rides the first action over it — per-stage row counters
    # (the reference's accumulators, Constants.java:33-87) at zero extra
    # jobs; read them via result["observations"][name].get after an action.
    obs_in = Observation("pipeline_input")
    in_aggs = [
        F.count(F.lit(1)).alias("rows"),
        # observe() forbids distinct aggregates (CollectMetrics); the HLL
        # sketch is the streaming-safe equivalent
        F.approx_count_distinct("blocking_key").alias("blocking_keys"),
    ]
    if cfg.use_audio and "bytes" in clips.columns:
        in_aggs.append(F.count(F.col("fingerprint")).alias("with_fingerprint"))
    prepared = prepare(clips, cfg).observe(obs_in, *in_aggs).persist()
    state = cluster_rounds(
        _cluster_state(prepared, cfg.use_audio),
        ClusterRoundConfig(
            min_sim=cfg.min_sim,
            max_sources=cfg.max_sources,
            max_block_rows=cfg.max_block_rows,
            use_audio=cfg.use_audio,
        ),
    )
    # map cluster state (member = long id) back to clip rows, then fuse
    membership = state.select(
        F.col("id").alias("cc_id"), F.explode("members").alias("id")
    )
    members = prepared.join(membership, "id", "left").withColumn(
        "cc_id", F.coalesce(F.col("cc_id"), F.col("id"))
    )
    obs_out = Observation("pipeline_output")
    reps = create_representatives(
        members,
        cluster_col="cc_id",
        id_col="clip_id",
        source_col="source",
        text_col="transcript",
        fingerprint_col="fingerprint" if cfg.use_audio else None,
        source_bits=cfg.source_bits,
    ).observe(
        obs_out,
        F.count(F.lit(1)).alias("clusters"),
        F.sum("n_members").alias("members_total"),
        F.max("n_members").alias("max_cluster_size"),
    )
    return {
        "prepared": prepared,
        "state": state,
        "clusters": reps,
        "observations": {"pipeline_input": obs_in, "pipeline_output": obs_out},
    }
