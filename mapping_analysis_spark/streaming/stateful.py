"""Keyed-state incremental clustering via ``applyInPandasWithState``.

The pure-streaming counterpart of engine.py's foreachBatch driver: cluster
state lives in Spark's own state store, keyed by blocking key
(north rule: "incremental connected-components / star-clustering pass
maintained in a keyed state store"). Per micro-batch and per key, the
grouped-map function unions the key's stored clusters with the new
arrivals and re-runs the music merge of both clustering lanes,
``clustering.merge_group`` (the exact per-block fixpoint of
DeltaIterateMergeMusicStepFunction.java:45-163: trigram + MFCC cosine,
longer label, member-weighted mean fingerprint), emitting the key's
updated clusters. The audio channel votes when the prepared stream
carries a ``fingerprint`` column; the state then keeps each cluster's
fused fingerprint.

Blocks are small (bounded by blocking), so the per-key local fixpoint is
exact and cheap; the shuffle is one exchange on blocking_key per batch —
identical partitioning every batch, so the state store never re-shuffles.

State per key: one ``array<struct>`` of ``clustering._merge_schema`` rows.
Output rows: (blocking_key, cluster_id, members, sources_mask, label,
n_members) for every updated key group.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.clustering import _merge_schema, merge_group

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("blocking_key", T.StringType(), True),
        T.StructField("cluster_id", T.LongType(), False),
        T.StructField("members", T.ArrayType(T.LongType()), False),
        T.StructField("sources_mask", T.LongType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("n_members", T.IntegerType(), False),
    ]
)


def _plain(v):
    """A state value as plain Python (the JVM unpickler rejects numpy
    scalars and arrays)."""
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (list, np.ndarray)):
        return [_plain(x) for x in v]
    return v


def make_cluster_fn(threshold: float, max_sources: int, use_audio: bool):
    """Build the (key, pdfs, state) → pdf iterator for
    ``applyInPandasWithState``."""
    cols = _merge_schema(use_audio).fieldNames()

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        blocking_key = key[0]
        frames = []
        if state.exists:
            frames.append(pd.DataFrame([tuple(r) for r in state.get[0]], columns=cols))
        for pdf in pdfs:
            arrivals = pd.DataFrame(
                {
                    "id": pdf["id"],
                    "members": [[i] for i in pdf["id"]],
                    "sources_mask": pdf["source_bit"],
                    "label": pdf["transcript_norm"],
                    "blocking_key": blocking_key,
                    "n_members": 1,
                }
            )
            if use_audio:
                arrivals["fingerprint"] = pdf["fingerprint"]
            frames.append(arrivals)
        merged = merge_group(
            pd.concat(frames, ignore_index=True), threshold, max_sources, use_audio
        )
        state.update(
            ([tuple(_plain(v) for v in r) for r in merged.itertuples(index=False)],)
        )
        yield merged.rename(columns={"id": "cluster_id"})[OUTPUT_SCHEMA.fieldNames()]

    return fn


def stateful_cluster_stream(
    prepared_stream: DataFrame,
    threshold: float = 0.7,
    max_sources: int = 5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Attach the keyed-state clustering to a *prepared* streaming
    DataFrame (must carry id, transcript_norm, blocking_key, source_bit,
    event_time; a ``fingerprint`` column turns the audio channel on)."""
    use_audio = "fingerprint" in prepared_stream.columns
    state_schema = T.StructType(
        [T.StructField("clusters", T.ArrayType(_merge_schema(use_audio)), False)]
    )
    cols = ["id", "transcript_norm", "blocking_key", "source_bit", "event_time"]
    return (
        prepared_stream.withWatermark("event_time", watermark)
        .select(*cols + (["fingerprint"] if use_audio else []))
        .groupBy("blocking_key")
        .applyInPandasWithState(
            make_cluster_fn(threshold, max_sources, use_audio),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
