"""Keyed-state incremental clustering via ``applyInPandasWithState``.

The pure-streaming counterpart of engine.py's foreachBatch driver: cluster
state lives in Spark's own state store, keyed by blocking key
(north rule: "incremental connected-components / star-clustering pass
maintained in a keyed state store"). Per micro-batch and per key, the
grouped-map function unions the key's stored representatives with the new
arrivals and re-runs the local greedy merge (merge.greedy_merge_block — the
exact per-block fixpoint of DeltaIterateMergeMusicStepFunction.java:45-163),
emitting the key's updated clusters.

Blocks are small (bounded by blocking), so the per-key local fixpoint is
exact and cheap; the shuffle is one exchange on blocking_key per batch —
identical partitioning every batch, so the state store never re-shuffles.

Output rows: (blocking_key, cluster_id, members, sources_mask, label,
n_members) for every updated key group.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.local_sim import cosine_trigram_local, cosine_vec_local, mean_agg_local
from ..operators.merge import greedy_merge_block

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

# state = one row per cluster, members/label flattened to json-ish arrays
STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType()), True),
        T.StructField("members_flat", T.ArrayType(T.LongType()), True),
        T.StructField("members_len", T.ArrayType(T.IntegerType()), True),
        T.StructField("masks", T.ArrayType(T.LongType()), True),
        T.StructField("labels", T.ArrayType(T.StringType()), True),
    ]
)


def _default_sim(a: dict, b: dict) -> float | None:
    return mean_agg_local(
        cosine_trigram_local(a.get("label"), b.get("label")),
        cosine_vec_local(a.get("fingerprint"), b.get("fingerprint")),
    )


def make_cluster_fn(threshold: float, max_sources: int):
    """Build the (key, pdfs, state) → pdf iterator for
    ``applyInPandasWithState``."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        blocking_key = key[0]
        # restore prior clusters for this key
        clusters: list[dict] = []
        if state.exists:
            ids, members_flat, members_len, masks, labels = state.get
            pos = 0
            for i, cid in enumerate(ids):
                ln = members_len[i]
                clusters.append(
                    {
                        "id": cid,
                        "members": list(members_flat[pos : pos + ln]),
                        "sources_mask": masks[i],
                        "label": labels[i],
                        "blocking_key": blocking_key,
                    }
                )
                pos += ln
        for pdf in pdfs:
            for row in pdf.to_dict("records"):
                clusters.append(
                    {
                        "id": row["id"],
                        "members": [row["id"]],
                        "sources_mask": row["source_bit"],
                        "label": row["transcript_norm"],
                        "blocking_key": blocking_key,
                    }
                )
        if not clusters:
            return
        merged = greedy_merge_block(
            pd.DataFrame(clusters),
            threshold=threshold,
            max_sources=max_sources,
            sim_fn=_default_sim,
        )
        recs = merged.to_dict("records")
        state.update(
            (
                [int(r["id"]) for r in recs],
                [int(m) for r in recs for m in r["members"]],
                [len(r["members"]) for r in recs],
                [int(r["sources_mask"]) for r in recs],
                [r["label"] for r in recs],
            )
        )
        yield pd.DataFrame(
            {
                "blocking_key": [blocking_key] * len(recs),
                "cluster_id": [int(r["id"]) for r in recs],
                "members": [list(r["members"]) for r in recs],
                "sources_mask": [int(r["sources_mask"]) for r in recs],
                "label": [r["label"] for r in recs],
                "n_members": [len(r["members"]) for r in recs],
            }
        )

    return fn


def stateful_cluster_stream(
    prepared_stream: DataFrame,
    threshold: float = 0.7,
    max_sources: int = 5,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Attach the keyed-state clustering to a *prepared* streaming
    DataFrame (must carry id, transcript_norm, blocking_key, source_bit,
    event_time)."""
    return (
        prepared_stream.withWatermark("event_time", watermark)
        .groupBy("blocking_key")
        .applyInPandasWithState(
            make_cluster_fn(threshold, max_sources),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
