"""Greedy agglomerative merge — the reference's clustering core.

Re-creates the delta-iteration merge (model/functions/merge/
MergeExecution.java:139-297 + DeltaIterateMergeMusicStepFunction.java:45-163)
as a per-blocking-key local fixpoint inside ``applyInPandas``:

The reference's distributed delta iteration exists because Flink lacks
cheap driver loops; but every superstep's work is confined to one blocking
key (pairs are created per blocking label and never cross keys —
MergeMusicTripletCreator.java:25-49). Blocks are small (≲ hundreds of
entities), so running the *entire* greedy fixpoint locally per key group is
semantically identical — same greedy order, same tie-breaks — and removes
~#supersteps × 4 shuffles. At 100 TB the reference's design would shuffle
the whole workset once per superstep; this design shuffles the candidate
set exactly once (groupBy blocking_key).

Greedy order per superstep (DeltaIterateMergeMusicStepFunction.java:104-131
+ MaxSimMinIdMusicReducer.java:14-47): pick the max-sim pair, ties broken
by min(small id) then min(big id); merge the two clusters (union members,
OR source masks, keep min id — DualMergeMusicMapper.java:22-129); drop
pairs touching merged clusters whose source sets now overlap or whose
combined source count exceeds the limit (CheckRestrictionsFilterFunction
.java:27-50); recompute sims of surviving neighbor pairs against the merged
cluster; repeat until no pair ≥ threshold remains.

``greedy_merge`` is the engine's one copy of this fixpoint, with two
callers that plug in only their own similarity and fusion, as the
reference's domains do: the music merge (``clustering.merge_group``, the
solve of both clustering lanes, of ``merge_execution`` and of the
keyed-state stream) and the geo merge (``geo._merge_geo_block``).
"""

from __future__ import annotations

import heapq
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fuse_default(keep: int, a: dict, b: dict) -> dict:
    """DualMergeMusicMapper.java:22-129 fusion of two clusters, ``a`` the
    survivor (id ``keep``): union of members (sorted), OR of source masks,
    the longer label (a tie goes to ``a``), summed ``n_members``."""
    merged = dict(a)
    merged["members"] = sorted(a["members"] + b["members"])
    merged["sources_mask"] = a["sources_mask"] | b["sources_mask"]
    la, lb = a.get("label") or "", b.get("label") or ""
    merged["label"] = la if len(la) >= len(lb) else lb
    merged["n_members"] = a["n_members"] + b["n_members"]
    return merged


def greedy_merge(
    clusters: dict[int, dict],
    threshold: float,
    max_sources: int,
    sim_fn: Callable[[dict, dict], float | None],
    fuse_fn: Callable[[int, dict, dict], dict] = fuse_default,
) -> dict[int, dict]:
    """The greedy fixpoint over one group of clusters (id → cluster dict
    with at least ``members``, ``sources_mask`` and ``n_members``, the
    fields ``fuse_default`` reads), updated in place;
    returns it with the surviving clusters in input order.

    A pair is a candidate iff the source masks are disjoint, the combined
    source count is ≤ ``max_sources`` and ``sim_fn`` returns a value
    ≥ ``threshold`` (None = no vote, never merged). The highest-sim pair
    merges first, ties to the smallest a, then the smallest b; the lower
    id survives as ``fuse_fn(keep, a, b)`` (``a`` is the survivor), and
    the merged cluster is re-paired against every remaining cluster.

    Lazy-deletion heap: entries are (-sim, a, b, ver_a, ver_b), so heapq
    pops exactly that order, and an entry whose versions are stale (a side
    merged since the push) is skipped — O(log n) per merge instead of
    rebuilding the pair set."""

    def valid(a: dict, b: dict) -> bool:
        ma, mb = a["sources_mask"], b["sources_mask"]
        if ma & mb:
            return False
        return bin(ma).count("1") + bin(mb).count("1") <= max_sources

    ver = {i: 0 for i in clusters}
    heap: list = []

    def push(a: int, b: int, ca: dict, cb: dict) -> None:
        if valid(ca, cb):
            s = sim_fn(ca, cb)
            if s is not None and s >= threshold:
                lo, hi = (a, b) if a < b else (b, a)
                heapq.heappush(heap, (-s, lo, hi, ver[lo], ver[hi]))

    ids = sorted(clusters)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            push(a, b, clusters[a], clusters[b])
    while heap:
        _, a, b, va, vb = heapq.heappop(heap)
        if ver.get(a) != va or ver.get(b) != vb:
            continue
        merged = fuse_fn(a, clusters[a], clusters[b])
        merged["id"] = a
        clusters[a] = merged
        del clusters[b], ver[b]
        ver[a] += 1
        for other, co in clusters.items():
            if other != a:
                push(a, other, merged, co)
    return clusters


def merge_execution(
    representatives: DataFrame, threshold: float, max_sources: int
) -> DataFrame:
    """MergeExecution (MergeExecution.java:139-297): greedy agglomerative
    merge of cluster representatives within each blocking key — the music
    merge of ``clustering.merge_components`` on the label channel alone
    (trigram cosine, the reference's "ct" metric).

    ``representatives`` needs: id(long), members(array<long>),
    sources_mask(long), label(string), blocking_key(string). Returns the
    merged clusters with ``n_members`` = the member count."""
    from .clustering import ClusterRoundConfig, merge_components

    return merge_components(
        representatives.withColumn("n_members", F.size("members")),
        ClusterRoundConfig(min_sim=threshold, max_sources=max_sources, use_audio=False),
    )
