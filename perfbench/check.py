"""Output checks: membership, pairwise F1 against gold, and an
order-insensitive output hash that must repeat for the same code and seed."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter


def membership_errors(member_lists: list[list[str]], input_ids: list[str]) -> dict:
    """Counts of input clips missing from the output, clips in more than one
    cluster, and output clips that were never input."""
    seen = Counter(c for members in member_lists for c in members)
    inputs = set(input_ids)
    return {
        "missing": sum(1 for c in inputs if c not in seen),
        "duplicated": sum(1 for c, n in seen.items() if n > 1),
        "unknown": sum(1 for c in seen if c not in inputs),
    }


def output_hash(member_lists: list[list[str]]) -> str:
    """SHA-256 of the sorted clusters, each a sorted member list."""
    canon = sorted(",".join(sorted(m)) for m in member_lists)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def pairwise_f1(spark, member_lists: list[list[str]], gold_path: str) -> dict:
    """P/R/F1 with ``operators.quality`` over the clusters' clip ids."""
    from mapping_analysis_spark.operators.quality import (
        cluster_pairs,
        gold_pairs,
        pairwise_quality,
    )

    clusters = spark.createDataFrame(
        [(m,) for m in member_lists], "members array<string>"
    )
    gold = spark.read.parquet(gold_path)
    return pairwise_quality(cluster_pairs(clusters), gold_pairs(gold))


def remember_hash(registry: str, key: str, digest: str) -> str | None:
    """Record ``digest`` for ``key``; returns the earlier digest when a
    previous run of the same key recorded a different one."""
    known = {}
    if os.path.exists(registry):
        with open(registry) as f:
            known = json.load(f)
    earlier = known.get(key)
    if earlier is None:
        known[key] = digest
        tmp = f"{registry}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, registry)
    return earlier if earlier not in (None, digest) else None
