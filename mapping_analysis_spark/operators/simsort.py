"""SimSort — cluster splitting by low-similarity vertex eviction.

Re-creates the reference's vertex-centric SimSort iteration
(decomposition/simsort/SimSortVertexCentricIteration.java:33-39 +
SimSortComputeFunction.java:26-109): within each component (hash_cc), every
vertex's agg sim = mean of its incident edge sims; while any vertex's mean
sim is below ``min_sim``, evict the *lowest* such vertex (deterministic: min
sim, tie → min id) into its own new component; recompute; repeat to
fixpoint.

The reference runs this as a Pregel iteration because Flink ships it per
superstep; components here are tiny (bounded by blocking), so the whole
fixpoint runs locally per component in one ``applyInPandas`` — one shuffle
total, bit-identical results (same eviction order by the same tie-break).
Evicted vertices get ``hash_cc = new stable id`` derived from the vertex id
(the reference uses md5(id + "false"), Utils.getHash — any deterministic
injective id works; we use -(id+1) to keep it collision-free vs min-id
components).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIMSORT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("hash_cc", T.LongType(), False),
        T.StructField("old_hash_cc", T.LongType(), False),
    ]
)


def simsort_block(pdf: pd.DataFrame, min_sim: float) -> pd.DataFrame:
    """One component's eviction fixpoint. ``pdf``: src, dst, agg_sim,
    hash_cc (constant per group)."""
    cc = int(pdf["hash_cc"].iloc[0])
    edges = [
        (int(r.src), int(r.dst), float(r.agg_sim)) for r in pdf.itertuples(index=False)
    ]
    active = {v for s, d, _ in edges for v in (s, d)}
    out = []
    while True:
        sims: dict[int, list[float]] = {v: [] for v in active}
        for s, d, w in edges:
            if s in active and d in active:
                sims[s].append(w)
                sims[d].append(w)
        means = {
            v: (sum(ws) / len(ws)) if ws else None for v, ws in sims.items()
        }
        # vertices with no surviving edge leave as singletons too
        below = [
            (m if m is not None else -1.0, v)
            for v, m in means.items()
            if m is None or m < min_sim
        ]
        if not below or len(active) <= 1:
            break
        below.sort(key=lambda t: (t[0], t[1]))
        _, evict = below[0]
        active.discard(evict)
        out.append({"id": evict, "hash_cc": -(evict + 1), "old_hash_cc": cc})
    for v in active:
        out.append({"id": v, "hash_cc": cc, "old_hash_cc": cc})
    return pd.DataFrame(out, columns=["id", "hash_cc", "old_hash_cc"])


def simsort(
    edges: DataFrame,
    min_sim: float,
    cc_col: str = "hash_cc",
    sim_col: str = "agg_sim",
) -> DataFrame:
    """Per-component SimSort fixpoint.

    ``edges``: (src, dst, <sim_col>, <cc_col>). Returns (id, hash_cc,
    old_hash_cc) for every vertex in edges — vertices that kept their
    component keep its id; evicted vertices get a fresh negative id
    (SimSortComputeFunction.java:59-71 deactivation semantics).
    """
    prepared = edges.select(
        "src", "dst", F.col(sim_col).alias("agg_sim"), F.col(cc_col).alias("hash_cc")
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return simsort_block(pdf, min_sim)

    from ..util import parallel_grouped

    return (
        parallel_grouped(prepared, "hash_cc")
        .groupBy("hash_cc")
        .applyInPandas(solve, schema=SIMSORT_SCHEMA)
    )
