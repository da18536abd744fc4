"""Incremental match-selection operators (the streaming seam).

Behavioral re-creations of the reference's incremental clustering selection
strategies (model/functions/incremental/ + clusterstrategies/):

* ``max_both_selection``  — MaxBothSelection.java:27-82: a pair survives iff
  it is the argmax(sim) of BOTH its src and its dst; ties broken by min
  counterpart id. Two window ranks, fully distributed.
* ``hungarian_assignment`` — HungarianAlgorithmReduceFunction.java:27-181:
  per block, optimal 1:1 assignment minimizing (1 − sim). The reference
  bundles a standard O(n³) Kuhn–Munkres (util/HungarianAlgorithm.java);
  we run an independent pure-python implementation per block inside
  ``applyInPandas`` (blocks are small — ≤ #sources entities per side).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def max_both_selection(pairs: DataFrame, sim_col: str = "agg_sim") -> DataFrame:
    """Reciprocal-best selection (MaxBothSelection.java:27-82).

    Keep a pair iff it is the argmax(sim) over ALL partners of BOTH its
    endpoints; ties by min partner id. Pairs are canonical (src < dst), so
    a node's partners appear on both sides — the selection is computed on
    the node-centric view (explode both directions, one window per node),
    then both endpoints' best-partner choices must agree. Guarantees each
    node occurs in at most one surviving pair (a matching).
    """
    node_view = pairs.select(
        F.col("src").alias("node"), F.col("dst").alias("partner"), F.col(sim_col)
    ).unionByName(
        pairs.select(
            F.col("dst").alias("node"), F.col("src").alias("partner"), F.col(sim_col)
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc(sim_col), F.asc("partner"))
    best = (
        node_view.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("node", "partner")
    )
    fwd = best.withColumnRenamed("node", "src").withColumnRenamed("partner", "dst")
    bwd = best.withColumnRenamed("node", "dst").withColumnRenamed("partner", "src")
    return pairs.join(fwd, ["src", "dst"], "left_semi").join(
        bwd, ["src", "dst"], "left_semi"
    )


# ---------------------------------------------------------------------------
# Hungarian (Kuhn–Munkres) — pure python, run per block via applyInPandas
# ---------------------------------------------------------------------------


def _hungarian(cost: np.ndarray) -> list[tuple[int, int]]:
    """O(n³) Kuhn–Munkres on a rectangular cost matrix (rows ≤ cols after
    padding); returns (row, col) assignments. Independent implementation of
    the classical potentials+augmenting-path formulation (Jonker-style),
    not derived from the reference's util/HungarianAlgorithm.java."""
    n_rows, n_cols = cost.shape
    n = max(n_rows, n_cols)
    # pad square with zeros (padded cells = non-assignments)
    c = np.zeros((n, n))
    c[:n_rows, :n_cols] = cost
    INF = float("inf")
    u = [0.0] * (n + 1)
    v = [0.0] * (n + 1)
    p = [0] * (n + 1)  # p[j] = row assigned to column j (1-based)
    way = [0] * (n + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (n + 1)
        used = [False] * (n + 1)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = -1
            for j in range(1, n + 1):
                if not used[j]:
                    cur = c[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    out = []
    for j in range(1, n + 1):
        if p[j] != 0 and p[j] <= n_rows and j <= n_cols:
            out.append((p[j] - 1, j - 1))
    return out


def hungarian_match_block(pdf: pd.DataFrame, min_sim: float) -> pd.DataFrame:
    """One block's optimal assignment: rows = distinct src, cols = distinct
    dst, cost = 1 − sim (missing pairs = cost 1 + ε so they never win over
    a real pair); assignments below ``min_sim`` are discarded
    (HungarianAlgorithmReduceFunction.java:27-181 keeps only matched pairs
    above threshold)."""
    srcs = sorted(pdf["src"].unique())
    dsts = sorted(pdf["dst"].unique())
    si = {s: i for i, s in enumerate(srcs)}
    di = {d: i for i, d in enumerate(dsts)}
    cost = np.full((len(srcs), len(dsts)), 1.5)
    sim_lookup: dict[tuple[int, int], float] = {}
    for row in pdf.itertuples(index=False):
        cost[si[row.src], di[row.dst]] = 1.0 - row.agg_sim
        sim_lookup[(si[row.src], di[row.dst])] = row.agg_sim
    out = []
    for r, c_ in _hungarian(cost):
        sim = sim_lookup.get((r, c_))
        if sim is not None and sim >= min_sim:
            out.append({"src": srcs[r], "dst": dsts[c_], "agg_sim": sim})
    return pd.DataFrame(out, columns=["src", "dst", "agg_sim"])


def source_addition_clustering(
    state: DataFrame,
    arrivals: DataFrame,
    min_sim: float = 0.7,
    max_sources: int = 5,
    selection: str = "max_both",
    block_col: str = "blocking_key",
) -> DataFrame:
    """SOURCE_ADDITION step (clusterstrategies/SourceAdditionClustering
    .java:62-191): match a new source's records against the existing
    cluster representatives, merge the matched pairs, re-add the unmatched
    on both sides.

    ``state``/``arrivals`` are cluster-state rows (id, members,
    sources_mask, label, blocking_key, trigram_set, n_members
    [, band_keys][, fingerprint]); arrivals are typically singletons of one
    new source. The result carries ``band_keys`` either way.
    Candidates are cross-side only (DataSourceOverlapCheckFilterFunction —
    here: the pair must span state × arrivals), restricted by source
    overlap/count; selection = 'max_both' (reciprocal best) or 'hungarian'
    (per-block optimal assignment). One round — the reference performs one
    selection pass per added source; repeated addition = repeated calls.
    """
    from ..functions.audio import fingerprint_cosine
    from ..functions.similarity import cosine_trigram_from_sets, mean_agg_sim
    from .clustering import ClusterRoundConfig, _merge_matches

    use_audio = "fingerprint" in state.columns and "fingerprint" in arrivals.columns
    payload = ["members", "sources_mask", "label", "trigram_set", "n_members"]
    if use_audio:
        payload.append("fingerprint")
    tag = lambda df, side: df.withColumn("_side", F.lit(side))  # noqa: E731
    both = tag(state, 0).unionByName(tag(arrivals, 1), allowMissingColumns=True)
    from .blocking import block_pairs

    restrict = (
        (F.col("l._side") != F.col("r._side"))
        & (F.col("l.sources_mask").bitwiseAND(F.col("r.sources_mask")) == 0)
        & (
            F.bit_count(F.col("l.sources_mask")) + F.bit_count(F.col("r.sources_mask"))
            <= max_sources
        )
    )
    pairs = block_pairs(
        both,
        key_col=block_col,
        id_col="id",
        restrict=restrict,
        payload_cols=payload + ["_side"],
    )
    sims = [
        cosine_trigram_from_sets(
            F.col("src_trigram_set"), F.col("dst_trigram_set")
        ).alias("sim_text")
    ]
    if use_audio:
        sims.append(
            fingerprint_cosine(
                F.col("src_fingerprint"), F.col("dst_fingerprint")
            ).alias("sim_audio")
        )
    sim_cols = [F.col("sim_text")] + ([F.col("sim_audio")] if use_audio else [])
    scored = (
        pairs.select("*", *sims)
        .withColumn("agg_sim", mean_agg_sim(*sim_cols, scale=6))
        .filter(F.col("agg_sim") >= min_sim)
    )
    if selection == "hungarian":
        # Re-orient by the carried _side payload: rows = state clusters,
        # cols = arrivals. block_pairs canonicalizes by id (src < dst), so
        # without this a single entity could appear as both a row and a
        # column inside one cost matrix and be assigned twice — the
        # reference's HungarianAlgorithmReduceFunction operates on oriented
        # (existing-cluster, new-entity) triplets, keeping sides disjoint.
        flip = F.col("src__side") > F.col("dst__side")
        oriented = scored.select(
            F.col(block_col),
            F.when(flip, F.col("dst")).otherwise(F.col("src")).alias("src"),
            F.when(flip, F.col("src")).otherwise(F.col("dst")).alias("dst"),
            F.col("agg_sim"),
        )
        chosen = hungarian_selection(
            oriented,
            block_col=block_col,
            min_sim=min_sim,
        )
        # back to canonical src < dst: the merge keeps the min id
        # (DualMergeMusicMapper semantics)
        chosen = chosen.select(
            F.least(F.col("src"), F.col("dst")).alias("src"),
            F.greatest(F.col("src"), F.col("dst")).alias("dst"),
            "agg_sim",
        )
        # join payloads back for the merge projection
        side = both.select("id", block_col, *[F.col(c) for c in payload])
        chosen = chosen.drop(block_col).join(
            side.select(
                F.col("id").alias("src"),
                F.col(block_col),
                *[F.col(c).alias(f"src_{c}") for c in payload],
            ),
            "src",
        ).join(
            side.select(
                F.col("id").alias("dst"),
                *[F.col(c).alias(f"dst_{c}") for c in payload],
            ),
            "dst",
        )
    else:
        chosen = max_both_selection(scored, sim_col="agg_sim")
    rcfg = ClusterRoundConfig(
        min_sim=min_sim, max_sources=max_sources, use_audio=use_audio
    )
    merged = _merge_matches(both.drop("_side"), chosen, rcfg)
    return merged


def hungarian_selection(
    pairs: DataFrame,
    block_col: str = "blocking_key",
    sim_col: str = "agg_sim",
    min_sim: float = 0.0,
) -> DataFrame:
    """Per-block optimal 1:1 assignment via grouped-map pandas.

    Each blocking-key group is shipped to one Arrow batch; blocks are tiny
    (bounded by #sources per entity side) so the O(n³) local solve is
    negligible next to the shuffle that groups the pairs.
    """
    schema = T.StructType(
        [
            T.StructField("src", pairs.schema["src"].dataType, False),
            T.StructField("dst", pairs.schema["dst"].dataType, False),
            T.StructField("agg_sim", T.DoubleType(), True),
        ]
    )
    prepared = pairs.select("src", "dst", F.col(sim_col).alias("agg_sim"), block_col)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return hungarian_match_block(pdf, min_sim)

    from ..util import parallel_grouped

    return (
        parallel_grouped(prepared, block_col)
        .groupBy(block_col)
        .applyInPandas(solve, schema=schema)
    )
