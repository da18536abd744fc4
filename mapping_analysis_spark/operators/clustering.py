"""Batch clustering core: candidate components, then a per-component
greedy merge.

Re-creates the reference's agglomerative clustering (the delta-iteration
merge, merge/MergeExecution.java:139-297, with DeltaIterateMergeMusicStep
Function.java:45-163's music similarity and fusion) in two stages:

  1. decomposition (``candidate_components``): blocked pairs ∪ LSH pairs,
     scored block-locally (trigram cosine + optional MFCC cosine,
     mean-agg), source-overlap + max-source restrictions
     (CheckRestrictionsFilterFunction.java:27-50), threshold ≥ min_sim,
     the BasicLinkFilter best-link selection, then connected components;
  2. merge (``merge_components``): per component (size-capped at
     ``max_component_rows``, larger ones sub-grouped by blocking key), the
     exact greedy fixpoint of ``merge.greedy_merge`` — max-sim pair first,
     ties min small id / min big id, min id survives, union members, OR
     source masks, keep the longer label, member-weighted mean fingerprint
     (DualMergeMusicMapper.java:22-129).

The reference confines every superstep of its delta iteration to one
blocking key; with bounded groups the local fixpoint gives the same greedy
order and costs one shuffle instead of #supersteps × 4.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import (
    cosine_trigram_from_sets,
    mean_agg_sim,
    trigram_set,
)


@dataclass
class ClusterRoundConfig:
    min_sim: float = 0.7
    max_sources: int = 5
    max_block_rows: int = 256
    use_audio: bool = True
    # round-0 LSH candidate union: catches pairs whose prefix blocking keys
    # diverged (typo in the first chars, dropped first token — the recall
    # gap of pure prefix blocking; the reference offers LSH_BLOCKING as an
    # alternative strategy, we run it as a complement). 12 bands × 4 rows
    # puts the banding s-curve midpoint at (1/12)^(1/4) ≈ 0.54 Jaccard —
    # generous recall for true pairs whose blocking prefix diverged (a
    # dropped first token leaves J ≈ 0.6-0.8); the extra low-J candidates
    # are cheap because pair scoring is a single narrow materialized pass
    use_lsh_round0: bool = True
    lsh_bands: int = 12
    lsh_rows_per_band: int = 4
    lsh_seed: int = 42
    # guardrail: candidate components larger than this fall back to
    # (component × prefix-blocking-key) sub-grouping — a chain of borderline
    # candidate edges (e.g. spuriously-similar fingerprints) must never
    # produce an unbounded quadratic merge group
    max_component_rows: int = 512
    # best-link selection BEFORE connected components (the reference's
    # BasicLinkFilter, BasicLinkFilterFunction.java:46-79): keep only the
    # max-sim link per (cluster, neighbor-source-set). Without it, hot
    # artists chain thousands of above-threshold borderline pairs into one
    # giant component (measured: 16k rows of a 35k corpus in ONE cc) whose
    # CC convergence and merge grouping serialize; with it, components are
    # bounded near the true cluster size
    use_link_filter: bool = True


def _cluster_state(prepared: DataFrame, use_audio: bool) -> DataFrame:
    """Singleton cluster per record: (id, members, sources_mask, label,
    blocking_key, trigram_set, n_members[, fingerprint])."""
    cols = [
        F.col("id"),
        F.array(F.col("id")).alias("members"),
        F.col("source_bit").alias("sources_mask"),
        F.col("transcript_norm").alias("label"),
        F.col("blocking_key"),
        F.col("trigram_set"),
        F.lit(1).alias("n_members"),
    ]
    if use_audio and "fingerprint" in prepared.columns:
        cols.append(F.col("fingerprint"))
    return prepared.select(*cols)


def _round_pairs(
    clusters: DataFrame,
    cfg: ClusterRoundConfig,
    extra_pair_ids: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs between current clusters with restrictions.
    ``extra_pair_ids`` (src, dst) — e.g. LSH candidates — are unioned in,
    then the pair set is deduplicated.

    Scale shape (each step measured on a 35k-clip / 13.9M-candidate run):

    1. Only (id, sources_mask) ride the salted self-join; the mask
       restriction prunes pairs inside the join.
    2. The similarity arrays (xxhash64-hashed trigram sets — long
       intersects, no per-probe UTF8 hashing — and fingerprints) are
       equi-joined onto the pair ids and consumed IN the same stage; the
       wide rows are never shuffled.
    3. Scores are written to a NARROW (src, dst, sims) parquet before the
       threshold filter: Spark's higher-order array functions are not
       codegen'd and every downstream reference re-evaluates them, so
       without the materialize boundary the sims were computed ~3× per
       candidate (this was the single hottest spot of the whole pipeline).
    4. Payloads are joined back only for the ~1% surviving pairs.
    """
    from ..util import materialize

    payload = ["members", "sources_mask", "label", "trigram_set", "n_members"]
    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    if use_audio:
        payload.append("fingerprint")
    # Blocked pairs are enumerated, mask-restricted, AND scored inside one
    # block-local grouped-map pass (salted_block_pair_scores): each
    # record's hashed trigram array travels once per salt cell — never
    # per pair. The previous shape (id-only pair materialize, then two
    # equi-joins attaching the arrays per pair) was only cheap while the
    # sim side auto-broadcast; past the 64 MB broadcast threshold (~150k
    # records) it silently became two sort-merge joins shuffling the array
    # payload once per PAIR (~50 GB at 300k clips / 120M candidates — the
    # dominant non-scaling term in the N-vs-4N bench).
    hashed_cols = [
        "id",
        "blocking_key",
        "sources_mask",
        F.array_sort(
            F.transform(F.col("trigram_set"), lambda t: F.xxhash64(t))
        ).alias("_tg"),
    ]
    if use_audio:
        hashed_cols.append("fingerprint")
    hashed = clusters.select(*hashed_cols)
    # One block-local pass scores BOTH channels (round 5): the trigram
    # cosine is the cheap channel and bounds the reachable agg_sim — with
    # mean aggregation over two channels, a pair needs sim_text ≥
    # 2·min_sim − 1 to pass the threshold even at a perfect audio sim of
    # 1.0, so the audio dot runs only on pairs that clear the bound — and
    # it runs INSIDE the same grouped-map kernel over a ≤ 53 KB per-group
    # fingerprint matrix (fp_col), so no per-pair float arrays are ever
    # materialized or joined (the former two hash joins + interpreted JVM
    # fold were one of the non-scaling DRAM-bound stages in the N-vs-4N
    # bench). The 1e-6 slack keeps the 6dp HALF_UP rounding boundary on
    # the kept side, so the survivor set is provably identical to scoring
    # both channels on every pair.
    from .blocking import fp_pair_cosine, salted_block_pair_scores

    text_bound = (2.0 * cfg.min_sim - 1.0 if use_audio else cfg.min_sim) - 1e-6
    blocked_scored = salted_block_pair_scores(
        hashed,
        key_col="blocking_key",
        id_col="id",
        tokens_col="_tg",
        mask_col="sources_mask",
        max_block_rows=cfg.max_block_rows,
        max_sources=cfg.max_sources,
        emit_min=text_bound,
        fp_col="fingerprint" if use_audio else None,
    )
    if use_audio:
        # grouped-map float columns carry NaN for 'no vote' (Arrow has no
        # null-in-float64-from-numpy); normalize to proper nulls so
        # mean_agg_sim's absent-channel semantics apply and the union
        # below dedupes on identical rows
        blocked_scored = blocked_scored.withColumn(
            "sim_audio",
            F.when(F.isnan("sim_audio"), F.lit(None)).otherwise(
                F.col("sim_audio")
            ),
        )
    if extra_pair_ids is not None:
        # LSH extras are few (≈ one per banded record); join the arrays
        # back by id for them only, then dedupe on the NARROW rows (a pair
        # can surface both blocked and via LSH; sims are BIT-identical —
        # the text twin is pinned by test, the audio twin delegates to the
        # same fp_cosine_grid kernel — so dropDuplicates is deterministic).
        side_cols = ["id", "_tg"] + (["fingerprint"] if use_audio else [])
        tg_side = hashed.select(*side_cols)
        lsh_scored = (
            extra_pair_ids.select("src", "dst")
            .join(
                tg_side.select(
                    F.col("id").alias("src"),
                    F.col("_tg").alias("_stg"),
                    *([F.col("fingerprint").alias("_sfp")] if use_audio else []),
                ),
                "src",
            )
            .join(
                tg_side.select(
                    F.col("id").alias("dst"),
                    F.col("_tg").alias("_dtg"),
                    *([F.col("fingerprint").alias("_dfp")] if use_audio else []),
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                cosine_trigram_from_sets(F.col("_stg"), F.col("_dtg")).alias(
                    "sim_text"
                ),
                *(
                    [fp_pair_cosine(F.col("_sfp"), F.col("_dfp")).alias("sim_audio")]
                    if use_audio
                    else []
                ),
            )
        )
        if use_audio:
            lsh_scored = lsh_scored.withColumn(
                "sim_audio",
                F.when(F.isnan("sim_audio"), F.lit(None)).otherwise(
                    F.col("sim_audio")
                ),
            )
        blocked_scored = blocked_scored.unionByName(lsh_scored).dropDuplicates(
            ["src", "dst"]
        )
    narrow = materialize(blocked_scored)
    if use_audio:
        # LSH extras skipped the emit_min bound — apply it here (blocked
        # rows already cleared it; null sim_text = no-vote passes through)
        scored_full = narrow.filter(
            F.col("sim_text").isNull() | (F.col("sim_text") >= text_bound)
        )
    else:
        scored_full = narrow
    sim_cols = [F.col("sim_text")] + ([F.col("sim_audio")] if use_audio else [])
    survivors = scored_full.withColumn(
        "agg_sim", mean_agg_sim(*sim_cols, scale=6)
    ).filter(F.col("agg_sim") >= cfg.min_sim)
    side = clusters.select("id", "blocking_key", *[F.col(c) for c in payload])
    return (
        survivors.join(
            side.select(
                F.col("id").alias("src"),
                F.col("blocking_key"),
                *[F.col(c).alias(f"src_{c}") for c in payload],
            ),
            "src",
        )
        .join(
            side.select(
                F.col("id").alias("dst"),
                *[F.col(c).alias(f"dst_{c}") for c in payload],
            ),
            "dst",
        )
        # LSH extras skipped the in-join mask restriction — re-check on the
        # (tiny) surviving set (CheckRestrictionsFilterFunction.java:27-50)
        .filter(
            (F.col("src_sources_mask").bitwiseAND(F.col("dst_sources_mask")) == 0)
            & (
                F.bit_count(F.col("src_sources_mask"))
                + F.bit_count(F.col("dst_sources_mask"))
                <= cfg.max_sources
            )
        )
    )


def _merge_matches(clusters: DataFrame, matches: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """Apply one round of pair merges to the cluster state.

    ``matches`` carries both sides' payloads (src_* / dst_*) from the pair
    join, so the merge is a pure projection — no join back to state needed
    for the merged rows; untouched rows survive via anti-join.
    """
    touched = matches.select(F.col("src").alias("id")).unionByName(
        matches.select(F.col("dst").alias("id"))
    )
    untouched = clusters.join(touched, "id", "left_anti")
    longer = F.length(F.col("src_label")) >= F.length(F.col("dst_label"))
    fused_label = F.when(longer, F.col("src_label")).otherwise(F.col("dst_label"))
    merged_cols = [
        # canonical pairs have src < dst → min id survives (DualMergeMusicMapper keeps min)
        F.col("src").alias("id"),
        F.sort_array(F.concat(F.col("src_members"), F.col("dst_members"))).alias(
            "members"
        ),
        F.col("src_sources_mask")
        .bitwiseOR(F.col("dst_sources_mask"))
        .alias("sources_mask"),
        fused_label.alias("label"),
        F.col("blocking_key"),
        trigram_set(fused_label).alias("trigram_set"),
        (F.col("src_n_members") + F.col("dst_n_members")).alias("n_members"),
    ]
    if cfg.use_audio and "src_fingerprint" in matches.columns:
        merged_cols.append(
            F.when(
                F.col("src_fingerprint").isNull(), F.col("dst_fingerprint")
            )
            .when(F.col("dst_fingerprint").isNull(), F.col("src_fingerprint"))
            .otherwise(
                F.zip_with(
                    F.col("src_fingerprint"),
                    F.col("dst_fingerprint"),
                    lambda a, b: (
                        (
                            a.cast("double") * F.col("src_n_members")
                            + b.cast("double") * F.col("dst_n_members")
                        )
                        / (F.col("src_n_members") + F.col("dst_n_members"))
                    ).cast("float"),
                )
            )
            .alias("fingerprint")
        )
    merged = matches.select(*merged_cols)
    return untouched.unionByName(merged)


def candidate_components(state: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """Decomposition pass (the reference's DefaultPreprocessing →
    ConnectedComponentIdAdder chain, preprocessing/DefaultPreprocessing
    .java:39-60): candidate pairs = blocked pairs ∪ LSH pairs, sim ≥
    threshold, then connected components over them. Returns (id, cc).

    Components become the merge grouping — every record reachable through
    above-threshold candidates is clusterable with its peers even when
    their prefix blocking keys diverged (the recall limit of pure prefix
    blocking)."""
    extra = None
    if cfg.use_lsh_round0:
        from .blocking import lsh_pairs

        extra = lsh_pairs(
            state,
            trigram_col="trigram_set",
            id_col="id",
            bands=cfg.lsh_bands,
            rows_per_band=cfg.lsh_rows_per_band,
            seed=cfg.lsh_seed,
        )
    pairs = _round_pairs(state, cfg, extra_pair_ids=extra)
    if cfg.use_link_filter:
        # BasicLinkFilter (BasicLinkFilterFunction.java:46-79): an edge
        # survives only if it is the max-sim link of its src towards dst's
        # source set AND of its dst towards src's source set; ties by
        # (src asc, dst asc). Keeps every true-duplicate link (a record's
        # best match per source IS its duplicate) while cutting the
        # borderline cross-cluster edges that chain components together.
        order = [F.desc("agg_sim"), F.asc("src"), F.asc("dst")]
        w_src = Window.partitionBy("src", "dst_sources_mask").orderBy(*order)
        w_dst = Window.partitionBy("dst", "src_sources_mask").orderBy(*order)
        pairs = (
            pairs.withColumn("_r1", F.row_number().over(w_src))
            .withColumn("_r2", F.row_number().over(w_dst))
            .filter((F.col("_r1") == 1) & (F.col("_r2") == 1))
        )
    from .graph import connected_components

    return connected_components(
        pairs.select("src", "dst"),
        vertices=state.select("id"),
        id_col="id",
        cc_col="cc",
    )


def merge_components(clusters: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """One-shot merge: per component group, run ``merge.greedy_merge``
    with the music similarity and fusion (DeltaIterateMergeMusicStep
    Function.java:45-163: trigram + MFCC cosine, longer label, member-
    weighted mean fingerprint).

    The decomposition guardrail caps groups at max_component_rows, so the
    local O(n²) solve is bounded; the whole merge phase costs exactly ONE
    shuffle (groupBy blocking_key) — no driver rounds. This is the same
    trade the reference makes: its delta iteration confines every superstep
    to one blocking key; with bounded groups the local fixpoint is
    semantically identical and removes #supersteps × 4 shuffles."""
    import math

    import pandas as pd

    from ..functions.local_sim import (
        _INSANE,
        round6,
        simplify_local,
        trigram_set_local,
    )
    from pyspark.sql import types as T

    from .merge import fuse_default, greedy_merge

    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    fields = [
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(T.LongType()), False),
        T.StructField("sources_mask", T.LongType(), False),
        T.StructField("label", T.StringType(), True),
        T.StructField("blocking_key", T.StringType(), True),
        T.StructField("n_members", T.IntegerType(), False),
    ]
    if use_audio:
        fields.append(T.StructField("fingerprint", T.ArrayType(T.FloatType()), True))
    schema = T.StructType(fields)
    threshold, max_sources = cfg.min_sim, cfg.max_sources

    def _tg(label: str | None) -> frozenset | None:
        if label is None or label in _INSANE:
            return None
        return trigram_set_local(simplify_local(label))

    audio_text_bound = 2.0 * threshold - 1.0 - 1e-6

    def sim_fn(a: dict, b: dict) -> float | None:
        # trigram sets cached per cluster ('_tg'), semantics identical to
        # local_sim.cosine_trigram_local
        sa_, sb_ = a.get("_tg"), b.get("_tg")
        if sa_ is None or sb_ is None:
            st = None
        elif not sa_ and not sb_:
            st = 1.0
        elif not sa_ or not sb_:
            st = 0.0
        else:
            inter = len(sa_ & sb_)
            st = round6(inter / math.sqrt(len(sa_) * len(sb_)))
        if not use_audio:
            return st
        if st is not None and st < audio_text_bound:
            # even a perfect audio sim of 1.0 cannot lift the mean to the
            # threshold — identical survivor set, audio dot skipped
            return None
        fa, fb = a.get("fingerprint"), b.get("fingerprint")
        if fa is None or fb is None:
            au = None
        else:
            dot = 0.0
            for x_, y_ in zip(fa, fb):
                dot += x_ * y_
            nrm = a["_fpn"] * b["_fpn"]
            au = round6(dot / nrm) if nrm > 0 else None
        if st is None and au is None:
            return None
        if st is None:
            return au
        if au is None:
            return st
        return round6((st + au) / 2.0)

    def fuse_fn(keep: int, a: dict, b: dict) -> dict:
        merged = fuse_default(keep, a, b)
        la, lb = a.get("label") or "", b.get("label") or ""
        merged["_tg"] = a["_tg"] if len(la) >= len(lb) else b["_tg"]
        if use_audio:
            na, nb = a["n_members"], b["n_members"]
            fa, fb = a.get("fingerprint"), b.get("fingerprint")
            if fa is None:
                merged["fingerprint"], merged["_fpn"] = fb, b["_fpn"]
            elif fb is not None:
                fm = [(x * na + y * nb) / (na + nb) for x, y in zip(fa, fb)]
                merged["fingerprint"] = fm
                merged["_fpn"] = math.sqrt(sum(x_ * x_ for x_ in fm))
        return merged

    cols = [f.name for f in fields]

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        clusters_l: dict[int, dict] = {}
        for row in pdf.to_dict("records"):
            row["members"] = list(row["members"])
            if use_audio:
                fp = row.get("fingerprint")
                if fp is not None:
                    row["fingerprint"] = list(fp)
                    row["_fpn"] = math.sqrt(sum(x_ * x_ for x_ in fp))
                else:
                    row["_fpn"] = 0.0
            row["_tg"] = _tg(row.get("label"))
            clusters_l[row["id"]] = row
        out = greedy_merge(clusters_l, threshold, max_sources, sim_fn, fuse_fn)
        return pd.DataFrame(
            [{c: cl.get(c) for c in cols} for cl in out.values()], columns=cols
        )

    from ..util import parallel_grouped

    return (
        parallel_grouped(clusters.select(*cols), "blocking_key")
        .groupBy("blocking_key")
        .applyInPandas(solve, schema=schema)
    )


def cluster_rounds(
    state: DataFrame, cfg: ClusterRoundConfig | None = None
) -> DataFrame:
    """Cluster an existing cluster-state DataFrame (id, members,
    sources_mask, label, blocking_key, trigram_set, n_members
    [, fingerprint]).

    Stage 1 (decomposition): candidate components over blocked ∪ LSH
    above-threshold pairs (size-capped), the grouping within which merging
    happens. Stage 2 (merge): per-component local greedy fixpoint — one
    shuffle. The returned state's ``blocking_key`` is restored to the
    prefix key of the fused label (so streaming re-keying stays stable),
    and ``trigram_set`` is recomputed from the fused label."""
    from ..util import materialize

    cfg = cfg or ClusterRoundConfig()
    clusters = materialize(state)
    cc = candidate_components(clusters, cfg)
    sizes = cc.groupBy("cc").agg(F.count(F.lit(1)).alias("_cc_n"))
    clusters = (
        clusters.join(cc, "id")
        .join(sizes, "cc")
        .withColumn(
            "blocking_key",
            F.when(
                F.col("_cc_n") <= cfg.max_component_rows,
                F.col("cc").cast("string"),
            ).otherwise(
                F.concat_ws("|", F.col("cc").cast("string"), F.col("blocking_key"))
            ),
        )
    )
    # singleton components (no surviving candidate edge) can never merge —
    # route them around the grouped-map Python stage; they are the largest
    # group population and each group costs an Arrow batch + pandas frame
    keep_cols = [
        c
        for c in (
            "id",
            "members",
            "sources_mask",
            "label",
            "blocking_key",
            "n_members",
            "fingerprint",
        )
        if c in clusters.columns
    ]
    singletons = clusters.filter(F.col("_cc_n") == 1).select(*keep_cols)
    multi = clusters.filter(F.col("_cc_n") > 1).drop("cc", "_cc_n")
    merged = merge_components(multi, cfg).unionByName(singletons)
    from ..functions.text import music_blocking_label

    return merged.withColumn(
        "blocking_key", music_blocking_label(F.col("label"), 4)
    ).withColumn("trigram_set", trigram_set(F.col("label")))
