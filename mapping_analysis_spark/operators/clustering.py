"""Batch clustering core: candidate components, then a per-component
greedy merge.

Re-creates the reference's agglomerative clustering (the delta-iteration
merge, merge/MergeExecution.java:139-297, with DeltaIterateMergeMusicStep
Function.java:45-163's music similarity and fusion) in two stages:

  1. decomposition (``candidate_components``): the candidate groups —
     blocking keys and LSH band buckets — scored by one kernel,
     ``blocking.score_pairs`` (source-overlap + max-source restrictions,
     CheckRestrictionsFilterFunction.java:27-50; trigram cosine +
     optional MFCC cosine), mean-agg ≥ min_sim, the BasicLinkFilter
     best-link selection, then connected components;
  2. merge (``merge_components``): per component (size-capped at
     ``max_component_rows``, larger ones sub-grouped by blocking key), the
     exact greedy fixpoint of ``merge.greedy_merge`` — max-sim pair first,
     ties min small id / min big id, min id survives, union members, OR
     source masks, keep the longer label, member-weighted mean fingerprint
     (DualMergeMusicMapper.java:22-129).

The reference confines every superstep of its delta iteration to one
blocking key; with bounded groups the local fixpoint gives the same greedy
order and costs one shuffle instead of #supersteps × 4.

Two lanes, one result. ``cluster_rounds`` materializes the working set and
reads its row count from the parquet footers. A set of at most
``2 × max_block_rows`` rows — the largest group the salted scorer ever
builds — is clustered in one driver pass (``_cluster_small``): one collect
that runs no Python UDF (both lanes read the LSH band index from the
state's ``band_keys`` column, derived once per row by ``blocking.band_keys``),
then the same stages in process (``candidate_components`` and
``graph.connected_components`` on pandas frames, ``blocking.score_pairs``,
``merge_group``). That is the shape of the
reference's incremental mode (small increments against a large
clustering, IncrementalMusicBenchmark.java:83-190), where the distributed
plan's fixed per-job and per-Python-task costs are the whole bill. Larger
sets take the distributed path. Salting never changes the pair set, so
the gate adds no knob and cannot change a result; tests force the
distributed path with a small ``max_block_rows``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import mean_agg_sim, trigram_set


@dataclass
class ClusterRoundConfig:
    min_sim: float = 0.7
    max_sources: int = 5
    # salting bound of the block scorer (groups ≤ 2× this); a working set
    # that fits one such group takes cluster_rounds' single-pass lane
    max_block_rows: int = 256
    use_audio: bool = True
    # guardrail: candidate components larger than this fall back to
    # (component × prefix-blocking-key) sub-grouping — a chain of borderline
    # candidate edges (e.g. spuriously-similar fingerprints) must never
    # produce an unbounded quadratic merge group
    max_component_rows: int = 512


def _cluster_state(prepared: DataFrame, use_audio: bool) -> DataFrame:
    """Singleton cluster per record: (id, members, sources_mask, label,
    blocking_key, trigram_set, band_keys, n_members[, fingerprint])."""
    cols = [
        F.col("id"),
        F.array(F.col("id")).alias("members"),
        F.col("source_bit").alias("sources_mask"),
        F.col("transcript_norm").alias("label"),
        F.col("blocking_key"),
        F.col("trigram_set"),
        F.col("band_keys"),
        F.lit(1).alias("n_members"),
    ]
    if use_audio and "fingerprint" in prepared.columns:
        cols.append(F.col("fingerprint"))
    return prepared.select(*cols)


def _round_pairs(clusters: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """Scored candidate pairs of the distributed lane: (src, dst, agg_sim,
    src_sources_mask, dst_sources_mask) for every pair whose mean-agg sim
    reaches ``min_sim``.

    The reference's two blocking strategies side by side
    (BlockingStrategy.java:6-12), as the single-pass lane forms them: a
    candidate group is a blocking key (every row with a non-null key) or a
    band bucket (the ``band_keys`` rows of a bucket of 2 to
    ``LSH_MAX_BUCKET`` rows). A bucket whose rows all share one non-null
    blocking key adds no pair its key's group lacks, so it is left out.
    Group keys are tagged ``k``/``b``: a blocking key can never meet a band
    key. One ``salted_block_pair_scores`` call scores every group with the
    ``score_pairs`` kernel (source restriction, trigram cosine, the text
    bound, fingerprint cosine). A pair found in several groups gets the
    same sims from each — its scores depend on its own two rows only — so
    dropping duplicates on (src, dst) keeps one of identical rows.

    Scale shape: each record's hashed trigram array (and fingerprint)
    travels once per group it sits in, times the salt cells — never per
    pair; the narrow scored pairs are written once (``materialize``) and
    everything downstream reads that parquet; the two source masks the
    link filter needs reach the survivors through narrow (id, mask)
    joins."""
    from ..util import materialize
    from .blocking import LSH_MAX_BUCKET, salted_block_pair_scores

    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    payload = ["id", "sources_mask", "_tg"] + (["fingerprint"] if use_audio else [])
    tg = F.array_sort(F.transform(F.col("trigram_set"), lambda t: F.xxhash64(t)))
    hashed = clusters.withColumn("_tg", tg).select("blocking_key", "band_keys", *payload)
    keyed = hashed.filter(F.col("blocking_key").isNotNull()).select(
        F.concat(F.lit("k"), F.col("blocking_key")).alias("_group"), *payload
    )
    banded = hashed.select(
        "blocking_key", F.explode("band_keys").alias("_band"), *payload
    )
    buckets = (
        banded.groupBy("_band")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count("blocking_key").alias("_nk"),
            F.min("blocking_key").alias("_kmin"),
            F.max("blocking_key").alias("_kmax"),
        )
        .filter(
            F.col("_n").between(2, LSH_MAX_BUCKET)
            & ((F.col("_nk") < F.col("_n")) | (F.col("_kmin") != F.col("_kmax")))
        )
    )
    bucketed = banded.join(buckets.select("_band"), "_band", "left_semi").select(
        F.concat(F.lit("b"), F.col("_band")).alias("_group"), *payload
    )
    scored = salted_block_pair_scores(
        keyed.unionByName(bucketed),
        key_col="_group",
        id_col="id",
        tokens_col="_tg",
        mask_col="sources_mask",
        max_block_rows=cfg.max_block_rows,
        max_sources=cfg.max_sources,
        emit_min=_text_bound(cfg, use_audio),
        fp_col="fingerprint" if use_audio else None,
    ).dropDuplicates(["src", "dst"])
    sim_cols = [F.col("sim_text")]
    if use_audio:
        # grouped-map float columns carry NaN for 'no vote'; as nulls they
        # are the absent channel of mean_agg_sim
        scored = scored.withColumn(
            "sim_audio", F.when(~F.isnan("sim_audio"), F.col("sim_audio"))
        )
        sim_cols.append(F.col("sim_audio"))
    survivors = (
        materialize(scored)
        .withColumn("agg_sim", mean_agg_sim(*sim_cols, scale=6))
        .filter(F.col("agg_sim") >= cfg.min_sim)
    )
    masks = clusters.select("id", "sources_mask")
    for side in ("src", "dst"):
        survivors = survivors.join(
            masks.select(
                F.col("id").alias(side),
                F.col("sources_mask").alias(f"{side}_sources_mask"),
            ),
            side,
        )
    return survivors


def _merge_matches(clusters: DataFrame, matches: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """Apply one round of pair merges to the cluster state.

    ``matches`` carries both sides' payloads (src_* / dst_*) from the pair
    join, so the merge is a pure projection — no join back to state needed
    for the merged rows; untouched rows survive via anti-join. Merged rows
    get the band keys of their fused label; untouched rows keep theirs
    (derived from their trigram set if ``clusters`` has none).
    """
    from .blocking import band_keys

    touched = matches.select(F.col("src").alias("id")).unionByName(
        matches.select(F.col("dst").alias("id"))
    )
    if "band_keys" not in clusters.columns:
        clusters = clusters.withColumn("band_keys", band_keys(F.col("trigram_set")))
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
        band_keys(trigram_set(fused_label)).alias("band_keys"),
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


def candidate_components(state, cfg: ClusterRoundConfig):
    """Decomposition pass (the reference's DefaultPreprocessing →
    ConnectedComponentIdAdder chain, preprocessing/DefaultPreprocessing
    .java:39-60): candidate pairs = blocked pairs ∪ LSH pairs, sim ≥
    threshold, then connected components over them. Returns (id, cc).
    Both lanes score every candidate pair with ``blocking.score_pairs``;
    the distributed lane runs it in the salted grouped-map scorer over
    blocking-key groups and band buckets (``_round_pairs``).

    Components become the merge grouping — every record reachable through
    above-threshold candidates is clusterable with its peers even when
    their prefix blocking keys diverged (a typo in the first chars, a
    dropped first token: the recall limit of pure prefix blocking; the
    reference offers LSH_BLOCKING as an alternative strategy, we run it as
    a complement). The LSH pairs share a key of the ``band_keys`` column
    (``blocking.band_keys``) in a bucket of at most ``LSH_MAX_BUCKET`` rows.

    A pandas ``state`` is the single-pass lane's collected working set
    (with ``_tg``): the pass then runs in process (``_local_candidates``)
    and returns pandas (id, cc) in row order."""
    if not isinstance(state, DataFrame):
        return _local_candidates(state, cfg)
    pairs = _round_pairs(state, cfg)
    # BasicLinkFilter (BasicLinkFilterFunction.java:46-79): an edge
    # survives only if it is the max-sim link of its src towards dst's
    # source set AND of its dst towards src's source set; ties by (src asc,
    # dst asc). Keeps every true-duplicate link (a record's best match per
    # source IS its duplicate) while cutting the borderline cross-cluster
    # edges that chain components together: without it, hot artists chained
    # 16k rows of a 35k corpus into ONE component whose CC convergence and
    # merge grouping serialize.
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


def _merge_schema(use_audio: bool):
    """Schema of a merged cluster row (``fingerprint`` only with audio)."""
    from pyspark.sql import types as T

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
    return T.StructType(fields)


def merge_group(pdf, threshold: float, max_sources: int, use_audio: bool):
    """``merge.greedy_merge`` over one merge group's rows with the music
    similarity and fusion (DeltaIterateMergeMusicStepFunction.java:45-163:
    trigram + MFCC cosine, longer label, member-weighted mean
    fingerprint). The one solve of both clustering lanes: the grouped map
    of ``merge_components`` and the driver pass of ``_cluster_small``."""
    import math

    import pandas as pd

    from ..functions.local_sim import (
        _INSANE,
        round6,
        simplify_local,
        trigram_set_local,
    )
    from .merge import fuse_default, greedy_merge

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

    cols = _merge_schema(use_audio).fieldNames()
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


def merge_components(clusters: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """One-shot merge: ``merge_group`` per component group.

    The decomposition guardrail caps groups at max_component_rows, so the
    local O(n²) solve is bounded; the whole merge phase costs exactly ONE
    shuffle (groupBy blocking_key) — no driver rounds. This is the same
    trade the reference makes: its delta iteration confines every superstep
    to one blocking key; with bounded groups the local fixpoint is
    semantically identical and removes #supersteps × 4 shuffles."""
    from ..util import parallel_grouped

    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    schema = _merge_schema(use_audio)
    threshold, max_sources = cfg.min_sim, cfg.max_sources

    def solve(pdf):
        return merge_group(pdf, threshold, max_sources, use_audio)

    return (
        parallel_grouped(clusters.select(*schema.fieldNames()), "blocking_key")
        .groupBy("blocking_key")
        .applyInPandas(solve, schema=schema)
    )


def _text_bound(cfg: ClusterRoundConfig, use_audio: bool) -> float:
    """Lowest sim_text that can still reach ``min_sim``: with mean
    aggregation over two channels a pair needs sim_text ≥ 2·min_sim − 1
    even at a perfect audio sim of 1.0. The 1e-6 slack keeps the 6dp
    HALF_UP rounding boundary on the kept side, so the survivor set is
    identical to scoring both channels on every pair."""
    return (2.0 * cfg.min_sim - 1.0 if use_audio else cfg.min_sim) - 1e-6


def _local_candidates(pdf, cfg: ClusterRoundConfig):
    """``candidate_components`` in process, over the working set ``pdf``
    (``_merge_schema`` columns + ``band_keys``, the state's LSH band index,
    and ``_tg``, the hashed trigram array computed in Spark SQL as the
    distributed path computes it):

    1. candidate pairs: every pair within a non-null blocking key (one
       unsalted group — salting never changes the pair set) ∪ every pair
       sharing a ``band_keys`` key whose bucket holds ≤ ``LSH_MAX_BUCKET``
       rows, each pair once;
    2. ``blocking.score_pairs`` over them: the source restriction, the
       trigram cosine, the text bound, the fingerprint cosine; the scored
       pairs are written to parquet (pyarrow, no Spark job) — the same
       rows the distributed lane's scorer writes;
    3. mean-agg (``mean_agg_sim``: mean of the present channels, 6dp
       HALF_UP) ≥ ``min_sim``;
    4. the BasicLinkFilter: a pair survives if it is first in
       (−agg_sim, src, dst) order among the pairs of (src, dst's mask)
       and among those of (dst, src's mask) — ``candidate_components``'
       two row_number windows;
    5. ``graph.connected_components`` in process → min-id components.

    Spark SQL would need a createDataFrame → window → collect round trip
    per batch for step 4, so the filter and the band bucketing have
    in-process twins; tests pin this lane to the distributed one."""
    import numpy as np
    import pandas as pd

    from ..functions.local_sim import round6_vec
    from ..util import materialize
    from .blocking import LSH_MAX_BUCKET, score_pairs
    from .graph import connected_components

    use_audio = cfg.use_audio and "fingerprint" in pdf.columns
    n = len(pdf)
    ids = pdf["id"].to_numpy(dtype=np.int64)

    # ---- 1. candidate index pairs, as codes lo·n + hi (lo < hi)
    codes = [np.zeros(0, dtype=np.int64)]

    def add_group(rows) -> None:
        rows = np.asarray(rows, dtype=np.int64)
        li, ri = np.triu_indices(len(rows), k=1)
        codes.append(rows[li] * n + rows[ri])

    for rows in pdf.groupby("blocking_key", sort=False).indices.values():
        add_group(rows)
    buckets: dict[str, list[int]] = {}
    for i, keys in enumerate(pdf["band_keys"]):
        for k in keys:
            buckets.setdefault(k, []).append(i)
    for rows in buckets.values():
        if len(rows) <= LSH_MAX_BUCKET:
            add_group(rows)
    pair_codes = np.unique(np.concatenate(codes))

    # ---- 2. scores, restriction and text bound
    scored = pd.DataFrame(
        score_pairs(
            ids,
            pdf["sources_mask"].to_numpy(),
            list(pdf["_tg"]),
            pair_codes // n,
            pair_codes % n,
            cfg.max_sources,
            _text_bound(cfg, use_audio),
            fps=pdf["fingerprint"] if use_audio else None,
        )
    )
    materialize(scored)

    # ---- 3. mean-agg threshold (NaN = no vote)
    chans = scored[["sim_text", "sim_audio"] if use_audio else ["sim_text"]]
    chans = chans.to_numpy(dtype=np.float64).T
    present = ~np.isnan(chans)
    with np.errstate(invalid="ignore", divide="ignore"):
        agg = round6_vec(
            np.where(present, chans, 0.0).sum(axis=0) / present.sum(axis=0)
        )
    pairs = scored[["src", "dst"]].assign(agg_sim=agg)
    pairs = pairs[pairs["agg_sim"] >= cfg.min_sim]

    # ---- 4. BasicLinkFilter
    if len(pairs):
        mask_of = pd.Series(pdf["sources_mask"].to_numpy(), index=ids)
        pairs = pairs.assign(
            _sm=mask_of.loc[pairs["src"]].to_numpy(),
            _dm=mask_of.loc[pairs["dst"]].to_numpy(),
        ).sort_values(
            ["agg_sim", "src", "dst"], ascending=[False, True, True], kind="stable"
        )
        first = ~pairs.duplicated(["src", "_dm"]) & ~pairs.duplicated(["dst", "_sm"])
        pairs = pairs[first]

    # ---- 5. connected components
    return connected_components(pairs, vertices=ids, id_col="id", cc_col="cc")


def _cluster_small(clusters: DataFrame, cfg: ClusterRoundConfig) -> DataFrame:
    """The single-pass lane of ``cluster_rounds``: ``candidate_components``
    + ``merge_components`` for a working set that fits one scorer group,
    run on the driver over ONE collect, with the same kernels and the same
    result.

    The collect reads the working set's ``band_keys`` and computes in Spark
    SQL what the distributed path computes there, the hashed trigram array
    ``_tg``; it runs no Python UDF. Then, in process,
    ``candidate_components`` (its pandas form) and
    ``merge_group`` per merge group (the component, or component ×
    blocking key above ``max_component_rows``, as ``concat_ws`` builds
    it); singletons pass through."""
    import numpy as np
    import pandas as pd

    use_audio = cfg.use_audio and "fingerprint" in clusters.columns
    schema = _merge_schema(use_audio)
    cols = schema.fieldNames()
    tg = F.array_sort(F.transform(F.col("trigram_set"), lambda t: F.xxhash64(t)))
    pdf = clusters.select(*cols, "band_keys", tg.alias("_tg")).toPandas()
    spark = clusters.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)

    cc = candidate_components(pdf, cfg)["cc"].to_numpy()
    _, inverse, counts = np.unique(cc, return_inverse=True, return_counts=True)
    size = counts[inverse]

    # ---- per-group merge; singletons pass through
    group = [
        str(c) if s <= cfg.max_component_rows or not isinstance(k, str) else f"{c}|{k}"
        for c, s, k in zip(cc.tolist(), size.tolist(), pdf["blocking_key"])
    ]
    rows = pdf[cols].assign(blocking_key=group)
    parts = [rows[size == 1]]
    multi = rows[size > 1]
    for _, g in multi.groupby("blocking_key", sort=False):
        parts.append(merge_group(g, cfg.min_sim, cfg.max_sources, use_audio))
    out = pd.concat(parts, ignore_index=True)
    return spark.createDataFrame(out, schema)


def _restore_keys(merged: DataFrame) -> DataFrame:
    """Re-key the merged state on its fused labels: the prefix blocking
    key (so streaming re-keying stays stable), the trigram set and its band
    keys. The band keys stay lazy: a consumer that never reads them prunes
    the UDF."""
    from ..functions.text import music_blocking_label
    from .blocking import band_keys

    return (
        merged.withColumn("blocking_key", music_blocking_label(F.col("label"), 4))
        .withColumn("trigram_set", trigram_set(F.col("label")))
        .withColumn("band_keys", band_keys(F.col("trigram_set")))
    )


def cluster_rounds(
    state: DataFrame, cfg: ClusterRoundConfig | None = None
) -> DataFrame:
    """Cluster an existing cluster-state DataFrame (id, members,
    sources_mask, label, blocking_key, trigram_set, band_keys, n_members
    [, fingerprint]).

    Stage 1 (decomposition): candidate components over blocked ∪ LSH
    above-threshold pairs (size-capped), the grouping within which merging
    happens. Stage 2 (merge): per-component local greedy fixpoint — one
    shuffle. The returned state's ``blocking_key`` is restored to the
    prefix key of the fused label (so streaming re-keying stays stable),
    and ``trigram_set`` and ``band_keys`` are recomputed from the fused
    label.

    Lane choice: the working set is materialized first and its row count
    read from the parquet footers (no Spark job; on storage the driver
    cannot read, one ``limit(2 × max_block_rows + 1).count()`` job). A
    working set of at most ``2 × max_block_rows`` rows — the largest group
    the salted scorer ever builds — is clustered in one driver pass
    (``_cluster_small``) with the same kernels; anything larger takes the
    distributed path. Salting never changes the pair set, so the gate adds
    no knob and changes no result: a micro-batch or a small batch pays one
    collect instead of ~30 Spark jobs, and tests force the distributed
    path with a small ``max_block_rows``."""
    from ..util import loop_paths, materialize, parquet_rows

    cfg = cfg or ClusterRoundConfig()
    gate = 2 * cfg.max_block_rows
    path = loop_paths(1, "working")[0]
    clusters = materialize(state, path)
    n_rows = parquet_rows(path)
    if n_rows is None:
        n_rows = clusters.limit(gate + 1).count()
    if n_rows <= gate:
        return _restore_keys(_cluster_small(clusters, cfg))
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
    return _restore_keys(merge_components(multi, cfg).unionByName(singletons))
