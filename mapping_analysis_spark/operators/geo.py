"""Geographic entity-resolution pipeline (settlement-benchmark domain).

Re-creates (behaviorally) the reference's geo path:

* ``merge_initialization`` — merge/MergeInitialization.java:50-113: after
  SimSort splits low-similarity vertices out of their cluster, singleton
  representatives that remember their origin component (``old_hash_cc``)
  are re-paired within that component, re-scored with the geo similarity
  (label cosine-trigram + geo distance + type), and pairs ≥ 0.5 are
  re-fused into one representative per origin component before the merge
  phase — "rejoin vertices which have been in one cluster previously to
  reduce the complexity for the following merge step". MUSIC/NC domains
  pass through unchanged (createResult, MergeInitialization.java:50-56).
* ``run_geo_batch`` — the geo variant of pipeline.run_batch: blocking via
  the 3-char geo label (Utils.getGeoBlockingLabel), candidate restriction
  adds TYPE overlap (MergeGeoTripletCreator.java:55-115: summedSources ≤ n
  ∧ typeOverlap ∧ ¬srcOverlap), similarity = mean(label ct, geo, type)
  (GeoSimilarityFunction.java:34-90), decomposition + per-component greedy
  merge with geo attribute fusion (DualMergeGeographyMapper.java:41-90:
  min id survives, longer label, coordinates from the higher-priority
  side — one-valid-side first, then lowest source bit, mirroring the
  GeoNames > DBpedia preference chain).

Scale shape matches the music path: salted block pairs, ids+narrow payload
through the shuffle, one applyInPandas pass over size-capped components.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.similarity import (
    cosine_trigram_from_sets,
    geo_sim,
    mean_agg_sim,
    trigram_set,
)
from ..functions.text import geo_blocking_label
from ..functions.types import normalize_types, type_sim
from .blocking import salted_block_pairs


@dataclass
class GeoConfig:
    min_sim: float = 0.5
    max_sources: int = 5
    max_block_rows: int = 256
    max_component_rows: int = 512
    blocking_length: int = 3


GEO_STATE_FIELDS = [
    T.StructField("id", T.LongType(), False),
    T.StructField("members", T.ArrayType(T.LongType()), False),
    T.StructField("sources_mask", T.LongType(), False),
    T.StructField("label", T.StringType(), True),
    T.StructField("lat", T.DoubleType(), True),
    T.StructField("lon", T.DoubleType(), True),
    T.StructField("types", T.ArrayType(T.StringType()), True),
    T.StructField("blocking_key", T.StringType(), True),
    T.StructField("n_members", T.IntegerType(), False),
]


def prepare_geo(points: DataFrame, cfg: GeoConfig | None = None) -> DataFrame:
    """Singleton geo cluster state from raw points
    (id, label, lat, lon, types:array<string>, source:string)."""
    cfg = cfg or GeoConfig()
    distinct_sources = [
        r[0] for r in points.select("source").distinct().orderBy("source").collect()
    ]
    bit = None
    for i, s in enumerate(distinct_sources):
        b = F.when(F.col("source") == s, F.lit(1 << i))
        bit = b if bit is None else bit.when(F.col("source") == s, F.lit(1 << i))
    return points.select(
        F.col("id").cast("long").alias("id"),
        F.array(F.col("id").cast("long")).alias("members"),
        bit.otherwise(F.lit(0)).cast("long").alias("sources_mask"),
        F.col("label"),
        F.col("lat").cast("double"),
        F.col("lon").cast("double"),
        normalize_types(F.col("types")).alias("types"),
        geo_blocking_label(F.col("label"), cfg.blocking_length).alias("blocking_key"),
        F.lit(1).alias("n_members"),
    )


def geo_pair_sims(pairs: DataFrame, cfg: GeoConfig) -> DataFrame:
    """Score carried-payload pairs with the three geo channels
    (GeoSimilarityFunction.java:34-90) and mean-aggregate.

    Uses precomputed per-record trigram sets (``src_trigrams``/
    ``dst_trigrams``) when the pair carries them — recomputing
    ``trigram_set`` per pair is an interpreted higher-order expression
    that Catalyst inlines once per reference (measured 2.3 ms/pair →
    ~20 s for 8.6k pairs at sf0.1); per-record precompute in the
    materialized state makes the per-pair work intersect+size only."""
    has_tg = "src_trigrams" in pairs.columns
    tl = F.col("src_trigrams") if has_tg else trigram_set(F.col("src_label"))
    tr = F.col("dst_trigrams") if has_tg else trigram_set(F.col("dst_label"))
    scored = pairs.select(
        "*",
        cosine_trigram_from_sets(tl, tr).alias("sim_label"),
        geo_sim(
            F.col("src_lat"), F.col("src_lon"), F.col("dst_lat"), F.col("dst_lon")
        ).alias("sim_geo"),
        type_sim(F.col("src_types"), F.col("dst_types")).alias("sim_type"),
    )
    return scored.withColumn(
        "agg_sim",
        mean_agg_sim(
            F.col("sim_label"), F.col("sim_geo"), F.col("sim_type"), scale=6
        ),
    ).filter(F.col("agg_sim") >= cfg.min_sim)


def geo_candidate_pairs(state: DataFrame, cfg: GeoConfig) -> DataFrame:
    """Salted block pairs with the geo restrictions: no source overlap,
    summed source count ≤ max, TYPE overlap on the GENERALIZED comp types
    (MergeGeoTripletCreator.java:74-80 checks hasOverlap over
    AbstractionUtils.getTypesInt, which bit-packs types only after
    Utils.getShadingTypes generalization — so Settlement matches
    AdministrativeRegion here). An untyped side matches anything
    (Utils.hasEmptyType — must not be blocked from matching)."""
    from ..functions.types import shading_generalize

    payload = ["members", "sources_mask", "label", "lat", "lon", "types", "n_members"]
    if "trigrams" in state.columns:
        payload.append("trigrams")
    untyped = lambda side: (  # noqa: E731
        F.col(f"{side}.types").isNull()
        | (F.size(f"{side}.types") == 0)
        | F.array_contains(F.col(f"{side}.types"), "no_type")
    )
    restrict = (
        (F.col("l.sources_mask").bitwiseAND(F.col("r.sources_mask")) == 0)
        & (
            F.bit_count(F.col("l.sources_mask")) + F.bit_count(F.col("r.sources_mask"))
            <= cfg.max_sources
        )
        & (
            F.arrays_overlap(
                shading_generalize(F.col("l.types")),
                shading_generalize(F.col("r.types")),
            )
            | untyped("l")
            | untyped("r")
        )
    )
    return salted_block_pairs(
        state,
        key_col="blocking_key",
        id_col="id",
        max_block_rows=cfg.max_block_rows,
        restrict=restrict,
        payload_cols=payload,
    )


def geo_block_pair_scores(state: DataFrame, cfg: GeoConfig) -> DataFrame:
    """Block-LOCAL enumerate-and-score for the geo path — the music path's
    scale treatment applied to the 3-channel geo similarity. Returns
    (src, dst, agg_sim ≥ cfg.min_sim).

    Value-identical to ``geo_pair_sims(geo_candidate_pairs(state, cfg),
    cfg)`` (pinned by test), but each record's NARROW payload — hashed
    label-trigram array, lat/lon, hashed type sets, source mask — travels
    once per salt cell instead of the full payload (members, label,
    trigram arrays) riding the shuffle per PAIR. Pairs are enumerated,
    restricted (MergeGeoTripletCreator.java:55-115: no source overlap,
    summed sources ≤ max, generalized-type overlap with untyped passing)
    and scored (GeoSimilarityFunction.java:34-90: label cosine-trigram +
    geo distance + type, mean over voting channels) inside one vectorized
    grouped-map pass; only id pairs and the aggregate leave the stage.

    Channel kernels: label cosine via the shared run/bincount intersection
    counts (6dp HALF_UP, both-empty → 1.0); geo distance via vectorized
    haversine (R=6371 km, null/out-of-range coords → no vote, ≥150 km → 0,
    else 1−d/150 km at 6dp); type sim via intersection counts on the
    hashed canonical sets (direct → 1.0) plus a small per-pair set check
    for the shaded direction only on typed, non-direct survivors
    (SHADING_TYPE_SIM == 1.0)."""
    import numpy as np

    from ..functions.local_sim import round6_vec
    from ..functions.similarity import hashed_trigram_tokens
    from ..functions.types import NO_TYPE, _shaded, shading_generalize
    from .blocking import cell_pair_grid, pair_intersection_counts

    def _hset(col):
        return F.array_sort(
            F.transform(
                F.coalesce(col, F.array().cast("array<string>")),
                lambda t: F.xxhash64(t),
            )
        )

    untyped = (
        F.col("types").isNull()
        | (F.size("types") == 0)
        | F.array_contains(F.col("types"), NO_TYPE)
    )
    narrow = state.filter(F.col("blocking_key").isNotNull()).select(
        F.col("id").alias("_id"),
        F.col("blocking_key").alias("_key"),
        F.col("sources_mask").alias("_mask"),
        hashed_trigram_tokens(F.col("label")).alias("_tok"),
        F.col("lat").alias("_lat"),
        F.col("lon").alias("_lon"),
        _hset(F.col("types")).alias("_tc"),
        _hset(_shaded(F.col("types"))).alias("_ts"),
        _hset(shading_generalize(F.col("types"))).alias("_tg2"),
        untyped.alias("_untyped"),
    )
    sizes = narrow.groupBy("_key").agg(F.count(F.lit(1)).alias("_block_n"))
    with_cell = (
        narrow.join(
            F.broadcast(sizes.filter(F.col("_block_n") > cfg.max_block_rows)),
            "_key",
            "left",
        )
        .withColumn(
            "_n_cells",
            F.coalesce(
                F.ceil(F.col("_block_n") / F.lit(cfg.max_block_rows)).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn(
            "_cell", F.pmod(F.xxhash64(F.col("_id")), F.col("_n_cells")).cast("int")
        )
    )
    pairs_of_cell = F.concat(
        F.transform(
            F.sequence(F.col("_cell"), F.col("_n_cells") - 1),
            lambda j: F.struct(F.col("_cell").alias("i"), j.alias("j")),
        ),
        F.when(
            F.col("_cell") > 0,
            F.transform(
                F.sequence(F.lit(0), F.col("_cell") - 1),
                lambda i: F.struct(i.alias("i"), F.col("_cell").alias("j")),
            ),
        ).otherwise(F.expr("array()").cast("array<struct<i:int,j:int>>")),
    )
    grouped = with_cell.withColumn("_g", F.explode(pairs_of_cell)).select(
        "_id", "_key", "_mask", "_tok", "_lat", "_lon", "_tc", "_ts", "_tg2",
        "_untyped", "_cell",
        F.col("_g.i").alias("_gi"),
        F.col("_g.j").alias("_gj"),
    )
    schema = T.StructType(
        [
            T.StructField("src", T.LongType(), False),
            T.StructField("dst", T.LongType(), False),
            T.StructField("agg_sim", T.DoubleType(), True),
        ]
    )
    min_sim, max_sources = cfg.min_sim, cfg.max_sources
    _EMPTY = pd.DataFrame(
        {"src": pd.Series(dtype="int64"), "dst": pd.Series(dtype="int64"),
         "agg_sim": pd.Series(dtype="float64")}
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(pdf["_gi"].iloc[0]), int(pdf["_gj"].iloc[0])
        ids = pdf["_id"].to_numpy()
        masks = pdf["_mask"].to_numpy().astype(np.int64)
        cells = pdf["_cell"].to_numpy()
        n = len(ids)
        li, ri = cell_pair_grid(cells, gi, gj)
        if len(li) == 0:
            return _EMPTY.copy()
        # restriction 1: source masks
        nbits = np.array([bin(int(m)).count("1") for m in masks], dtype=np.int64)
        ok = ((masks[li] & masks[ri]) == 0) & (nbits[li] + nbits[ri] <= max_sources)
        li, ri = li[ok], ri[ok]
        if len(li) == 0:
            return _EMPTY.copy()
        lo, hi = np.minimum(li, ri), np.maximum(li, ri)
        # restriction 2: generalized-type overlap, untyped passes
        untyped_a = pdf["_untyped"].to_numpy().astype(bool)
        tg2 = [np.asarray(t, dtype=np.int64) for t in pdf["_tg2"]]
        g_lens = np.array([len(t) for t in tg2], dtype=np.int64)
        inter_g = pair_intersection_counts(tg2, g_lens, lo, hi)
        ok = (inter_g > 0) | untyped_a[li] | untyped_a[ri]
        li, ri, lo, hi = li[ok], ri[ok], lo[ok], hi[ok]
        if len(li) == 0:
            return _EMPTY.copy()
        # channel 1: label cosine-trigram (6dp HALF_UP, both-empty → 1.0)
        toks = [np.asarray(t, dtype=np.int64) for t in pdf["_tok"]]
        lens = np.array([len(t) for t in toks], dtype=np.int64)
        inter = pair_intersection_counts(toks, lens, lo, hi)
        na, nb = lens[li], lens[ri]
        denom = np.sqrt((na * nb).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            x = np.where(denom > 0, inter / denom, 0.0)
        x = np.where((na == 0) & (nb == 0), 1.0, x)
        sim_label = round6_vec(x)
        # channel 2: geo distance (haversine m, 150 km cut, NaN = no vote)
        lat = pdf["_lat"].to_numpy(dtype=np.float64, na_value=np.nan)
        lon = pdf["_lon"].to_numpy(dtype=np.float64, na_value=np.nan)
        la, lb = lat[li], lat[ri]
        oa, ob = lon[li], lon[ri]
        valid = (
            ~np.isnan(la) & ~np.isnan(lb) & ~np.isnan(oa) & ~np.isnan(ob)
            & (np.abs(la) <= 90) & (np.abs(lb) <= 90)
            & (np.abs(oa) <= 180) & (np.abs(ob) <= 180)
        )
        dlat = np.radians(lb - la)
        dlon = np.radians(ob - oa)
        h = np.sin(dlat / 2) ** 2 + np.cos(np.radians(la)) * np.cos(
            np.radians(lb)
        ) * np.sin(dlon / 2) ** 2
        d = 6371.0 * 2 * np.arctan2(np.sqrt(h), np.sqrt(1 - h)) * 1000.0
        with np.errstate(invalid="ignore"):
            g = np.where(d >= 150000.0, 0.0, round6_vec(1.0 - d / 150000.0))
        sim_geo = np.where(valid, g, np.nan)
        # channel 3: type sim (direct → 1.0; shaded → SHADING_TYPE_SIM=1.0;
        # typed non-overlapping → 0.0; untyped → no vote)
        tc = [np.asarray(t, dtype=np.int64) for t in pdf["_tc"]]
        c_lens = np.array([len(t) for t in tc], dtype=np.int64)
        inter_c = pair_intersection_counts(tc, c_lens, lo, hi)
        typed = ~(untyped_a[li] | untyped_a[ri])
        sim_type = np.where(typed, (inter_c > 0).astype(np.float64), np.nan)
        # shaded direction for typed, non-direct pairs only (small residue)
        residue = np.flatnonzero(typed & (inter_c == 0))
        if len(residue):
            ts = [frozenset(np.asarray(t, dtype=np.int64).tolist()) for t in pdf["_ts"]]
            tcs = [frozenset(t.tolist()) for t in tc]
            for t in residue:
                a, b = li[t], ri[t]
                if (ts[a] & tcs[b]) or (tcs[a] & ts[b]):
                    sim_type[t] = 1.0
        # mean over voting channels, 6dp HALF_UP
        chans = np.stack([sim_label, sim_geo, sim_type])
        votes = (~np.isnan(chans)).sum(axis=0)
        with np.errstate(invalid="ignore"):
            total = np.nansum(chans, axis=0)
            agg = np.where(votes > 0, total / np.maximum(votes, 1), np.nan)
        agg = round6_vec(agg)
        with np.errstate(invalid="ignore"):
            keep = ~np.isnan(agg) & (agg >= min_sim)
        li, ri, agg = li[keep], ri[keep], agg[keep]
        if len(li) == 0:
            return _EMPTY.copy()
        ia, ib = ids[li], ids[ri]
        return pd.DataFrame(
            {
                "src": np.minimum(ia, ib).astype(np.int64),
                "dst": np.maximum(ia, ib).astype(np.int64),
                "agg_sim": agg.astype(np.float64),
            }
        )

    from ..util import parallel_grouped

    return (
        parallel_grouped(grouped, "_key", "_gi", "_gj")
        .groupBy("_key", "_gi", "_gj")
        .applyInPandas(solve, schema=schema)
    )


def _merge_geo_block(pdf: pd.DataFrame, min_sim: float, max_sources: int) -> pd.DataFrame:
    """``merge.greedy_merge`` over one component group with the geo
    similarity and fusion (DeltaIterateGeographicMergeStep semantics;
    fusion per DualMergeGeographyMapper)."""
    from ..functions.local_sim import (
        cosine_trigram_local,
        geo_sim_local,
        mean_agg_local,
        type_sim_local,
    )
    from ..functions.types import SHADING_GENERALIZATION
    from .merge import fuse_default, greedy_merge

    clusters: dict[int, dict] = {}
    for row in pdf.to_dict("records"):
        row["members"] = list(row["members"])
        row["types"] = frozenset(row["types"]) if row.get("types") is not None else frozenset()
        clusters[row["id"]] = row

    def _gen(ts: frozenset) -> frozenset:
        return frozenset(SHADING_GENERALIZATION.get(t, t) for t in ts)

    def sim(a: dict, b: dict) -> float | None:
        # type-generalization restriction: two typed clusters whose
        # generalized types are disjoint never pair
        ta, tb = a["types"], b["types"]
        untyped = not ta or not tb or "no_type" in ta or "no_type" in tb
        if not untyped and not _gen(ta) & _gen(tb):
            return None
        sl = cosine_trigram_local(a.get("label"), b.get("label"))
        sg = geo_sim_local(a.get("lat"), a.get("lon"), b.get("lat"), b.get("lon"))
        return mean_agg_local(sl, sg, type_sim_local(ta, tb))

    def fuse(keep: int, a: dict, b: dict) -> dict:
        merged = fuse_default(keep, a, b)
        # coordinates: the one valid side wins; else the side holding the
        # lowest source bit (source-priority chain, DualMergeGeography
        # Mapper.java:68-79)
        va = a.get("lat") is not None and a.get("lon") is not None
        vb = b.get("lat") is not None and b.get("lon") is not None
        if va and not vb:
            src = a
        elif vb and not va:
            src = b
        else:
            src = a if (a["sources_mask"] & -a["sources_mask"]) <= (
                b["sources_mask"] & -b["sources_mask"]
            ) else b
        merged["lat"], merged["lon"] = src.get("lat"), src.get("lon")
        merged["types"] = (a["types"] | b["types"]) - {"no_type"} or frozenset(
            a["types"] | b["types"]
        )
        return merged

    clusters = greedy_merge(clusters, min_sim, max_sources, sim, fuse)
    cols = [f.name for f in GEO_STATE_FIELDS]
    out = []
    for cl in clusters.values():
        row = {c: cl.get(c) for c in cols}
        row["types"] = sorted(cl["types"])
        out.append(row)
    return pd.DataFrame(out, columns=cols)


def run_geo_batch(points: DataFrame, cfg: GeoConfig | None = None) -> DataFrame:
    """Geo ER end-to-end: prepare → candidate pairs → 3-channel sim →
    connected components (size-capped) → per-component greedy merge.
    Returns the fused cluster representatives."""
    from ..util import materialize
    from .graph import connected_components

    cfg = cfg or GeoConfig()
    state = materialize(prepare_geo(points, cfg))
    # block-LOCAL enumerate-and-score: ids + agg_sim only leave the pair
    # stage (geo_pair_sims ∘ geo_candidate_pairs is the spec twin, kept for
    # merge_initialization's small old_hash_cc joins; equivalence pinned by
    # test_geo_block_scores_match_spec)
    pairs = geo_block_pair_scores(state, cfg)
    cc = connected_components(
        pairs.select("src", "dst"), vertices=state.select("id"), id_col="id", cc_col="cc"
    )
    sizes = cc.groupBy("cc").agg(F.count(F.lit(1)).alias("_n"))
    grouped = (
        state.join(cc, "id")
        .join(sizes, "cc")
        .withColumn(
            "_grp",
            F.when(
                F.col("_n") <= cfg.max_component_rows, F.col("cc").cast("string")
            ).otherwise(
                F.concat_ws("|", F.col("cc").cast("string"), F.col("blocking_key"))
            ),
        )
        .drop("cc", "_n")
    )
    schema = T.StructType(GEO_STATE_FIELDS)
    cols = [f.name for f in GEO_STATE_FIELDS]

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _merge_geo_block(pdf, cfg.min_sim, cfg.max_sources)

    from ..util import parallel_grouped

    merged = (
        parallel_grouped(grouped.select(*cols, "_grp"), "_grp")
        .groupBy("_grp")
        .applyInPandas(solve, schema=schema)
    )
    return merged.withColumn(
        "blocking_key", geo_blocking_label(F.col("label"), cfg.blocking_length)
    )


def merge_initialization(
    representatives: DataFrame,
    domain: str = "geography",
    min_sim: float = 0.5,
    max_sources: int = 5,
) -> DataFrame:
    """MergeInitialization (merge/MergeInitialization.java:50-113).

    MUSIC/NC: identity. GEOGRAPHY: representatives carrying a non-null
    ``old_hash_cc`` (SimSort-split singletons) are re-paired within their
    origin component, re-scored with the geo similarity, and components
    holding a pair ≥ ``min_sim`` are re-fused into one representative
    (grouped by old_hash_cc — GeographicMajorityPropertiesGroupReduce);
    every vertex of a qualifying pair leaves the original set
    (RightMinusLeftSideJoinFunction, MergeInitialization.java:104-112).

    ``representatives`` columns: GEO_STATE_FIELDS + ``old_hash_cc``
    (nullable long).
    """
    if domain != "geography":
        return representatives
    split = representatives.filter(F.col("old_hash_cc").isNotNull())
    payload = ["members", "sources_mask", "label", "lat", "lon", "types", "n_members"]
    cols = ["id", "old_hash_cc"] + payload
    l = split.select(*cols).alias("l")
    r = split.select(*cols).alias("r")
    pairs = l.join(
        r,
        (F.col("l.old_hash_cc") == F.col("r.old_hash_cc"))
        & (F.col("l.id") < F.col("r.id")),
    ).select(
        F.col("l.id").alias("src"),
        F.col("r.id").alias("dst"),
        F.col("l.old_hash_cc").alias("old_hash_cc"),
        *[F.col(f"l.{c}").alias(f"src_{c}") for c in payload],
        *[F.col(f"r.{c}").alias(f"dst_{c}") for c in payload],
    )
    scored = geo_pair_sims(pairs, GeoConfig(min_sim=min_sim))
    qualifying = scored.select("src", "dst", "old_hash_cc")
    refused_ids = (
        qualifying.select(F.col("src").alias("id"))
        .unionByName(qualifying.select(F.col("dst").alias("id")))
        .distinct()
    )
    # re-fuse per origin component with the same local greedy fusion
    # (threshold 0 inside the group: membership was already gated by the
    # pair threshold; the reference reduces the whole group to one rep)
    group = representatives.join(refused_ids, "id", "left_semi")
    schema = T.StructType(GEO_STATE_FIELDS)
    cols_out = [f.name for f in GEO_STATE_FIELDS]

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        return _merge_geo_block(pdf, 0.0, max_sources)

    from ..util import parallel_grouped

    new_reps = (
        parallel_grouped(group.select(*cols_out, "old_hash_cc"), "old_hash_cc")
        .groupBy("old_hash_cc")
        .applyInPandas(lambda pdf: solve(pdf.drop(columns=["old_hash_cc"])), schema=schema)
        .withColumn("old_hash_cc", F.lit(None).cast("long"))
    )
    untouched = representatives.join(refused_ids, "id", "left_anti")
    return untouched.unionByName(new_reps)
