"""Unit tests for the batch operator layer (SURVEY.md §2), mirroring the
reference's operator-on-fixture test style (§5)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# graph: connected components
# ---------------------------------------------------------------------------


def test_cc_basic(spark):
    from mapping_analysis_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        "src long, dst long",
    )
    got = {(r.id, r.cc_id) for r in connected_components(edges).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (20, 20), (21, 20), (22, 20),
    }


def test_cc_isolated_vertices(spark):
    from mapping_analysis_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    vertices = spark.createDataFrame([(1,), (2,), (99,)], "id long")
    got = {(r.id, r.cc_id) for r in connected_components(edges, vertices).collect()}
    assert got == {(1, 1), (2, 1), (99, 99)}


def test_cc_long_chain(spark):
    from mapping_analysis_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(500, 600)], "src long, dst long"
    )
    labels = {r.cc_id for r in connected_components(edges).collect()}
    assert labels == {500}


def test_intra_component_edges(spark):
    from mapping_analysis_spark.operators.graph import intra_component_edges

    v = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20)], "cc_id long, id long"
    )
    simple = {(r.src, r.dst) for r in intra_component_edges(v, mode="simple").collect()}
    assert simple == {(10, 11), (10, 12)}
    allp = {(r.src, r.dst) for r in intra_component_edges(v, mode="all").collect()}
    assert allp == {(10, 11), (10, 12), (11, 12)}


# ---------------------------------------------------------------------------
# blocking
# ---------------------------------------------------------------------------


def test_block_pairs_and_salted_equal(spark):
    """Salted triangle enumeration must produce exactly the plain block
    self-join pairs, for any max_block_rows."""
    from mapping_analysis_spark.operators.blocking import (
        block_pairs,
        salted_block_pairs,
    )

    rows = [(i, f"k{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, blocking_key string")
    plain = {(r.src, r.dst) for r in block_pairs(df).collect()}
    for cap in (2, 5, 1000):
        salted = {
            (r.src, r.dst)
            for r in salted_block_pairs(df, max_block_rows=cap).collect()
        }
        assert salted == plain, f"cap={cap}"


def test_lsh_pairs_finds_near_duplicates(spark):
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import lsh_pairs

    rows = [
        (1, "the beatles help album"),
        (2, "the beatles help albun"),     # near-dup of 1
        (3, "miles davis kind of blue"),
        (4, "miles davis kind of blue!"),  # near-dup of 3
        (5, "completely different thing"),
    ]
    df = spark.createDataFrame(rows, "id long, text string").withColumn(
        "trigram_set", trigram_set(F.col("text"))
    )
    pairs = {(r.src, r.dst) for r in lsh_pairs(df, bands=8, rows_per_band=2).collect()}
    assert (1, 2) in pairs
    assert (3, 4) in pairs


def test_lsh_deterministic_across_partitionings(spark):
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import lsh_pairs

    rows = [(i, f"text number {i // 2} stable") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string").withColumn(
        "trigram_set", trigram_set(F.col("text"))
    )
    a = {(r.src, r.dst) for r in lsh_pairs(df.repartition(2)).collect()}
    b = {(r.src, r.dst) for r in lsh_pairs(df.repartition(13)).collect()}
    assert a == b


def test_vectorized_band_keys_match_spec_signature(spark):
    """minhash_band_keys (numpy pandas-UDF hot path) must induce the SAME
    bucket structure as the composed Column spec lsh_band_keys(
    minhash_signature(...)): signature values are bit-identical (same
    coefficients, exact int64 arithmetic), so docs sharing a spec band key
    must share a vectorized band key and vice versa."""
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import (
        lsh_band_keys,
        minhash_band_keys,
        minhash_signature,
    )

    rows = [(i, f"sample text number {i // 3} with drift {i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string").withColumn(
        "tg", trigram_set(F.col("text"))
    )
    bands, rpb = 6, 3
    spec = df.select(
        "id",
        lsh_band_keys(minhash_signature(F.col("tg"), bands * rpb, 42), bands, rpb).alias("k"),
    ).collect()
    fast = df.select(
        "id", minhash_band_keys(F.col("tg"), bands, rpb, 42).alias("k")
    ).collect()
    spec_k = {r.id: r.k for r in spec}
    fast_k = {r.id: r.k for r in fast}
    # same-bucket relation per band index must be identical
    for b in range(bands):
        spec_groups = {}
        fast_groups = {}
        for i in spec_k:
            spec_groups.setdefault(spec_k[i][b], set()).add(i)
            fast_groups.setdefault(fast_k[i][b], set()).add(i)
        assert sorted(map(sorted, spec_groups.values())) == sorted(
            map(sorted, fast_groups.values())
        ), f"band {b} bucket partition differs"


def test_idf_support_pairs(spark):
    from mapping_analysis_spark.operators.blocking import idf_support_pairs

    rows = [
        (1, "rare1 rare2 common common2"),
        (2, "rare1 rare2 common common2"),
        (3, "rare3 other common common2"),
    ]
    df = spark.createDataFrame(rows, "id long, transcript_norm string")
    pairs = {
        (r.src, r.dst)
        for r in idf_support_pairs(df, top_tokens=2, support=2).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_idf_support_pairs_hot_token_salted(spark):
    """A token that is rare globally but shared by MANY records (viral
    phrase) previously formed one quadratic join task. The salted path must
    produce the identical support-pair set whether or not the hot token's
    block is split (max_block_rows tiny vs effectively-unsplit)."""
    from mapping_analysis_spark.operators.blocking import idf_support_pairs

    # 60 records sharing the hot pair of tokens; 60 singles with unique
    # tokens (raising n_docs so the shared tokens still rank as top-idf)
    rows = [(i, f"hotA{i % 2} hotB{i % 2} filler text") for i in range(60)]
    rows += [(100 + i, f"uniq{i}a uniq{i}b filler text") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, transcript_norm string")
    split = {
        (r.src, r.dst)
        for r in idf_support_pairs(
            df, top_tokens=2, support=2, max_block_rows=4
        ).collect()
    }
    unsplit = {
        (r.src, r.dst)
        for r in idf_support_pairs(
            df, top_tokens=2, support=2, max_block_rows=10**9
        ).collect()
    }
    assert split == unsplit
    # 30+30 records share (hotA0,hotB0)/(hotA1,hotB1) → 2 * C(30,2) pairs
    assert len(split) == 2 * 30 * 29 // 2


# ---------------------------------------------------------------------------
# preprocessing
# ---------------------------------------------------------------------------


def test_best_link_per_source(spark):
    from mapping_analysis_spark.operators.preprocessing import best_link_per_source

    vertices = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "c")], "id long, source string"
    )
    # vertex 1 has two links into source b: keep the better one only
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (1, 4, 0.7)], "src long, dst long, agg_sim double"
    )
    got = {(r.src, r.dst) for r in best_link_per_source(edges, vertices).collect()}
    assert got == {(1, 2), (1, 4)}


def test_intra_source_and_isolated(spark):
    from mapping_analysis_spark.operators.preprocessing import (
        remove_intra_source_links,
        remove_isolated_edges,
        remove_isolated_vertices,
    )

    vertices = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, source string"
    )
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 3)], "src long, dst long"
    )
    kept = remove_intra_source_links(edges, vertices)
    assert {(r.src, r.dst) for r in kept.collect()} == {(1, 3)}
    v2 = remove_isolated_vertices(vertices, kept)
    assert {r.id for r in v2.collect()} == {1, 3}
    e2 = remove_isolated_edges(
        spark.createDataFrame([(1, 3), (1, 99)], "src long, dst long"), vertices
    )
    assert {(r.src, r.dst) for r in e2.collect()} == {(1, 3)}


# ---------------------------------------------------------------------------
# incremental: max-both + Hungarian
# ---------------------------------------------------------------------------


def test_max_both_is_matching(spark):
    from mapping_analysis_spark.operators.incremental import max_both_selection

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9),   # 1-2 reciprocal best
            (1, 3, 0.8),
            (2, 3, 0.7),
            (3, 4, 0.85),  # 3's best is 4 (0.85 > 0.8 as partner of 3)
        ],
        "src long, dst long, agg_sim double",
    )
    got = {(r.src, r.dst) for r in max_both_selection(pairs).collect()}
    assert got == {(1, 2), (3, 4)}
    # node-centric: each id at most once
    flat = [x for p in got for x in p]
    assert len(flat) == len(set(flat))


def test_max_both_ties_min_id(spark):
    from mapping_analysis_spark.operators.incremental import max_both_selection

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.9)], "src long, dst long, agg_sim double"
    )
    got = {(r.src, r.dst) for r in max_both_selection(pairs).collect()}
    assert got == {(1, 2)}  # tie broken to min partner id


def test_hungarian_optimality():
    import numpy as np

    from mapping_analysis_spark.operators.incremental import _hungarian

    cost = np.array([[4.0, 1.0, 3.0], [2.0, 0.0, 5.0], [3.0, 2.0, 2.0]])
    assign = dict(_hungarian(cost))
    total = sum(cost[r, c] for r, c in assign.items())
    assert total == 5.0  # known optimum: (0,1)+(1,0)+(2,2) = 1+2+2


def test_hungarian_selection_spark(spark):
    from mapping_analysis_spark.operators.incremental import hungarian_selection

    pairs = spark.createDataFrame(
        [
            ("b1", 1, 10, 0.9),
            ("b1", 1, 11, 0.8),
            ("b1", 2, 10, 0.95),
            ("b1", 2, 11, 0.1),
        ],
        "blocking_key string, src long, dst long, agg_sim double",
    )
    got = {(r.src, r.dst) for r in hungarian_selection(pairs, min_sim=0.5).collect()}
    # optimal: 2-10 (0.95) + 1-11 (0.8) → total 1.75 beats 0.9+0.1
    assert got == {(2, 10), (1, 11)}


# ---------------------------------------------------------------------------
# merge: greedy fixpoint
# ---------------------------------------------------------------------------


def test_merge_group_order_and_restrictions():
    from mapping_analysis_spark.operators.clustering import merge_group

    pdf = pd.DataFrame(
        [
            {"id": 1, "members": [1], "sources_mask": 1, "label": "alpha beta",
             "blocking_key": "alph", "n_members": 1},
            {"id": 2, "members": [2], "sources_mask": 2, "label": "alpha beta",
             "blocking_key": "alph", "n_members": 1},
            {"id": 3, "members": [3], "sources_mask": 1, "label": "alpha beta",
             "blocking_key": "alph", "n_members": 1},  # same source as 1 → can't join 1
            {"id": 4, "members": [4], "sources_mask": 4, "label": "unrelated",
             "blocking_key": "alph", "n_members": 1},
        ]
    )
    out = merge_group(pdf, threshold=0.8, max_sources=5, use_audio=False)
    rows = {r["id"]: r for r in out.to_dict("records")}
    # 1+2 merge first (min ids); 3 can't join (source overlap with 1)
    assert sorted(rows) == [1, 3, 4]
    assert rows[1]["members"] == [1, 2]
    assert rows[1]["sources_mask"] == 3


def _greedy_merge_oracle(clusters, threshold, max_sources, sim_fn):
    """The pre-heap fixpoint: after every merge, drop the pairs touching
    either side, re-pair the merged cluster, and take the max of
    (sim, -a, -b) over the live pair set."""
    clusters = {i: dict(c) for i, c in clusters.items()}

    def valid(a, b):
        if a["sources_mask"] & b["sources_mask"]:
            return False
        return (
            bin(a["sources_mask"]).count("1") + bin(b["sources_mask"]).count("1")
            <= max_sources
        )

    pairs = {}
    ids = sorted(clusters)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if valid(clusters[a], clusters[b]):
                s = sim_fn(clusters[a], clusters[b])
                if s is not None and s >= threshold:
                    pairs[(a, b)] = s
    while pairs:
        (a, b), _s = max(pairs.items(), key=lambda kv: (kv[1], -kv[0][0], -kv[0][1]))
        ca, cb = clusters[a], clusters[b]
        keep, drop = (a, b) if a < b else (b, a)
        merged = dict(clusters[keep])
        merged["members"] = sorted(ca["members"] + cb["members"])
        merged["sources_mask"] = ca["sources_mask"] | cb["sources_mask"]
        la, lb = ca.get("label") or "", cb.get("label") or ""
        merged["label"] = la if len(la) >= len(lb) else lb
        clusters[keep] = merged
        del clusters[drop]
        pairs = {p: s for p, s in pairs.items() if keep not in p and drop not in p}
        for other in clusters:
            if other != keep and valid(merged, clusters[other]):
                s = sim_fn(merged, clusters[other])
                if s is not None and s >= threshold:
                    pairs[(min(keep, other), max(keep, other))] = s
    return clusters


def test_greedy_merge_matches_max_scan_oracle():
    """The shared lazy-heap kernel keeps the greedy order of the max-scan
    fixpoint — highest sim first, ties to the smallest a then the smallest
    b, lower id survives — on random blocks where ties are common."""
    import random

    from mapping_analysis_spark.operators.merge import greedy_merge

    levels = (0.5, 0.7, 0.7, 0.8, 0.9, 0.9, 1.0)

    def sim_fn(a, b):
        sa, sb = sum(a["members"]), sum(b["members"])
        if (sa + sb) % 11 == 0:
            return None  # no vote
        return levels[(sa * sb + sa + sb) % len(levels)]

    merges = 0
    for seed in range(200):
        rng = random.Random(seed)
        n = rng.randint(2, 12)
        clusters = {
            i: {
                "id": i,
                "members": [i],
                "sources_mask": 1 << rng.randrange(4),
                "label": rng.choice(["ab", "abc", "xyz", "abcd", None]),
                "n_members": 1,
            }
            for i in rng.sample(range(1, 60), n)
        }
        max_sources = rng.choice((2, 3, 4))
        want = _greedy_merge_oracle(clusters, 0.7, max_sources, sim_fn)
        got = greedy_merge(
            {i: dict(c) for i, c in clusters.items()}, 0.7, max_sources, sim_fn
        )
        assert list(got) == list(want), seed
        for i, c in got.items():
            w = want[i]
            assert c["members"] == w["members"], seed
            assert c["sources_mask"] == w["sources_mask"], seed
            assert c["label"] == w["label"], seed
        merges += n - len(got)
    assert merges > 200  # the blocks really merge, not just pass through


def test_geo_merge_never_pairs_type_incompatible_clusters():
    """The geo similarity returns None for clusters whose generalized
    types are disjoint, so such a pair never merges even when its mean
    sim clears the threshold; a shaded pair with the same label and
    coordinates does merge."""
    from mapping_analysis_spark.operators.geo import _merge_geo_block

    def row(i, mask, types):
        return {"id": i, "members": [i], "sources_mask": mask, "label": "riverdale",
                "lat": 10.0, "lon": 10.0, "types": types, "blocking_key": "k",
                "n_members": 1}

    pdf = pd.DataFrame(
        [
            row(1, 1, ["Mountain"]),
            row(2, 2, ["BodyOfWater"]),  # label 1.0, geo 1.0, type 0.0 → 0.666667
            row(3, 4, ["Settlement"]),
            row(4, 8, ["AdministrativeRegion"]),
        ]
    )
    out = _merge_geo_block(pdf, min_sim=0.5, max_sources=8)
    rows = {r["id"]: list(r["members"]) for r in out.to_dict("records")}
    assert rows == {1: [1], 2: [2], 3: [3, 4]}


def test_geo_merge_keeps_a_null_coordinate_point_apart():
    """A point with null lat/lon reaches the geo merge as NaN (pandas
    records); its geo channel and so its mean sim are NaN, which never
    clears the threshold — the point stays a singleton and the block
    still merges the rest instead of failing."""
    from mapping_analysis_spark.functions.local_sim import (
        geo_sim_local,
        mean_agg_local,
    )
    from mapping_analysis_spark.operators.geo import _merge_geo_block

    def row(i, mask, lat, lon):
        return {"id": i, "members": [i], "sources_mask": mask, "label": "null town",
                "lat": lat, "lon": lon, "types": ["Settlement"],
                "blocking_key": "k", "n_members": 1}

    pdf = pd.DataFrame(
        [row(1, 1, None, None), row(2, 2, 10.0, 10.0), row(3, 4, 10.0, 10.0)]
    )
    assert pdf["lat"].isna()[0]
    g = geo_sim_local(float("nan"), float("nan"), 10.0, 10.0)
    assert g != g and mean_agg_local(1.0, g, 1.0) != mean_agg_local(1.0, g, 1.0)
    out = _merge_geo_block(pdf, min_sim=0.5, max_sources=8)
    rows = {r["id"]: list(r["members"]) for r in out.to_dict("records")}
    assert rows == {1: [1], 2: [2, 3]}


def test_merge_execution_spark(spark):
    from mapping_analysis_spark.operators.merge import merge_execution

    reps = spark.createDataFrame(
        [
            (1, [1], 1, "hello world", "hell"),
            (2, [2], 2, "hello world", "hell"),
            (3, [3], 4, "different thing", "hell"),
        ],
        "id long, members array<long>, sources_mask long, label string,"
        " blocking_key string",
    )
    out = merge_execution(reps, threshold=0.8, max_sources=5)
    rows = {r.id: r for r in out.collect()}
    assert sorted(rows) == [1, 3]
    assert sorted(rows[1].members) == [1, 2]


# ---------------------------------------------------------------------------
# simsort
# ---------------------------------------------------------------------------


def test_simsort_evicts_low_sim_vertex(spark):
    from mapping_analysis_spark.operators.simsort import simsort

    # triangle 1-2 strong; 3 weakly attached
    edges = spark.createDataFrame(
        [(1, 2, 0.9, 100), (1, 3, 0.2, 100), (2, 3, 0.3, 100)],
        "src long, dst long, agg_sim double, hash_cc long",
    )
    out = {r.id: r.hash_cc for r in simsort(edges, min_sim=0.5).collect()}
    assert out[1] == 100 and out[2] == 100
    assert out[3] == -(3 + 1)


def test_simsort_keeps_good_cluster(spark):
    from mapping_analysis_spark.operators.simsort import simsort

    edges = spark.createDataFrame(
        [(1, 2, 0.9, 5), (2, 3, 0.8, 5), (1, 3, 0.85, 5)],
        "src long, dst long, agg_sim double, hash_cc long",
    )
    out = {r.id: r.hash_cc for r in simsort(edges, min_sim=0.5).collect()}
    assert set(out.values()) == {5}


# ---------------------------------------------------------------------------
# representatives + quality
# ---------------------------------------------------------------------------


def test_majority_fusion_tie_breaks(spark):
    from mapping_analysis_spark.operators.representatives import majority_value

    df = spark.createDataFrame(
        [(1, "aa"), (1, "aa"), (1, "bbb"), (2, "x"), (2, "yy")],
        "cc long, v string",
    )
    got = {r.cc: r.v for r in majority_value(df, "cc", "v").collect()}
    assert got[1] == "aa"      # count wins
    assert got[2] == "yy"      # tie → longer string


def test_create_representatives(spark):
    from mapping_analysis_spark.operators.representatives import (
        create_representatives,
    )

    members = spark.createDataFrame(
        [
            (100, "c1", "1", "hello"),
            (100, "c2", "2", "hello"),
            (100, "c3", "3", "other"),
            (200, "c9", "1", "solo"),
        ],
        "cc_id long, clip_id string, source string, transcript string",
    )
    reps = {r.cluster_id: r for r in create_representatives(
        members, fingerprint_col=None
    ).collect()}
    assert reps["c1"].members == ["c1", "c2", "c3"]
    assert reps["c1"].sources == ["1", "2", "3"]
    assert reps["c1"].sources_mask == 0b111
    assert reps["c1"].transcript == "hello"
    assert reps["c9"].n_members == 1


def test_pairwise_quality(spark):
    from mapping_analysis_spark.operators.quality import (
        cluster_pairs,
        gold_pairs,
        pairwise_quality,
    )

    clusters = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["d", "e"])], "cid long, members array<string>"
    )
    gold = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 3), ("e", 3)],
        "clip_id string, gold_cluster long",
    )
    q = pairwise_quality(cluster_pairs(clusters), gold_pairs(gold))
    # test pairs: ab ac bc de (4); gold pairs: ab de (2); tp = ab, de = 2
    assert q["n_test"] == 4 and q["n_gold"] == 2 and q["tp"] == 2
    assert q["precision"] == 0.5 and q["recall"] == 1.0


# ---------------------------------------------------------------------------
# dedup + textstats edge cases
# ---------------------------------------------------------------------------


def test_exact_dedup_keeps_min_id(spark):
    from mapping_analysis_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "Same  Text"), (1, "same text"), (2, "other")],
        "doc_id long, text string",
    )
    assert {r.doc_id for r in exact_dedup(df).collect()} == {1, 2}


def test_simhash_identical_and_different(spark):
    from mapping_analysis_spark.operators.dedup import hamming64, simhash64

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "entirely unrelated words here")],
        "id long, text string",
    ).select("id", simhash64(F.col("text")).alias("sh"))
    rows = {r.id: r.sh for r in df.collect()}
    assert rows[1] == rows[2]
    l = spark.createDataFrame([(rows[1], rows[3])], "a long, b long")
    d = l.select(hamming64(F.col("a"), F.col("b")).alias("h")).first().h
    assert d > 8


def test_simhash64_fast_matches_spec(spark):
    """Arrow-vectorized simhash64_fast must be BIT-IDENTICAL to the
    composed-Column simhash64 on real corpus text (same md5 60-bit token
    hash, same majority vote incl. repeated tokens, same ASCII-\\s
    tokenization)."""
    from mapping_analysis_spark.operators.dedup import simhash64, simhash64_fast

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(200)
    rows = docs.select(
        "doc_id",
        simhash64_fast(F.col("text")).alias("fast"),
        simhash64(F.col("text")).alias("spec"),
    ).collect()
    assert len(rows) == 200
    for r in rows:
        assert r.fast == r.spec, r.doc_id
    # repeated tokens and single token
    edge = spark.createDataFrame(
        [(1, "alpha alpha alpha beta"), (2, "word")], "id long, text string"
    )
    got = {
        r.id: (r.fast, r.spec)
        for r in edge.select(
            "id",
            simhash64_fast(F.col("text")).alias("fast"),
            simhash64(F.col("text")).alias("spec"),
        ).collect()
    }
    assert all(f == s for f, s in got.values())


def test_simhash_candidates_low_entropy_corpus(spark):
    """Degenerate corpus that previously went quadratic in ONE task: many
    documents drawn from 3 templates (few distinct fingerprints → hot chunk
    buckets). With max_bucket small enough to force BOTH hierarchical
    sub-banding and salted enumeration, the pair set must equal (a) the
    unsplit run (max_bucket=10^9) and (b) the brute-force rule
    {share ≥1 chunk AND hamming ≤ 3}."""
    from mapping_analysis_spark.operators.dedup import (
        hamming64,
        simhash64,
        simhash_candidates,
    )

    tmpl = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "one two three four five six seven eight nine",
    ]
    rows = [(i, tmpl[i % 3] + (" extra" if i % 17 == 0 else "")) for i in range(240)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    split = {
        (r.src, r.dst): r.hamming
        for r in simhash_candidates(df, max_hamming=3, max_bucket=16).collect()
    }
    unsplit = {
        (r.src, r.dst): r.hamming
        for r in simhash_candidates(df, max_hamming=3, max_bucket=10**9).collect()
    }
    assert split == unsplit and len(split) > 1000

    # brute force the candidate rule
    sh = {r.doc_id: r.sh for r in df.select(
        "doc_id", simhash64(F.col("text")).alias("sh")).collect()}
    width = 16
    brute = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            x, y = sh[a], sh[b]
            ham = bin((x ^ y) & ((1 << 64) - 1)).count("1")
            share = any(
                ((x >> (k * width)) & 0xFFFF) == ((y >> (k * width)) & 0xFFFF)
                for k in range(4)
            )
            if share and ham <= 3:
                brute[(a, b)] = ham
    assert split == brute


def test_word_shingles_matches_spec(spark):
    """Arrow-batched word_shingles must equal the composed-Column spec on
    real corpus text (order included)."""
    from mapping_analysis_spark.operators.dedup import word_shingles, word_shingles_spec

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(200)
    rows = docs.select(
        "doc_id",
        word_shingles(F.col("text"), 3).alias("fast"),
        word_shingles_spec(F.col("text"), 3).alias("spec"),
    ).collect()
    assert len(rows) == 200
    for r in rows:
        assert r.fast == r.spec, r.doc_id


def test_hashed_trigram_tokens_matches_spec(spark):
    """Arrow-batched hashed_trigram_tokens must be SET-equivalent to the
    trigram_set Column chain on real corpus text: same set SIZE per record
    and same pairwise intersections (what the scorer consumes) — i.e. the
    blake2b-64 hashing is injective on the corpus vocabulary and the
    trigram extraction (simplify → padded 3-grams → distinct) matches.
    Also pins null → [] (the Column chain's null behavior) and "" →
    one-token set {"###"}."""
    from mapping_analysis_spark.functions.similarity import (
        cosine_trigram_from_sets,
        hashed_trigram_tokens,
        trigram_set,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(200)
    rows = docs.select(
        "doc_id",
        hashed_trigram_tokens(F.col("text")).alias("fast"),
        trigram_set(F.col("text")).alias("spec"),
    ).collect()
    assert len(rows) == 200
    spec_sets = {}
    for r in rows:
        assert len(r.fast) == len(set(r.fast)) == len(set(r.spec)), r.doc_id
        spec_sets[r.doc_id] = (frozenset(r.fast), frozenset(r.spec))
    ids = sorted(spec_sets)[:40]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            fa, sa = spec_sets[a]
            fb, sb = spec_sets[b]
            assert len(fa & fb) == len(sa & sb), (a, b)

    edge = spark.createDataFrame([(1, None), (2, ""), (3, "ab")], "id long, text string")
    got = {
        r.id: (r.fast, r.spec)
        for r in edge.select(
            "id",
            hashed_trigram_tokens(F.col("text")).alias("fast"),
            trigram_set(F.col("text")).alias("spec"),
        ).collect()
    }
    assert got[1][0] == [] and got[1][1] == []
    assert len(got[2][0]) == len(got[2][1]) == 1  # {"###"}
    assert len(got[3][0]) == len(got[3][1]) == len(set(got[3][1]))

    # end to end: scores via the vectorized tokens equal the Column spec
    pairs = (
        docs.limit(30)
        .select("doc_id", hashed_trigram_tokens(F.col("text")).alias("t"),
                trigram_set(F.col("text")).alias("s"))
        .alias("l")
        .crossJoin(
            docs.limit(30)
            .select(F.col("doc_id").alias("rid"),
                    hashed_trigram_tokens(F.col("text")).alias("rt"),
                    trigram_set(F.col("text")).alias("rs"))
            .alias("r")
        )
        .filter(F.col("doc_id") < F.col("rid"))
    )
    chk = pairs.select(
        cosine_trigram_from_sets(F.col("t"), F.col("rt")).alias("fast"),
        cosine_trigram_from_sets(F.col("s"), F.col("rs")).alias("spec"),
    ).collect()
    assert len(chk) == 435
    for r in chk:
        assert r.fast == r.spec


def test_word_shingles_edges(spark):
    from mapping_analysis_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "one"), (3, "x y")], "id long, text string"
    )
    got = {r.id: r.sh for r in df.select(
        "id", word_shingles(F.col("text"), 3).alias("sh")
    ).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["one"]
    assert got[3] == ["x y"]


def test_brute_force_topk_exact(spark):
    from mapping_analysis_spark.operators.similarity_search import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(10, [1.0, 0.1])], "query_id long, embedding array<float>"
    )
    got = [
        (r.vec_id, r.rank)
        for r in brute_force_topk(corpus, q, k=2).orderBy("rank").collect()
    ]
    assert got[0][0] == 1 and got[1][0] == 3


def test_language_id_und(spark):
    from mapping_analysis_spark.operators.textstats import language_id

    df = spark.createDataFrame(
        [(1, "zzz qqq www"), (2, "the cat and the hat is on the mat")],
        "id long, text string",
    )
    got = {r.id: r.l for r in df.select(
        "id", language_id(F.col("text")).alias("l")
    ).collect()}
    assert got[1] == "und"
    assert got[2] == "en"


def test_block_local_scores_match_join_path(spark):
    """salted_block_pair_scores (grouped-map numpy scorer) must produce the
    SAME pair set and the SAME sim values as the join-then-cosine spec
    path, including under salting (max_block_rows small enough to split
    blocks) and the mask restrictions."""
    from mapping_analysis_spark.functions.similarity import (
        cosine_trigram_from_sets,
        trigram_set,
    )
    from mapping_analysis_spark.operators.blocking import (
        salted_block_pair_scores,
        salted_block_pairs,
    )

    rows = [
        (i, f"k{i % 3}", 1 << (i % 4), f"sample text number {i // 5} drift {i % 11}")
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "id long, blocking_key string, sources_mask long, text string"
    ).withColumn(
        "_tg",
        F.array_sort(F.transform(trigram_set(F.col("text")), lambda t: F.xxhash64(t))),
    )
    got = {
        (r.src, r.dst): r.sim_text
        for r in salted_block_pair_scores(
            df, max_block_rows=16, max_sources=3, emit_min=None
        ).collect()
    }
    restrict = (
        (F.col("l.sources_mask").bitwiseAND(F.col("r.sources_mask")) == 0)
        & (
            F.bit_count(F.col("l.sources_mask")) + F.bit_count(F.col("r.sources_mask"))
            <= 3
        )
    )
    spec_pairs = salted_block_pairs(
        df,
        max_block_rows=16,
        restrict=restrict,
        payload_cols=["sources_mask", "_tg"],
    ).select(
        "src",
        "dst",
        cosine_trigram_from_sets(F.col("src__tg"), F.col("dst__tg")).alias("sim_text"),
    )
    want = {(r.src, r.dst): r.sim_text for r in spec_pairs.collect()}
    assert got == want and len(got) > 100

    # emit_min drops exactly the below-bound pairs
    kept = {
        (r.src, r.dst): r.sim_text
        for r in salted_block_pair_scores(
            df, max_block_rows=16, max_sources=3, emit_min=0.4
        ).collect()
    }
    assert kept == {p: s for p, s in want.items() if s >= 0.4}


def test_block_local_scores_jaccard_matches_join_path(spark):
    """metric="jaccard" + mask_col=None must reproduce the old id-only
    pair enumeration + per-pair jaccard_from_sets join path exactly:
    same pair set (no mask restriction — every in-block pair once), same
    UNROUNDED values, including both-empty → 1.0."""
    from mapping_analysis_spark.operators.blocking import (
        salted_block_pair_scores,
        salted_block_pairs,
    )
    from mapping_analysis_spark.operators.dedup import (
        jaccard_from_sets,
        word_shingles,
    )

    rows = [
        (i, f"k{i % 3}", f"sample text number {i // 4} drift {i % 7}")
        for i in range(90)
    ] + [(900, "k0", ""), (901, "k0", "")]  # both-empty shingles → 1.0
    df = spark.createDataFrame(rows, "id long, blocking_key string, text string")
    base = df.withColumn("_sh", word_shingles(F.col("text"), 2)).withColumn(
        "_tok", F.array_sort(F.transform(F.col("_sh"), lambda s: F.xxhash64(s)))
    )
    got = {
        (r.src, r.dst): r.sim_text
        for r in salted_block_pair_scores(
            base,
            tokens_col="_tok",
            mask_col=None,
            max_block_rows=16,
            metric="jaccard",
        ).collect()
    }
    spec = salted_block_pairs(
        base.select("id", "blocking_key", "_sh"),
        max_block_rows=16,
        payload_cols=["_sh"],
    ).select(
        "src",
        "dst",
        jaccard_from_sets(F.col("src__sh"), F.col("dst__sh")).alias("j"),
    )
    want = {(r.src, r.dst): r.j for r in spec.collect()}
    assert got == want and len(got) > 100
    assert got[(900, 901)] == 1.0

    # emit_min filters at FULL precision (jaccard is unrounded)
    kept = {
        (r.src, r.dst)
        for r in salted_block_pair_scores(
            base,
            tokens_col="_tok",
            mask_col=None,
            max_block_rows=16,
            metric="jaccard",
            emit_min=0.3,
        ).collect()
    }
    assert kept == {p for p, s in want.items() if s >= 0.3}


def test_block_local_scores_null_key_excluded(spark):
    """Null blocking keys must match NOTHING (equi-join semantics): two
    cross-source records with null transcripts → null key + empty trigram
    sets must NOT pair up (they would score 1.0 empty-vs-empty and merge),
    and must not form a single unsalted null-key block."""
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import salted_block_pair_scores

    rows = [
        (1, None, 1, None),
        (2, None, 2, None),
        (3, "ka", 1, "alpha beta"),
        (4, "ka", 2, "alpha beta"),
    ]
    df = spark.createDataFrame(
        rows, "id long, blocking_key string, sources_mask long, text string"
    ).withColumn(
        "_tg",
        F.array_sort(
            F.transform(
                F.coalesce(trigram_set(F.col("text")), F.array().cast("array<string>")),
                lambda t: F.xxhash64(t),
            )
        ),
    )
    got = {
        (r.src, r.dst): r.sim_text
        for r in salted_block_pair_scores(df, max_sources=3).collect()
    }
    assert (1, 2) not in got
    assert set(got) == {(3, 4)}


def test_pair_intersection_counts_chunk_invariant():
    """The round-5 cache-resident kernel's chunking must never change
    counts: identical results whether the run enumeration fits one chunk
    or is forced through many tiny chunks (driver-side — the kernel is
    pure numpy; executor-side value identity vs the Column spec is pinned
    by test_block_local_scores_match_join_path). Brute-force sorted
    intersections are the ground truth. NOTE: monkeypatching the module
    global only affects THIS process, which is exactly what a pure-numpy
    test needs (a Spark-side monkeypatch would never reach the executor
    workers' module copies)."""
    import numpy as np

    from mapping_analysis_spark.operators import blocking

    rng = np.random.default_rng(3)
    for trial in range(5):
        n = int(rng.integers(20, 80))
        toks = [
            np.unique(rng.integers(0, 30, size=int(rng.integers(0, 60))).astype(np.int64))
            for _ in range(n)
        ]
        lens = np.array([len(t) for t in toks], dtype=np.int64)
        li, ri = np.triu_indices(n, k=1)
        lo = li.astype(np.int32)
        hi = ri.astype(np.int32)
        want = np.array(
            [
                float(np.intersect1d(toks[a], toks[b], assume_unique=True).size)
                for a, b in zip(lo, hi)
            ]
        )
        one_chunk = blocking.pair_intersection_counts(toks, lens, lo, hi)
        old = blocking._CHUNK_INCIDENCE
        blocking._CHUNK_INCIDENCE = 97  # force many tiny chunks
        try:
            many = blocking.pair_intersection_counts(toks, lens, lo, hi)
        finally:
            blocking._CHUNK_INCIDENCE = old
        assert np.array_equal(one_chunk, want), trial
        assert np.array_equal(many, want), trial


def test_word_shingles_unicode_whitespace(spark):
    """NBSP / thin-space must NOT split words (Java \\s is ASCII-only):
    the Arrow path must equal the composed-Column spec on such text."""
    from mapping_analysis_spark.operators.dedup import word_shingles, word_shingles_spec

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),     # NBSP inside a "word"
            (2, "one two three four five"),    # thin space
            (3, "tab\tsplit  and\nnewline runs"),   # ASCII ws runs
        ],
        "id long, text string",
    )
    rows = df.select(
        "id",
        word_shingles(F.col("text"), 3).alias("fast"),
        word_shingles_spec(F.col("text"), 3).alias("spec"),
    ).collect()
    for r in rows:
        assert r.fast == r.spec, r.id
    got = {r.id: r.fast for r in rows}
    # NBSP-joined token stays one word
    assert got[1] == ["alpha beta gamma delta"]


def test_vectorized_band_keys_empty_tokens(spark):
    """Records with empty or null trigram sets produce NO band keys — they
    are excluded from LSH candidate lookup by design (the spec column
    co-bucketed all of them into one degenerate 1.0-scoring bucket)."""
    from mapping_analysis_spark.operators.blocking import minhash_band_keys

    df = spark.createDataFrame(
        [(1, []), (2, []), (3, ["abc", "bcd"])],
        "id long, tg array<string>",
    )
    got = {
        r.id: r.k
        for r in df.select(
            "id", minhash_band_keys(F.col("tg"), 4, 2, 42).alias("k")
        ).collect()
    }
    assert got[1] == [] and got[2] == []
    assert len(got[3]) == 4



# ---------------------------------------------------------------------------
# md5 fingerprint variant + floored Jaro transpositions (round 4)
# ---------------------------------------------------------------------------


def test_doc_fingerprint_md5_mirrors_xxhash_variant(spark):
    """The oracle-checkable md5 variant must have the same winnowing
    semantics as the production xxhash64 fingerprint: identical null
    pattern, identical invariance under whitespace renormalization, and
    identical equal/unequal structure across documents (both are min over
    the same window set, only the gram hash differs)."""
    from pyspark.sql import functions as F

    from mapping_analysis_spark.operators.textstats import (
        doc_fingerprint,
        doc_fingerprint_md5,
    )

    df = spark.createDataFrame(
        [
            (1, "hello  world this is a doc"),
            (2, "hello world this is a doc"),   # same after normalization
            (3, "a completely different text"),
            (4, "short"),                        # < window chars
            (5, ""),                             # empty → null fp
            (6, None),                           # null → null fp
        ],
        "id long, text string",
    )
    rows = {
        r.id: (r.fx, r.fm)
        for r in df.select(
            "id",
            doc_fingerprint(F.col("text")).alias("fx"),
            doc_fingerprint_md5(F.col("text")).alias("fm"),
        ).collect()
    }
    for fp_idx in (0, 1):
        assert rows[1][fp_idx] == rows[2][fp_idx]      # whitespace-invariant
        assert rows[1][fp_idx] != rows[3][fp_idx]      # distinct content
        assert rows[4][fp_idx] is not None             # short still hashes
        assert rows[5][fp_idx] is None
        assert rows[6][fp_idx] is None
    # 60-bit md5 values are non-negative by construction
    assert rows[1][1] >= 0 and rows[3][1] >= 0


def test_jaro_transpositions_floor_matches_simmetrics():
    """simmetrics Jaro.java integer-divides half-transpositions; an odd
    half-transposition count must floor (m=43/t=14 cases in the corpus
    showed the /2.0 variant diverging from both simmetrics and DuckDB)."""
    from mapping_analysis_spark.functions.similarity import _jaro, jaro_winkler_py

    # classic vectors (even half-transposition counts — unchanged)
    assert abs(jaro_winkler_py("martha", "marhta") - 0.961111) < 1e-5
    assert abs(jaro_winkler_py("dixon", "dicksonx") - 0.813333) < 1e-5
    # odd half-transposition count: abcdef vs bacdfe has matches=6 and
    # half-transpositions computed over the flag traversal; pin against
    # the closed form with floored t
    s1, s2 = "filter agg row join", "filter agg join row"
    m_t = _jaro(s1, s2)
    # brute-force the (m, t) decomposition with INTEGER t only
    l1 = l2 = len(s1)
    found = any(
        abs((m / l1 + m / l2 + (m - t) / m) / 3 - m_t) < 1e-12
        for m in range(1, l1 + 1)
        for t in range(0, m + 1)
    )
    assert found, "jaro value must decompose with an integer transposition count"


def test_parallel_grouped_factor(spark):
    """factor multiplies the explicit grouped-map partition count (the
    narrow merge stage's tail fix) without changing grouping semantics."""
    from mapping_analysis_spark.util import parallel_grouped

    df = spark.createDataFrame([(i % 7, i) for i in range(100)], "k long, v long")
    base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n1 = parallel_grouped(df, "k").rdd.getNumPartitions()
    n4 = parallel_grouped(df, "k", factor=4).rdd.getNumPartitions()
    expected = max(base, spark.sparkContext.defaultParallelism)
    assert n1 == expected and n4 == 4 * expected
    # same row multiset either way
    a = sorted((r.k, r.v) for r in parallel_grouped(df, "k", factor=4).collect())
    assert a == sorted((i % 7, i) for i in range(100))


def test_python_stages_run_one_wave_on_the_slots(spark):
    """Python-UDF stages fan out to the task slots, not a multiple of them:
    every Python task carries a fixed start-up charge, so on the test
    session (4 slots, 4 shuffle partitions) the block scorer's and the
    per-component merge's grouped maps each run as exactly 4 tasks."""
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import salted_block_pair_scores
    from mapping_analysis_spark.operators.clustering import (
        ClusterRoundConfig,
        merge_components,
    )

    assert spark.sparkContext.defaultParallelism == 4
    clusters = spark.createDataFrame(
        [
            (i, [i], 1 << (i % 4), f"sample text number {i // 5}", f"k{i % 6}", 1)
            for i in range(60)
        ],
        "id long, members array<long>, sources_mask long, label string, "
        "blocking_key string, n_members int",
    )
    scored = salted_block_pair_scores(
        clusters.withColumn(
            "_tg",
            F.array_sort(
                F.transform(trigram_set(F.col("label")), lambda t: F.xxhash64(t))
            ),
        ),
        max_block_rows=16,
    )
    merged = merge_components(clusters, ClusterRoundConfig(use_audio=False))
    assert scored.rdd.getNumPartitions() == 4
    assert merged.rdd.getNumPartitions() == 4


def test_mixed_length_fingerprints_score_identically_on_both_audio_paths(spark):
    """A pair's sims do not depend on the group that scores it: the
    kernel's two callers — the salted grouped map
    (``salted_block_pair_scores(fp_col=…)``, rows split over salt-cell
    groups) and ``score_pairs(…, fps=…)`` in process over the whole frame
    — give bit-identical ``sim_text`` and ``sim_audio`` for every pair,
    which the distributed clustering lane's dedupe over blocking-key
    groups and band buckets relies on. A fingerprint whose length is not
    the MFCC dim is invalid (no vote) whichever row a group starts with."""
    import math

    import numpy as np

    from mapping_analysis_spark.functions.audio import N_MFCC
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import (
        salted_block_pair_scores,
        score_pairs,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        dim = (N_MFCC - 1, N_MFCC + 1)[i % 2] if i % 3 == 0 else N_MFCC
        fp = [float(np.float32(x)) for x in rng.normal(0, 1, dim)]
        rows.append((i, f"k{i % 2}", 1 << (i % 4), f"sample text {i // 6}", fp))
    df = spark.createDataFrame(
        rows,
        "id long, blocking_key string, sources_mask long, text string, "
        "fp array<float>",
    ).withColumn(
        "_tg",
        F.array_sort(F.transform(trigram_set(F.col("text")), lambda t: F.xxhash64(t))),
    )

    def norm(v):
        return None if v is None or (isinstance(v, float) and math.isnan(v)) else v

    got = {
        (r.src, r.dst): (r.sim_text, norm(r.sim_audio))
        for r in salted_block_pair_scores(
            df, max_block_rows=8, max_sources=3, emit_min=None, fp_col="fp"
        ).collect()
    }
    pdf = df.select("id", "blocking_key", "sources_mask", "_tg", "fp").toPandas()
    li, ri = np.triu_indices(len(pdf), k=1)
    keys = pdf["blocking_key"].to_numpy()
    same = keys[li] == keys[ri]
    whole = score_pairs(
        pdf["id"].to_numpy(),
        pdf["sources_mask"].to_numpy(),
        list(pdf["_tg"]),
        li[same],
        ri[same],
        3,
        fps=pdf["fp"],
    )
    ref = {
        (int(a), int(b)): (float(t), norm(float(u)))
        for a, b, t, u in zip(
            whole["src"], whole["dst"], whole["sim_text"], whole["sim_audio"]
        )
    }
    assert set(got) == set(ref) and len(got) > 100
    for (a, b), v in got.items():
        assert v == ref[(a, b)], ((a, b), v, ref[(a, b)])
        valid = a % 3 != 0 and b % 3 != 0
        assert (v[1] is not None) == valid, ((a, b), v)


def test_block_local_audio_channel_matches_column_path(spark):
    """The in-group audio channel (``fp_col``) must reproduce the
    ``fingerprint_cosine`` Column spec at 6dp on the same pairs. Covers
    null fingerprints (no vote) and a zero-norm fingerprint (silent
    decode)."""
    import math

    import numpy as np

    from mapping_analysis_spark.functions.audio import fingerprint_cosine
    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.operators.blocking import (
        salted_block_pair_scores,
        salted_block_pairs,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(80):
        if i % 13 == 0:
            fp = None
        elif i % 17 == 0:
            fp = [0.0] * 13  # zero norm → no vote
        else:
            fp = [float(np.float32(x)) for x in rng.normal(0, 1, 13)]
        rows.append(
            (i, f"k{i % 3}", 1 << (i % 4), f"sample text number {i // 5}", fp)
        )
    df = spark.createDataFrame(
        rows,
        "id long, blocking_key string, sources_mask long, text string, "
        "fp array<float>",
    ).withColumn(
        "_tg",
        F.array_sort(F.transform(trigram_set(F.col("text")), lambda t: F.xxhash64(t))),
    )

    def norm(v):
        return None if v is None or (isinstance(v, float) and math.isnan(v)) else v

    got = {
        (r.src, r.dst): norm(r.sim_audio)
        for r in salted_block_pair_scores(
            df, max_block_rows=16, max_sources=3, emit_min=None, fp_col="fp"
        ).collect()
    }
    restrict = (
        (F.col("l.sources_mask").bitwiseAND(F.col("r.sources_mask")) == 0)
        & (
            F.bit_count(F.col("l.sources_mask")) + F.bit_count(F.col("r.sources_mask"))
            <= 3
        )
    )
    spec_pairs = salted_block_pairs(
        df,
        max_block_rows=16,
        restrict=restrict,
        payload_cols=["sources_mask", "fp"],
    ).select(
        "src",
        "dst",
        fingerprint_cosine(F.col("src_fp"), F.col("dst_fp")).alias("spec"),
    )
    spec = {(r.src, r.dst): norm(r.spec) for r in spec_pairs.collect()}
    assert set(got) == set(spec) and len(got) > 100
    for p in spec:
        if spec[p] is None:
            assert got[p] is None, p
        else:
            # JVM sequential fold vs numpy einsum may differ in the last
            # ulp pre-rounding; at 6dp they agree
            assert got[p] is not None and abs(got[p] - spec[p]) < 1.1e-6, (
                p,
                got[p],
                spec[p],
            )


# ---------------------------------------------------------------------------
# clustering: the single-pass lane against the distributed path
# ---------------------------------------------------------------------------


def _lane_corpus(spark):
    """A cluster state (ids chosen so every tie order is known) covering:
    an LSH-only bridge (10 ↔ 12: prefix keys "midn" / "xmid"), a null
    blocking key reachable only through LSH (13, no fingerprint), a
    link-filter tie (20 → 21 and 20 → 22 score alike, 21 and 22 share a
    source) and a six-row component over two blocking keys (30-35)."""
    import numpy as np

    from mapping_analysis_spark.functions.similarity import trigram_set
    from mapping_analysis_spark.functions.text import music_blocking_label
    from mapping_analysis_spark.operators.blocking import band_keys

    rng = np.random.default_rng(11)
    song = {s: rng.normal(0, 1, 13) for s in ("city", "ocean", "rain", "misc")}

    def fp(s, noise=0.02):
        if s is None:
            return None
        return [float(np.float32(x)) for x in song[s] + rng.normal(0, noise, 13)]

    ocean = fp("ocean")
    recs = [
        (10, 1, "midnight city lights forever", fp("city")),
        (11, 2, "midnight city lights forevr", fp("city")),
        (12, 4, "xmidnight city lights forever", fp("city")),
        (13, 8, "midnight city lights forever!", None),
        (20, 1, "ocean drive tonight", ocean),
        (21, 2, "ocean drive tonight", ocean),
        (22, 2, "ocean drive tonight", ocean),
        (30, 1, "summer rain falls again", fp("rain")),
        (31, 2, "summer rain falls again", fp("rain")),
        (32, 4, "summer rain fallz again", fp("rain")),
        (33, 8, "a summer rain falls again", fp("rain")),
        (34, 16, "a summer rain falls again", fp("rain")),
        (35, 32, "a summer rain falls agian", fp("rain")),
        (40, 1, "blue moon river", fp("misc", 1.0)),
        (41, 2, "quiet storm warning", fp("misc", 1.0)),
    ]
    return (
        spark.createDataFrame(
            [(i, [i], m, lab, 1, f) for i, m, lab, f in recs],
            "id long, members array<long>, sources_mask long, label string, "
            "n_members int, fingerprint array<float>",
        )
        .withColumn(
            "blocking_key",
            F.when(F.col("id") == 13, F.lit(None)).otherwise(
                music_blocking_label(F.col("label"), 4)
            ),
        )
        .withColumn("trigram_set", trigram_set(F.col("label")))
        .withColumn("band_keys", band_keys(F.col("trigram_set")))
    )


def _cluster_rows(df):
    return sorted(
        (
            r.id,
            tuple(sorted(r.members)),
            r.sources_mask,
            r.label,
            r.blocking_key,
            r.n_members,
            None if r.fingerprint is None else tuple(r.fingerprint),
            tuple(sorted(r.trigram_set)),
        )
        for r in df.collect()
    )


def test_single_pass_lane_matches_distributed_path(spark, monkeypatch):
    """``cluster_rounds`` clusters a working set of ≤ 2·max_block_rows rows
    in one driver pass; with max_block_rows=2 (gate: 4 rows) the same
    state takes the distributed path. Both must give identical ids,
    members, masks, labels, keys and fingerprints — across an LSH-only
    bridge, a null blocking key, a link-filter tie and a component above
    max_component_rows. Both lanes write the same scored pairs — each
    (src, dst) once, with the same sims — and the same linked-edge
    parquet, and the gate holds where the footers cannot be read."""
    from mapping_analysis_spark import util
    from mapping_analysis_spark.operators import clustering
    from mapping_analysis_spark.operators.clustering import (
        ClusterRoundConfig,
        candidate_components,
        cluster_rounds,
    )

    state = _lane_corpus(spark).persist()
    lane_calls = []
    orig = clustering._cluster_small
    monkeypatch.setattr(
        clustering,
        "_cluster_small",
        lambda *a: lane_calls.append(1) or orig(*a),
    )
    sym_rows = []
    scored = []
    orig_mat = util.materialize

    def spy(df, path=None):
        out = orig_mat(df, path)
        if path is not None and "cc_sym" in path:
            sym_rows.append(out.count())
        if "sim_text" in out.columns:
            scored.append(
                sorted(
                    (r.src, r.dst, r.sim_text, r.sim_audio)
                    for r in out.select("src", "dst", "sim_text", "sim_audio").collect()
                )
            )
        return out

    monkeypatch.setattr(util, "materialize", spy)
    on = ClusterRoundConfig(max_component_rows=4)
    off = ClusterRoundConfig(max_component_rows=4, max_block_rows=2)
    lane = _cluster_rows(cluster_rounds(state, on))
    assert lane_calls == [1]
    dist = _cluster_rows(cluster_rounds(state, off))
    assert lane_calls == [1]
    assert lane == dist
    # the linked edges, two rows each, written once per lane
    assert len(sym_rows) == 2 and sym_rows[0] == sym_rows[1] > 0
    # the scored pairs, written once per lane: the same rows, each pair once
    assert len(scored) == 2 and scored[0] == scored[1]
    assert len({(r[0], r[1]) for r in scored[0]}) == len(scored[0]) > 0
    # storage whose footers the driver cannot read: the gate counts instead
    monkeypatch.setattr(util, "parquet_rows", lambda path: None)
    assert _cluster_rows(cluster_rounds(state, on)) == lane
    assert lane_calls == [1, 1]
    assert _cluster_rows(cluster_rounds(state, off)) == lane
    assert lane_calls == [1, 1]
    members = {r[1] for r in lane}
    # the corpus reaches every case it is meant to cover
    assert any({10, 12} <= set(m) for m in members)  # LSH-only bridge
    assert any(13 in m and len(m) > 1 for m in members)  # null key, via LSH
    assert (20, 21) in members and (22,) in members  # tie: lower dst wins
    sizes = candidate_components(state, off).groupBy("cc").count()
    assert sizes.agg(F.max("count")).first()[0] > 4
    state.unpersist()


def test_both_lanes_take_lsh_candidates_from_band_keys(spark):
    """Both clustering lanes read LSH candidates from the state's
    ``band_keys`` column, never from ``trigram_set``: with the band keys
    of 12 (the LSH-only bridge 10 ↔ 12) emptied, 12 stays a singleton on
    the single-pass lane and on the distributed path, while 13 (null
    blocking key, own band keys kept) still joins through LSH."""
    from mapping_analysis_spark.operators.clustering import (
        ClusterRoundConfig,
        cluster_rounds,
    )

    state = (
        _lane_corpus(spark)
        .withColumn(
            "band_keys",
            F.when(F.col("id") == 12, F.array().cast("array<string>")).otherwise(
                F.col("band_keys")
            ),
        )
        .persist()
    )
    lane = _cluster_rows(cluster_rounds(state, ClusterRoundConfig(max_component_rows=4)))
    dist = _cluster_rows(
        cluster_rounds(state, ClusterRoundConfig(max_component_rows=4, max_block_rows=2))
    )
    for rows in (lane, dist):
        members = {r[1] for r in rows}
        assert (12,) in members
        assert any(13 in m and len(m) > 1 for m in members)
    assert lane == dist
    state.unpersist()


def test_distributed_cc_loop_matches_union_find(spark):
    """The label-propagation + pointer-jumping loop of
    ``connected_components`` (forced with local_edges_threshold=0) gives
    the driver union-find's labels on a chain, a random graph and
    isolated vertices. On the 1,000-vertex chain, three jumps per round
    reach the fixpoint in ``max_iter`` = 3 rounds (8× reach per round);
    a loop that lost one jump (4× per round) stops short with wrong
    labels."""
    import random

    from mapping_analysis_spark.operators.graph import connected_components

    rnd = random.Random(5)
    chain = [(i, i + 1) for i in range(1000, 1999)]
    rand = [(rnd.randrange(5000, 5600), rnd.randrange(5000, 5600)) for _ in range(700)]
    rand = [(a, b) for a, b in rand if a != b]
    graphs = {
        "chain": (chain, None, 3),
        "random": (rand, None, 50),
        "isolated": (chain[:20] + rand[:50], list(range(9000, 9010)), 50),
    }
    for name, (edges, isolated, max_iter) in graphs.items():
        e = spark.createDataFrame(edges, "src long, dst long")
        v = None
        if isolated is not None:
            ids = sorted({x for ed in edges for x in ed} | set(isolated))
            v = spark.createDataFrame([(i,) for i in ids], "id long")

        def labels(threshold):
            return sorted(
                (r.id, r.cc_id)
                for r in connected_components(
                    e, v, max_iter=max_iter, local_edges_threshold=threshold
                ).collect()
            )

        local, loop = labels(1 << 40), labels(0)
        assert loop == local, name
        if name == "chain":
            assert {c for _, c in loop} == {1000}
        if isolated is not None:
            assert {(i, i) for i in isolated} <= set(loop)
