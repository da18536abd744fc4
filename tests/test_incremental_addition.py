"""SOURCE_ADDITION operator tests (SourceAdditionClustering semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapping_analysis_spark.functions.similarity import trigram_set


def _state(spark, rows):
    df = spark.createDataFrame(
        rows,
        "id long, members array<long>, sources_mask long, label string,"
        " blocking_key string, n_members int",
    )
    return df.withColumn("trigram_set", trigram_set(F.col("label")))


def test_source_addition_max_both(spark):
    from mapping_analysis_spark.operators.incremental import (
        source_addition_clustering,
    )

    state = _state(
        spark,
        [
            (1, [1], 1, "hello world", "hell", 1),
            (2, [2], 2, "totally different", "tota", 1),
        ],
    )
    arrivals = _state(
        spark,
        [
            (10, [10], 4, "hello world", "hell", 1),   # matches 1
            (11, [11], 4, "no match at all", "no m", 1),
        ],
    )
    out = source_addition_clustering(state, arrivals, min_sim=0.8)
    rows = {r.id: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 11]
    assert sorted(rows[1].members) == [1, 10]
    assert rows[1].sources_mask == 5
    # unmatched on both sides survive untouched
    assert rows[2].members == [2] and rows[11].members == [11]
    # every row, merged or not, carries the band keys of its trigram set
    from mapping_analysis_spark.operators.blocking import band_keys

    fresh = out.withColumn("_fresh", band_keys(F.col("trigram_set")))
    assert fresh.filter(F.col("band_keys") != F.col("_fresh")).count() == 0


def test_source_addition_hungarian(spark):
    from mapping_analysis_spark.operators.incremental import (
        source_addition_clustering,
    )

    # two state reps, two arrivals in one block; greedy reciprocal-best and
    # optimal assignment agree here, but the hungarian path exercises the
    # per-block solver + payload join-back
    state = _state(
        spark,
        [
            (1, [1], 1, "alpha beta gamma", "alph", 1),
            (2, [2], 2, "alpha beta delta", "alph", 1),
        ],
    )
    arrivals = _state(
        spark,
        [
            (10, [10], 4, "alpha beta gamma", "alph", 1),
            (11, [11], 4, "alpha beta delta", "alph", 1),
        ],
    )
    out = source_addition_clustering(
        state, arrivals, min_sim=0.5, selection="hungarian"
    )
    rows = {r.id: sorted(r.members) for r in out.collect()}
    assert rows[1] == [1, 10]
    assert rows[2] == [2, 11]
