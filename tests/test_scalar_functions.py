"""Scalar function unit vectors — literal cases lifted from the reference's
asserts (MusicbrainzBenchmarkTest.java:73-103, UtilsTest, GeoDistanceTest)
per FIXTURES.md §4."""

import math

import pytest
from pyspark.sql import functions as F

from mapping_analysis_spark.functions import text
from mapping_analysis_spark.functions.cleaning import (
    fix_language_py,
    fix_song_length_py,
    fix_year_py,
)
from mapping_analysis_spark.functions.similarity import (
    cosine_trigram,
    geo_sim,
    haversine_m,
    jaro_winkler_py,
    mean_agg_sim,
    year_length_sim,
)


# ---- pure-python cleaners (MusicbrainzBenchmarkTest.java:85-95) ----

@pytest.mark.parametrize(
    "raw,expected",
    [
        (" 219", 219),
        ("3.663", 220),
        ("2m 27sec", 147),
        ("unk.", None),
        ("402840", 403),
        ("03:42", 222),
        ("432000", 432),
        ("4m32sec", 272),
        ("--", None),
        ("28q666", None),
        ("3", 3),
    ],
)
def test_fix_song_length(raw, expected):
    assert fix_song_length_py(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("'96", 1996),
        ("04", 2004),
        ("11", 2011),
        ("2009", 2009),
        ("1911", 1911),
        ("2018", None),
        ("Spider in the Snow - Live in Japan 2011", 2011),
        ("", None),
        (None, None),
    ],
)
def test_fix_year(raw, expected):
    assert fix_year_py(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Fre.", "french"),
        ("a,b", "multiple"),
        ("ENGLISH", "english"),
        ("ger", "german"),
        ("por", "portuguese"),
        ("pol", "polish"),
        ("xx", "no_or_minor_lang"),
    ],
)
def test_fix_language(raw, expected):
    assert fix_language_py(raw) == expected


# ---- native Column text functions ----

def test_simplify_and_blocking(spark):
    df = spark.createDataFrame(
        [
            ("The Beatles - Help!",),
            ("  Ab ",),
            ("them",),
            ("therapy",),
            ("L'enfant aux yeux d'Italie",),
        ],
        "s string",
    )
    out = df.select(
        text.simplify(F.col("s")).alias("simple"),
        text.music_blocking_label(F.col("s"), 4).alias("mbl"),
        text.geo_blocking_label(F.col("s"), 3).alias("gbl"),
    ).collect()
    # Utils.simplify: lowercase, punct->space, collapse
    assert out[0].simple == "the beatles help"
    # Utils.getMusicBlockingLabel: strip "the ", 4-char prefix
    assert out[0].mbl == "beat"
    # "them" -> substring(4)="" -> fallback raw prefix
    assert out[2].mbl == "them"
    # "therapy" -> substring(4)="apy" (shorter than 4 stays)
    assert out[3].mbl == "apy"
    assert out[4].simple == "l enfant aux yeux d italie"
    # geo label: "  Ab " -> prefix "  a" -> run of spaces collapses to '#'
    # -> "#a" -> re-pad -> "#a#"
    assert out[1].gbl == "#a#"


def test_geo_blocking_label_exact(spark):
    df = spark.createDataFrame([("Ab",), ("Berlin",), ("!x",)], "s string")
    got = [
        r.g
        for r in df.select(text.geo_blocking_label(F.col("s"), 3).alias("g")).collect()
    ]
    assert got[0] == "ab#"
    assert got[1] == "ber"
    assert got[2] == "#x#"


def test_trigrams(spark):
    df = spark.createDataFrame([("abcd",)], "s string")
    row = df.select(
        text.trigrams(F.col("s")).alias("t"),
        text.padded_trigrams(F.col("s")).alias("p"),
    ).first()
    assert row.t == ["abc", "bcd"]
    assert row.p == ["##a", "#ab", "abc", "bcd", "cd#", "d##"]


def test_cosine_trigram(spark):
    df = spark.createDataFrame(
        [("hello world", "hello world"), ("abc", "xyz"), ("no_value", "abc")],
        "l string, r string",
    )
    got = df.select(cosine_trigram(F.col("l"), F.col("r")).alias("sim")).collect()
    assert got[0].sim == 1.0
    assert got[1].sim == 0.0
    assert got[2].sim is None  # insane side -> null (Utils.java:483-485)


def test_cosine_trigram_value(spark):
    # |A∩B| / sqrt(|A||B|) over distinct padded trigrams
    df = spark.createDataFrame([("abcd", "abce")], "l string, r string")
    # A = ##a #ab abc bcd cd# d## ; B = ##a #ab abc bce ce# e##
    # inter = 3, |A|=|B|=6 -> 0.5
    assert df.select(cosine_trigram(F.col("l"), F.col("r")).alias("s")).first().s == 0.5


def test_year_length_and_mean_agg(spark):
    df = spark.createDataFrame([(2000, 2001, 0.8)], "a int, b int, s double")
    row = df.select(
        year_length_sim(F.col("a"), F.col("b")).alias("ys"),
        mean_agg_sim(
            F.col("s"), year_length_sim(F.col("a"), F.col("b")), F.lit(None).cast("double")
        ).alias("agg"),
    ).first()
    assert row.ys == 0.5
    assert row.agg == pytest.approx(0.65)  # (0.8+0.5)/2, null ignored


def test_haversine_and_geo_sim(spark):
    # Leipzig -> Halle ~ 27.5 km
    df = spark.createDataFrame(
        [(51.3397, 12.3731, 51.4825, 11.9697)], "a double, b double, c double, d double"
    )
    row = df.select(
        haversine_m(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("m"),
        geo_sim(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("s"),
    ).first()
    assert 26000 < row.m < 33000
    assert row.s == pytest.approx(1 - row.m / 150000, abs=1e-6)


def test_jaro_winkler_py():
    assert jaro_winkler_py("martha", "marhta") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("abc", "xyz") == 0.0


def test_artist_title_album(spark):
    df = spark.createDataFrame(
        [("a", " Daniel Balavoine - L'enfant", "De vous"), ("no_value", "T", "--")],
        "artist string, label string, album string",
    )
    got = df.select(
        text.artist_title_album(F.col("artist"), F.col("label"), F.col("album")).alias("x")
    ).collect()
    assert got[0].x == "a daniel balavoine l enfant de vous"
    assert got[1].x == "t"


def _decimal_half_up6(x):
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def test_round6_is_half_up_at_6dp_midpoints():
    """round6 / round6_vec equal the Decimal(repr(x)) HALF_UP result on
    exact 6dp midpoints (both signs) and their nextafter neighbours — the
    inputs where Python's half-to-even ``round(x, 6)`` disagrees."""
    import numpy as np

    from mapping_analysis_spark.functions.local_sim import round6, round6_vec

    mids = [float(f"{(2 * k + 1) * 5}e-7") for k in range(0, 1_000_000, 97)]
    xs = []
    for m in mids:
        for v in (m, -m):
            xs += [v, math.nextafter(v, -math.inf), math.nextafter(v, math.inf)]
    want = [_decimal_half_up6(x) for x in xs]
    assert [round6(x) for x in xs] == want
    assert round6_vec(np.array(xs)).tolist() == want
    assert sum(round(x, 6) != w for x, w in zip(xs, want)) > 1000
    got = round6_vec(np.array([0.1234565, np.nan]))
    assert got[0] == 0.123457 and np.isnan(got[1])


def test_jaro_winkler_rounds_half_up_at_the_filter_midpoints(spark, monkeypatch):
    """Raw Jaro-Winkler scores on the 6dp midpoints either side of the
    ``jw_sim >= 0.5`` filter (q_jaro_winkler_pairs) round HALF_UP, as
    DuckDB's ``round`` does: 0.5000005 → 0.500001 and 0.4999995 → 0.5
    (kept). Half-to-even ``round(x, 6)`` gives 0.5 and 0.499999 (dropped)."""
    import pandas as pd

    from mapping_analysis_spark.functions import similarity

    # a real pair on the upper midpoint: 6 matches, 3 transpositions,
    # lengths 6 and 4,000,000 → (6/6 + 6/4e6 + 3/6) / 3
    s1, s2 = "abcdef", "badcfe" + "-" * (4_000_000 - 6)
    assert repr(similarity.jaro_winkler_py(s1, s2)) == "0.5000005"
    df = spark.createDataFrame([(s1, s2)], "l string, r string")
    got = df.select(similarity.jaro_winkler(F.col("l"), F.col("r")).alias("jw"))
    assert [r.jw for r in got.filter(F.col("jw") >= 0.5).collect()] == [0.500001]

    # the lower midpoint 0.4999995 = 999999/2e6 needs 5^6 to divide a
    # string length or the match count; no pair with fewer than 400
    # matches reaches it, so the UDF body gets that raw score injected
    monkeypatch.setattr(similarity, "jaro_winkler_py", lambda a, b: 0.4999995)
    out = similarity.jaro_winkler.func(pd.Series(["x"]), pd.Series(["y"]))
    assert out.tolist() == [0.5]

