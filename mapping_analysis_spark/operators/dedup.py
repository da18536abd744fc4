"""Deduplication operators for large-scale training-data pipelines.

These generalize the engine's entity-resolution core (blocking → pair sim →
cluster) to document dedup at corpus scale — the standard toolkit for
100 TB text pipelines:

* ``exact_dedup``          — hash-groupBy on normalized text; keep min id.
* ``minhash_lsh_dedup``    — shingle → seeded MinHash → band-bucket join →
  verified Jaccard ≥ threshold → connected components → keep min id per
  component. The LSH machinery is shared with the ER engine
  (operators/blocking.py: same seeded signature, deterministic across
  parallelism levels).
* ``simhash_dedup``        — 64-bit SimHash over token hashes; Hamming-
  distance candidates via band keys (4×16-bit chunks: any duplicate within
  Hamming ≤ 3 shares at least one chunk — pigeonhole).
* ``ngram_jaccard_pairs``  — word n-gram Jaccard over blocked pairs.
* ``embedding_near_dup``   — cosine ≥ threshold over an embedding column
  (native zip_with dot product; LSH-bucketed variant for scale in
  operators/similarity_search.py).

All candidate generation is equi-join-on-key (shuffle once, no cross
product); all verification is native Columns; results are deterministic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import cosine_trigram_from_sets  # noqa: F401 (API surface)
from .blocking import band_pairs, minhash_band_keys
from .graph import connected_components


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse whitespace,
    trim (deliberately lighter than ``simplify`` — punctuation is content
    for exact dedup)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct normalized text — the hash-groupBy
    exact pass every pipeline runs first. Aggregates only (hash, id): the
    full rows are joined back by key, so wide payloads never shuffle."""
    keyed = df.select(
        F.col(id_col), F.xxhash64(normalize_text(F.col(text_col))).alias("_h")
    )
    keep = keyed.groupBy("_h").agg(F.min(id_col).alias(id_col)).drop("_h")
    return df.join(keep, id_col, "left_semi")


def word_shingles_spec(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set of lowercased text, as array<string> —
    composed-Column spec. Correct but interpreted: `transform` has no
    codegen and re-evaluates the whole `split` subtree per element
    (measured ~1.2 ms/row at 52 shingles/doc — 5.8 s for 5000 docs, paid
    once per reference). Hot paths use ``word_shingles`` below; a test
    pins them equal."""
    words = F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")
    cnt = F.size(words)
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - (n - 1))).otherwise(
        F.when(cnt > 0, F.array(F.lit(1))).otherwise(F.array().cast("array<int>"))
    )
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def word_shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set of lowercased text (first-occurrence order,
    distinct), Arrow-batched. Identical output to ``word_shingles_spec``:
    lowercase → split on whitespace runs → n-word joins (whole text as one
    shingle when fewer than n words, empty array for empty text, null for
    null)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    import re

    # Java/Spark regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split()
    # splits on Unicode whitespace (NBSP, thin space, …), which diverges from
    # the spec on such text — split with an ASCII-\s regex instead.
    _ws = re.compile(r"\s+", flags=re.ASCII)

    @pandas_udf(T.ArrayType(T.StringType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            words = [w for w in _ws.split(t.lower()) if w]
            cnt = len(words)
            if cnt >= n:
                grams = [" ".join(words[i : i + n]) for i in range(cnt - n + 1)]
            elif cnt > 0:
                grams = [" ".join(words)]
            else:
                grams = []
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return _shingles(col)


def jaccard_from_sets(left: Column, right: Column) -> Column:
    inter = F.size(F.array_intersect(left, right))
    union = F.size(left) + F.size(right) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
    max_bucket: int = 256,
) -> DataFrame:
    """Candidate pairs from MinHash banding over word shingles.

    (src, dst, jaccard) with src < dst; jaccard computed exactly on the
    shingle sets of surviving candidates (the verify step — LSH only
    prunes).

    Scale shape: the band self-join carries IDS ONLY — the shingle arrays
    never ride through the ×bands explode or the shuffle; they are joined
    back onto the deduplicated candidate set for the verify step. Band
    buckets larger than ``max_bucket`` are dropped before the self-join
    (degenerate near-constant signatures would go quadratic; a true
    near-dup pair collides in ~every band, so it still surfaces through a
    non-degenerate one — ``blocking.band_pairs``)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), shingle_n).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    from ..util import materialize

    # materialize (id, band): every alias below re-evaluates its input, and
    # the minhash signature is the expensive part — without the boundary it
    # is computed once per self-join side plus once for the bucket sizes
    banded = materialize(
        sh.select(
            "_id",
            F.explode(
                minhash_band_keys(F.col("_sh"), bands, rows_per_band, seed)
            ).alias("_band"),
        )
    )
    cand = band_pairs(banded, "_id", max_bucket)
    verified = cand.join(
        sh.select(F.col("_id").alias("src"), F.col("_sh").alias("_sh_l")), "src"
    ).join(sh.select(F.col("_id").alias("dst"), F.col("_sh").alias("_sh_r")), "dst")
    return verified.select(
        "src", "dst", jaccard_from_sets(F.col("_sh_l"), F.col("_sh_r")).alias("jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-dup removal: LSH candidates → Jaccard ≥ threshold → connected
    components → keep the min id per component."""
    dup_edges = minhash_lsh_candidates(
        df, text_col, id_col, shingle_n, bands, rows_per_band, seed
    ).filter(F.col("jaccard") >= threshold)
    cc = connected_components(dup_edges.select("src", "dst"), id_col="id", cc_col="cc")
    losers = cc.filter(F.col("id") != F.col("cc")).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(col: Column) -> Column:
    """SimHash over whitespace tokens — per-bit majority vote of token
    hashes, fully native (no Python).

    The token hash is the first 15 hex chars of md5 as a 60-bit integer
    (``conv(substring(md5(w),1,15),16,10)``): md5 is computable identically
    in DuckDB (``('0x' || substring(md5(w),1,15))::BIGINT``), which makes
    the whole fingerprint — and the banded candidate set — exactly
    oracle-checkable. Bits 60-63 of the fingerprint are always 0 (the hash
    never sets them, so their majority vote is negative).

    One pass over the token array: a vector of 64 vote counters is folded
    (zip_with inside aggregate), then votes > 0 select the bit masks and a
    final OR-fold assembles the fingerprint. Single projection, stays in
    codegen, partial-aggregation-friendly upstream.
    """
    tokens = F.filter(F.split(F.lower(col), r"\s+"), lambda w: w != "")
    hashes = F.transform(
        tokens,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )
    masks = F.array(
        *[F.shiftleft(F.lit(1).cast("long"), b) for b in range(64)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    bits = F.zip_with(
        votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x)
    )


def simhash64_fast(col: Column) -> Column:
    """Arrow-vectorized twin of ``simhash64`` — BIT-IDENTICAL values
    (pinned by test on real corpus text): same ASCII-``\\s`` tokenization,
    same md5-first-15-hex-chars 60-bit token hash (hashlib.md5 == JVM md5
    == DuckDB md5, so the oracle replay is unaffected), same per-bit
    majority vote including repeated tokens. Exists because the composed
    Column version is an interpreted aggregate-of-zip_with (64 counters ×
    every token, no codegen) measured at ~0.6 ms/row — the whole
    fingerprint stage — while this pass hashes each distinct token once
    (dict cache) and folds votes in numpy."""
    import re

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    _ws = re.compile(r"\s+", flags=re.ASCII)

    @pandas_udf(T.LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        cache: dict[str, int] = {}

        def h(w: str) -> int:
            v = cache.get(w)
            if v is None:
                v = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                cache[w] = v
            return v

        bit_idx = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            words = [w for w in _ws.split(t.lower()) if w]
            if not words:
                continue
            hs = np.array([h(w) for w in words], dtype=np.uint64)
            bits = (hs[:, None] >> bit_idx) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            fp = np.uint64(0)
            for b in np.flatnonzero(votes > 0):
                fp |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(fp)
        return pd.Series(out)

    return _sh(col)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup candidates within Hamming ≤ max_hamming via chunk banding:
    split the 64-bit simhash into ``chunks`` pieces; any pair within
    Hamming ≤ chunks−1 shares ≥1 identical chunk (pigeonhole). Returns
    (src, dst, hamming) verified exactly. Token-less documents are excluded
    (their fingerprint would be the degenerate all-zero value and every
    such pair would collide at Hamming 0).

    Scale shape — two defenses against hot chunk values (each band has only
    2^(64/chunks) distinct values; low-entropy corpora pile up on few):

    1. **Hierarchical sub-banding.** A band bucket larger than
       ``max_bucket`` is re-keyed by a SECOND chunking of the fingerprint
       rotated by width/2 bits. Pigeonhole applies again (chunks >
       max_hamming both levels): a qualifying pair differs in ≤ max_hamming
       bits of the rotated word too, so it shares ≥ 1 rotated chunk — it
       lands in a common sub-bucket. Recall is EXACT, not approximate:
       a pair sharing the hot chunk but NO rotated chunk must differ in
       ≥ chunks > max_hamming bits and would fail the Hamming verify
       anyway, so the final pair set is provably unchanged. Hot-bucket
       rows replicate ``chunks``× while sub-buckets shrink by the rotated
       chunk's entropy.
    2. **Salted triangle enumeration** (``salted_block_pairs``) within the
       final buckets: a bucket of truly identical fingerprints — whose
       candidate pairs are legitimately quadratic — spreads its pair
       enumeration over ~(n/max_bucket)²/2 tasks instead of one.

    The only per-pair payload is the 8-byte fingerprint itself."""
    from .blocking import salted_block_pairs

    if chunks <= max_hamming:
        raise ValueError(
            f"chunks ({chunks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    from ..util import materialize

    width = 64 // chunks
    tokens = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    # materialize (id, fingerprint) ONCE: simhash64 is an interpreted
    # aggregate-of-zip_with expression that projection collapse would
    # otherwise re-evaluate per band projection AND per sizes/salting
    # aggregate downstream (measured 4.9 → 13.4 s at sf0.1 without this)
    # materialized ONCE (the banded union + sizes/salting aggregates would
    # otherwise re-evaluate the fingerprint per projection: 4.9 → 13.4 s at
    # sf0.1) using the vectorized twin (bit-identical to simhash64 — the
    # interpreted aggregate-of-zip_with costs ~0.6 ms/row serially)
    sh = materialize(
        df.filter(F.size(tokens) > 0)
        .select(
            F.col(id_col).alias("_id"), simhash64_fast(F.col(text_col)).alias("_sh")
        )
    )

    def _chunk(hash_col: Column, i: int) -> Column:
        return F.shiftrightunsigned(hash_col, i * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    parts = []
    for i in range(chunks):
        parts.append(
            sh.select(
                "_id",
                "_sh",
                F.concat_ws(
                    ":", F.lit(str(i)), _chunk(F.col("_sh"), i).cast("string")
                ).alias("_band"),
            )
        )
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)

    # hot/small split: only oversized bands are broadcast (few hot keys)
    hot_keys = (
        banded.groupBy("_band")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select("_band")
    )
    classified = banded.join(
        F.broadcast(hot_keys.withColumn("_hot", F.lit(True))), "_band", "left"
    )
    small = classified.filter(F.col("_hot").isNull()).select("_id", "_sh", "_band")
    hot = classified.filter(F.col("_hot")).select("_id", "_sh", "_band")
    # sub-band hot buckets on the rotated fingerprint (rotate right by
    # width/2 so second-level chunks straddle first-level boundaries)
    rot = width // 2
    rotated = F.shiftrightunsigned(F.col("_sh"), rot).bitwiseOR(
        F.shiftleft(F.col("_sh"), 64 - rot)
    )
    sub_parts = []
    for j in range(chunks):
        sub_parts.append(
            hot.select(
                "_id",
                "_sh",
                F.concat_ws(
                    ":",
                    F.col("_band"),
                    F.lit(str(j)),
                    _chunk(rotated, j).cast("string"),
                ).alias("_band"),
            )
        )
    final = small
    for p in sub_parts:
        final = final.unionByName(p)

    pairs = salted_block_pairs(
        final,
        key_col="_band",
        id_col="_id",
        max_block_rows=max_bucket,
        payload_cols=["_sh"],
    )
    return (
        pairs.select(
            "src",
            "dst",
            hamming64(F.col("src__sh"), F.col("dst__sh")).alias("hamming"),
        )
        .dropDuplicates(["src", "dst"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard + embedding near-dup
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    max_block_rows: int = 256,
) -> DataFrame:
    """Word n-gram Jaccard over blocked pairs. ``key_col`` defaults to a
    cheap prefix block (first 8 chars of normalized text) — swap in any
    blocking column. Returns (src, dst, jaccard ≥ threshold).

    Scale shape (block-LOCAL enumerate-and-score): each record's shingle
    set — hashed to a sorted int64 array — travels ONCE per salt cell into
    ``salted_block_pair_scores``; pairs are enumerated AND scored inside
    one vectorized grouped-map pass, and only pairs ≥ ``threshold`` leave
    the stage. The previous shape (id-only pair enumeration, then an
    equi-join attaching both shingle arrays onto every pair row for an
    interpreted array_intersect) shuffled payload per PAIR — measured as
    the non-scaling term at 300k-record corpora. Hot prefixes ("the ",
    boilerplate headers) still split into salt cells. The pair set and
    values are identical: the kernel's Jaccard is unrounded (exactly
    ``jaccard_from_sets``) and xxhash64 keeps shingle sets distinct."""
    from .blocking import salted_block_pair_scores

    key = (
        F.col(key_col)
        if key_col
        else F.substring(normalize_text(F.col(text_col)), 1, 8)
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        key.alias("_k"),
        F.array_sort(
            F.transform(word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
        ).alias("_tok"),
    )
    return salted_block_pair_scores(
        base,
        key_col="_k",
        id_col="_id",
        tokens_col="_tok",
        mask_col=None,
        max_block_rows=max_block_rows,
        emit_min=threshold,
        metric="jaccard",
    ).select("src", "dst", F.col("sim_text").alias("jaccard"))


def embedding_cosine(left: Column, right: Column) -> Column:
    """Cosine over two array<float> embedding columns — native zip_with.

    Operands are widened to double BEFORE multiplying: the product of two
    floats is exact in double (24+24 < 53 mantissa bits), so the per-term
    values — and with sequential accumulation the whole cosine — are
    bit-identical to any engine that does the same (the DuckDB oracles
    compute this exact formula)."""
    dot = F.aggregate(
        F.zip_with(left, right, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nl = F.sqrt(
        F.aggregate(
            left, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    nr = F.sqrt(
        F.aggregate(
            right, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return F.when((nl > 0) & (nr > 0), dot / (nl * nr))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bucket_col: Column | None = None,
    dim: int | None = None,
    n_planes: int = 8,
    tables: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets.

    DEFAULT is the scale path: banded random-hyperplane LSH
    (similarity_search.hyperplane_band_buckets — ``tables`` independent
    sign-bucket tables, plan-literal planes, deterministic across
    parallelism levels). Ids-only ride the ×tables explode and the bucket
    self-join; the vectors are joined back onto the deduplicated candidate
    set for the exact-cosine verify. At 100 TB per-task work is |bucket|²,
    never |corpus|², and recall is the OR-banding 1−(1−pᵏ)ᴸ.

    ``bucket_col`` overrides the bucketing with a single caller-supplied
    bucket expression; ``exact=True`` selects the all-pairs O(n²)
    self-join — the recall oracle for tests, NOT a production path.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if exact or bucket_col is not None:
        if bucket_col is not None:
            base = base.withColumn("_bk", bucket_col)
            cond = (F.col("l._bk") == F.col("r._bk")) & (
                F.col("l._id") < F.col("r._id")
            )
        else:
            cond = F.col("l._id") < F.col("r._id")
        l, r = base.alias("l"), base.alias("r")
        return (
            l.join(r, cond)
            .select(
                F.col("l._id").alias("src"),
                F.col("r._id").alias("dst"),
                embedding_cosine(F.col("l._v"), F.col("r._v")).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )
    from .similarity_search import hyperplane_band_buckets

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    keys = hyperplane_band_buckets(F.col("_v"), dim, tables, n_planes, seed)
    # materialize the banded (id, band) relation ONCE: the self-join below
    # references it on both sides, and the hyperplane key expression is a
    # dim×planes×tables plan-literal HOF chain (interpreted, no codegen) —
    # without the cut each side re-evaluates every dot product (measured
    # ~2× the whole query's compute at sf0.1; at 100 TB the banded relation
    # is the thing to shuffle, never the re-derivation)
    from ..util import materialize

    banded = materialize(base.select("_id", F.explode(keys).alias("_bk")))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l._bk") == F.col("r._bk")) & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("src"), F.col("r._id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    verified = cand.join(
        base.select(F.col("_id").alias("src"), F.col("_v").alias("_v_l")), "src"
    ).join(base.select(F.col("_id").alias("dst"), F.col("_v").alias("_v_r")), "dst")
    return verified.select(
        "src",
        "dst",
        embedding_cosine(F.col("_v_l"), F.col("_v_r")).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
