"""Blocking / candidate generation.

Re-creates (behaviorally) the reference's blocking strategies
(model/functions/blocking/BlockingStrategy.java:6-12):

* STANDARD_BLOCKING — group records by blocking key, emit all i<j pairs per
  block subject to restrictions (merge/MergeMusicTripletCreator.java:25-49).
  Here: a block self-join, which Catalyst executes as a shuffle-hash /
  sort-merge equi-join on the key — fully distributed, no driver work.
* BLOCK_SPLIT — the reference's Dedoop-style pair-level load balancing
  (blocking/blocksplit/BlockSplitTripletCreator.java:49-117). We keep the
  *intent* (even pair distribution across reducers despite skewed block
  sizes) with salted sub-blocking: oversized blocks are split into salted
  sub-blocks; each pair is produced exactly once by joining every salt-cell
  pair (triangle enumeration over cells). AQE skew-join handles residual
  imbalance.
* LSH_BLOCKING — trigram MinHash banding (lsh/ package, ~20 files). The
  reference builds explicit trigram→bit dictionaries and samples bit
  positions per hash family (structure/HashFamily.java:84-100, seeded).
  We use the standard minhash formulation ((a*h+b) mod p, seeded) over
  hashed trigrams — same guarantee (Jaccard-sensitive collisions),
  deterministic under a fixed seed. The band keys come from one Arrow
  pandas UDF (``minhash_band_keys``: the trigrams are hashed JVM-side,
  the signature and keys in one numpy pass per batch); buckets are formed
  with explode + groupBy.

All pair outputs are canonical: src < dst (the reference's i<j enumeration,
merge/MergeMusicTripletCreator.java:26-49).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.audio import N_MFCC
from ..functions.local_sim import round6_vec

# ---------------------------------------------------------------------------
# Standard blocking
# ---------------------------------------------------------------------------


def block_pairs(
    df: DataFrame,
    key_col: str = "blocking_key",
    id_col: str = "id",
    restrict: Column | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """All i<j pairs within each block (STANDARD_BLOCKING).

    ``restrict`` is an extra pair predicate over ``l``/``r`` aliases (e.g.
    source-overlap bitmask check, CheckRestrictionsFilterFunction.java:27-50).
    ``payload_cols`` are carried from both sides prefixed ``src_``/``dst_``;
    by default only ids + key. The join is an equi-join on the blocking key,
    so Catalyst shuffles both sides once on the key and never materializes
    cross-block pairs.
    """
    cols = [id_col, key_col] + (payload_cols or [])
    left = df.select(*cols).alias("l")
    right = df.select(*cols).alias("r")
    cond = (F.col(f"l.{key_col}") == F.col(f"r.{key_col}")) & (
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )
    if restrict is not None:
        cond = cond & restrict
    out = left.join(right, cond, "inner")
    select = [
        F.col(f"l.{id_col}").alias("src"),
        F.col(f"r.{id_col}").alias("dst"),
        F.col(f"l.{key_col}").alias(key_col),
    ]
    for c in payload_cols or []:
        select.append(F.col(f"l.{c}").alias(f"src_{c}"))
        select.append(F.col(f"r.{c}").alias(f"dst_{c}"))
    return out.select(*select)


def salted_block_pairs(
    df: DataFrame,
    key_col: str = "blocking_key",
    id_col: str = "id",
    max_block_rows: int = 256,
    restrict: Column | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """STANDARD_BLOCKING with explicit skew salting (BLOCK_SPLIT intent,
    blocking/blocksplit/ReplicateAndAssignReducerId.java:27-66).

    Blocks larger than ``max_block_rows`` are split into ``s =
    ceil(n/max_block_rows)`` salt cells by ``row_number % s``. Pairs are
    enumerated per unordered cell pair (i<=j): the left side replicated to
    cells (i,i..s-1) joined on (key, cell_i, cell_j) — triangle enumeration,
    each cross-cell pair produced exactly once, intra-cell pairs via i==j.
    This bounds any single join-partition's work to ~max_block_rows², the
    same guarantee the reference's custom partitioner provides, but as a
    plain shuffle join that AQE can still re-balance.

    At 100 TB this is the difference between one straggler task computing a
    hot key's n² pairs and the work spreading over s·(s+1)/2 tasks.
    """
    cols = [id_col, key_col] + (payload_cols or [])
    sizes = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("_block_n"))
    with_cell = (
        df.select(*cols)
        .join(F.broadcast(sizes.filter(F.col("_block_n") > max_block_rows)),
              key_col, "left")
        .withColumn(
            "_n_cells",
            F.coalesce(
                F.ceil(F.col("_block_n") / F.lit(max_block_rows)).cast("int"),
                F.lit(1),
            ),
        )
        # deterministic cell assignment: stable hash of id, not row_number
        # (avoids a window over the hot key — the thing we are salting away)
        .withColumn("_cell", F.pmod(F.xxhash64(F.col(id_col)), F.col("_n_cells")).cast("int"))
        .drop("_block_n")
    )
    # Triangle enumeration: the left row in cell c is replicated to every
    # target cell j in [c, n_cells); an unordered cross-cell pair (cell a,
    # cell b, a<b) is produced exactly once — by the left row that lives in
    # the lower cell — regardless of id order, so src/dst are canonicalized
    # at emit time. Intra-cell pairs (j == own cell) use l.id < r.id.
    left = with_cell.withColumn(
        "_j", F.explode(F.sequence(F.col("_cell"), F.col("_n_cells") - 1))
    ).alias("l")
    right = with_cell.alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}"))
        & (F.col("l._j") == F.col("r._cell"))
        & (
            (F.col("l._cell") != F.col("r._cell"))
            | (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        )
    )
    if restrict is not None:
        cond = cond & restrict
    out = left.join(right, cond, "inner")
    fwd = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    select = [
        F.when(fwd, F.col(f"l.{id_col}")).otherwise(F.col(f"r.{id_col}")).alias("src"),
        F.when(fwd, F.col(f"r.{id_col}")).otherwise(F.col(f"l.{id_col}")).alias("dst"),
        F.col(f"l.{key_col}").alias(key_col),
    ]
    for c in payload_cols or []:
        select.append(
            F.when(fwd, F.col(f"l.{c}")).otherwise(F.col(f"r.{c}")).alias(f"src_{c}")
        )
        select.append(
            F.when(fwd, F.col(f"r.{c}")).otherwise(F.col(f"l.{c}")).alias(f"dst_{c}")
        )
    return out.select(*select)


# ---------------------------------------------------------------------------
# MinHash-band LSH blocking
# ---------------------------------------------------------------------------

# 2^31-1: products of two residues stay < 2^62, inside a long even with
# ANSI overflow checks on (Spark 4 default)
_MERSENNE = (1 << 31) - 1

# salted_block_pair_scores: pair-incidence entries enumerated per CHUNK of
# the run-based intersection kernel (~6 int32/int64 scratch arrays × chunk
# entries ≈ 5-8 MB peak per task slot). Chosen ≈ the largest dense count
# buffer (512² codes) so the per-chunk bincount pass is amortized. See
# pair_intersection_counts.
_CHUNK_INCIDENCE = 1 << 18

# reusable per-worker scratch for the dense pair-count buffer (the largest
# recurring allocation of the kernel): python workers are long-lived per
# stage, so reusing one zeroed buffer across pandas groups avoids a ~MB
# malloc/free + page-fault cycle per group (measured as part of the
# python-stage core-second inflation at 16 workers on one memory bus)
_COUNTS_BUF = None


def _counts_buffer(nn: int):
    import numpy as np

    global _COUNTS_BUF
    if _COUNTS_BUF is None or _COUNTS_BUF.size < nn:
        _COUNTS_BUF = np.zeros(max(nn, 1 << 18), dtype=np.int64)
        return _COUNTS_BUF[:nn]
    buf = _COUNTS_BUF[:nn]
    buf[:] = 0
    return buf


def cell_pair_grid(cells, gi: int, gj: int):
    """Candidate index pairs (li, ri) for one salt-cell pair (gi, gj) of a
    block-local scoring group: the full cross grid between the two cells,
    or the strict upper triangle when gi == gj (``_salted_groups`` hands
    them to its kernel). int32 indices (group rows ≤ 2·max_block_rows ≪ 2³¹) — halves the
    bytes/element of every downstream per-pair array."""
    import numpy as np

    left_idx = np.flatnonzero(cells == gi).astype(np.int32)
    if gi == gj:
        li, ri = np.triu_indices(len(left_idx), k=1)
        return left_idx[li], left_idx[ri]
    right_idx = np.flatnonzero(cells == gj).astype(np.int32)
    li = np.repeat(left_idx, len(right_idx))
    ri = np.tile(right_idx, len(left_idx))
    return li, ri


def pair_intersection_counts(toks, lens, lo, hi):
    """|T_lo ∩ T_hi| for each requested index pair, over per-record
    sorted-UNIQUE int64 token arrays: flatten tokens, sort once, then every
    run of equal token values contributes all its record pairs; bincounts
    over packed (lo*n + hi) pair codes yield the dense count matrix.
    Per-pair cost is a few streamed C ops — the per-pair searchsorted loop
    (~7 µs/pair in Python OR boxed JVM sets) is what this replaces; at ~1B
    candidates per 300k-clip corpus that constant is the whole stage.

    CACHE-RESIDENT BY CONSTRUCTION (round 5): the run enumeration emits one
    entry per shared-token pair occurrence (Σ L·(L−1)/2 over equal-value
    runs) — up to tens of millions for a dense group, which the previous
    one-shot int64 materialization turned into ~100+ MB of DRAM traffic
    per task slot; with 16 slots sharing one memory bus this class of
    kernel calibrates at 0.53-1.0 scaling on the sandbox
    (scripts/bench_hw_ceiling.py `dram`) vs 0.94 cache-resident (`ss`).
    Here the enumeration runs in CHUNKS of ``_CHUNK_INCIDENCE`` entries
    with int32 scratch (positions, record indices and pair codes all fit
    int32 at group sizes), accumulating into one reused dense count buffer
    — peak scratch ~5-8 MB per slot regardless of group density, and the
    counts are EXACTLY the same (the former over-incidence fallback path
    is gone because the memory bound no longer depends on incidence)."""
    import numpy as np

    n = len(toks)
    if n <= 1 or lens.sum() == 0:
        return np.zeros(len(lo), dtype=np.float64)
    all_tok = np.concatenate([t for t in toks if len(t)])
    m = len(all_tok)
    rec_of = np.repeat(np.arange(n, dtype=np.int32), lens)
    order = np.argsort(all_tok, kind="stable")
    st, sr = all_tok[order], rec_of[order]
    newrun = np.empty(m, dtype=bool)
    newrun[0] = True
    np.not_equal(st[1:], st[:-1], out=newrun[1:])
    run_id = (np.cumsum(newrun) - 1).astype(np.int32)
    run_start = np.flatnonzero(newrun).astype(np.int32)
    # per-position partner count: position p (run start s) pairs with every
    # earlier position of its run — reps[p] = p − s
    reps = np.arange(m, dtype=np.int32) - run_start[run_id]
    cum = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(reps, out=cum[1:])
    nn = n * n
    counts = _counts_buffer(nn)
    code_dtype = np.int32 if nn < (1 << 31) else np.int64
    p0 = 0
    while p0 < m:
        # largest p1 with cum[p1] − cum[p0] ≤ chunk (≥ p0+1 so a single
        # position with a huge run still advances; its size is ≤ m)
        p1 = int(np.searchsorted(cum, cum[p0] + _CHUNK_INCIDENCE, side="right")) - 1
        if p1 <= p0:
            p1 = p0 + 1
        c0, c1 = int(cum[p0]), int(cum[p1])
        sz = c1 - c0
        if sz:
            snd = np.repeat(np.arange(p0, p1, dtype=np.int32), reps[p0:p1])
            # earlier-partner positions: the k-th copy of the element at
            # absolute position a (run start s) partners position s + k
            k = (np.arange(c0, c1, dtype=np.int64) - cum[snd]).astype(np.int32)
            fst = run_start[run_id[snd]] + k
            ra, rb = sr[fst], sr[snd]
            codes = (
                np.minimum(ra, rb).astype(code_dtype) * n
                + np.maximum(ra, rb)
            )
            counts += np.bincount(codes, minlength=nn)
        p0 = p1
    return counts[lo.astype(np.int64) * n + hi].astype(np.float64)


def fp_matrix(values, n: int):
    """(n, N_MFCC) float64 fingerprint matrix + per-row norms from an
    iterable of array<float> values (None / empty / any length other than
    the fixed MFCC dim → zero row, norm 0 = invalid). A row's validity and
    norm depend on that row alone, so ``score_pairs`` gives a pair the
    same ``sim_audio`` whichever group scores it — the distributed
    clustering lane deduplicates pairs scored in several groups on that.
    Returns (None, None) when no row is valid."""
    fpm = np.zeros((n, N_MFCC), dtype=np.float64)
    valid = False
    for i, f in enumerate(values):
        if f is not None and len(f) == N_MFCC:
            fpm[i] = np.asarray(f, dtype=np.float64)
            valid = True
    if not valid:
        return None, None
    norms = np.sqrt(np.einsum("ij,ij->i", fpm, fpm))
    return fpm, norms


def fp_cosine_grid(fpm, norms, li, ri):
    """sim_audio for index pairs over a fingerprint matrix from
    ``fp_matrix``: dot/(‖a‖·‖b‖), 6dp HALF_UP (identical to the former
    JVM ``F.round(dot/(n·n), 6)`` convention), NaN where either side is
    invalid (null fingerprint or zero norm — the JVM path's null). The
    whole per-group working set is tiny (≤ 512 × 13 float64 ≈ 53 KB) —
    cache-resident by construction, vs the former per-pair array
    materialization through two hash joins."""
    import numpy as np

    if fpm is None:
        return np.full(len(li), np.nan)
    dot = np.einsum("ij,ij->i", fpm[li], fpm[ri])
    denom = norms[li] * norms[ri]
    with np.errstate(invalid="ignore", divide="ignore"):
        sim = np.where(denom > 0, dot / denom, np.nan)
    return round6_vec(sim)


def minhash_signature(
    trigram_col: Column, num_hashes: int, seed: int = 42
) -> Column:
    """Array of ``num_hashes`` minhash values over an array<string> column.

    Universal hashing ((a*x + b) mod p) over xxhash64 of each trigram; a/b
    derived deterministically from ``seed`` JVM-side, mirroring the
    reference's seeded position sampling (HashFamily.java:84-100) so two
    runs (and N vs 4N parallelism) block identically.
    """
    import random

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    hashes = []
    for a, b in coeffs:
        hashes.append(
            F.array_min(
                F.transform(
                    trigram_col,
                    lambda t: F.pmod(
                        (F.abs(F.xxhash64(t)) % _MERSENNE) * a + b, F.lit(_MERSENNE)
                    ),
                )
            )
        )
    return F.array(*hashes)


def lsh_band_keys(
    sig_col: Column, bands: int, rows_per_band: int
) -> Column:
    """Band keys: hash of each contiguous ``rows_per_band`` slice of the
    signature, tagged with the band index (BloomFilterLshBlocker.java:73-100
    keys blocks by (familyId, projected bits))."""
    keys = []
    for b in range(bands):
        sl = F.slice(sig_col, b * rows_per_band + 1, rows_per_band)
        keys.append(
            F.concat_ws(
                "|", F.lit(str(b)), F.hash(F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))).cast("string")
            )
        )
    return F.array(*keys)


def score_pairs(
    ids,
    masks,
    toks,
    li,
    ri,
    max_sources: int,
    emit_min: float | None = None,
    metric: str = "cosine",
    fps=None,
) -> dict:
    """Score the candidate index pairs (li, ri) of one group of records —
    the kernel of ``salted_block_pair_scores`` and of the single-pass
    clustering lane. Returns ``{"src", "dst", "sim_text"[, "sim_audio"]}``
    arrays over the pairs that survive, canonical src < dst.

    1. Restriction (CheckRestrictionsFilterFunction.java:27-50): no
       source-mask overlap, summed bit counts ≤ ``max_sources`` — applied
       first, so intersections run only for surviving pairs.
    2. ``sim_text`` over the sorted-unique int64 token arrays ``toks``:
       set cosine |A∩B|/√(|A||B|), 6dp HALF_UP (both empty → 1.0), or with
       ``metric="jaccard"`` |A∩B|/|A∪B| UNROUNDED (``jaccard_from_sets``
       semantics: callers filter at full precision, round for display).
    3. Pairs with sim_text < ``emit_min`` are dropped.
    4. ``fps`` (fingerprint arrays, or None): ``sim_audio`` by
       ``fp_cosine_grid`` for exactly the emitted pairs, NaN = no vote."""
    ids = np.asarray(ids)
    masks = np.asarray(masks).astype(np.int64)
    toks = [np.asarray(t, dtype=np.int64) for t in toks]
    n = len(ids)
    lens = np.array([len(t) for t in toks], dtype=np.int64)
    nbits = np.array([bin(int(m)).count("1") for m in masks], dtype=np.int64)
    ok = ((masks[li] & masks[ri]) == 0) & (nbits[li] + nbits[ri] <= max_sources)
    li, ri = li[ok], ri[ok]
    inter = (
        pair_intersection_counts(toks, lens, np.minimum(li, ri), np.maximum(li, ri))
        if len(li)
        else np.zeros(0)
    )
    na, nb = lens[li], lens[ri]
    if metric == "jaccard":
        union = (na + nb).astype(np.float64) - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(union > 0, inter / union, 1.0)
    else:
        denom = np.sqrt((na * nb).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            x = np.where(denom > 0, inter / denom, 0.0)
        x = np.where((na == 0) & (nb == 0), 1.0, x)
        sim = round6_vec(x)
    if emit_min is not None:
        keep = sim >= emit_min
        li, ri, sim = li[keep], ri[keep], sim[keep]
    ia, ib = ids[li], ids[ri]
    out = {
        "src": np.minimum(ia, ib).astype(np.int64),
        "dst": np.maximum(ia, ib).astype(np.int64),
        "sim_text": sim.astype(np.float64),
    }
    if fps is not None:
        out["sim_audio"] = (
            fp_cosine_grid(*fp_matrix(fps, n), li, ri) if len(li) else np.zeros(0)
        )
    return out


def _salted_groups(narrow: DataFrame, max_block_rows: int, kernel, schema) -> DataFrame:
    """The salt-cell plumbing of the block-local scorers
    (``salted_block_pair_scores``, ``geo.geo_block_pair_scores``).

    ``narrow`` holds one row per record with ``_id``, a non-null group key
    ``_key`` and the kernel's payload columns. A group larger than
    ``max_block_rows`` is split into s = ceil(n/max_block_rows) cells by id
    hash (the assignment of ``salted_block_pairs``); a record in cell c is
    replicated to every unordered cell-pair group (i, j), i ≤ j, that
    contains c, so each cross-cell pair is scored exactly once and no
    group holds more than 2·max_block_rows rows. ``kernel(pdf, li, ri)``
    scores one such group's candidate index pairs (``cell_pair_grid``) and
    returns a pandas frame of ``schema``."""
    sizes = narrow.groupBy("_key").agg(F.count(F.lit(1)).alias("_block_n"))
    with_cell = (
        narrow.join(
            F.broadcast(sizes.filter(F.col("_block_n") > max_block_rows)),
            "_key",
            "left",
        )
        .withColumn(
            "_n_cells",
            F.coalesce(
                F.ceil(F.col("_block_n") / F.lit(max_block_rows)).cast("int"),
                F.lit(1),
            ),
        )
        .withColumn(
            "_cell", F.pmod(F.xxhash64(F.col("_id")), F.col("_n_cells")).cast("int")
        )
    )
    # every unordered cell pair (i,j), i<=j, that contains this row's cell:
    # (cell, j) for j in [cell, s) plus (i, cell) for i in [0, cell)
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
        *narrow.columns,
        "_cell",
        F.col("_g.i").alias("_gi"),
        F.col("_g.j").alias("_gj"),
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(pdf["_gi"].iloc[0]), int(pdf["_gj"].iloc[0])
        li, ri = cell_pair_grid(pdf["_cell"].to_numpy(), gi, gj)
        return kernel(pdf, li, ri)

    from ..util import parallel_grouped

    return (
        parallel_grouped(grouped, "_key", "_gi", "_gj")
        .groupBy("_key", "_gi", "_gj")
        .applyInPandas(solve, schema=schema)
    )


def salted_block_pair_scores(
    df: DataFrame,
    key_col: str = "blocking_key",
    id_col: str = "id",
    tokens_col: str = "_tg",
    mask_col: str | None = "sources_mask",
    max_block_rows: int = 256,
    max_sources: int = 5,
    emit_min: float | None = None,
    metric: str = "cosine",
    fp_col: str | None = None,
) -> DataFrame:
    """Blocked pair SIMILARITIES computed block-locally: (src, dst,
    sim_text) for every cross-source pair within a block, where sim_text =
    set-cosine |A∩B|/√(|A||B|) over the SORTED int64 token arrays in
    ``tokens_col``, 6dp HALF_UP — value-identical to
    ``cosine_trigram_from_sets`` (a test pins them equal).

    ``metric="jaccard"`` scores |A∩B|/|A∪B| instead, UNROUNDED —
    value-identical to ``dedup.jaccard_from_sets`` (both-empty → 1.0),
    so callers that filter at full precision and round only for display
    (``ngram_jaccard_pairs``) keep exactly their old pair set and values.

    ``mask_col=None`` disables the cross-source restriction entirely
    (every in-block pair is scored once) — the shape the generic document
    dedup queries need, where records carry no source mask.

    Why not score on the pair join's output (salted_block_pairs →
    cosine)? The scoring expression is not codegen-able, so the join
    cannot fuse with the projection and materializes BOTH token arrays
    into every pair row first (~2 KB × pair count — 200+ GB of row writes
    at 300k clips / 120M candidates), and the interpreted ArrayIntersect
    then allocates a boxed hash set per pair; the garbage rate scales
    with task slots while collection shares one heap, which measured as
    the non-scaling term in the N-vs-4N bench. Here each record's payload
    travels once per salt cell (~KB × records, not pairs), pairs are
    enumerated AND scored inside one vectorized grouped-map pass (the
    ``score_pairs`` kernel: intersection counts from one sort of the
    group's tokens and a bincount over pair codes,
    ``pair_intersection_counts``), and only pairs with sim ≥ ``emit_min``
    leave the stage.

    Salting (``_salted_groups``): a block larger than ``max_block_rows``
    is split into salt cells, so any single group holds ≤ 2·max_block_rows
    rows and each pair is scored exactly once.

    Restrictions applied in-group (CheckRestrictionsFilterFunction
    .java:27-50): no source-mask overlap, summed bit counts ≤
    ``max_sources``.

    Null blocking keys are EXCLUDED (same semantics as the equi-join paths,
    where a null key matches nothing): a null transcript yields an empty
    trigram array, and grouping nulls together would score every such
    cross-source pair 1.0 (empty-vs-empty) and merge unrelated records —
    and, because the salting size-join can't match null, all of them would
    land in a single O(n²) task.

    ``fp_col``: an array<float> fingerprint column scored IN-GROUP as a
    second channel — output gains ``sim_audio`` (NaN = no vote),
    computed by ``fp_cosine_grid`` for exactly the pairs that pass the
    ``emit_min`` text bound. The fingerprints ride the salt-cell explode
    (13 floats ≈ 52 B/record) and the per-group audio working set is
    ≤ 512 × 13 float64 ≈ 53 KB, cache-resident.
    """
    from pyspark.sql import types as T

    if metric not in ("cosine", "jaccard"):
        raise ValueError(f"unknown metric {metric!r}")
    if mask_col is None:
        # no restriction: a zero mask passes both in-group checks
        # ((0 & 0) == 0 and popcount sum 0 ≤ max_sources) for every pair
        df = df.withColumn("_no_mask", F.lit(0).cast("long"))
        mask_col = "_no_mask"
    cols = [
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.col(mask_col).alias("_mask"),
        F.col(tokens_col).alias("_tok"),
    ]
    if fp_col is not None:
        cols.append(F.col(fp_col).alias("_fp"))
    narrow = df.filter(F.col(key_col).isNotNull()).select(*cols)
    fields = [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("sim_text", T.DoubleType(), True),
    ]
    if fp_col is not None:
        fields.append(T.StructField("sim_audio", T.DoubleType(), True))
    use_fp = fp_col is not None

    def kernel(pdf: pd.DataFrame, li, ri) -> pd.DataFrame:
        return pd.DataFrame(
            score_pairs(
                pdf["_id"].to_numpy(),
                pdf["_mask"].to_numpy(),
                list(pdf["_tok"]),
                li,
                ri,
                max_sources,
                emit_min,
                metric,
                pdf["_fp"] if use_fp else None,
            )
        )

    return _salted_groups(narrow, max_block_rows, kernel, T.StructType(fields))


# Opaque band-key string format produced by minhash_band_keys. Band keys are
# PERSISTED in the streaming state store's secondary index and joined against
# freshly computed arrival keys, so any change to the key derivation (e.g.
# the round-2 murmur → fold-mix switch) MUST bump this token: the streaming
# engine stores it next to the state and rebuilds the index on mismatch
# instead of silently matching zero keys.
BAND_KEY_FORMAT = "minhash-foldmix-v1"

# band_pairs drops band buckets larger than this (quadratic, low-information
# signatures); clustering's single-pass lane applies the same cap
LSH_MAX_BUCKET = 256

# Parameters of the cluster-state band index (``band_keys``): 12 bands × 4
# rows puts the banding s-curve midpoint at (1/12)^(1/4) ≈ 0.54 Jaccard —
# generous recall for true pairs whose prefix blocking key diverged (a
# dropped first token leaves J ≈ 0.6-0.8). Keys derived under these values
# are persisted, so changing any of them must bump BAND_KEY_FORMAT.
LSH_BANDS = 12
LSH_ROWS_PER_BAND = 4
LSH_SEED = 42


def minhash_band_keys(
    token_col: Column, bands: int, rows_per_band: int, seed: int = 42
) -> Column:
    """Vectorized band keys: one Arrow pass computes every minhash and band
    key, replacing ``lsh_band_keys(minhash_signature(...))`` in hot paths.

    The composed Column version above is the spec, but it is an interpreted
    higher-order expression: Catalyst has no codegen for ``transform`` and
    projection collapse substitutes the whole ``bands*rows_per_band``-hash
    signature into EVERY band key, so the signature is re-evaluated once per
    band (measured 13.6 s vs 5.7 s for the signature alone at sf0.1). Here
    the tokens are hashed JVM-side ONCE (`xxhash64` per token), and a numpy
    pandas UDF computes the full ``(a*h+b) mod p`` minhash matrix and folds
    band slices into keys in one vectorized batch. Signature values are
    IDENTICAL to ``minhash_signature`` (same seed → same coefficients; the
    arithmetic fits int64 exactly, p = 2^31−1, and numpy ``%`` matches
    Java ``pmod``), so bucket structure — and therefore every candidate
    pair — is unchanged; only the opaque key string differs
    (fold-mix instead of murmur of the joined slice).

    EMPTY/NULL token arrays yield NO band keys (the record does not
    participate in LSH candidate lookup). This is deliberate and differs
    from the composed-Column spec, whose ``concat_ws`` over an all-null
    signature produced one deterministic key that co-bucketed every
    empty-trigram record into a single quadratic bucket where each pair
    scored 1.0 (empty vs empty) — the same degenerate merge the null-key
    policy of ``salted_block_pair_scores`` excludes. A test pins this
    (test_vectorized_band_keys_empty_tokens).
    """
    import random

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    num_hashes = bands * rows_per_band
    rnd = random.Random(seed)
    a_np = np.empty(num_hashes, dtype=np.int64)
    b_np = np.empty(num_hashes, dtype=np.int64)
    for i in range(num_hashes):
        a_np[i] = rnd.randrange(1, _MERSENNE)
        b_np[i] = rnd.randrange(0, _MERSENNE)
    p = np.int64(_MERSENNE)
    mix = np.int64(1000003)

    @pandas_udf(T.ArrayType(T.StringType()))
    def _bands(hashes: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for h in hashes:
                if h is None or len(h) == 0:
                    out.append([])
                    continue
                hm = np.abs(np.asarray(h, dtype=np.int64)) % p
                # (n_tokens, num_hashes) — exact int64, no overflow at p=2^31-1
                sig = (hm[:, None] * a_np[None, :] + b_np[None, :]) % p
                sig = sig.min(axis=0).reshape(bands, rows_per_band)
                acc = sig[:, 0].copy()
                for j in range(1, rows_per_band):
                    acc = acc * mix + sig[:, j]  # wraps like Java long
                out.append([f"{i}|{acc[i]}" for i in range(bands)])
        return pd.Series(out)

    return _bands(F.transform(token_col, lambda t: F.xxhash64(t)))


def band_keys(trigram_col: Column) -> Column:
    """The cluster-state band index: ``minhash_band_keys`` of a trigram set
    with ``LSH_BANDS`` × ``LSH_ROWS_PER_BAND`` and ``LSH_SEED``. The one
    derivation of the ``band_keys`` column that ``pipeline.prepare``,
    ``clustering._restore_keys`` and the streaming index rebuild emit and
    both clustering lanes read."""
    return minhash_band_keys(trigram_col, LSH_BANDS, LSH_ROWS_PER_BAND, LSH_SEED)


def band_pairs(
    banded: DataFrame,
    id_col: str,
    max_bucket: int = LSH_MAX_BUCKET,
    restrict: Column | None = None,
) -> DataFrame:
    """Canonical (src, dst) pairs of the (``id_col``, ``_band``) rows
    ``banded`` that share a band key: per-band self-join on ``l.id <
    r.id`` (``restrict`` over the ``l.``/``r.`` aliases is ANDed in), then
    distinct. Buckets larger than ``max_bucket`` are dropped first — they
    come from low-information signatures (near-constant trigram profiles)
    and would go quadratic; the reference prunes the same way by dropping
    frequent bits (lsh/utils/BitFrequencyCounter.java:31-49). Every
    reference re-reads ``banded``, so a caller that derives the keys with a
    UDF materializes it first."""
    if max_bucket:
        bucket_sizes = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_bn"))
        banded = banded.join(
            bucket_sizes.filter(F.col("_bn") <= max_bucket), "_band", "left_semi"
        )
    cond = (F.col("l._band") == F.col("r._band")) & (
        F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    )
    if restrict is not None:
        cond = cond & restrict
    return (
        banded.alias("l")
        .join(banded.alias("r"), cond, "inner")
        .select(
            F.col(f"l.{id_col}").alias("src"),
            F.col(f"r.{id_col}").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )


def lsh_pairs(
    df: DataFrame,
    trigram_col: str = "trigram_set",
    id_col: str = "id",
    bands: int = 15,
    rows_per_band: int = 2,
    seed: int = 42,
    restrict: Column | None = None,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH_BLOCKING (lsh/utils/LshComputation.java:30-75): signature →
    band keys → explode → ``band_pairs``. Default 15 bands mirrors the
    reference's 15 hash families (LshCandidateCreator.java:23-29). Returns
    canonical (src, dst).
    """
    from ..util import materialize

    # materialize (id, band): band_pairs reads it three times, and each read
    # would otherwise re-evaluate the minhash UDF
    banded = materialize(
        df.select(
            F.col(id_col),
            F.explode(
                minhash_band_keys(F.col(trigram_col), bands, rows_per_band, seed)
            ).alias("_band"),
        )
    )
    return band_pairs(banded, id_col, max_bucket, restrict)


# ---------------------------------------------------------------------------
# IDF blocking (tfidf/IdfBlockingOperation.java:53-141)
# ---------------------------------------------------------------------------


def idf_support_pairs(
    df: DataFrame,
    text_col: str = "transcript_norm",
    id_col: str = "id",
    top_tokens: int = 4,
    support: int = 2,
    max_block_rows: int = 256,
) -> DataFrame:
    """Pairs sharing ≥ ``support`` high-IDF (rare) tokens.

    Re-creates IdfBlockingOperation.java:53-112: per-record top-idf tokens
    (HighIDFValueFlatMapper), pair per shared token, keep pairs with
    support ≥ 2 (SupportFilterFunction + sum). The reference then runs
    connected components over these support edges to form blocks
    (IdfBlockingOperation.java:114-141) — compose with
    ``operators.graph.connected_components`` for that.

    Pair-per-token enumeration goes through ``salted_block_pairs`` keyed
    on the token: a token that is rare globally (high IDF) but still
    shared by thousands of records — one viral phrase across a shard —
    would otherwise put all its n²/2 pairs in ONE join task; salting
    bounds any task at ~max_block_rows² work while producing the exact
    same (token, pair) set (triangle enumeration), so the support counts
    and the final pair set are unchanged.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("word")
    ).filter(F.length("word") > 1)
    n_docs = df.count()
    doc_freq = words.groupBy("word").agg(
        F.countDistinct(id_col).alias("df_count")
    )
    idf = doc_freq.withColumn("idf", F.log10(F.lit(float(n_docs)) / F.col("df_count")))
    # NO forced broadcast of the per-word IDF relation: it scales with the
    # corpus VOCABULARY (10^8-10^9 distinct tokens at web scale — typos,
    # junk, code), so an unconditional F.broadcast() is a driver/executor
    # OOM at 100 TB and disables AQE's own size check. The words side is
    # already shuffled by the doc_freq aggregation, so the plain equi-join
    # costs one exchange — and AQE still converts it to a broadcast join
    # at RUNTIME whenever the measured vocabulary fits
    # spark.sql.autoBroadcastJoinThreshold (the size-gated equivalent of a
    # counted row bound, without the second aggregation pass a driver-side
    # count would cost). The reference broadcasts unconditionally
    # (IdfBlockingOperation.java:69-70) but only ever at MusicBrainz
    # vocabulary sizes.
    word_idf = words.join(idf, "word")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("idf"), F.asc("word"))
    top = (
        word_idf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_tokens)
        .select(id_col, "word")
    )
    pairs = salted_block_pairs(
        top.select(F.col(id_col).alias("_sbid"), "word"),
        key_col="word",
        id_col="_sbid",
        max_block_rows=max_block_rows,
    ).select("src", "dst")
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= support)
        .select("src", "dst")
    )
