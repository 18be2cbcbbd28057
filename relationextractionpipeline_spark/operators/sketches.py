"""Deterministic text sketches: shingles, MinHash, SimHash, LSH banding.

Used by entity/predicate canonicalization (operators/canonicalize.py — the
minhash-LSH clustering required by BASELINE.json north_star) and by the
document near-dup operators (operators/dedup.py).

Everything is seed-fixed and wall-clock-free: hash mixing uses splitmix64
constants over ``zlib.crc32`` of the shingle bytes, so signatures are stable
across Python workers, partitionings and sessions (PYTHONHASHSEED-proof) —
a resume/metamorphic-test requirement (SURVEY.md §7 "Determinism").

Scale notes:
* signatures are computed in Arrow-batched pandas UDFs (one pass per row);
* LSH candidate generation is ``explode(bands) → groupBy(band, hash)`` —
  a single shuffle whose keys are band buckets, not documents, so hot
  *documents* cannot skew it; hot *buckets* (a shingle-degenerate corpus)
  are capped by ``max_bucket`` before pair expansion to bound the quadratic
  blowup, and the cap is observable (bucket sizes come back as a column).

Persist scope: these operators ``persist()`` intermediates that several
join branches re-read (otherwise the signature UDF re-runs per branch).
The persists are scoped to one returned query: callers running many queries
in one session should ``spark.catalog.clearCache()`` between them (bench.py
and tools/check_parity.py do), or write the sketch table once and re-read —
at production scale the signature table is a materialized artifact anyway.
"""

from __future__ import annotations

import itertools
import zlib
from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

_MASK64 = (1 << 64) - 1
# Mersenne prime 2^31-1: keeps a*x+b inside int64 so the MinHash inner loop
# vectorizes in numpy without overflow (a,b,x < 2^31 ⇒ a*x+b < 2^62)
_PRIME = (1 << 31) - 1


def _mix(seed: int) -> int:
    """splitmix64 finalizer — deterministic per-seed hash parameters."""
    z = (seed + 0x9E3779B97F4A7C15) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)


def _hash_params(n: int, seed: int = 42):
    return [
        ((_mix(seed * 1_000_003 + i) % (_PRIME - 1)) | 1,
         _mix(seed * 2_000_003 + i) % _PRIME)
        for i in range(n)
    ]


_PARAM_CACHE: dict = {}


def _hash_params_np(n: int, seed: int = 42):
    key = (n, seed)
    got = _PARAM_CACHE.get(key)
    if got is None:
        params = _hash_params(n, seed)
        got = (
            np.array([p[0] for p in params], dtype=np.int64),
            np.array([p[1] for p in params], dtype=np.int64),
        )
        _PARAM_CACHE[key] = got
    return got


def char_shingles(text: str, k: int) -> List[int]:
    """crc32 of each k-char shingle (lowercased); whole string if shorter."""
    s = text.lower()
    if len(s) <= k:
        return [zlib.crc32(s.encode("utf-8"))]
    return [zlib.crc32(s[i : i + k].encode("utf-8")) for i in range(len(s) - k + 1)]


def word_shingles(text: str, k: int) -> List[int]:
    words = text.lower().split()
    if len(words) <= k:
        return [zlib.crc32(" ".join(words).encode("utf-8"))]
    return [
        zlib.crc32(" ".join(words[i : i + k]).encode("utf-8"))
        for i in range(len(words) - k + 1)
    ]


def minhash_signature(shingles: List[int], n_hashes: int, seed: int = 42) -> List[int]:
    """Vectorized universal-hash MinHash: sig_i = min_x (a_i·x + b_i) mod p."""
    if not shingles:
        return [0] * n_hashes
    a, b = _hash_params_np(n_hashes, seed)
    x = np.unique(np.asarray(shingles, dtype=np.int64) % _PRIME)
    # (n_hashes, n_shingles) int64 — a,x < 2^31 so products stay in range
    v = (a[:, None] * x[None, :] + b[:, None]) % _PRIME
    return v.min(axis=1).tolist()


def simhash64(shingles: List[int], seed: int = 42) -> int:
    """64-bit SimHash over shingle hashes (vectorized bit counting)."""
    if not shingles:
        return 0
    xs = np.asarray(shingles, dtype=np.uint64) ^ np.uint64(_mix(seed))
    # splitmix64 finalizer, vectorized
    z = (xs + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    bits = np.unpackbits(z.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = 2 * bits.sum(axis=0).astype(np.int64) - len(xs)
    out = 0
    for bit in range(64):
        if votes[bit] > 0:
            out |= 1 << bit
    return out & 0x7FFFFFFFFFFFFFFF  # keep in signed-long range


def jaccard(a: List[int], b: List[int]) -> float:
    sa, sb = set(a), set(b)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


# ---------------------------------------------------------------------------
# Spark-level operators
# ---------------------------------------------------------------------------


def with_minhash(
    df: DataFrame,
    text_col: str,
    n_hashes: int = 64,
    shingle_k: int = 3,
    mode: str = "char",
    out_col: str = "minhash",
    seed: int = 42,
) -> DataFrame:
    shingler = char_shingles if mode == "char" else word_shingles

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def mh(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: minhash_signature(shingler(t or "", shingle_k), n_hashes, seed)
        )

    return df.withColumn(out_col, mh(F.col(text_col)))


def with_simhash(
    df: DataFrame,
    text_col: str,
    shingle_k: int = 3,
    mode: str = "word",
    out_col: str = "simhash",
    seed: int = 42,
) -> DataFrame:
    shingler = char_shingles if mode == "char" else word_shingles

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: simhash64(shingler(t or "", shingle_k), seed))

    return df.withColumn(out_col, sh(F.col(text_col)))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash-LSH banding → candidate pairs (id_a < id_b, distinct).

    One shuffle on (band_idx, band_hash); buckets larger than ``max_bucket``
    are dropped (degenerate content — near-identical boilerplate) to bound
    the within-bucket quadratic pair expansion; AQE handles residual bucket
    skew.
    """
    from relationextractionpipeline_spark.operators import cache

    banded = cache.track(  # referenced by both self-join sides + the size
        df.select(  # pre-pass: persist so the signature UDF upstream runs
            F.col(id_col).alias("_id"),  # once, not three times.  Tracked —
            F.posexplode(_band_hashes_col(sig_col, bands)).alias(  # caller
                "band_idx", "band_hash"  # releases (operators/cache.py)
            ),
        )
    )
    # bucket population via a window over the SAME key the rows already
    # shuffle on (guide §2.4: a window partitioned like the aggregation
    # needs no second exchange) — the former groupBy + join-back shuffled
    # the banded table twice for the same filter
    w = Window.partitionBy("band_idx", "band_hash")
    sized = cache.track(
        banded.withColumn("count", F.count(F.lit(1)).over(w)).where(
            F.col("count") <= max_bucket
        )
    )
    a = sized.select("band_idx", "band_hash", F.col("_id").alias("id_a"))
    b = sized.select("band_idx", "band_hash", F.col("_id").alias("id_b"))
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs_incremental(
    new_df: DataFrame,
    all_df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) where at least one side is a NEW row.

    The incremental complement of :func:`lsh_candidate_pairs`: ``all_df``
    must be the full row set INCLUDING ``new_df``'s rows; the join probes
    only the buckets that contain a new row, so the work is proportional to
    the batch, not the corpus.  Bucket populations (the ``max_bucket`` cap)
    are counted over the UNION — identical to what a one-shot batch run over
    ``all_df`` would see — so in the cap-free regime
    ``lsh_candidate_pairs(all) ==
    lsh_candidate_pairs(old) ∪ lsh_candidate_pairs_incremental(new, all)``
    exactly.  (When a cap DOES trigger, a one-shot batch and an incremental
    history that crossed the cap threshold mid-stream can differ — same
    caveat as any population-dependent pruning.)
    """
    from relationextractionpipeline_spark.operators import cache

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.posexplode(_band_hashes_col(sig_col, bands)).alias(
                "band_idx", "band_hash"
            ),
        )

    banded_all = cache.track(banded(all_df))
    sized_all = cache.track(
        banded_all.join(
            banded_all.groupBy("band_idx", "band_hash").count(),
            ["band_idx", "band_hash"],
        ).where(F.col("count") <= max_bucket)
    )
    banded_new = banded(new_df).select(
        "band_idx", "band_hash", F.col("_id").alias("id_n")
    ).distinct()
    return (
        banded_new.join(
            sized_all.select("band_idx", "band_hash", F.col("_id").alias("id_u")),
            ["band_idx", "band_hash"],
        )
        .where(F.col("id_n") != F.col("id_u"))
        .select(
            F.least("id_n", "id_u").alias("id_a"),
            F.greatest("id_n", "id_u").alias("id_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs_local(
    ids: List, sigs: List[List[int]], bands: int = 16, max_bucket: int = 1000
) -> set:
    """Pure-Python twin of :func:`lsh_candidate_pairs` over rows held on
    the driver: ``{(id_a, id_b)}`` with id_a < id_b.

    Same banding policy: band ``i`` is the signature slice
    ``[i*w, (i+1)*w)`` with ``w = len(sig) // bands``, a bucket is
    (band, slice), buckets holding more than ``max_bucket`` rows are
    dropped, and null ids count towards a bucket's size but never pair.
    The bucket key is the slice itself rather than its xxhash64, so the two
    differ only on a 64-bit hash collision."""
    buckets: dict = {}
    for id_, sig in zip(ids, sigs):
        if len(sig) < bands:
            raise ValueError(
                f"bands={bands} exceeds the minhash signature length — "
                "rebuild signatures with n_hashes >= bands"
            )
        w = len(sig) // bands
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * w : (b + 1) * w])), []).append(id_)
    pairs = set()
    for members in buckets.values():
        if 1 < len(members) <= max_bucket:
            keys = sorted({m for m in members if m is not None})
            pairs.update(itertools.combinations(keys, 2))
    return pairs


def _band_hashes_col(sig_col: str, bands: int):
    """array<long> of per-band hashes from the signature column (native
    expression — no Python): xxhash64 over the band's slice.

    Guarded: ``bands`` > signature length would slice ZERO elements per
    band, hashing the empty string for every row — all documents co-bucket
    (then the max_bucket cap silently drops everything: total recall loss
    with no error).  The guard raises at run time instead."""
    guard = F.assert_true(
        F.size(F.col(sig_col)) >= F.lit(int(bands)),
        F.lit(
            f"bands={bands} exceeds the minhash signature length — "
            "rebuild signatures with n_hashes >= bands"
        ),
    )
    return F.when(guard.isNull(), _band_hashes_inner(sig_col, bands))


def _band_hashes_inner(sig_col: str, bands: int):
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.col(sig_col),
                        i * (F.size(F.col(sig_col)) / bands).cast("int") + 1,
                        (F.size(F.col(sig_col)) / bands).cast("int"),
                    ),
                    lambda v: v.cast("string"),
                ),
            ),
            i,
        ),
    )


def hamming64(col_a, col_b):
    """Native popcount of XOR for SimHash distance (no UDF)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def minhash_plan_for_threshold(
    threshold: float,
    n_hashes: int = 128,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
    grid: int = 2000,
) -> dict:
    """Pick the MinHash-LSH banding ``(bands, rows)`` for a target Jaccard
    ``threshold`` — the planning step a user otherwise does by hand before
    every ``lsh_candidate_pairs`` / ``near_dup_clusters`` run.

    Closed-form S-curve analysis (Leskovec/Rajaraman/Ullman, *Mining of
    Massive Datasets* §3.4 — public textbook material): with ``b`` bands of
    ``r`` rows, a pair of Jaccard similarity ``s`` becomes a candidate with
    probability ``P(s) = 1 − (1 − s^r)^b``.  For every factorization
    ``b·r ≤ n_hashes`` (r ≥ 1, using as many of the ``n_hashes`` signature
    slots as divide evenly), score the plan by the weighted S-curve error
    mass

        cost = fp_weight · ∫₀ᵗ P(s) ds  +  fn_weight · ∫ᵗ¹ (1 − P(s)) ds

    (trapezoid on a ``grid``-point s-lattice — deterministic, no RNG) and
    return the argmin.  ``fp_weight`` > ``fn_weight`` biases toward
    precision (fewer candidate pairs to verify — cheaper at 100 TB);
    the reverse biases toward recall (dedup completeness).

    Pure planning arithmetic on the driver — O(d(n_hashes)·grid), no Spark.
    Returns ``{"bands", "rows", "n_used", "threshold_50", "fp_mass",
    "fn_mass", "cost"}`` where ``threshold_50 = (1/b)^(1/r)`` is the
    S-curve midpoint (the classic rule-of-thumb the optimizer replaces).

    Completes the tuner family: nprobe_for_recall / lsh_tables_for_recall /
    lsh_probes_for_recall (operators/similarity.py) measure recall
    empirically for ANN; this one is exact for MinHash banding because the
    candidate probability is closed-form in s.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError("threshold must be in (0, 1)")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    s = np.linspace(0.0, 1.0, int(grid) + 1)
    below = s <= threshold
    best = None
    for r in range(1, n_hashes + 1):
        b = n_hashes // r
        p = 1.0 - (1.0 - s**r) ** b
        fp = float(np.trapz(np.where(below, p, 0.0), s))
        fn = float(np.trapz(np.where(~below, 1.0 - p, 0.0), s))
        cost = fp_weight * fp + fn_weight * fn
        plan = {
            "bands": b,
            "rows": r,
            "n_used": b * r,
            "threshold_50": float((1.0 / b) ** (1.0 / r)),
            "fp_mass": fp,
            "fn_mass": fn,
            "cost": cost,
        }
        if best is None or cost < best["cost"] - 1e-15:
            best = plan
    return best
