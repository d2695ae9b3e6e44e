"""MinHash + LSH near-duplicate detection.

Pipeline (the standard large-scale shape):
  1. signatures: per document, word shingles -> 64-bit shingle hashes
     -> ``num_perm`` MinHash values (Arrow UDF over the ``text/grams.py``
     kernel; the per-permutation min is one vectorized reduction).
  2. banding: split each signature into ``bands`` of ``rows_per_band``
     values; hash each band JVM-side (``xxhash64`` on the array slice)
     and explode -> (band_idx, band_hash, id).
  3. bucket join: group by (band_idx, band_hash); every bucket with
     >= 2 members emits its member pairs (bucket sizes are bounded by
     ``max_bucket`` against degenerate all-equal buckets — the skew
     guard for this operator).
  4. verify: candidate pairs join back to their shingle sets; exact
     Jaccard >= threshold keeps the pair.

Probability a pair with Jaccard s collides in >= 1 band:
1 - (1 - s^r)^b — with b=16, r=4 the S-curve crosses ~0.5 near
s ~= 0.5, which is the classic near-dup operating point.

Two input modes (``grams.shingle_hashes`` front ends): ``text``
(whitespace words, one vectorized hash call per Arrow batch) and
pre-tokenized integer-array columns (fully vectorized splitmix64 over
the Arrow list's flat values — the 10^12-token-scale path).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from sketchlib.core.hashing import splitmix64
from sketchlib.spark.cache import SingleSlotCache
from sketchlib.text.grams import shingle_hashes

#: grams per block of ``_signatures``' permutation loop (cache-resident)
_BLOCK = 1 << 15


def _lists(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    """``array<long>`` column of ``values`` (flattened) split at ``offsets``."""
    flat = values.view(np.int64).ravel()
    return pa.ListArray.from_arrays(offsets.astype(np.int32), flat)


def _signatures(vals, offs, num_perm: int, seed: int) -> np.ndarray:
    """(n_docs, num_perm) int64 MinHash signatures of flat gram segments
    (each non-empty): per seeded splitmix64 permutation, one
    ``minimum.reduceat``, run over blocks of about ``_BLOCK`` grams.  The
    minimum over a multiset equals the minimum over its set, so repeats
    are fine."""
    nd = offs.size - 1
    out = np.empty((nd, num_perm), dtype=np.uint64)
    base = np.uint64(seed * 7919 + 13)
    seeds = splitmix64(np.arange(num_perm, dtype=np.uint64) + base)
    cuts = np.unique(np.concatenate(
        [[0], np.searchsorted(offs, np.arange(_BLOCK, offs[-1], _BLOCK)), [nd]]
    ))
    for d0, d1 in zip(cuts[:-1], cuts[1:]):
        v = vals[offs[d0] : offs[d1]]
        starts = offs[d0:d1] - offs[d0]
        for p in range(num_perm):
            out[d0:d1, p] = np.minimum.reduceat(splitmix64(v ^ seeds[p]), starts)
    return out.view(np.int64)


def minhash_signatures(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_w: int = 3,
    seed: int = 1,
    tokens: bool = False,
) -> DataFrame:
    """DataFrame[id, sig array<long>] — MinHash signatures."""

    @arrow_udf("array<long>")
    def sig_udf(vals: pa.Array) -> pa.Array:
        segs = shingle_hashes(vals, shingle_w, seed, tokens=tokens, unique=False)
        sigs = _signatures(*segs, num_perm, seed)
        return _lists(sigs, np.arange(0, sigs.size + 1, num_perm))

    return df.select(F.col(id_col).alias("id"), sig_udf(F.col(col)).alias("sig"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int = 64,
    num_perm: int | None = None,
    observation=None,
) -> DataFrame:
    """DataFrame[id_a, id_b] distinct candidate pairs from band-hash
    buckets.  Everything stays JVM-side: band hashes via ``xxhash64``
    over signature slices, and pair emission via an equi-self-join on
    (band, bucket-hash, sub-bucket) inside whole-stage codegen.  (An
    earlier applyInPandas-per-bucket version spent ~2ms of Python
    overhead per bucket — 100k buckets made candidate generation the
    bottleneck.)

    Skew handling — hot buckets are SUB-SPLIT, never truncated: a
    bucket of B > max_bucket members (boilerplate text puts millions of
    docs in one band bucket at 100 TB) is chunked into ceil(B /
    max_bucket) sub-buckets, bounding pair volume at ~B * max_bucket
    instead of B^2 while every member keeps participating.  The chunk
    assignment is ordered by a per-band hash of the id, so each band
    chunks a hot bucket DIFFERENTLY — overlapping cliques across bands
    chain the sub-buckets back together under connected-components
    clustering.  (The previous row_number cap silently DROPPED the
    overflow — a recall hole with no signal.)

    PAIR-LEVEL RECALL CAVEAT: sub-splitting preserves MEMBERSHIP (every
    doc keeps participating) but pairs are only emitted within a
    sub-chunk — a true pair that co-occurs in exactly ONE band's hot
    bucket and lands in different chunks of it is missed at the pair
    level.  The cross-band re-chaining argument restores it only for
    callers who run connected components over the pairs afterward
    (duplicate_clusters / keep_representatives).  When no
    ``observation`` is passed, a ``UserWarning`` is emitted at call
    time if any bucket actually overflowed (exact truncation overflow
    from a tiny bucket-size aggregate — no extra materialization of
    the split frame), so pair-consuming callers can detect when the
    caveat is live.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to receive
    ``overflow_rows`` (bucket memberships beyond the first chunk, i.e.
    rows the old cap would have dropped) and ``bucket_rows`` with
    the observation (filled exactly once, at the cost of an eager
    materialization); passing one suppresses the default warning (the
    caller owns the metric)."""
    if num_perm is not None and bands * rows_per_band > num_perm:
        # F.slice past the end of the signature silently yields
        # truncated/empty band slices: trailing bands would hash a
        # constant and place EVERY document in one bucket
        raise ValueError(
            f"bands*rows_per_band = {bands * rows_per_band} exceeds the "
            f"signature length num_perm = {num_perm}"
        )

    band_hashes = F.array(
        *[
            F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band))
            for b in range(bands)
        ]
    )
    exploded = sig_df.select("id", F.posexplode(band_hashes).alias("band", "bh"))
    # shared skew guard: chunk hot buckets, never truncate; persist so
    # the self-join's two sides never recompute the signature UDF
    # (chunk order hashes (id, band) => per-band independent chunkings)
    from sketchlib.spark.skew import sub_split_buckets

    # default path (round 5): the warn metric is a TINY aggregate over
    # the bucket-size frame inside sub_split_buckets — no second
    # materialization of the split output (the round-4 eager count
    # cost dedup_minhash +23% at gate scale); an explicit observation
    # keeps the eager exactly-once-at-return contract
    split = sub_split_buckets(
        exploded, ["band", "bh"], "id", max_bucket,
        observation=observation, warn_overflow=observation is None,
    )
    a = split.alias("a")
    b = split.alias("b")
    return (
        a.join(b, ["band", "bh", "sub"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _shingle_sets_df(
    df: DataFrame,
    col: str,
    id_col: str,
    shingle_w: int,
    seed: int,
    tokens: bool,
) -> DataFrame:
    """DataFrame[id, sh array<long>] — each doc's sorted unique shingle
    hashes, computed once (the verifier joins these instead of
    re-hashing text per candidate pair)."""

    @arrow_udf("array<long>")
    def sh_udf(vals: pa.Array) -> pa.Array:
        return _lists(*shingle_hashes(vals, shingle_w, seed, tokens=tokens))

    return df.select(F.col(id_col).alias("id"), sh_udf(F.col(col)).alias("sh"))


def exact_jaccard_pairs(
    pairs: DataFrame,
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_w: int = 3,
    seed: int = 1,
    tokens: bool = False,
) -> DataFrame:
    """Append exact shingle-set Jaccard to candidate pairs:
    DataFrame[id_a, id_b, jaccard].  Shingle sets are computed once per
    document and joined to the pairs (never re-hashed per pair)."""
    # persist: joined twice (id_a and id_b sides) and upstream is the
    # shingle-hash UDF; held until the next call (cache.py)
    sh = _shingle_sets_df(df, col, id_col, shingle_w, seed, tokens).persist()
    return _jaccard_verify(pairs, _shingle_cache.hold(sh))


def _jaccard_verify(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard over precomputed shingle sets
    (``sh``: DataFrame[id, sh array<long>], ideally persisted)."""
    joined = (
        pairs.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sha")), "id_a"
        ).join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("shb")), "id_b"
        )
    )

    def jac(pdf: pd.DataFrame) -> pd.DataFrame:
        out = np.empty(len(pdf))
        for i, (sa, sb) in enumerate(zip(pdf["sha"], pdf["shb"])):
            sa = np.asarray(sa, dtype=np.int64)
            sb = np.asarray(sb, dtype=np.int64)
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            out[i] = inter / max(sa.size + sb.size - inter, 1)
        return pdf[["id_a", "id_b"]].assign(jaccard=out)

    return joined.mapInPandas(
        lambda it: (jac(pdf) for pdf in it), "id_a long, id_b long, jaccard double"
    )


def _signatures_and_shingles(
    df: DataFrame,
    col: str,
    id_col: str,
    num_perm: int,
    shingle_w: int,
    seed: int,
    tokens: bool = False,
) -> DataFrame:
    """DataFrame[id, sig array<long>, sh array<long>] — signatures AND
    shingle sets from ONE tokenize+hash pass per document (the
    signature and verifier stages each need them; computing them in
    separate UDFs would split/hash every document twice)."""

    @arrow_udf("struct<sig: array<long>, sh: array<long>>")
    def both_udf(vals: pa.Array) -> pa.Array:
        sh, offs = shingle_hashes(vals, shingle_w, seed, tokens=tokens)
        sigs = _signatures(sh, offs, num_perm, seed)
        return pa.StructArray.from_arrays(
            [_lists(sigs, np.arange(0, sigs.size + 1, num_perm)), _lists(sh, offs)],
            names=["sig", "sh"],
        )

    return df.select(
        F.col(id_col).alias("id"), both_udf(F.col(col)).alias("b")
    ).select("id", F.col("b.sig").alias("sig"), F.col("b.sh").alias("sh"))


#: the latest call's signature/shingle frame (one-slot contract, cache.py)
_signature_cache = SingleSlotCache()
#: exact_jaccard_pairs' shingle-set frame (ditto)
_shingle_cache = SingleSlotCache()


def minhash_near_duplicates(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 64,
    shingle_w: int = 3,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 1,
    tokens: bool = False,
    max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """End-to-end: DataFrame[id_a, id_b, jaccard] with
    jaccard >= threshold.  ``observation`` (optional
    ``pyspark.sql.Observation``) surfaces LSH hot-bucket sub-split
    counts — see ``lsh_candidate_pairs``.

    PAIR-LEVEL RECALL CAVEAT (advisor r3): when hot buckets overflow
    ``max_bucket``, sub-splitting keeps every DOC participating but a
    true near-dup pair that co-occurs only in one band's hot bucket
    can land in different chunks and be absent from the returned
    pairs.  Consumers that cluster the pairs (``duplicate_clusters`` /
    ``keep_representatives``) recover such pairs transitively via the
    per-band independent chunkings; consumers of the raw pair list
    should treat the default ``UserWarning`` (or a nonzero
    ``overflow_rows`` on their own observation) as the signal that
    pair-level recall may be reduced."""
    # NOTE on under-planned sources: unlike ngram/spans (whose
    # Catalyst shingle build measurably serializes on a 1-2 partition
    # single-file scan), an api._spread repartition here was
    # measured NEUTRAL-to-NEGATIVE at gate scale (r6 sweep 0/4/8/16/32
    # partitions: 2.7-5.9s, all inside the VM noise band — the Arrow
    # UDF's per-task overhead cancels the parallelism win), so the
    # source partitioning is left to the caller.
    # one tokenize+hash pass feeds BOTH the LSH and verify stages
    both = _signatures_and_shingles(
        df, col, id_col, num_perm, shingle_w, seed, tokens=tokens
    ).persist()
    _signature_cache.hold(both)
    sigs = both.select("id", "sig")
    cands = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band, num_perm=num_perm,
        max_bucket=max_bucket, observation=observation,
    )
    verified = _jaccard_verify(cands, both.select("id", "sh"))
    return verified.filter(F.col("jaccard") >= threshold)
