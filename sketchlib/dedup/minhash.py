"""MinHash + LSH near-duplicate detection.

Pipeline (the standard large-scale shape):
  1. signatures: per document, word shingles -> 64-bit shingle hashes
     -> ``num_perm`` MinHash values (pandas UDF; per-batch numpy, the
     per-permutation min is one vectorized reduction).
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

Two input modes: ``text`` (whitespace words; ALL words of an Arrow
batch hashed in one vectorized C-level call) and pre-tokenized
``array<int>`` columns (fully vectorized splitmix64 — the
10^12-token-scale path; tokenize once, dedup many times).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sketchlib.core.hashing import hash_str, splitmix64

_U64 = np.uint64


def _roll_shingles(wh: np.ndarray, w: int) -> np.ndarray:
    """Unique rolling w-gram hashes from per-word hashes (vectorized)."""
    n = wh.size - w + 1
    acc = wh[:n].copy()
    for i in range(1, w):
        with np.errstate(over="ignore"):
            acc = splitmix64(acc ^ (wh[i : i + n] * _U64(0x9E3779B97F4A7C15)))
    return np.unique(acc)


def _flat_shingle_segments(texts, w: int, seed: int):
    """Unique shingle hashes for a whole Arrow batch in FLAT form:
    returns (values uint64, offsets int64) where doc i's sorted unique
    shingles are ``values[offsets[i]:offsets[i+1]]``.

    Everything batch-level is one vectorized pass: a single
    ``hash_str`` call over all words, a GLOBAL rolling w-gram combine
    over the flat hash array (windows crossing document boundaries
    masked out), and a lexsort-based per-doc dedupe — no per-document
    numpy calls (the former per-doc loop dominated dedup_minhash)."""
    docs = [(t or "").split() for t in texts]
    nd = len(docs)
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    offsets = np.zeros(nd + 1, dtype=np.int64)
    # short docs (< w words, incl. empty) hash as a single unit
    flat_words: list[str] = []
    short_pos: list[int] = []  # index into flat_words for short docs, -1 empty
    for d in docs:
        if not d:
            short_pos.append(-1)
        elif len(d) < w:
            short_pos.append(len(flat_words))
            flat_words.append(" ".join(d))
        else:
            short_pos.append(-2)  # full doc marker
            flat_words.extend(d)
    wh = hash_str(flat_words, seed=seed)

    # per-word doc index over the flat array (short docs occupy 1 slot)
    slot_lens = np.where(lens == 0, 0, np.where(lens < w, 1, lens))
    doc_of = np.repeat(np.arange(nd, dtype=np.int64), slot_lens)
    W = wh.size
    n_acc = max(W - w + 1, 0)
    if n_acc:
        acc = wh[:n_acc].copy()
        for i in range(1, w):
            with np.errstate(over="ignore"):
                acc = splitmix64(acc ^ (wh[i : i + n_acc] * _U64(0x9E3779B97F4A7C15)))
        # a window is a real shingle iff it stays inside one FULL doc
        valid = (doc_of[:n_acc] == doc_of[w - 1 : w - 1 + n_acc]) & (
            lens[doc_of[:n_acc]] >= w
        )
        gram_doc = doc_of[:n_acc][valid]
        gram_val = acc[valid]
    else:
        gram_doc = np.empty(0, dtype=np.int64)
        gram_val = np.empty(0, dtype=np.uint64)
    # short/empty docs contribute exactly one value each
    sp = np.asarray(short_pos, dtype=np.int64)
    sd = np.flatnonzero(sp != -2)
    if wh.size:
        sv = np.where(sp[sd] >= 0, wh[np.maximum(sp[sd], 0)], np.uint64(0))
    else:
        # a batch of ONLY empty docs: no words were hashed at all
        sv = np.zeros(sd.size, dtype=np.uint64)
    gram_doc = np.concatenate([gram_doc, sd])
    gram_val = np.concatenate([gram_val, sv.astype(np.uint64)])

    # global per-doc sorted dedupe: lexsort by (doc, value), then drop
    # positions equal to their predecessor within the same doc
    order = np.lexsort((gram_val, gram_doc))
    gd, gv = gram_doc[order], gram_val[order]
    if gd.size:
        keep = np.empty(gd.size, dtype=bool)
        keep[0] = True
        keep[1:] = (gd[1:] != gd[:-1]) | (gv[1:] != gv[:-1])
        gd, gv = gd[keep], gv[keep]
    counts = np.bincount(gd, minlength=nd)
    offsets[1:] = np.cumsum(counts)
    return gv, offsets


def _word_shingle_hashes_batch(texts, w: int, seed: int) -> list[np.ndarray]:
    """Per-doc unique shingle hashes (list form over the flat kernel)."""
    vals, offs = _flat_shingle_segments(texts, w, seed)
    return [vals[offs[i] : offs[i + 1]] for i in range(len(texts))]


def _signatures_from_segments(
    vals: np.ndarray, offs: np.ndarray, num_perm: int, seed: int
) -> np.ndarray:
    """(n_docs, num_perm) int64 signatures from flat shingle segments:
    one permuted-hash pass + one ``np.minimum.reduceat`` per
    permutation — no per-doc work.  Bit-identical to
    ``_minhash_from_shingles`` per doc."""
    nd = offs.size - 1
    out = np.empty((nd, num_perm), dtype=np.uint64)
    if vals.size == 0 or nd == 0:
        out[:] = 0
        return out.view(np.int64)
    seeds = splitmix64(np.arange(num_perm, dtype=np.uint64) + _U64(seed * 7919 + 13))
    starts = offs[:-1].copy()
    empty_seg = offs[1:] == offs[:-1]
    starts[empty_seg] = 0  # reduceat needs in-range indices; fixed below
    with np.errstate(over="ignore"):
        for p in range(num_perm):
            hp = splitmix64(vals ^ seeds[p])
            out[:, p] = np.minimum.reduceat(hp, starts)
    if empty_seg.any():  # zero-shingle docs (cannot happen via
        out[empty_seg] = 0  # _flat_shingle_segments, but stay safe)
    return out.view(np.int64)


def _batch_signatures(texts, w: int, num_perm: int, seed: int) -> np.ndarray:
    vals, offs = _flat_shingle_segments(texts, w, seed)
    return _signatures_from_segments(vals, offs, num_perm, seed)


def _word_shingle_hashes(text: str, w: int, seed: int) -> np.ndarray:
    return _word_shingle_hashes_batch([text], w, seed)[0]


def _token_shingle_hashes(tokens: np.ndarray, w: int, seed: int) -> np.ndarray:
    t = np.asarray(tokens, dtype=np.int64).view(np.uint64)
    if t.size == 0:
        return np.zeros(1, dtype=np.uint64)
    if t.size < w:
        pad = np.zeros(w, dtype=np.uint64)
        pad[: t.size] = t
        t = pad
    th = splitmix64(t ^ _U64(seed & 0xFFFFFFFFFFFFFFFF))
    n = t.size - w + 1
    acc = th[:n].copy()
    for i in range(1, w):
        with np.errstate(over="ignore"):
            acc = splitmix64(acc ^ (th[i : i + n] * _U64(0x9E3779B97F4A7C15)))
    return np.unique(acc)


def _minhash_from_shingles(sh: np.ndarray, num_perm: int, seed: int) -> np.ndarray:
    """num_perm MinHash values via seeded splitmix permutations."""
    seeds = splitmix64(np.arange(num_perm, dtype=np.uint64) + _U64(seed * 7919 + 13))
    with np.errstate(over="ignore"):
        m = splitmix64(sh[None, :] ^ seeds[:, None])  # (num_perm, S)
    return m.min(axis=1).view(np.int64)


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

    if tokens:

        @pandas_udf("array<long>")
        def sig_udf(vals: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    _minhash_from_shingles(
                        _token_shingle_hashes(np.asarray(v if v is not None else [], dtype=np.int64), shingle_w, seed),
                        num_perm,
                        seed,
                    ).tolist()
                    for v in vals
                ]
            )

    else:

        @pandas_udf("array<long>")
        def sig_udf(vals: pd.Series) -> pd.Series:
            sigs = _batch_signatures(vals, shingle_w, num_perm, seed)
            return pd.Series(list(sigs.tolist()))

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

    if tokens:

        @pandas_udf("array<long>")
        def sh_udf(vals: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    _token_shingle_hashes(
                        np.asarray(v if v is not None else [], dtype=np.int64), shingle_w, seed
                    ).view(np.int64).tolist()
                    for v in vals
                ]
            )

    else:

        @pandas_udf("array<long>")
        def sh_udf(vals: pd.Series) -> pd.Series:
            shingles = _word_shingle_hashes_batch(vals, shingle_w, seed)
            return pd.Series([sh.view(np.int64).tolist() for sh in shingles])

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
    # shingle-hash UDF
    sh = _shingle_sets_df(df, col, id_col, shingle_w, seed, tokens).persist()
    return _jaccard_verify(pairs, sh)


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

    if tokens:

        @pandas_udf("struct<sig: array<long>, sh: array<long>>")
        def both_udf(vals: pd.Series) -> pd.DataFrame:
            sigs, shs = [], []
            for v in vals:
                sh = _token_shingle_hashes(
                    np.asarray(v if v is not None else [], dtype=np.int64), shingle_w, seed
                )
                sigs.append(_minhash_from_shingles(sh, num_perm, seed).tolist())
                shs.append(sh.view(np.int64).tolist())
            return pd.DataFrame({"sig": sigs, "sh": shs})

    else:

        @pandas_udf("struct<sig: array<long>, sh: array<long>>")
        def both_udf(vals: pd.Series) -> pd.DataFrame:
            flat, offs = _flat_shingle_segments(vals, shingle_w, seed)
            sigs = _signatures_from_segments(flat, offs, num_perm, seed)
            sh = [
                flat[offs[i] : offs[i + 1]].view(np.int64).tolist()
                for i in range(len(vals))
            ]
            return pd.DataFrame({"sig": list(sigs.tolist()), "sh": sh})

    return df.select(
        F.col(id_col).alias("id"), both_udf(F.col(col)).alias("b")
    ).select("id", F.col("b.sig").alias("sig"), F.col("b.sh").alias("sh"))


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
    sigs = both.select("id", "sig")
    cands = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band, num_perm=num_perm,
        max_bucket=max_bucket, observation=observation,
    )
    verified = _jaccard_verify(cands, both.select("id", "sh"))
    return verified.filter(F.col("jaccard") >= threshold)
