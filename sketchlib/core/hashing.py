"""Vectorized 64-bit hashing for sketch inputs.

All hash-based sketches (HLL / CMS / Bloom) operate on pre-hashed
uint64 streams.  In Spark pipelines the hashing happens JVM-side with
``F.xxhash64`` (whole-stage-codegen, no Python cost) and the int64
column is reinterpreted as uint64 here.  For pure-numpy use (unit
tests, oracles) these helpers provide a deterministic, vectorized
splitmix64.
"""

from __future__ import annotations

import hashlib

import numpy as np

_U64 = np.uint64
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

# ----------------------------------------------------------------- hash domains
#
# Two hash functions feed the hash-based sketches, one per input kind
# on every engine: Spark's xxhash64 for KIND_HASH64 (JVM F.xxhash64 on
# the DataFrame path, the bit-equal numpy xxhash64_* in the direct
# scan) and numpy splitmix64 for KIND_ARRAY_HASH.  States built from
# DIFFERENT hash functions over the same keys share no register/bucket
# structure — merging them yields silently-wrong estimates, so every
# hash-consuming sketch carries its domain and merge() raises on a
# definite mismatch.  DOMAIN_UNSET (empty or legacy state) merges with
# anything and adopts the partner's domain.
DOMAIN_UNSET = 0
DOMAIN_XXHASH64 = 1  # Spark's xxhash64 (KIND_HASH64)
DOMAIN_SPLITMIX64 = 2  # numpy splitmix64 (KIND_ARRAY_HASH)


def combine_domains(a: int, b: int, kind: str = "sketch") -> int:
    """Merge-guard: raise on a definite cross-domain merge, else the
    surviving (nonzero-if-any) domain."""
    if a and b and a != b:
        raise ValueError(
            f"cannot merge {kind} states from different hash domains "
            f"({a} vs {b}): one was fed JVM xxhash64, the other numpy "
            "splitmix64 — the merged estimate would be silently wrong"
        )
    return a or b


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array (wraps mod 2^64)."""
    z = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += _U64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def hash_i64(values, seed: int = 0) -> np.ndarray:
    """Hash an int-like array to uint64 via splitmix64(x ^ seed)."""
    arr = np.asarray(values).astype(np.int64, copy=False).view(np.uint64)
    if seed:
        arr = arr ^ _U64(seed & 0xFFFFFFFFFFFFFFFF)
    return splitmix64(arr)


def _xxh_rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = _U64(r)
    return (x << r) | (x >> (_U64(64) - r))


def _xxh_avalanche(acc: np.ndarray) -> np.ndarray:
    acc ^= acc >> _U64(33)
    acc *= _XXP2
    acc ^= acc >> _U64(29)
    acc *= _XXP3
    acc ^= acc >> _U64(32)
    return acc


_XXP1 = _U64(0x9E3779B185EBCA87)
_XXP2 = _U64(0xC2B2AE3D27D4EB4F)
_XXP3 = _U64(0x165667B19E3779F9)
_XXP4 = _U64(0x85EBCA77C2B2AE63)
_XXP5 = _U64(0x27D4EB2F165667C5)


def xxhash64_i64(values, seed: int = 42) -> np.ndarray:
    """Vectorized XXH64 of 8-byte integers, BIT-COMPATIBLE with Spark's
    ``F.xxhash64`` on a LongType column (XXH64.hashLong, default seed
    42).  Lets the direct pyarrow path emit hashes in the JVM's
    DOMAIN_XXHASH64, so its sketches merge with DataFrame-path ones."""
    v = np.asarray(values).astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        acc = _U64(seed) + _XXP5 + _U64(8)
        k1 = _xxh_rotl(v * _XXP2, 31) * _XXP1
        acc = acc ^ k1
        acc = _xxh_rotl(acc, 27) * _XXP1 + _XXP4
        return _xxh_avalanche(acc)


def xxhash64_i32(values, seed: int = 42) -> np.ndarray:
    """Vectorized XXH64 of 4-byte integers, BIT-COMPATIBLE with Spark's
    ``F.xxhash64`` on Byte/Short/IntegerType columns (XXH64.hashInt —
    Spark hashes sub-int integrals through the 4-byte path)."""
    v = (
        np.asarray(values)
        .astype(np.int32, copy=False)
        .view(np.uint32)
        .astype(np.uint64)
    )
    with np.errstate(over="ignore"):
        acc = _U64(seed) + _XXP5 + _U64(4)
        acc = acc ^ (v * _XXP1)
        acc = _xxh_rotl(acc, 23) * _XXP2 + _XXP3
        return _xxh_avalanche(acc)


def xxhash64_ints(values, seed: int = 42) -> np.ndarray:
    """Dispatch to the Spark-compatible XXH64 variant by the SPARK
    COLUMN TYPE the numpy dtype round-trips through (advisor r4: the
    old itemsize-only dispatch silently mis-hashed unsigned inputs):

    - signed <=32-bit: Byte/Short/IntegerType -> hashInt
    - signed 64-bit: LongType -> hashLong
    - uint8/uint16: parquet UINT_8/UINT_16 are read by Spark as
      Short/IntegerType (value-preserving) -> hashInt of the value
    - uint32: parquet UINT_32 is read by Spark as LongType -> hashLong
      of the ZERO-EXTENDED value (the 4-byte hashInt path would
      mis-hash every row)
    - uint64: Spark reads parquet UINT_64 as Decimal(20,0), whose hash
      is not value-bit-compatible with any integer path -> TypeError
      (fail loud instead of corrupting a cross-engine merge)."""
    arr = np.asarray(values)
    if not np.issubdtype(arr.dtype, np.integer):
        raise TypeError(f"xxhash64_ints needs integers, got {arr.dtype}")
    if np.issubdtype(arr.dtype, np.unsignedinteger):
        if arr.dtype.itemsize <= 2:
            return xxhash64_i32(arr.astype(np.int32), seed)
        if arr.dtype.itemsize == 4:
            return xxhash64_i64(arr.astype(np.int64), seed)
        raise TypeError(
            "xxhash64_ints: uint64 has no JVM-parity hash (Spark reads "
            "parquet UINT_64 as Decimal(20,0)); sketch such a column "
            "through the DataFrame path"
        )
    if arr.dtype.itemsize <= 4:
        return xxhash64_i32(arr, seed)
    return xxhash64_i64(arr, seed)


def xxhash64_f64(values, seed: int = 42) -> np.ndarray:
    """Spark-bit-compatible XXH64 of a DoubleType column: normalize
    -0.0 to 0.0 and every NaN payload to the canonical quiet NaN
    (``doubleToLongBits`` semantics — advisor r4: numpy's ``.view``
    preserves non-canonical payload bits that the JVM collapses), then
    hashLong of the IEEE-754 bit pattern."""
    arr = np.asarray(values, dtype=np.float64)
    arr = np.where(arr == 0.0, 0.0, arr)  # -0.0 -> 0.0
    arr = np.where(np.isnan(arr), np.float64("nan"), arr)
    return xxhash64_i64(arr.view(np.int64), seed)


def xxhash64_f32(values, seed: int = 42) -> np.ndarray:
    """Spark-bit-compatible XXH64 of a FloatType column: Spark hashes
    floats as hashInt(floatToIntBits(v)) with -0.0 normalized — NOT by
    widening to double (advisor r4: the f64 path gives different bits
    for every value).  floatToIntBits collapses all NaN payloads to the
    canonical quiet NaN, replicated here."""
    arr = np.asarray(values, dtype=np.float32)
    arr = np.where(arr == np.float32(0.0), np.float32(0.0), arr)
    arr = np.where(np.isnan(arr), np.float32("nan"), arr)
    return xxhash64_i32(arr.view(np.int32), seed)


def _xxh64_same_len(m: np.ndarray, seed: int) -> np.ndarray:
    """XXH64 of n equal-length byte rows — (n, L) uint8 matrix in, one
    uint64 per row out.  Full algorithm: 32-byte 4-lane stripes +
    merge rounds for L >= 32, then 8-byte / 4-byte / single-byte tail,
    then the avalanche — all steps vectorized across rows (same L =>
    same control flow)."""
    n, L = m.shape
    with np.errstate(over="ignore"):
        pos = 0
        if L >= 32:
            v1 = np.full(n, _U64(seed) + _XXP1 + _XXP2)
            v2 = np.full(n, _U64(seed) + _XXP2)
            v3 = np.full(n, _U64(seed))
            v4 = np.full(n, _U64(seed) - _XXP1)

            def rnd(acc, x):
                return _xxh_rotl(acc + x * _XXP2, 31) * _XXP1

            while pos + 32 <= L:
                lanes = [
                    np.ascontiguousarray(m[:, pos + 8 * i : pos + 8 * i + 8])
                    .view(np.uint64)
                    .ravel()
                    for i in range(4)
                ]
                v1, v2, v3, v4 = (
                    rnd(v1, lanes[0]),
                    rnd(v2, lanes[1]),
                    rnd(v3, lanes[2]),
                    rnd(v4, lanes[3]),
                )
                pos += 32
            acc = (
                _xxh_rotl(v1, 1)
                + _xxh_rotl(v2, 7)
                + _xxh_rotl(v3, 12)
                + _xxh_rotl(v4, 18)
            )
            zero = np.zeros(n, dtype=np.uint64)
            for v in (v1, v2, v3, v4):
                acc = (acc ^ rnd(zero, v)) * _XXP1 + _XXP4
        else:
            acc = np.full(n, _U64(seed) + _XXP5)
        acc = acc + _U64(L)
        while pos + 8 <= L:
            k1 = (
                _xxh_rotl(
                    np.ascontiguousarray(m[:, pos : pos + 8])
                    .view(np.uint64)
                    .ravel()
                    * _XXP2,
                    31,
                )
                * _XXP1
            )
            acc = _xxh_rotl(acc ^ k1, 27) * _XXP1 + _XXP4
            pos += 8
        if pos + 4 <= L:
            u32 = (
                np.ascontiguousarray(m[:, pos : pos + 4])
                .view(np.uint32)
                .ravel()
                .astype(np.uint64)
            )
            acc = _xxh_rotl(acc ^ (u32 * _XXP1), 23) * _XXP2 + _XXP3
            pos += 4
        while pos < L:
            acc = _xxh_rotl(acc ^ (m[:, pos].astype(np.uint64) * _XXP5), 11) * _XXP1
            pos += 1
        return _xxh_avalanche(acc)


def xxhash64_str(values, seed: int = 42) -> np.ndarray:
    """Spark-bit-compatible XXH64 of a StringType column (UTF-8 bytes
    through the full XXH64, as ``F.xxhash64`` computes it).  Accepts a
    pyarrow StringArray (zero-copy offsets + data buffers) or any
    sequence of python strings.  Rows are grouped by byte length so
    each group shares one vectorized control flow — id-like columns
    typically have very few distinct lengths.

    LENGTH CONTRACT (advisor r4): the output has exactly one hash per
    input row; arrow arrays containing nulls are REJECTED (a silent
    drop would misalign any caller that zips the result against the
    source array) — drop or mask nulls before calling."""
    try:
        import pyarrow as pa

        is_arrow = isinstance(values, (pa.Array, pa.ChunkedArray))
    except ImportError:  # pragma: no cover
        is_arrow = False
    if is_arrow:
        import pyarrow as pa

        arr = (
            values.combine_chunks()
            if isinstance(values, pa.ChunkedArray)
            else values
        )
        if arr.null_count:
            raise ValueError(
                f"xxhash64_str: input has {arr.null_count} nulls; the "
                "output is positionally aligned with the input, so "
                "nulls must be dropped or masked by the caller"
            )
        if pa.types.is_large_string(arr.type):
            arr = arr.cast(pa.string())
        buf_off, buf_data = arr.buffers()[1], arr.buffers()[2]
        offs = np.frombuffer(buf_off, dtype=np.int32)[
            arr.offset : arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = np.frombuffer(buf_data, dtype=np.uint8)
        lens = np.diff(offs)
        out = np.empty(len(arr), dtype=np.uint64)
        for L in np.unique(lens):
            idx = np.flatnonzero(lens == L)
            if L == 0:
                with np.errstate(over="ignore"):
                    out[idx] = _xxh_avalanche(
                        np.full(idx.size, _U64(seed) + _XXP5) + _U64(0)
                    )
                continue
            gather = offs[idx][:, None] + np.arange(L)
            out[idx] = _xxh64_same_len(data[gather], seed)
        return out
    bs = [s.encode("utf-8") for s in values]
    lens = np.array([len(b) for b in bs])
    out = np.empty(len(bs), dtype=np.uint64)
    for L in np.unique(lens):
        idx = np.flatnonzero(lens == L)
        if L == 0:
            with np.errstate(over="ignore"):
                out[idx] = _xxh_avalanche(
                    np.full(idx.size, _U64(seed) + _XXP5) + _U64(0)
                )
            continue
        m = np.frombuffer(
            b"".join(bs[i] for i in idx), dtype=np.uint8
        ).reshape(idx.size, int(L))
        out[idx] = _xxh64_same_len(m, seed)
    return out


def hash_str(values, seed: int = 0) -> np.ndarray:
    """Hash a sequence of strings to uint64 — one vectorized C-level
    call over the whole batch (pandas SipHash via ``pd.util.hash_array``
    with ``categorize=True``, so repeated words hash once).  ~7-10x the
    former per-string blake2b loop; this is the hot path of MinHash
    text-mode signatures.  Deterministic for a given (seed, pandas
    build) — every executor in a cluster runs the same wheel.

    Spark pipelines should still hash plain string COLUMNS JVM-side
    with F.xxhash64; this serves batch UDFs that need per-word hashes.
    """
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    import pandas as pd

    key = hashlib.blake2b(
        int(seed).to_bytes(8, "little", signed=True), digest_size=8
    ).hexdigest()  # 16-char hash_key as pandas requires
    arr = np.fromiter((str(s) for s in values), dtype=object, count=n)
    return pd.util.hash_array(arr, hash_key=key, categorize=True).astype(
        np.uint64, copy=False
    )


def clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (x==0 -> 64).

    Uses frexp on the float64 conversion (the exponent IS the bit
    length) with an exact correction for the one case float rounding
    overestimates: a value just below a power of two rounds up to it
    (exponent one too high).  ~12x faster than a shift cascade with
    boolean fancy indexing."""
    x = np.asarray(x, dtype=np.uint64)
    _, e = np.frexp(x.astype(np.float64))
    e = e.astype(np.int64)  # candidate bit length (may be +1, or 65)
    # overestimate detection: true bit length b satisfies x >= 2^(b-1);
    # if x < 2^(e-1) the exponent rounded up.  e-1 is clamped to 63 for
    # the shift: e == 65 (x rounded to 2^64) always has true b == 64
    # and x >= 2^63, so the clamped test correctly reports no-over.
    shift = np.clip(e - 1, 0, 63).astype(np.uint64)
    over = (e >= 1) & (e <= 64) & (x < (_U64(1) << shift))
    bl = np.where(over, e - 1, np.minimum(e, 64))
    return np.where(x == 0, 64, 64 - bl)


_M64 = 0xFFFFFFFFFFFFFFFF


def splitmix64_int(x: int) -> int:
    """Scalar splitmix64 on plain Python ints — bit-identical to
    ``splitmix64`` but ~30x faster for single values (no numpy array
    construction / errstate overhead; this is the hot path of KLL
    compaction coins)."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def mix_seed(*parts: int) -> int:
    """Deterministically combine integer parts into one 64-bit seed.

    Used to seed per-(lineage, level, counter) RNG so that compaction
    coin flips are reproducible across job resume (SURVEY.md §7.4).
    """
    acc = 0x243F6A8885A308D3
    for p in parts:
        acc = splitmix64_int(acc ^ (int(p) & _M64))
    return acc
