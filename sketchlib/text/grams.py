"""The one definition of a gram, in both forms the library computes.

``grams`` is the Catalyst form (no Python rows) behind every exact
gram operator: text grams are the ``w``-word windows of a single-space
split, joined by a space; token grams are the ``w``-element windows of
an array column; below ``w`` units there are none.

``shingle_hashes`` is the NumPy form behind MinHash: flat per-document
64-bit gram hashes of an Arrow batch, from one kernel over per-unit
hashes (``roll`` is the only rolling combine).  Text units are
whitespace-split words, and a document below ``w`` words is one unit.
Token units are ``splitmix64(id ^ seed)``, a row below ``w`` ids is
zero-padded, and a NULL element is the id INT64_MIN.  An empty or NULL
document is the single gram 0.

Collision bound: ``hashed=True`` (the operators' ``hash_grams``) keys
each gram by its 64-bit ``xxhash64``, and two distinct grams collide
with probability 2^-64, so G distinct grams give about G(G-1)/2^65
expected colliding pairs (0.027 at G = 10^9).  Repeats of one gram
never collide.  A collision merges two grams' counts or memberships;
``hashed=False`` compares the exact grams.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from sketchlib.core.hashing import hash_str, splitmix64

_U64 = np.uint64


def _check_w(w: int) -> None:
    if w < 1:
        # w=0 would make EVERY doc share the empty gram
        raise ValueError(f"shingle width must be >= 1, got {w}")


def _windows(arr: Column, w: int, empty: Column, join=lambda s: s) -> Column:
    # the size guard: ``sequence`` with a negative stop would be a
    # DESCENDING range, not an empty one
    _check_w(w)
    return F.when(
        F.size(arr) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - w),
            lambda i: join(F.slice(arr, i + 1, w)),
        ),
    ).otherwise(empty)


def word_shingles(col: str, w: int) -> Column:
    """Array of the ``w``-word gram STRINGS of a single-space split text
    column (empty array below ``w`` words) — pure Catalyst."""
    return _windows(
        F.split(F.col(col), " "), w, F.array().cast("array<string>"),
        lambda s: F.array_join(s, " "),
    )


def array_shingles(arr: Column, w: int, elem_type: str) -> Column:
    """Array of the ``w``-element windows of an ARRAY column (empty
    below ``w`` elements).  ``elem_type`` is the column's simpleString
    (e.g. ``"array<int>"``), used to type the empty branch."""
    return _windows(arr, w, F.expr("array()").cast(f"array<{elem_type}>"))


def token_type(df: DataFrame, col: str) -> ArrayType:
    """The ``tokens=True`` input check: ``col`` must be an array column;
    returns its type."""
    dt = df.schema[col].dataType
    if not isinstance(dt, ArrayType):
        raise ValueError(
            f"tokens=True needs an array column (ARRAY type); {col!r} is "
            f"{dt.simpleString()}"
        )
    return dt


def grams(
    df: DataFrame, col: str, w: int, *, tokens: bool = False,
    hashed: bool = False,
) -> Column:
    """The gram array of ``df[col]``: ``w``-word strings, or with
    ``tokens=True`` ``w``-element windows of an array column.  With
    ``hashed=True`` each gram is its ``xxhash64`` key (see the module
    docstring for the collision bound)."""
    if tokens:
        g = array_shingles(F.col(col), w, token_type(df, col).simpleString())
    else:
        g = word_shingles(col, w)
    return F.transform(g, lambda s: F.xxhash64(s)) if hashed else g


def roll(h: np.ndarray, w: int) -> np.ndarray:
    """Rolling ``w``-gram combine over per-unit hashes: element ``j``
    is the gram starting at unit ``j`` (``h.size - w + 1`` values,
    none below ``w`` units)."""
    n = max(h.size - w + 1, 0)
    acc = h[:n].copy()
    with np.errstate(over="ignore"):
        for i in range(1, w):
            acc = splitmix64(acc ^ (h[i : i + n] * _U64(0x9E3779B97F4A7C15)))
    return acc


def _text_units(arr, w: int, seed: int):
    """(unit hashes, units per doc) for an Arrow batch of texts."""
    docs = [(t or "").split() for t in arr.to_pylist()]
    lens = np.fromiter(map(len, docs), dtype=np.int64, count=len(docs))
    # a doc below w words (an empty one too) is one unit
    units = [u for d in docs for u in (d if len(d) >= w else [" ".join(d)])]
    h = hash_str(units, seed=seed)
    n_units = np.where(lens >= w, lens, 1)
    h[(np.cumsum(n_units) - n_units)[lens == 0]] = 0
    return h, n_units


def _token_units(arr, w: int, seed: int):
    """(unit hashes, units per row) for an Arrow list batch of ids."""
    offs = arr.offsets.to_numpy().astype(np.int64)
    lens = np.diff(offs)
    vals = arr.values.slice(offs[0], offs[-1] - offs[0]).cast(pa.int64())
    t = vals.fill_null(-(2**63)).to_numpy(zero_copy_only=False).view(np.uint64)
    if arr.null_count:  # a NULL row is an empty row
        null = arr.is_null().to_numpy(zero_copy_only=False)
        t = t[np.repeat(~null, lens)]
        lens = np.where(null, 0, lens)
    n_units = np.where(lens == 0, 1, np.maximum(lens, w))
    starts = np.cumsum(n_units) - n_units
    if (n_units != lens).any():  # zero-pad short rows, one slot per empty
        shift = np.repeat(starts - (np.cumsum(lens) - lens), lens)
        t, padded = np.zeros(int(n_units.sum()), dtype=np.uint64), t
        t[np.arange(padded.size) + shift] = padded
    h = splitmix64(t ^ _U64(seed & 0xFFFFFFFFFFFFFFFF))
    h[starts[lens == 0]] = 0
    return h, n_units


def _segments(h: np.ndarray, n_units: np.ndarray, w: int, unique: bool):
    """The flat kernel: a document of ``>= w`` units contributes its
    rolled windows, a shorter one (always a single unit) its unit
    verbatim.  ``unique`` sorts and dedupes each document's grams."""
    nd = n_units.size
    full = n_units >= w
    n_grams = np.where(full, n_units - w + 1, 1)
    offs = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(n_grams, out=offs[1:])
    first = np.repeat(np.cumsum(n_units) - n_units - offs[:-1], n_grams)
    first += np.arange(offs[-1])
    # acc[j] is the window at unit j; the unrolled tail keeps a short
    # doc's index in range (its value is replaced below)
    acc = np.concatenate([roll(h, w), h[max(h.size - w + 1, 0) :]])
    vals = acc[first]
    if not full.all():
        short = np.repeat(~full, n_grams)
        vals[short] = h[first[short]]
    if not unique or nd == 0:
        return vals, offs
    # per-document sort: by value, then a stable (radix, for uint16)
    # pass by document — a lexsort of (doc, value) is several x slower
    doc = np.arange(nd, dtype=np.uint16 if nd <= 1 << 16 else np.int64)
    doc = np.repeat(doc, n_grams)
    o = np.argsort(vals)
    o = o[np.argsort(doc[o], kind="stable")]
    vals, doc = vals[o], doc[o]
    keep = np.r_[True, (doc[1:] != doc[:-1]) | (vals[1:] != vals[:-1])]
    vals = vals[keep]
    np.cumsum(np.bincount(doc[keep], minlength=nd), out=offs[1:])
    return vals, offs


def shingle_hashes(arr, w: int, seed: int, *, tokens: bool = False,
                   unique: bool = True):
    """Per-document ``w``-gram hashes of an Arrow batch (a string array,
    or with ``tokens=True`` an integer list array) in flat form:
    ``values[offsets[i]:offsets[i+1]]`` are document ``i``'s grams —
    sorted and distinct with ``unique``, else in position order with
    repeats.  Every document has at least one gram."""
    _check_w(w)
    units = (_token_units if tokens else _text_units)(arr, w, seed)
    return _segments(*units, w, unique)
