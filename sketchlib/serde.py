"""Sketch state <-> bytes dispatch.

Every sketch serializes to a self-describing binary blob (4-byte magic
header).  This module provides kind-agnostic (de)serialization so the
Spark merge stages can carry any sketch through a single
``state: binary`` column.  No pickle — formats are explicit structs +
raw little-endian numpy buffers, stable across Python versions.
"""

from __future__ import annotations

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.ddsketch import DDSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.rc_sketch import RCSketch
from sketchlib.core.reservoir import ReservoirSample
from sketchlib.core.spacesaving import SpaceSaving
from sketchlib.core.theta import ThetaSketch
from sketchlib.core.tdigest import TDigest

_BY_MAGIC = {
    b"TD01": TDigest,
    b"KL01": KLL,
    b"DD01": DDSketch,
    b"RC01": RCSketch,
    b"HL02": HyperLogLog,
    b"CM02": CountMinSketch,
    b"BF02": BloomFilter,
    b"SS02": SpaceSaving,
    b"RS03": ReservoirSample,
    b"TH02": ThetaSketch,
    # legacy (pre hash-domain / pre salt) formats: still DECODABLE —
    # a persisted checkpoint ledger must survive a library upgrade.
    # Each class's from_bytes parses its old layout (domain/salt = 0).
    b"HL01": HyperLogLog,
    b"CM01": CountMinSketch,
    b"BF01": BloomFilter,
    b"SS01": SpaceSaving,
    b"RS02": ReservoirSample,
    b"TH01": ThetaSketch,
}

KINDS = {
    "tdigest": TDigest,
    "kll": KLL,
    "ddsketch": DDSketch,
    "rc": RCSketch,
    "hll": HyperLogLog,
    "cms": CountMinSketch,
    "bloom": BloomFilter,
    "spacesaving": SpaceSaving,
    "reservoir": ReservoirSample,
    "theta": ThetaSketch,
}


def to_bytes(sketch) -> bytes:
    return sketch.to_bytes()


def from_bytes(data: bytes):
    cls = _BY_MAGIC.get(bytes(data[:4]))
    if cls is None:
        raise ValueError(f"unknown sketch magic {bytes(data[:4])!r}")
    return cls.from_bytes(bytes(data))


def merge_sketches(blobs):
    """Merge an iterable of serialized sketches into one sketch (None
    when empty).  Blobs are folded in (length, bytes) order: shuffle
    and ledger delivery order is nondeterministic, and a fixed order
    keeps merged states reproducible run-to-run (checkpoint resume
    bit-equality)."""
    ordered = sorted((bytes(b) for b in blobs), key=lambda b: (len(b), b))
    if not ordered:
        return None
    acc = from_bytes(ordered[0])
    for b in ordered[1:]:
        acc.merge(from_bytes(b))
    return acc


def merge_blobs(blobs) -> bytes:
    """Merge an iterable of serialized sketches into one blob."""
    acc = merge_sketches(blobs)
    if acc is None:
        raise ValueError("merge_blobs needs at least one blob")
    return acc.to_bytes()
