"""Layer-1 kernel phase: single-thread update, 64-way merge, query,
serde round-trip and state bytes per sketch, after the method of *An
Experimental Analysis of Quantile Sketches over Data Streams* (EDBT
2023).  Inputs are seeded batches shaped like the token column: uniform
ids over the datagen vocabulary, as many as one Spark task of the
workload feeds."""

from __future__ import annotations

import time

import numpy as np

MERGE_WAY = 64
REPEATS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return float(np.median(times))


def _specs():
    from sketchlib.core import KLL, BloomFilter, CountMinSketch, HyperLogLog, TDigest

    bloom = BloomFilter.from_capacity(1_000_000, 0.01)
    return {
        "tdigest": (lambda: TDigest(delta=2000.0), False),
        "kll": (lambda: KLL(k=200, seed=42), False),
        "hll": (lambda: HyperLogLog(p=14), True),
        "cms": (lambda: CountMinSketch(depth=5, width=16384), True),
        "bloom": (lambda: BloomFilter(bloom.m, bloom.k), True),
    }


def _query(name: str, sk, probe_hashes, probs):
    if name in ("tdigest", "kll"):
        return sk.value_at_quantile(probs)
    if name == "hll":
        return sk.estimate()
    if name == "cms":
        return sk.estimate_hashes(probe_hashes)
    return sk.contains_hashes(probe_hashes)


def kernel_phase(tracer, n_values: int, seed: int, probs, out: dict) -> None:
    """Fill ``out`` with the ``core.*`` and ``serde.*`` metrics."""
    from sketchlib import serde
    from sketchlib.core.hashing import hash_i64
    from sketchlib.spark.datagen import VOCAB_SIZE

    rng = np.random.default_rng(seed)
    ids = rng.integers(0, VOCAB_SIZE, max(n_values, MERGE_WAY))
    values = ids.astype(np.float64)
    with tracer.span("core.hashing"):
        out["core.hashing.hash_vps"] = ids.size / _median_time(lambda: hash_i64(ids))
    hashes = hash_i64(ids)
    probe_hashes = hash_i64(np.arange(1000))
    for name, (factory, hashed) in _specs().items():
        data = hashes if hashed else values

        def update(sk):
            if hashed:
                sk.add_hashes(data)
            else:
                sk.add_buffer(data)
            return sk

        with tracer.span(f"core.{name}"):
            out[f"core.{name}.update_vps"] = data.size / _median_time(
                lambda: update(factory())
            )
            parts = []
            for chunk in np.array_split(data, MERGE_WAY):
                sk = factory()
                if hashed:
                    sk.add_hashes(chunk)
                else:
                    sk.add_buffer(chunk)
                parts.append(sk)
            blobs = [p.to_bytes() for p in parts]

            def merge_all():
                acc = serde.from_bytes(blobs[0])
                for p in parts[1:]:
                    acc.merge(p)
                return acc

            out[f"core.{name}.merge_s"] = _median_time(merge_all)
            merged = merge_all()
            out[f"core.{name}.query_s"] = _median_time(
                lambda: _query(name, merged, probe_hashes, probs)
            )
            state = merged.to_bytes()
            out[f"core.{name}.state_bytes"] = float(len(state))
        with tracer.span(f"serde.{name}"):
            out[f"serde.{name}.roundtrip_s"] = _median_time(
                lambda: serde.from_bytes(merged.to_bytes())
            )
            out[f"serde.{name}.merge_blobs_s"] = _median_time(
                lambda: serde.merge_blobs(blobs)
            )
