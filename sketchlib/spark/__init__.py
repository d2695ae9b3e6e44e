"""DataFrame-level staging for sketch aggregation.

The execution shape mirrors the reference's ``ParTDigest::flush``
(/root/reference/src/t_digest/par_t_digest.rs:59-89) generalized to a
cluster: vectorized per-partition partial sketches (mapInArrow, Arrow
batches, zero per-row Python) -> serialized state rows -> keyed merge
levels of bounded fan-in -> one final sketch per key.
"""

from sketchlib.spark.aggregate import (
    build_partials,
    grouped_sketch,
    sketch_column,
    tree_merge,
)
from sketchlib.spark.api import (
    approx_distinct,
    approx_quantiles,
    build_bloom,
    build_cms,
    grouped_quantiles,
)
from sketchlib.spark.drift import ks_2sample, token_freq_drift
from sketchlib.spark.sink import read_sharded, write_sharded

__all__ = [
    "build_partials",
    "tree_merge",
    "grouped_sketch",
    "sketch_column",
    "approx_quantiles",
    "approx_distinct",
    "build_cms",
    "build_bloom",
    "grouped_quantiles",
    "token_freq_drift",
    "ks_2sample",
    "write_sharded",
    "read_sharded",
]
