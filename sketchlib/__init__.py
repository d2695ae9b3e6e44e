"""sketchlib — a PySpark-native mergeable-sketch library.

Approximate quantiles (t-digest, KLL), cardinality (HyperLogLog),
frequency (count-min) and membership (Bloom) over very large tables,
expressed as vectorized Arrow/pandas partial aggregates with one keyed,
fan-in-bounded merge.

Layout:
  sketchlib.core   — pure-numpy sketch kernels (no Spark imports)
  sketchlib.serde  — sketch state <-> bytes
  sketchlib.spark  — DataFrame-level partial/merge/query staging
"""

__version__ = "0.1.0"
