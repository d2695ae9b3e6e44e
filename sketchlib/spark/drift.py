"""Dataset-drift operators: compare two corpus/table snapshots.

A training-data pipeline re-releases its corpus (new crawl, new filter
rules, dedup re-run) and needs to answer "what changed?" before the
new snapshot trains anything:

* :func:`token_freq_drift` — which tokens' frequency SHARE moved most
  between snapshot A and snapshot B (exact distributed backend, plus a
  one-pass SpaceSaving backend for when even the vocabulary is huge);
* :func:`ks_2sample` — the exact two-sample Kolmogorov–Smirnov
  statistic between two numeric columns (length/quality-score drift),
  computed distributedly with NO driver-side data and NO float
  accumulation: the D statistic is carried as an exact integer
  numerator ``max |n_b * cumcount_a(v) - n_a * cumcount_b(v)|`` over
  the pooled distinct values, so two engines agree bit-for-bit.

These are NOT reference-crate operators (the Rust crate is quantile
sketches only, /root/reference/src/traits.rs:3-34) — they are the
snapshot-comparison layer a 10^12-sequence training pipeline needs on
top of the sketch library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from sketchlib.spark.api import (
    BUCKETED_MIN_PARTITIONS,
    _exact_running_prior,
    _order_and_bucket,
    _use_bucketed,
)
from sketchlib.spark.cache import SingleSlotCache

#: ks_2sample's persisted frequency frame (one-slot contract, cache.py)
_freq_cache = SingleSlotCache()


def _tokenize(df: DataFrame, col: str, tokens: bool) -> DataFrame:
    """Explode to one ``token`` per row (whitespace-split when the
    column is raw text), dropping empty tokens — the same convention as
    text.analysis.vocabulary so oracles stay engine-portable."""
    terms = F.col(col) if tokens else F.split(F.col(col), " ")
    return df.select(F.explode(terms).alias("token")).filter(
        F.col("token") != ""
    )


def token_freq_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str = "text",
    k: int = 100,
    tokens: bool = False,
    backend: str = "exact",
    candidates: int = 4096,
    capacity: int = 65536,
) -> DataFrame:
    """Top-``k`` tokens by absolute frequency-share change between
    snapshots A and B.

    Output: ``(token, count_a, count_b, total_a, total_b, drift_num)``
    ordered by ``drift_num`` desc (token asc tiebreak), where
    ``drift_num = |count_a * total_b - count_b * total_a|`` — the
    share difference ``|count_a/total_a - count_b/total_b|`` scaled by
    the exact integer ``total_a * total_b``, kept as a BIGINT so the
    ranking (and any cross-engine verification) involves no floating
    point at all.

    100-TB shape, ``backend="exact"``: explode -> per-token counts
    (ONE shuffle per side, map-side combinable — post-agg rows are
    vocabulary-sized, orders of magnitude below corpus size) -> full
    outer join on token (vocab x vocab) -> broadcast 1-row totals ->
    ``orderBy(...).limit(k)`` which Catalyst executes as
    TakeOrderedAndProject (per-partition heaps, never a full sort).

    ``backend="spacesaving"``: when even the vocabulary doesn't fit a
    shuffle budget, one SpaceSaving pass per side tracks the top
    ``candidates`` tokens with formal over-estimate bounds (capacity
    ``capacity``); tokens outside a side's tracked set count as 0
    there.  Heavy drifters are by definition frequent on at least one
    side, so they are in at least one tracked set; the result is an
    estimate with per-item error <= total/capacity per side."""
    if backend not in ("exact", "spacesaving"):
        raise ValueError(f"unknown backend {backend!r}")
    if k < 1:
        raise ValueError("k must be >= 1")
    ea = _tokenize(df_a, col, tokens)
    eb = _tokenize(df_b, col, tokens)
    if backend == "spacesaving":
        from sketchlib.spark.api import heavy_hitters

        fa = heavy_hitters(
            ea, "token", k=candidates, capacity=capacity
        ).select(F.col("token"), F.col("est_count").alias("count_a"))
        fb = heavy_hitters(
            eb, "token", k=candidates, capacity=capacity
        ).select(F.col("token"), F.col("est_count").alias("count_b"))
    else:
        fa = ea.groupBy("token").agg(F.count(F.lit(1)).alias("count_a"))
        fb = eb.groupBy("token").agg(F.count(F.lit(1)).alias("count_b"))
    j = (
        fa.join(fb, "token", "full_outer")
        .withColumn("count_a", F.coalesce("count_a", F.lit(0)))
        .withColumn("count_b", F.coalesce("count_b", F.lit(0)))
    )
    # exact totals even under the sketch backend (a cheap reduction),
    # so shares are anchored to the true corpus sizes
    totals = (
        ea.agg(F.count(F.lit(1)).alias("total_a"))
        .crossJoin(eb.agg(F.count(F.lit(1)).alias("total_b")))
    )
    out = (
        j.crossJoin(F.broadcast(totals))
        .withColumn(
            "drift_num",
            F.abs(
                F.col("count_a") * F.col("total_b")
                - F.col("count_b") * F.col("total_a")
            ),
        )
        .orderBy(F.desc("drift_num"), F.asc("token"))
        .limit(k)
    )
    return out.select(
        "token",
        F.col("count_a").cast("bigint").alias("count_a"),
        F.col("count_b").cast("bigint").alias("count_b"),
        F.col("total_a").cast("bigint").alias("total_a"),
        F.col("total_b").cast("bigint").alias("total_b"),
        F.col("drift_num").cast("bigint").alias("drift_num"),
    )


def ks_2sample(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    col_b: str | None = None,
    order_buckets: int = 64,
    bucketed_min_partitions: int = BUCKETED_MIN_PARTITIONS,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between numeric
    column ``col`` of A and ``col_b`` (default ``col``) of B.

    Returns ONE row ``(n_a, n_b, d_num, d)`` where
    ``d_num = max over pooled values v of
    |n_b * #{a <= v} - n_a * #{b <= v}|`` (exact BIGINT) and
    ``d = d_num / (n_a * n_b)`` — the classical D statistic.  Carrying
    the numerator as an integer makes the whole computation exact and
    bit-reproducible across engines; the only float is one final
    division of identical integers.

    Plan: tag-and-union -> per-distinct-value counts (ONE shuffle,
    map-side combinable; the frame is distinct-value-sized) -> exact
    counts below each value from ``api._exact_running_prior`` (its
    two-phase distributed prefix sum over sketch-bounded value buckets
    when ``api._use_bucketed`` finds at least
    ``bucketed_min_partitions`` planned partitions, a single window
    otherwise), plus the value's own count -> one max-reduction.
    NULL/NaN rows are dropped (they have no place on the real line)."""
    cb = col_b or col
    a = df_a.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    b = df_b.select(F.col(cb).cast("double").alias("v")).filter(
        F.col("v").isNotNull() & ~F.isnan("v")
    )
    u = a.withColumn("ia", F.lit(1)).withColumn("ib", F.lit(0)).unionByName(
        b.withColumn("ia", F.lit(0)).withColumn("ib", F.lit(1))
    )
    freq = u.groupBy("v").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    use_bucketed = _use_bucketed(freq, order_buckets, bucketed_min_partitions)
    if use_bucketed:
        # the same persisted-once discipline as the other multi-consumer
        # lineages: bounds scan + offsets agg + main join all read freq;
        # held until the next call (cache.py)
        freq = _freq_cache.hold(freq.persist())
    order, bucket = _order_and_bucket(freq, "v", 0, order_buckets, use_bucketed)
    cum = _exact_running_prior(freq, ["ca", "cb"], order, bucket)
    totals = freq.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("n_b") * (F.col("__prior_ca") + F.col("ca"))
                    - F.col("n_a") * (F.col("__prior_cb") + F.col("cb"))
                )
            ).cast("bigint").alias("d_num"),
        )
        .withColumn(
            "d", F.col("d_num") / (F.col("n_a") * F.col("n_b"))
        )
    )
