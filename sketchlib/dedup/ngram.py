"""Exact n-gram Jaccard near-duplicate pairs — the deterministic
counterpart of MinHash+LSH (minhash.py approximates exactly this
measure; decontaminate.py shares the shingle construction).

Finds every unordered document pair whose DISTINCT word ``w``-gram
(shingle) sets have Jaccard similarity >= ``threshold``.  The whole
operator is pure Catalyst — no Python rows ever cross the boundary —
and no step materializes the corpus on the driver.

Two exact plans, selected driver-side from the input's planned
partition count (``api._spread``'s probe, which also spreads a narrow
input across the cores):

* ``method="index"`` (small inputs): classic inverted index.  Grams
  whose document frequency is 1 are pruned first (they can never
  contribute to an intersection — exact), the survivors self-join on
  the gram, and ``count(*)`` per (id_a, id_b) IS the intersection
  size.  Two shuffles; a globally hot gram with document frequency d
  contributes d^2/2 join rows, which is why this is the SMALL plan.
* ``method="prefix"`` (the 100-TB plan): prefix filtering in the
  AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al.,
  WWW'08 — public literature, nothing reference-derived).  Order
  every doc's grams by ascending global document frequency (rarest
  first, gram string as tie-break); a pair with J >= t MUST share a
  gram within the first ``p = n - floor(t*n) + 1`` grams of BOTH
  docs (floor, not the canonical ceil: float dust in ``t*n`` could
  round a ceil UP and shorten the prefix below the sound length,
  while floor only ever lengthens it — conservative, still exact).
  Candidates come from the self-join of those short prefixes only —
  a hot gram enters a doc's prefix only when the doc has almost no
  rarer gram — and are verified exactly per candidate row with
  ``array_intersect`` on the full gram arrays (bounded by the
  candidate count, no re-explosion).

Document-identity notes: rows whose ``id_col`` is NULL cannot form
ordered pairs and are excluded (documented, not silent: see the
``dropna`` below); docs shorter than ``w`` words have an empty gram
set and never pair.

Grams come from ``sketchlib/text/grams.py``, the one gram convention.
``hash_grams=True`` replaces gram strings with ``xxhash64(gram)``
throughout (ordering, joins, intersections) — narrows every shuffle
row to 8 bytes for wide corpora at about G(G-1)/2^65 expected
colliding pairs for G distinct grams (the bound stated in
``grams.py``); results are otherwise identical (tested).  Measured
~3x on the prefix plan at a 50k-doc stress (BASELINE.md round-5
stress section, which also pins the index/prefix crossover: uniform
low df favors the index join, a df=20k boilerplate gram already flips it — the
index's hot-gram join rows grow as df^2, prefix stays linear).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib.spark.api import SPREAD_CACHE_MIN_PARTITIONS, _spread
from sketchlib.spark.cache import SingleSlotCache
from sketchlib.text.grams import grams

#: the latest call's persisted gram frame (one-slot contract, cache.py)
_gram_cache = SingleSlotCache()

#: planned-partition threshold between the two exact plans: below or
#: equal, the inverted-index join (fewer shuffles) wins; above, hot
#: grams make the prefix-filtered plan the safe one.
PREFIX_MIN_PARTITIONS = SPREAD_CACHE_MIN_PARTITIONS


def _gram_sets(
    docs: DataFrame, col: str, id_col: str, w: int, hash_grams: bool
) -> DataFrame:
    """(__id, __g sorted-distinct gram array, __n its size); NULL-id
    rows dropped (cannot form ordered pairs)."""
    g = F.array_distinct(grams(docs, col, w, hashed=hash_grams))
    return (
        docs.na.drop(subset=[id_col])
        .select(F.col(id_col).alias("__id"), g.alias("__g"))
        .withColumn("__n", F.size("__g"))
    )


def _finish(pairs: DataFrame, threshold: float) -> DataFrame:
    """Shared tail: Jaccard from (id_a, id_b, __i, __na, __nb)."""
    jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
    return (
        pairs.withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    w: int = 3,
    threshold: float = 0.5,
    method: str = "auto",
    hash_grams: bool = False,
    prefix_min_partitions: int = PREFIX_MIN_PARTITIONS,
    cache: bool | None = None,
) -> DataFrame:
    """All unordered pairs (id_a < id_b, jaccard double) with word
    ``w``-gram set Jaccard >= ``threshold``.  Exact under every
    ``method`` (``auto`` only picks the cheaper exact plan)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if method not in ("auto", "index", "prefix"):
        raise ValueError(f"unknown method {method!r}")

    # spread the raw docs before the shingle build, then decide the
    # plan on the input's own planned partition count
    spread, planned = _spread(docs, id_col)
    small = planned <= prefix_min_partitions
    if method == "auto":
        method = "index" if small else "prefix"
    base = _gram_sets(spread, col, id_col, w, hash_grams)
    # every plan reads the gram arrays 2-4x (df counts + both join
    # sides + the prefix verify): persist the ONE per-doc array frame
    # so the string shingle build runs once, not per consumer (held
    # until the next call, cache.py; spill-safe MEMORY_AND_DISK
    # default).  cache=None (default) is adaptive on the SAME
    # driver-side partition gate: small inputs
    # persist, corpus-scale inputs don't — the gram arrays are ~w x
    # the raw text, and force-materializing that to memory+disk at
    # 100 TB is worse than recomputing the build per consumer.
    if cache is None:
        cache = small
    if cache:
        base = _gram_cache.hold(base.persist())

    grams = base.select("__id", "__n", F.explode("__g").alias("__gram"))
    dfc = grams.groupBy("__gram").agg(F.count("*").alias("__df"))

    if method == "index":
        # df=1 grams never intersect anything: pruning them is exact
        # and removes the (dominant) unique-gram tail from the join
        g2 = grams.join(dfc.filter(F.col("__df") >= 2), "__gram").select(
            "__id", "__n", "__gram"
        )
        a, b = g2.alias("a"), g2.alias("b")
        # size-compatibility prune (AllPairs family): J >= t forces
        # min(n) >= t*max(n), so pairs outside the length band can
        # never clear the final threshold filter — dropping them AT THE
        # JOIN removes their pair rows from the count shuffle.
        # Lossless: the tiny slack only ADMITS borderline integer
        # ratios, never drops one.
        eps = F.lit(1e-9)
        t = F.lit(threshold)
        pairs = (
            a.join(
                b,
                (F.col("a.__gram") == F.col("b.__gram"))
                & (F.col("a.__id") < F.col("b.__id"))
                & (F.col("a.__n") >= t * F.col("b.__n") - eps)
                & (F.col("b.__n") >= t * F.col("a.__n") - eps),
            )
            .groupBy(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
            .agg(
                F.count("*").alias("__i"),
                # __n is constant per id; max() just satisfies the agg
                F.max("a.__n").alias("__na"),
                F.max("b.__n").alias("__nb"),
            )
        )
        return _finish(pairs, threshold)

    # method == "prefix"
    # global order = (df asc, gram asc); per-doc sorted gram list is a
    # bounded per-key agg (a doc's grams ~ its word count), then the
    # prefix slice: p = n - floor(t*n) + 1, clamped to [1, n]
    ordered = grams.join(dfc, "__gram").groupBy("__id", "__n").agg(
        F.array_sort(F.collect_list(F.struct("__df", "__gram"))).alias("__o")
    )
    p = F.greatest(
        F.lit(1),
        (F.col("__n") - F.floor(F.lit(threshold) * F.col("__n")) + 1).cast(
            "int"
        ),
    )
    prefix = ordered.select(
        "__id", F.explode(F.slice("__o", F.lit(1), p)).alias("__s")
    ).select("__id", F.col("__s.__gram").alias("__gram"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__gram") == F.col("b.__gram"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    # exact verify: full gram arrays travel only for candidate docs
    ga = base.select(
        F.col("__id").alias("id_a"),
        F.col("__g").alias("__ga"),
        F.col("__n").alias("__na"),
    )
    gb = base.select(
        F.col("__id").alias("id_b"),
        F.col("__g").alias("__gb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("__i", F.size(F.array_intersect("__ga", "__gb")))
    )
    return _finish(pairs, threshold)
