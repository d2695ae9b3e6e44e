"""One-slot persisted-frame cache shared by operators whose RETURNED
plan still references an internally-persisted frame lazily.

The contract (established by tfidf_keywords, reused by overlap_matrix,
unigram_logprob, minhash_near_duplicates, exact_jaccard_pairs,
sub_split_buckets, curate, ngram_jaccard_pairs, remove_duplicate_spans
and ks_2sample): each op holds at most ONE cached internal
frame per slot — a new call releases the previous one, so loops over
corpora never accumulate session-lifetime cached frames; callers
release the final one once its consumer has been materialized (the
op's release function where it has one, else
``spark.catalog.clearCache()``).
Releasing early is always safe — an unevaluated consumer just
recomputes the frame instead of reading the cache.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


class SingleSlotCache:
    """Holds at most one persisted DataFrame; ``hold`` releases the
    previous occupant unless it shares the new one's cache (the same
    plan) and returns the new one, ``release`` unpersists and empties
    the slot; driver threads may share one (each occupant is released
    once)."""

    __slots__ = ("_df", "_lock")

    def __init__(self) -> None:
        self._df: DataFrame | None = None
        self._lock = threading.Lock()

    @property
    def held(self) -> DataFrame | None:
        """The currently-cached frame (None when the slot is empty)."""
        return self._df

    def hold(self, df: DataFrame | None) -> DataFrame | None:
        with self._lock:
            old, self._df = self._df, df
        if old is not None and not (df is not None and df.sameSemantics(old)):
            old.unpersist()
        return df

    def release(self) -> None:
        self.hold(None)
