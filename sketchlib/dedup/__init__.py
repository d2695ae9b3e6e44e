"""Deduplication for training-data pipelines: exact (hash-groupBy),
MinHash+LSH and SimHash near-dup, n-gram Jaccard verification, and
embedding-cosine near-dup (sketchlib.similarity)."""

from sketchlib.dedup.decontaminate import decontaminate
from sketchlib.dedup.exact import exact_duplicate_groups
from sketchlib.dedup.incremental import (
    build_seen_state,
    filter_unseen,
    ingest_batch,
)
from sketchlib.dedup.minhash import (
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
)
from sketchlib.dedup.ngram import ngram_jaccard_pairs
from sketchlib.dedup.spans import remove_duplicate_spans
from sketchlib.dedup.simhash import simhash_near_duplicates, simhash_signatures
from sketchlib.text.grams import word_shingles

__all__ = [
    "exact_duplicate_groups",
    "decontaminate",
    "word_shingles",
    "build_seen_state",
    "filter_unseen",
    "ingest_batch",
    "ngram_jaccard_pairs",
    "remove_duplicate_spans",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "exact_jaccard_pairs",
    "minhash_near_duplicates",
    "simhash_signatures",
    "simhash_near_duplicates",
]
