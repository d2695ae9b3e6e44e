"""Exact duplicate-passage removal — substring-granularity dedup in
the Lee et al. 2021 ("Deduplicating Training Data Makes Language
Models Better") family: any word span of length ``w`` that occurs
MORE THAN ONCE in the corpus (across documents or repeated within
one) is removed from every document, leaving the unique remainder.
Document-level dedup (exact.py / minhash.py / ngram.py) misses
boilerplate passages embedded in otherwise-distinct pages; this
operator is the standard remedy.

Semantics (exact, engine-reproducible — the gate verifies the
rebuilt TEXT byte-for-byte against a pure-SQL DuckDB oracle):

1. every position ``p`` starts a ``w``-word gram; the corpus-wide
   occurrence count of a gram counts every (doc, position) instance,
   so a passage repeated twice inside ONE document is duplicated;
2. an occurrence of a gram with count >= 2 covers positions
   ``[p, p+w-1]``; covered positions are removed (overlapping
   duplicated spans merge naturally via the position-set union);
3. the output text is the uncovered words joined in original order
   (possibly empty — e.g. an exact full-document copy is scrubbed to
   ''), plus ``n_removed``.

Plan (pure Catalyst, no Python rows): grams via
``sketchlib/text/grams.py`` (the one gram convention) + posexplode;
ONE groupBy(gram) for the global counts (map-side partial agg;
``hash_grams`` narrows the shuffle rows to 8-byte hashes at the
G(G-1)/2^65 expected collisions stated in ``grams.py``); duplicated
occurrences explode to at most ``w`` covered positions each; a
left_anti join on (doc, position) keeps the survivors; per-doc
reassembly is the materialize_packed collect/sort/transform pattern —
every per-key group is bounded by that document's word count, so no
stage concentrates unbounded rows.

Contracts: ``id_col`` must be unique and non-NULL per document —
it keys the position join and the rebuild (NULL-id rows are dropped,
same as ngram.py; duplicate ids would merge documents).  Documents
shorter than ``w`` words have no grams and pass through verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib.spark.cache import SingleSlotCache
from sketchlib.text.grams import grams, token_type

#: the latest call's persisted text frame (one-slot contract, cache.py)
_text_cache = SingleSlotCache()


def remove_duplicate_spans(
    docs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
    min_count: int = 2,
    hash_grams: bool = False,
    cache: bool | None = None,
    tokens: bool = False,
) -> DataFrame:
    """Rewrite ``col`` with every duplicated ``w``-word span removed.
    Output: all non-NULL-id input rows as (``id_col``, ``col``,
    ``n_removed`` long); rows keep their id even when scrubbed empty.
    ``min_count`` is the occurrence threshold that convicts a span
    (default 2 = "appears anywhere else").

    ``tokens=True`` operates directly on a TOKEN-ARRAY column (the
    pre-tokenized training-sequence shape): spans are ``w``-token
    windows, the rebuilt column is the surviving token array in
    original order, and the plan is identical except there is no
    whitespace split — semantics match the text mode exactly on a
    rendering whose elements contain no spaces (tests assert
    tokens-mode == text-mode on space-joined int arrays; a
    space-bearing array<string> column renders to different word
    boundaries and voids that equivalence, not the op's own
    semantics)."""
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    from sketchlib.spark.api import SPREAD_CACHE_MIN_PARTITIONS, _spread

    # spread the raw docs before the split/gram build when the source
    # plans narrow, and take the driver-side small-input verdict for
    # the cache gate below
    docs, planned = _spread(docs, id_col)
    small = planned <= SPREAD_CACHE_MIN_PARTITIONS
    if tokens:
        # NULL array behaves as [] — same explicit default as text ''
        elem = token_type(docs, col).simpleString()
        empty_arr = F.expr("array()").cast(elem)
        d = docs.na.drop(subset=[id_col]).select(
            F.col(id_col).alias("__id"),
            F.coalesce(F.col(col), empty_arr).alias("__toks"),
        )
    else:
        d = docs.na.drop(subset=[id_col]).select(
            F.col(id_col).alias("__id"),
            # NULL text behaves as '' (explicit, not via
            # null-propagating split/size which would yield NULL
            # n_removed)
            F.coalesce(F.col(col), F.lit("")).alias("__text"),
        )
    sh = grams(
        d, "__toks" if tokens else "__text", w, tokens=tokens, hashed=hash_grams
    )
    # four consumers read this lineage (gram counts, dup probe, word
    # positions, the final rejoin): persist the ONE raw-text frame so
    # the source scans collapse to one (the gram build itself runs
    # twice from the cached text, but post-spread that is parallel
    # and CPU-cheap next to re-scanning).  cache=None is adaptive on
    # the partition gate like ngram.py: corpus-scale inputs skip the
    # corpus-sized persist and recompute instead.
    if cache is None:
        cache = small
    if cache:
        d = _text_cache.hold(d.persist())

    # (doc, 0-based start position, gram) for every full window
    occ = d.select(
        "__id", F.posexplode(sh).alias("__p", "__g")
    )
    cnt = occ.groupBy("__g").agg(F.count("*").alias("__c"))
    dup = occ.join(cnt.filter(F.col("__c") >= min_count), "__g").select(
        "__id", "__p"
    )
    # covered word positions (<= w rows per duplicated occurrence)
    cov = dup.select(
        "__id",
        F.explode(F.sequence(F.col("__p"), F.col("__p") + (w - 1))).alias(
            "__p"
        ),
    ).distinct()

    words = d.select(
        "__id",
        F.posexplode(
            F.col("__toks") if tokens else F.split("__text", " ")
        ).alias("__p", "__w"),
    )
    kept = words.join(cov, ["__id", "__p"], "left_anti")
    # bounded per-doc reassembly (collect/sort/transform, the
    # materialize_packed pattern); docs scrubbed to nothing drop out
    # of the groupBy and are restored by the left join below
    sorted_kept = F.transform(
        F.array_sort(F.collect_list(F.struct("__p", "__w"))),
        lambda s: s["__w"],
    )
    rebuilt = kept.groupBy("__id").agg(
        (
            sorted_kept if tokens else F.array_join(sorted_kept, " ")
        ).alias("__clean"),
        F.count("*").alias("__n_kept"),
    )
    if tokens:
        n_words = F.size("__toks")
        empty = empty_arr
    else:
        n_words = F.size(F.split("__text", " "))
        empty = F.lit("")
    out = (
        d.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("__clean", empty).alias(col),
            (n_words - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
    return out
