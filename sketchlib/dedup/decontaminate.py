"""Benchmark decontamination: drop training documents that share
word n-gram shingles with an evaluation corpus (the standard guard
against test-set leakage in pretraining data).  Shingles are the
grams of ``sketchlib/text/grams.py``, the one gram convention.

Two methods, one semantics knob (``threshold`` = how many shared
shingles convict a document):

* ``method="exact"``: literal string shingles built in Catalyst
  (``transform(sequence(...), i -> array_join(slice(words, i+1, w)))``,
  no Python), distinct eval shingles joined against the exploded train
  shingles, conviction on the count of DISTINCT shared shingles.  With
  the default ``broadcast_eval=True`` the (small, benchmark-sized)
  eval shingle set broadcasts and the train side never enters a join
  shuffle; only the matched subset shuffles for the per-doc count.
  ``broadcast_eval=False`` (for an unusually large eval set that would
  blow the broadcast limit) reverts to a shingle-keyed shuffle join
  that AQE can skew-split.  Deterministic and engine-reproducible —
  the gate query verifies it against a pure-SQL DuckDB oracle.
* ``method="bloom"``: the eval shingle set is folded into a Bloom
  filter (our core/bloom.py, built distributed) that ships broadcast
  into a vectorized Arrow probe over the train side — ZERO shuffle on
  the train corpus, the 100-TB path.  Bloom false positives and
  instance (not distinct) counting both err toward REMOVING a doc,
  never toward leaking one: no false negatives means every truly
  contaminated doc above threshold is caught.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib.core.bloom import BloomFilter
from sketchlib.text.grams import grams


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    shingle_w: int = 5,
    threshold: int = 1,
    method: str = "exact",
    fpr: float = 1e-6,
    return_contaminated: bool = False,
    broadcast_eval: bool = True,
    tokens: bool = False,
) -> DataFrame:
    """Return the rows of ``train`` sharing fewer than ``threshold``
    ``shingle_w``-word shingles with ``eval_df`` (or only the
    contaminated rows with ``return_contaminated=True``).  Documents
    shorter than ``shingle_w`` words have no shingles and always
    survive.

    ``tokens=True`` decontaminates directly on TOKEN-ARRAY columns
    (the pre-tokenized training-sequence shape): shingles are
    ``shingle_w``-token windows of both sides' arrays — no whitespace
    split, no rendering round-trip.  Both columns must be arrays of
    the same element type."""
    if threshold < 1:
        raise ValueError(f"threshold must be >= 1, got {threshold}")
    if method not in ("exact", "bloom"):
        raise ValueError(f"unknown method {method!r}")
    sh = grams(train, col, shingle_w, tokens=tokens)
    dt_t, dt_e = (d.schema[col].dataType.simpleString() for d in (train, eval_df))
    if tokens and dt_t != dt_e:
        raise ValueError(
            f"token element types differ: train {dt_t} vs eval {dt_e} — "
            "shingle equality would silently never match"
        )
    ev = eval_df.select(F.explode(sh).alias("__sh")).distinct()
    if method == "exact":
        tr = train.select(
            F.col(id_col).alias("__did"), F.explode(sh).alias("__sh")
        )
        # eval corpora are small by the nature of the op (benchmarks):
        # broadcasting the distinct eval shingles keeps the (huge)
        # exploded train side out of the join shuffle entirely; pass
        # broadcast_eval=False for an unusually large eval set and let
        # AQE pick the strategy
        ev_side = F.broadcast(ev) if broadcast_eval else ev
        bad = (
            tr.join(ev_side, "__sh")
            .groupBy("__did")
            .agg(F.countDistinct("__sh").alias("__hits"))
            .filter(F.col("__hits") >= threshold)
            .select("__did")
        )
        how = "left_semi" if return_contaminated else "left_anti"
        # NULL-SAFE id match: a NULL-id doc that shares eval shingles
        # must still be removed (a plain equi-anti-join would silently
        # keep it — the exact false-negative this operator exists to
        # prevent)
        return train.join(
            bad, F.col(id_col).eqNullSafe(bad["__did"]), how
        )

    # bloom: distributed build over the (hashed) eval shingles, then a
    # broadcast vectorized probe per train row — no train-side shuffle
    from sketchlib.spark.api import build_bloom

    ev = ev.persist()  # read twice: sizing count + filter build
    try:
        n_eval = ev.count()  # eval corpora are small next to train
        bloom = build_bloom(ev, "__sh", capacity=max(n_eval, 1), fpr=fpr)
    finally:
        ev.unpersist()
    blob = bloom.to_bytes()
    cols = train.columns
    hs = grams(train, col, shingle_w, tokens=tokens, hashed=True)
    hashed = train.select(*cols, hs.alias("__hs"))

    def fn(batches):
        bf = BloomFilter.from_bytes(blob)
        for b in batches:
            la = b.column(len(cols))
            if isinstance(la, pa.ChunkedArray):  # pragma: no cover
                la = la.combine_chunks()
            offs = la.offsets.to_numpy()
            flat = la.values.to_numpy(zero_copy_only=False)
            hits_flat = bf.contains_hashes(flat).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(hits_flat)))
            per_doc = csum[offs[1:]] - csum[offs[:-1]]
            keep = per_doc < threshold
            if return_contaminated:
                keep = ~keep
            yield pa.RecordBatch.from_arrays(
                [b.column(i).filter(pa.array(keep)) for i in range(len(cols))],
                names=cols,
            )

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in train.schema.fields
    )
    return hashed.mapInArrow(fn, schema)
