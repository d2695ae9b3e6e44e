"""Resumable sketch builds via per-lineage checkpoints.

The unit of work is a *lineage*: a deterministic hash bucket of the
input, ``lineage_id = pmod(xxhash64(key), n_lineage)``.  Stage 1
computes one partial state per (input task x lineage) with a map-side
combine and merges per lineage (the grouped builds' keyed merge) — raw
rows never shuffle.  Each completed lineage is appended to the
checkpoint ledger as a parquet row carrying its state, item count and
build/merge metrics.  A resumed run reads the ledger, recomputes only
the missing lineage ids, and appends them.  The final sketch is the
merge of all ledger states.

Stage 1 is the grouped builds' keyed body (``aggregate._keyed_states``)
with the lineage id as the key, on the engine the frame's plan picks:
over a bare parquet scan (``direct._scan_files`` admits the value column
and the lineage key) the direct engine computes the ids
(``_lineage_codes``) and drops completed lineages inside the scan
tasks; otherwise the JVM computes them behind a codegen'd filter.  Both
hash the key the same way, so a ledger started on either resumes on the
other.

Determinism matters: KLL compaction coins are seeded per sketch seed,
so a recomputed lineage reproduces the state bit-identically
(SURVEY.md §7.4).
"""

from __future__ import annotations

import time
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib import serde
from sketchlib.spark.aggregate import (
    _PARTIAL_SCHEMA,
    KIND_DOUBLE,
    KIND_HASH64,
    _grouped_partials,
    _keyed_merge,
)
from sketchlib.spark.direct import _keyed_partials, _scan_files, _xxhash64

LEDGER_SCHEMA = (
    "lineage_id bigint, sketch_kind string, state binary, n_updates bigint, "
    "build_secs double, n_merges bigint, wall_ts double"
)

# read errors that mean no ledger was written yet: no directory, or an
# empty one
_NO_LEDGER = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def completed_lineages(spark: SparkSession, path: str) -> set[int]:
    """The lineage ids in the ledger at ``path``, read once; empty when
    there is no ledger yet.  Any other read error propagates rather
    than silently rebuilding every lineage."""
    try:
        rows = spark.read.parquet(path).select("lineage_id").distinct().collect()
    except AnalysisException as exc:
        if exc.getCondition() not in _NO_LEDGER:
            raise
        return set()
    return {r["lineage_id"] for r in rows}


def _lineage_codes(n_lineage: int, done):
    """The direct build's codes: per row the lineage id
    ``pmod(xxhash64(key), n_lineage)``, by the numpy XXH64 that is
    bit-equal to ``F.xxhash64`` for the key's read type, so a ledger
    started on either engine resumes on the other.  A NULL key (every
    row of a file without the key column) hashes to ``F.xxhash64``'s
    seed 42, as on the JVM path; the ``done`` lineages get code -1."""
    ids = pa.record_batch({"lineage_id": pa.array(range(n_lineage), pa.int64())})

    def codes_of(kb: pa.RecordBatch):
        karr = kb.column(0)
        h = np.full(len(karr), 42, dtype=np.int64)
        h[np.asarray(karr.is_valid())] = _xxhash64(karr.drop_null()).view(np.int64)
        lin = h % np.int64(n_lineage)  # numpy % by a positive divisor: pmod
        lin[np.isin(lin, list(done))] = -1
        return lin, ids

    return codes_of


def _partials(df, col, factory, lineage_col, kind, n_lineage, done):
    """Stage 1 over the lineages not in ``done``: DataFrame[lineage_id
    bigint, state binary, items long, build_secs double], on the direct
    engine when ``df`` is a bare parquet scan of both columns, else on
    the JVM path."""
    scan = _scan_files(df, [(col, kind), (lineage_col, KIND_HASH64)])
    if scan is not None:
        return _keyed_partials(
            df.sparkSession, scan, [lineage_col], _lineage_codes(n_lineage, done),
            col, factory, kind, f"lineage_id bigint, {_PARTIAL_SCHEMA}",
        )
    lineage_expr = F.pmod(F.xxhash64(F.col(lineage_col)), F.lit(n_lineage))
    work = df.withColumn("lineage_id", lineage_expr.cast("bigint"))
    if done:
        work = work.filter(~F.col("lineage_id").isin(*done))
    return _grouped_partials(work, ["lineage_id"], col, factory, kind)


def run_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    factory: Callable[[], object],
    checkpoint_dir: str,
    lineage_col: str,
    kind: str = KIND_DOUBLE,
    sketch_kind: str = "sketch",
    n_lineage: int = 64,
    resume: bool = True,
):
    """Build (or resume) a sketch over ``df[col]``; returns
    (final_sketch, metrics_dict).  The keyed merge reduces the partials
    to one ledger row per lineage (the ledger dedupe keeps one row per
    lineage, so unmerged partials would drop every other task's
    contribution), appended to the ledger."""
    done = completed_lineages(spark, checkpoint_dir) if resume else set()
    remaining = sorted(set(range(n_lineage)) - done)
    t0 = time.monotonic()
    if remaining:
        partials = _partials(df, col, factory, lineage_col, kind, n_lineage, done)
        states = _keyed_merge(partials, ["lineage_id"])
        ledger_rows = states.select(
            F.col("lineage_id").cast("bigint"),
            F.lit(sketch_kind).alias("sketch_kind"),
            F.col("state"),
            F.col("items").alias("n_updates"),
            F.col("build_secs"),
            F.lit(1).cast("bigint").alias("n_merges"),
            F.lit(time.time()).alias("wall_ts"),
        )
        # resume=False must not stack a second copy of every lineage on
        # top of an existing ledger (the final merge would double-count)
        mode = "append" if resume else "overwrite"
        ledger_rows.write.mode(mode).parquet(checkpoint_dir)
    build_wall = time.monotonic() - t0
    return _finalize_ledger(spark, checkpoint_dir, len(remaining), build_wall)


def _finalize_ledger(
    spark: SparkSession, checkpoint_dir: str, recomputed: int,
    build_wall: float,
):
    """Final merge over the complete ledger.  Keep exactly one row per
    lineage (latest wall_ts): a duplicate append — e.g. two runs
    resuming one ledger at once — must not double-count (recomputes are
    bit-identical, so any copy is valid)."""
    t_merge = time.monotonic()
    from pyspark.sql import Window

    newest = Window.partitionBy("lineage_id").orderBy(F.desc("wall_ts"))
    ledger = (
        spark.read.parquet(checkpoint_dir)
        .withColumn("_rn", F.row_number().over(newest))
        .filter(F.col("_rn") == 1)
    )
    rows = ledger.select("state", "n_updates", "build_secs").collect()
    if not rows:
        return None, {"lineages": 0, "n_updates": 0}
    acc = serde.merge_sketches(r["state"] for r in rows)
    metrics = {
        "lineages_total": len(rows),
        "lineages_recomputed": recomputed,
        "lineages_resumed": len(rows) - recomputed,
        "n_updates": int(sum(r["n_updates"] for r in rows)),
        "build_secs_sum": float(sum(r["build_secs"] for r in rows)),
        # wall time of the (re)build+ledger-write phase vs the final
        # ledger-read+state-merge phase (the latter previously started
        # its clock before the build and so reported build+merge)
        "build_wall_secs": build_wall,
        "final_merge_secs": time.monotonic() - t_merge,
        "n_final_merges": len(rows) - 1,
    }
    return acc, metrics
