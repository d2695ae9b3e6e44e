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

Stage 1 picks its engine from the frame's plan, as
``aggregate.sketch_columns`` does: over a bare parquet scan
(``direct._scan_files`` admits the value column and the lineage key)
it is the direct lineage kernel, which drops completed lineages inside
the scan tasks; otherwise it is the JVM path's grouped stage behind a
codegen'd filter on the lineage expression.  Both engines hash the key
the same way, so a ledger started on either resumes on the other.

Determinism matters: KLL compaction coins are seeded per sketch seed,
so a recomputed lineage reproduces the state bit-identically
(SURVEY.md §7.4).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib import serde
from sketchlib.spark.aggregate import (
    KIND_DOUBLE,
    KIND_HASH64,
    _grouped_partials,
    _keyed_merge,
)
from sketchlib.spark.direct import _lineage_partials, _scan_files

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


def _partials(df, col, factory, lineage_col, kind, n_lineage, done):
    """Stage 1 over the lineages not in ``done``: DataFrame[lineage_id
    bigint, state binary, items long, build_secs double], on the direct
    lineage kernel when ``df`` is a bare parquet scan of both columns,
    else on the JVM path."""
    scan = _scan_files(df, [(col, kind), (lineage_col, KIND_HASH64)])
    if scan is not None:
        files, tasks, types = scan
        return _lineage_partials(
            df.sparkSession, files, tasks, types, lineage_col, col, factory,
            kind, n_lineage, done,
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
