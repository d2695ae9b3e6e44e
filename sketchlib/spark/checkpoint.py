"""Resumable sketch builds via per-lineage checkpoints.

The unit of work is a *lineage*: a deterministic hash bucket of the
input, ``lineage_id = pmod(xxhash64(key), n_lineage)``.  Stage 1
computes one partial state per (input partition x lineage) with a
map-side combine and merges per lineage (the grouped builds' keyed
merge) — raw rows never shuffle.  Each completed lineage is appended
to the checkpoint ledger as a parquet row carrying its state, item
count and build/merge metrics.  A resumed run reads the ledger,
recomputes only the missing lineage ids (a codegen'd filter on the
same hash expression — no bookkeeping join), and appends them.  The
final sketch is the merge of all ledger states.

Determinism matters: KLL compaction coins are seeded per sketch seed,
so a recomputed lineage reproduces the state bit-identically
(SURVEY.md §7.4).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib import serde
from sketchlib.spark.aggregate import KIND_DOUBLE, _grouped_partials, _keyed_merge

LEDGER_SCHEMA = (
    "lineage_id bigint, sketch_kind string, state binary, n_updates bigint, "
    "build_secs double, n_merges bigint, wall_ts double"
)


def _ledger_exists(spark: SparkSession, path: str) -> bool:
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except Exception:
        return False


def completed_lineages(spark: SparkSession, path: str) -> set[int]:
    if not _ledger_exists(spark, path):
        return set()
    rows = spark.read.parquet(path).select("lineage_id").distinct().collect()
    return {r["lineage_id"] for r in rows}


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
    (final_sketch, metrics_dict)."""
    lineage_expr = F.pmod(F.xxhash64(F.col(lineage_col)), F.lit(n_lineage))

    def partials(done):
        work = df.withColumn("lineage_id", lineage_expr.cast("bigint"))
        if done:
            work = work.filter(~F.col("lineage_id").isin(*done))
        return _grouped_partials(work, ["lineage_id"], col, factory, kind)

    return _checkpointed(
        spark, checkpoint_dir, sketch_kind, n_lineage, resume, partials
    )


def _checkpointed(spark, checkpoint_dir, sketch_kind, n_lineage, resume, partials):
    """The resumable build of both paths: ``partials(done)`` gives the
    per-(task, lineage) states of the lineages not in ``done``; the
    keyed merge reduces them to one ledger row per lineage (the ledger
    dedupe keeps one row per lineage, so unmerged partials would drop
    every other task's contribution), appended to the ledger."""
    done = completed_lineages(spark, checkpoint_dir) if resume else set()
    remaining = sorted(set(range(n_lineage)) - done)
    t0 = time.monotonic()
    if remaining:
        states = _keyed_merge(partials(done), ["lineage_id"])
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
    """Final merge over the complete ledger (shared by the JVM and
    direct build paths).  Keep exactly one row per lineage (latest
    wall_ts): a duplicate append — e.g. a transient read error in
    _ledger_exists forcing a full recompute — must not double-count
    (recomputes are bit-identical, so any copy is valid)."""
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


def run_checkpointed_direct(
    spark: SparkSession,
    path: str,
    col: str,
    factory: Callable[[], object],
    checkpoint_dir: str,
    lineage_col: str,
    kind: str = KIND_DOUBLE,
    sketch_kind: str = "sketch",
    n_lineage: int = 64,
    resume: bool = True,
    files: list[str] | None = None,
):
    """``run_checkpointed`` over the DIRECT pyarrow scan: lineage ids
    are ``pmod(xxhash64(key), n)`` computed with the numpy XXH64 that
    is bit-equal to Spark's, so the ledger is INTERCHANGEABLE with the
    JVM path's — a job started on either engine resumes on the other,
    recomputing exactly the same missing lineage ids.  Completed
    lineages are dropped inside the scan tasks (never re-fed); the
    ledger write/dedupe/final-merge logic is shared."""
    from sketchlib.spark.direct import build_lineage_partials_direct

    return _checkpointed(
        spark, checkpoint_dir, sketch_kind, n_lineage, resume,
        lambda done: build_lineage_partials_direct(
            spark, path, lineage_col, col, factory, kind=kind,
            n_lineage=n_lineage, files=files, skip_lineages=done or None,
        ),
    )
