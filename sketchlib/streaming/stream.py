"""Streaming sketch maintenance.

Two idiomatic shapes:

* ``run_streaming_sketch`` — a *global* sketch over a stream via
  ``foreachBatch``: each micro-batch runs the same partial/tree-merge
  plan as the batch path (the batch DataFrame inside foreachBatch is a
  plain DataFrame), then merges into a persisted state ledger keyed by
  ``batch_id``.  Re-delivered batches overwrite their own ledger row
  (idempotent), giving exactly-once state maintenance on top of the
  sink's at-least-once contract — the standard recipe for custom
  Python aggregation state.
* ``streaming_grouped_sketch`` — *per-key* sketches via
  ``applyInPandasWithState``: sketch bytes are the GroupState, updated
  with vectorized numpy per micro-batch, emitting (key, count,
  quantile estimates) rows each trigger.  This is the
  custom-stateful-operator path (watermark/timeout semantics come from
  the engine).

Both reuse the serialized-sketch state model, so a streaming job's
state interoperates with batch-built sketches (same merge).
"""

from __future__ import annotations

import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sketchlib import serde
from sketchlib.spark.aggregate import KIND_DOUBLE, sketch_column
from sketchlib.spark.session import local_frame


def _ledger_merge(spark, ledger_dir: str):
    """Fold every per-batch state under ``ledger_dir`` into one sketch
    with ``serde.merge_sketches``, the batch path's driver fold and
    order; None when the ledger is absent or empty."""
    try:
        rows = spark.read.parquet(ledger_dir).collect()
    except Exception:
        return None
    return serde.merge_sketches(r["state"] for r in rows)


def run_streaming_sketch(
    stream_df: DataFrame,
    col: str,
    factory: Callable[[], object],
    ledger_dir: str,
    checkpoint_dir: str,
    kind: str = KIND_DOUBLE,
    query_name: str = "sketch-stream",
):
    """Start a streaming query maintaining a global sketch.

    Returns the StreamingQuery; read the current sketch at any time
    with ``current_sketch(spark, ledger_dir)``."""
    spark = stream_df.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = sketch_column(batch_df, col, factory, kind)
        if sk is None:
            return
        row = [(int(batch_id), sk.to_bytes(), int(sk.count if hasattr(sk, "count") else 0))]
        bdf = local_frame(
            batch_df.sparkSession, row, "batch_id bigint, state binary, items bigint"
        )
        # idempotent per-batch overwrite -> exactly-once state
        bdf.write.mode("overwrite").parquet(
            os.path.join(ledger_dir, f"batch_id={int(batch_id)}")
        )

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )


def current_sketch(spark, ledger_dir: str):
    """Materialize the current global sketch from the ledger."""
    try:
        sub = [
            os.path.join(ledger_dir, d)
            for d in os.listdir(ledger_dir)
            if d.startswith("batch_id=")
        ]
    except FileNotFoundError:
        return None
    if not sub:
        return None
    acc = None
    for d in sorted(sub):
        sk = _ledger_merge(spark, d)
        if sk is None:
            continue
        acc = sk if acc is None else acc.merge(sk)
    return acc


def streaming_windowed_quantiles(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    factory: Callable[[], object],
    window_duration: str = "10 seconds",
    watermark_delay: str = "10 seconds",
    quantiles: tuple = (0.5, 0.99),
    key_col: str | None = None,
):
    """Event-time tumbling-window sketches with watermark finalization.

    The stream is watermarked on ``ts_col``; each (window) group keeps
    a serialized sketch as GroupState, absorbing rows vectorized per
    micro-batch.  A window emits exactly one FINAL row (append
    semantics) when the event-time watermark passes its end — the
    timeout timestamp is the window end, so late rows beyond the
    watermark can never change an emitted result (the engine drops
    them before the state function).

    Returns a streaming DataFrame
    [window_start, window_end, items, q0..qN]."""
    qs = [float(q) for q in quantiles]
    qcols = ", ".join(f"q{i} double" for i in range(len(qs)))
    key_prefix = f"{key_col} string, " if key_col else ""
    out_schema = (
        f"{key_prefix}window_start timestamp, window_end timestamp, "
        f"items bigint, {qcols}"
    )
    state_schema = "state binary, items bigint"

    extra = [key_col] if key_col else []
    wm = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .withColumn("win", F.window(F.col(ts_col), window_duration))
        .select("win", value_col, *extra)  # exactly one event-time column
    )
    keyed = wm.groupBy("win", *extra)

    def update(key, pdfs, state: GroupState):
        import numpy as np

        win = key[0]  # window struct arrives as {'start':..., 'end':...}
        if isinstance(win, dict):
            win_start, win_end = pd.Timestamp(win["start"]), pd.Timestamp(win["end"])
        else:
            win_start, win_end = pd.Timestamp(win[0]), pd.Timestamp(win[1])
        if state.hasTimedOut:
            blob, items = state.get
            sk = serde.from_bytes(bytes(blob))
            ests = [float(np.atleast_1d(sk.value_at_quantile(q))[0]) for q in qs]
            state.remove()
            out = {
                "window_start": [win_start],
                "window_end": [win_end],
                "items": [items],
                **{f"q{i}": [e] for i, e in enumerate(ests)},
            }
            if key_col:
                out = {key_col: [key[1]], **out}
            yield pd.DataFrame(out)
            return
        win_end_ms = int(win_end.timestamp() * 1000)
        wm_ms = state.getCurrentWatermarkMs()
        if win_end_ms <= wm_ms:
            # the window is already past the watermark: any incoming
            # rows are late and must not change the final result.
            for _ in pdfs:
                pass
            if state.exists:
                # keep the pending finalization (fires next trigger)
                state.setTimeoutTimestamp(wm_ms + 1)
            return
        if state.exists:
            blob, items = state.get
            sk = serde.from_bytes(bytes(blob))
        else:
            sk = factory()
            items = 0
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                sk.add_buffer(vals)
                items += int(vals.size)
        state.update((sk.to_bytes(), items))
        # finalize when the event-time watermark passes the window end
        state.setTimeoutTimestamp(
            max(win_end_ms, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # pragma: no cover — make this a generator

    return keyed.applyInPandasWithState(
        update, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_grouped_sketch(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    factory: Callable[[], object],
    quantiles: tuple = (0.5, 0.99),
):
    """Per-key streaming sketches via applyInPandasWithState.

    Returns a streaming DataFrame[key, items, q..., v...] emitting the
    per-key estimate after each trigger."""
    qs = [float(q) for q in quantiles]
    qcols = ", ".join(f"q{i} double" for i in range(len(qs)))
    out_schema = f"{key_col} string, items bigint, {qcols}"
    state_schema = "state binary, items bigint"

    def update(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            blob, items = state.get
            sk = serde.from_bytes(bytes(blob))
        else:
            sk = factory()
            items = 0
        for pdf in pdfs:
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                sk.add_buffer(vals)
                items += int(vals.size)
        state.update((sk.to_bytes(), items))
        ests = [float(np.atleast_1d(sk.value_at_quantile(q))[0]) for q in qs]
        yield pd.DataFrame(
            {key_col: [key[0]], "items": [items],
             **{f"q{i}": [e] for i, e in enumerate(ests)}}
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_dedup_exact(
    stream: DataFrame,
    key_cols: list[str],
    event_time_col: str | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication: emit only the FIRST record seen
    per key tuple — the streaming face of ``dedup/exact.py``.

    With ``event_time_col`` the state is WATERMARKED via
    ``dropDuplicatesWithinWatermark(key_cols)``: the key ALONE is the
    dedup identity — duplicates with DIFFERING event times inside the
    ``delay`` horizon are still suppressed — and a key's state entry
    is dropped once the watermark passes its event time + ``delay``,
    so state stays bounded on an unbounded stream (late duplicates
    beyond the delay can re-emit — the standard trade).  Without a
    watermark, plain ``dropDuplicates(key_cols)``: state grows with
    distinct keys, acceptable only for bounded key domains.  Either
    way the state-store shuffle partitions by key hash, so skewed
    duplicate floods land on one task's STATE only as one entry per
    key (values are not buffered).

    Returns a streaming DataFrame; attach any sink (the tests use a
    memory sink).  Citation: the reference has no streaming layer
    (SURVEY §2.7); semantics mirror dedup_exact's keep-first rule."""
    if event_time_col is not None:
        # dropDuplicatesWithinWatermark (Spark 3.5+): dedup on the key
        # alone, state expired by watermark — late duplicates within
        # `delay` are caught even with differing event times
        return stream.withWatermark(
            event_time_col, delay
        ).dropDuplicatesWithinWatermark(key_cols)
    return stream.dropDuplicates(key_cols)
