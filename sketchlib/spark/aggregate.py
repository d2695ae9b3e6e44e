"""Partial/merge staging for sketches over DataFrames.

Three-stage plan, the distributed generalization of the reference's
``ParTDigest::flush`` (par_t_digest.rs:59-89) and ``ParallelDigest``
rank-combine (parallel_digest.rs:25-51):

  stage 1  mapInArrow over the value columns: one sketch per (input
           partition, key) — the key is the column, the group keys (a
           map-side combine Catalyst cannot plan for opaque Python
           state, SURVEY.md §4) or the lineage — updated per Arrow batch
           with numpy kernels (zero per-row Python).  Emits ``state:
           binary`` rows of bounded size (KBs), so stage-2 shuffle
           volume is ~P * sketch_size per key regardless of input.
           Over a bare parquet scan (``direct._scan_files``) every
           build reads the files on the direct engine instead; the
           keyed builds share one body, ``_keyed_states``.
  stage 2  one level loop for every build (``_merge_levels``): merge
           each key's P states (P from ``_plan_partitions``, which
           never runs the input) in ceil(P/fanout) buckets keyed by
           spark_partition_id() % buckets, then by the carried bucket
           id, until few enough rows remain.  No reducer ever sees more
           than ``fanout`` states — the explicit skew defence the north
           rule mandates (a single global groupBy would funnel every
           state into one task at 1000-executor scale).
  stage 3  per key, the driver fold (``tree_merge``) or one reducer
           emitting the merged state or its read-out (``_keyed_merge``).

The input kind fixes the hash on every build path, this module's and
the direct scan's (``_kind_domain``): KIND_HASH64 is Spark's XXH64 of
the value — ``F.xxhash64`` inside whole-stage codegen here, the
bit-equal numpy ``xxhash64_*`` in ``direct.py`` — and KIND_ARRAY_HASH
is numpy splitmix64 of each element on both paths.
"""

from __future__ import annotations

import time
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib import serde

# value-column input kinds
KIND_DOUBLE = "double"  # numeric column -> float64 stream
KIND_ARRAY = "array"  # array<numeric> column -> flattened element stream
KIND_HASH64 = "hash64"  # scalar column -> Spark's xxhash64 -> uint64 stream
KIND_ARRAY_HASH = "array_hash"  # array<int> column -> flattened, hashed in numpy

_PARTIAL_SCHEMA = "state binary, items long, build_secs double"
_TAGGED_SCHEMA = f"tag string, {_PARTIAL_SCHEMA}"

# shared per-task byte cap for bincount accumulators (many keys/columns
# in one task share it, so worker memory stays bounded regardless of
# key cardinality or per-column value ranges)
_ACC_BUDGET_BYTES = 256 << 20

# stage-2 fan-in cap: no merge reducer sees more states than this
FANOUT = 64


# --------------------------------------------------------------------- feeding


def task_partition_salt() -> int:
    """Partition-unique salt for sketches whose key streams must be
    independent across same-seed partition builders (e.g.
    ``ReservoirSample``).  Returns partitionId+1 inside a Spark task, 0
    on the driver — call this INSIDE a sketch factory, which executes
    in the worker."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() + 1 if ctx is not None else 0


def _kind_domain(kind: str) -> int:
    """Hash domain implied by the input kind (0 for value streams)."""
    from sketchlib.core import hashing

    if kind == KIND_HASH64:
        return hashing.DOMAIN_XXHASH64
    if kind == KIND_ARRAY_HASH:
        return hashing.DOMAIN_SPLITMIX64
    return 0


def _int_hash(domain: int):
    """The hash a domain applies to raw integers: Spark's XXH64 by
    column width (hashInt vs hashLong) or splitmix64."""
    from sketchlib.core import hashing

    if domain == hashing.DOMAIN_XXHASH64:
        return hashing.xxhash64_ints
    return hashing.hash_i64


class _BincountAcc:
    """Per-task pre-reduction for low-cardinality integer streams
    (token ids): accumulate ONE bincount across every batch of the
    task and feed the sketch once at the end, instead of pushing each
    batch's (value, count) pairs through the digest buffer (which
    triggered a merge-compression pass roughly per batch — ~40% of the
    token-path feed time).  Falls back (returns False) for
    non-integer values or ranges beyond MAX_RANGE (32 MB of counts),
    in which case the caller routes the batch through ``_feed``."""

    __slots__ = ("offset", "counts", "items", "budget", "src_dtype")
    MAX_RANGE = 1 << 22

    def __init__(self, budget: list | None = None):
        self.offset = None
        self.counts = None
        self.items = 0
        self.src_dtype = None  # column dtype of the first absorbed batch
        # shared mutable [remaining_bytes] so MANY accs (grouped build:
        # one per key) stay bounded in TOTAL, not just per-acc — 256
        # near-MAX_RANGE accs would otherwise be 8 GB per task
        self.budget = budget

    def _charge(self, new_size: int) -> bool:
        if self.budget is None:
            return True
        need = 8 * (new_size - (self.counts.size if self.counts is not None else 0))
        if need > self.budget[0]:
            return False
        self.budget[0] -= need
        return True

    def try_add(self, vals: np.ndarray, vmin=None, vmax=None) -> bool:
        """``vmin``/``vmax`` are optional CONSERVATIVE bounds (e.g.
        parquet row-group footer statistics): when supplied, the two
        per-batch min/max passes — as expensive as the bincount itself
        — are skipped.  Loose bounds only make the counts array grow
        to the stated range early; the accumulated counts are
        bit-identical either way."""
        if vals.size == 0:
            return True
        if not np.issubdtype(vals.dtype, np.integer):
            return False
        if vmin is None or vmax is None:
            vmin = int(vals.min())
            vmax = int(vals.max())
        else:
            vmin = int(vmin)
            vmax = int(vmax)
        if self.offset is None:
            if vmax - vmin >= self.MAX_RANGE:
                return False
            if not self._charge(vmax - vmin + 1):
                return False
            self.offset = vmin
            self.counts = np.zeros(vmax - vmin + 1, dtype=np.int64)
            self.src_dtype = vals.dtype
        elif vals.dtype != self.src_dtype:
            # schema drift across files of one column: a different
            # width must not share this accumulator — the flush hashes
            # at the SOURCE width (JVM hashInt vs hashLong differ) and
            # a narrower astype would silently wrap.  Degrade.
            return False
        # mixed-signedness guard (advisor r3): a uint64 batch against a
        # negative offset would hit np.uint64(negative) OverflowError,
        # and an int64 batch against an offset above int64 max (set by
        # an earlier huge-uint64 batch) would overflow the int64
        # subtraction — degrade those batches to the per-batch _feed
        # path instead of crashing the task
        if vals.dtype == np.uint64:
            if self.offset < 0:
                return False
        elif self.offset > np.iinfo(np.int64).max:
            return False
        lo = min(vmin, self.offset)
        hi = max(vmax + 1, self.offset + self.counts.size)
        if hi - lo > self.MAX_RANGE:
            return False  # nothing absorbed; caller feeds directly
        if lo < self.offset or hi > self.offset + self.counts.size:
            if not self._charge(hi - lo):
                return False
            grown = np.zeros(hi - lo, dtype=np.int64)
            at = self.offset - lo
            grown[at : at + self.counts.size] = self.counts
            self.offset, self.counts = lo, grown
        if vals.dtype == np.uint64:
            # values above 2^63 don't fit int64; subtract in uint64
            # space first (range < MAX_RANGE so the diff fits)
            shifted = (vals - np.uint64(self.offset)).astype(
                np.int64, copy=False
            )
        elif self.offset == 0 and vmin >= 0:
            # token-id shape (dense non-negative ids): np.bincount
            # accepts any integer dtype, so skip the int64 widening
            # copy AND the subtraction pass entirely — on the direct
            # scan path this is ~4 memory passes per token saved
            shifted = vals
        else:
            info = np.iinfo(vals.dtype)
            if (
                info.min <= self.offset
                and vmax - self.offset <= info.max
                and np.issubdtype(vals.dtype, np.signedinteger)
            ):
                # offset and shifted range fit the native SIGNED dtype:
                # one single-pass same-width subtract, no widening.
                # (Unsigned dtypes would WRAP below a corrupt
                # understated vmin hint instead of raising — widen
                # them so bincount sees the negative and the degrade
                # path catches it.)
                shifted = vals - vals.dtype.type(self.offset)
            else:
                shifted = vals.astype(np.int64, copy=False) - self.offset
        try:
            c = np.bincount(shifted)
        except ValueError:
            # a supplied bounds hint understated the minimum (corrupt
            # footer stats): nothing absorbed, caller feeds directly
            return False
        if c.size > self.counts.size:
            # a supplied bounds hint understated the maximum: ditto
            return False
        self.counts[: c.size] += c
        self.items += int(vals.size)
        return True

    def _release(self) -> None:
        if self.budget is not None and self.counts is not None:
            self.budget[0] += 8 * self.counts.size
        self.offset = None
        self.counts = None

    def flush_into(self, sk) -> int:
        """Feed the accumulated (value, count) pairs; returns items."""
        if self.counts is None:
            return 0
        nz = np.flatnonzero(self.counts)
        # float-domain reconstruction: value sketches consume float64
        # anyway, and float addition cannot overflow for huge offsets
        sk.add_weighted(
            nz.astype(np.float64) + float(self.offset),
            self.counts[nz].astype(np.float64),
        )
        n, self.items = self.items, 0
        self._release()
        return n


def _accepts_counts(sk) -> bool:
    """Does sk.add_hashes take a counts argument (CMS, SpaceSaving)?"""
    import inspect

    try:
        return "counts" in inspect.signature(sk.add_hashes).parameters
    except (TypeError, ValueError):  # pragma: no cover
        return False


def flush_hashed(acc: "_BincountAcc", sk, domain: int = 0) -> int:
    """Feed an integer-value bincount into a HASH-consuming sketch:
    hash each DISTINCT value once with the domain's integer hash and
    replay its count — token streams repeat heavily (vocab << tokens),
    so this hashes ~vocab values instead of every token.  Exactly
    equivalent: duplicates are no-ops for set-semantics sketches
    (HLL/Bloom/theta) and a (hash, count) pair for counting ones
    (CMS/SpaceSaving).  Values are restored to the SOURCE column
    dtype first, because XXH64's output depends on the column width."""
    if acc.counts is None:
        return 0
    from sketchlib.core.hashing import combine_domains

    nz = np.flatnonzero(acc.counts)
    if acc.offset >= 0 and acc.offset + acc.counts.size > np.iinfo(np.int64).max:
        # uint64 values above 2^63: reconstruct in uint64 space
        # (int64 addition would overflow / promote)
        orig = nz.astype(np.uint64) + np.uint64(acc.offset)
    else:
        orig = nz + acc.offset
    h = _int_hash(domain)(np.asarray(orig).astype(acc.src_dtype, copy=False))
    if domain and hasattr(sk, "hash_domain"):
        sk.hash_domain = combine_domains(
            sk.hash_domain, domain, type(sk).__name__
        )
    if _accepts_counts(sk):
        sk.add_hashes(h, acc.counts[nz])
    else:
        sk.add_hashes(h)
    n, acc.items = acc.items, 0
    acc._release()
    return n


class AccFeeder:
    """THE shared routing for the bincount pre-reduction (ungrouped,
    grouped, and direct builds all use this — the invariants live in
    one place): pick hash vs weighted mode from the sketch's
    capabilities, try the accumulator per batch, fall back to the
    per-batch ``_feed`` (hashing first in hash mode), and flush at the
    end of the task.  ``feed_raw`` takes RAW values — integers still
    unhashed in hash mode, hashed with the domain's integer hash."""

    __slots__ = ("sk", "hash_mode", "domain", "acc", "items")

    def __init__(self, sk, hash_mode: bool, domain: int,
                 budget: list | None = None):
        use = (
            hasattr(sk, "add_hashes")
            if hash_mode
            else hasattr(sk, "add_weighted")
        )
        self.sk = sk
        self.hash_mode = hash_mode
        self.domain = domain
        self.acc = _BincountAcc(budget) if use else None
        self.items = 0

    def feed_raw(self, vals: np.ndarray, vmin=None, vmax=None) -> None:
        if self.acc is not None and self.acc.try_add(vals, vmin, vmax):
            return
        if self.hash_mode:
            vals = _int_hash(self.domain)(vals)
        self.items += _feed(self.sk, vals, self.domain)

    def feed_hashed(self, hashes: np.ndarray) -> None:
        """Pre-hashed stream (never accumulated)."""
        self.items += _feed(self.sk, hashes, self.domain)

    def finish(self) -> int:
        """Flush the accumulator; returns TOTAL items fed."""
        if self.acc is not None:
            self.items += (
                flush_hashed(self.acc, self.sk, self.domain)
                if self.hash_mode
                else self.acc.flush_into(self.sk)
            )
        return self.items


def _feed(sk, vals: np.ndarray, domain: int = 0) -> int:
    """Route a numpy batch into a sketch; returns item count."""
    if vals.size == 0:
        return 0
    if hasattr(sk, "add_hashes") and vals.dtype == np.uint64:
        if domain and hasattr(sk, "hash_domain"):
            from sketchlib.core.hashing import combine_domains

            sk.hash_domain = combine_domains(
                sk.hash_domain, domain, type(sk).__name__
            )
        sk.add_hashes(vals)
        return int(vals.size)
    if np.issubdtype(vals.dtype, np.integer) and hasattr(sk, "add_weighted"):
        # low-cardinality integer fast path (token ids): pre-reduce via
        # bincount, feed weighted centroids — turns O(n log n) sorting
        # into O(n) counting per batch
        vmin = int(vals.min())
        vmax = int(vals.max())
        if 0 <= vmin and vmax < (1 << 22):
            # dense non-negative ids: bincount in the native dtype —
            # no widening copy, no subtraction pass.  np.bincount
            # refuses uint64 (unsafe cast): widen that one case
            if vals.dtype == np.uint64:
                vals = vals.astype(np.int64)
            counts = np.bincount(vals)
            nz = np.flatnonzero(counts)
            sk.add_weighted(nz.astype(np.float64), counts[nz].astype(np.float64))
            return int(vals.size)
        if vmax - vmin < (1 << 22):
            counts = np.bincount(vals.astype(np.int64) - vmin)
            nz = np.flatnonzero(counts)
            sk.add_weighted((nz + vmin).astype(np.float64), counts[nz].astype(np.float64))
            return int(vals.size)
    sk.add_buffer(vals.astype(np.float64, copy=False))
    return int(vals.size)


class _Raised:
    """A source exception in transit from the read-ahead thread."""

    __slots__ = ("exc",)

    def __init__(self, exc: BaseException):
        self.exc = exc


def _prefetch(it, depth: int = 4):
    """Yield ``it``'s items in order, reading ahead on a producer
    thread -- the one read-ahead thread of every stage-1 build.

    The source blocks in code that releases the GIL (worker-socket reads
    and Arrow IPC decode for a mapInArrow input; pyarrow's C++ parquet
    decode for a direct scan), so reading ahead overlaps it with the
    numpy feed work.  Order is preserved (single producer, FIFO queue)
    so sketch states are bit-identical to an inline loop; ``depth``
    bounds the buffered items.  A source exception is re-raised in the
    consumer.  When the consumer stops early (a feed error, or its own
    generator closed) the producer sees a stop flag instead of blocking
    on a full queue (no leaked thread in a reused worker), is joined,
    and then a generator source is ``close()``d so its ``with`` blocks
    (an open parquet file) exit."""
    import queue as _queue
    import threading

    q: _queue.Queue = _queue.Queue(maxsize=depth)
    stop = threading.Event()
    done = object()

    def _put(item) -> bool:
        while True:
            try:
                q.put(item, timeout=0.1)
                return True
            except _queue.Full:
                if stop.is_set():
                    return False

    def run():
        try:
            for item in it:
                if not _put(item):
                    return
            _put(done)
        except BaseException as exc:
            _put(_Raised(exc))

    th = threading.Thread(target=run, daemon=True)
    th.start()
    try:
        while True:
            item = q.get()
            if item is done:
                return
            if isinstance(item, _Raised):
                raise item.exc
            yield item
    finally:
        stop.set()
        th.join()
        close = getattr(it, "close", None)
        if close is not None:
            close()


def _batch_values(arr: pa.Array, kind: str) -> np.ndarray:
    """Extract a numpy value stream from one Arrow column batch (no
    Python rows)."""
    if kind == KIND_DOUBLE:
        if arr.null_count:
            arr = arr.drop_null()
        vals = arr.to_numpy(zero_copy_only=False)
        if vals.dtype.kind == "f" and np.isnan(vals).any():
            vals = vals[~np.isnan(vals)]  # NaNs would poison min/max
        return vals
    if kind in (KIND_ARRAY, KIND_ARRAY_HASH):  # elements left unhashed
        if arr.null_count:
            arr = arr.drop_null()
        flat = arr.flatten()  # zero-copy over list offsets
        if flat.null_count:
            flat = flat.drop_null()
        return flat.to_numpy(zero_copy_only=False)
    if kind == KIND_HASH64:
        if arr.null_count:
            arr = arr.drop_null()
        return arr.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
    raise ValueError(f"unknown input kind {kind!r}")


def _route(codes: np.ndarray, varr: pa.Array, kind: str):
    """Split one Arrow value column by per-row integer ``codes``: yields
    ``(code, vals)`` for each distinct code >= 0, ascending, with that
    code's values in row order -- the one key router of the grouped and
    lineage builds.

    One stable argsort of the codes slices every group, so per-batch
    cost is independent of the group count, and the stable order feeds
    each sketch exactly the stream a per-group scan would.  Values keep
    the column's dtype (array kinds flattened and unhashed).  Rows with
    a negative code (a null key, a skipped lineage), null rows, null
    list elements and a KIND_DOUBLE column's NaNs are dropped --
    ``_batch_values``' rule."""
    keep = codes >= 0
    if varr.null_count:
        keep &= ~np.asarray(varr.is_null())
    listy = kind in (KIND_ARRAY, KIND_ARRAY_HASH)
    if listy:
        offsets = varr.offsets.to_numpy()
        elems = varr.values
        if elems.null_count:
            # drop null elements; offsets re-point into the compacted run
            kept = np.concatenate(([0], np.cumsum(~np.asarray(elems.is_null()))))
            offsets, elems = kept[offsets], elems.drop_null()
        flat = elems.to_numpy(zero_copy_only=False)
    elif kind == KIND_DOUBLE and pa.types.is_floating(varr.type):
        keep &= ~np.isnan(varr.to_numpy(zero_copy_only=False))
    rows = np.flatnonzero(keep)
    order = np.argsort(codes[rows], kind="stable")
    svc = codes[rows][order]
    if svc.size == 0:
        return
    if listy:
        order = rows[order]
    else:
        # take the kept rows first: to_numpy would widen an integer
        # column with nulls to float64
        kept_arr = varr if rows.size == len(varr) else varr.take(rows)
        flat = kept_arr.to_numpy(zero_copy_only=False)
    edges = np.concatenate(
        ([0], np.flatnonzero(svc[1:] != svc[:-1]) + 1, [svc.size])
    ).tolist()
    for s, e in zip(edges[:-1], edges[1:]):
        sel = order[s:e]
        vals = _gather_list_slices(flat, offsets, sel) if listy else flat[sel]
        yield int(svc[s]), vals


def _gather_list_slices(
    flat: np.ndarray, offsets: np.ndarray, rows: np.ndarray
) -> np.ndarray:
    """Concatenate flat[offsets[r]:offsets[r+1]] for r in rows, vectorized."""
    starts = offsets[rows]
    lens = offsets[rows + 1] - starts
    total = int(lens.sum())
    if total == 0:
        return flat[:0]
    reps = np.repeat(starts, lens)
    base = np.repeat(np.cumsum(lens) - lens, lens)
    idx = reps + (np.arange(total) - base)
    return flat[idx]


def _value_col(col: str, kind: str):
    """The sketched column.  KIND_HASH64 hashes JVM-side, so the
    xxhash64 stays in whole-stage codegen; a NULL stays NULL (not
    ``F.xxhash64``'s seed), so ``_batch_values`` drops it as the direct
    scan does.  The projection prunes the parquet scan to the columns
    sketched."""
    if kind != KIND_HASH64:
        return F.col(col)
    return F.when(F.col(col).isNotNull(), F.xxhash64(F.col(col)))


def _partials_batch(states, items, secs: float, /, **keys) -> pa.RecordBatch:
    """One stage-1 output batch: the ``keys`` columns (in argument
    order), then ``state``/``items``/``build_secs``.  ``secs`` is the
    task time behind these rows, split evenly across them."""
    n = len(states)
    return pa.RecordBatch.from_arrays(
        [pa.array(v) for v in keys.values()]
        + [
            pa.array(states, type=pa.binary()),
            pa.array(items, type=pa.int64()),
            pa.array([secs / n] * n, type=pa.float64()),
        ],
        names=[*keys, "state", "items", "build_secs"],
    )


# --------------------------------------------------------------------- stage 1


def _tagged_partials(
    df: DataFrame, specs: dict[str, tuple[Callable[[], object], str]]
) -> DataFrame:
    """Stage 1, the one ungrouped kernel: ``specs`` maps column name ->
    (factory, kind); each input partition emits one state row per
    column it saw values of, tagged with the column name."""
    cols = list(specs)
    vdf = df.select(*(_value_col(c, specs[c][1]).alias(c) for c in cols))
    # per-task bincount pre-reduction: weighted feed for quantile
    # sketches over integer values; distinct-hash feed for hash
    # sketches over raw integer arrays (hash vocab once, not every
    # token) — both fall back per batch for floats / wide ranges
    kinds = [k for _f, k in specs.values()]

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.monotonic()
        budget = [_ACC_BUDGET_BYTES]
        feeders = [
            AccFeeder(f(), k == KIND_ARRAY_HASH, _kind_domain(k), budget)
            for f, k in specs.values()
        ]
        for b in _prefetch(batches):
            for i, feeder in enumerate(feeders):
                feeder.feed_raw(_batch_values(b.column(i), kinds[i]))
        items = [f.finish() for f in feeders]
        got = [i for i, n in enumerate(items) if n > 0]
        if not got:
            return
        yield _partials_batch(
            [feeders[i].sk.to_bytes() for i in got], [items[i] for i in got],
            time.monotonic() - t0, tag=[cols[i] for i in got],
        )

    return vdf.mapInArrow(fn, _TAGGED_SCHEMA)


def build_partials(
    df: DataFrame,
    col: str,
    factory: Callable[[], object],
    kind: str = KIND_DOUBLE,
) -> DataFrame:
    """Stage 1: one serialized partial sketch per input partition."""
    return _tagged_partials(df, {col: (factory, kind)}).drop("tag")


# --------------------------------------------------------------------- stage 2


def _plan_partitions(df: DataFrame, assume: int) -> int:
    """Planned partition count of ``df``'s output, read from the
    driver's physical plan of ``df``'s own QueryExecution (planned
    once, then kept with ``df``, so repeated probes of one frame are
    free) under the session's own conf, which this never writes.
    Falls back to ``assume`` on internal API drift.

    Under AQE the count is the root partitioning of AQE's initial
    plan (exchanges inserted, nothing run): ``toRdd()`` there would
    materialize every upstream query stage, i.e. execute the input
    pipeline once before the caller's action runs it again.  When
    that root partitioning is unknown (a scan streamed through a
    broadcast join), the count comes from the RDD of the static,
    non-adaptive plan ``QueryExecution.prepareExecutedPlan`` builds;
    building it runs only the broadcast side's job.  A plan AQE does
    not wrap (no exchange) gives its RDD's count directly, running
    nothing.

    Goes through the QueryExecution and NOT the Dataset's ``rdd``: the
    latter wraps the conversion in a listener-visible execution event
    whose observed metrics are EMPTY, and any un-fired Observation
    upstream latches that first event — silently zeroing the caller's
    metrics (found via the pipeline spec runner, where every step
    count after a shuffle_rows read 0)."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            n = plan.executedPlan().outputPartitioning().numPartitions()
            if n > 0:
                return n
            execution = df.sparkSession._jvm.org.apache.spark.sql.execution
            plan = execution.QueryExecution.prepareExecutedPlan(
                qe.sparkSession(), qe.optimizedPlan()
            )
        return plan.execute().getNumPartitions()
    except Exception:  # pragma: no cover - internal API drift
        return assume


def _plan_size_bytes(df: DataFrame, assume: int) -> int:
    """Catalyst's optimized-plan size estimate in bytes (driver-side,
    no job; for a parquet scan this is essentially the file bytes).
    Falls back to ``assume`` on internal API drift."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # pragma: no cover - internal API drift
        return assume


def _merge_states(pdf, keys=(), rows=None):
    """The stage-2 reducer: one applyInPandas group of partial rows ->
    one row carrying the group's ``keys``, the merged state and the
    summed items and build seconds; or, given ``rows``, the rows
    ``rows(merged sketch)`` returns as equal-length column lists, each
    repeating the keys."""
    import pandas as pd

    state = serde.merge_blobs(pdf["state"])
    out = rows(serde.from_bytes(state)) if rows else {
        "state": [state], "items": [int(pdf["items"].sum())],
        "build_secs": [float(pdf["build_secs"].sum())],
    }
    n = len(next(iter(out.values())))
    return pd.DataFrame({**{k: [pdf[k].iloc[0]] * n for k in keys}, **out})


def _key_schema(df: DataFrame, keys) -> str:
    """DDL of ``df``'s ``keys`` columns, each followed by a comma."""
    return "".join(f"{k} {df.schema[k].dataType.simpleString()}, " for k in keys)


def _merge_levels(df, keys, size, stop: int, fanout: int = FANOUT):
    """Stage 2's one level loop: while more than ``stop`` rows per key
    may remain, merge each key's states in ceil(size/fanout) buckets.
    Level 1 buckets on the partition id of the ``size`` partial tasks
    (None: read off ``df``'s plan, API drift planning one level);
    later levels on the carried ``__g`` bucket id, since AQE coalesces
    each level's small output into one partition."""
    if size is None:
        size = _plan_partitions(df, assume=stop + 1)
    keys = (*keys, "__g")
    bucket = F.spark_partition_id()
    while size > stop:
        size = max(-(-size // fanout), 1)
        df = df.withColumn("__g", bucket % F.lit(size))
        df = df.groupBy(*keys).applyInPandas(
            lambda pdf: _merge_states(pdf, keys),
            _key_schema(df, keys) + _PARTIAL_SCHEMA,
        )
        bucket = F.col("__g")
    return df


def _keyed_merge(partials, keys, rows=None, schema=_PARTIAL_SCHEMA):
    """Stages 2+3 of the grouped and lineage builds: the level loop
    down to ``FANOUT`` rows per key, then one ``_merge_states`` reducer
    per key: DataFrame[*keys, <schema>], the merged state or, given
    ``rows``, its read-out."""
    return _merge_levels(partials, keys, None, FANOUT).groupBy(*keys).applyInPandas(
        lambda pdf: _merge_states(pdf, keys, rows),
        _key_schema(partials, keys) + schema,
    )


def tree_merge(
    partials: DataFrame,
    fanout: int = FANOUT,
    collect_threshold: int = 256,
    size_hint: int | None = None,
):
    """Stages 2+3 of the ungrouped builds: the level loop while more
    than ``collect_threshold`` rows per tag may remain, then one
    driver-side merge per tag.  Untagged partials (``build_partials``,
    the direct scans) return the merged sketch, or None if the input
    was empty; tagged ones (a ``tag`` column, as ``sketch_columns``
    builds) return {tag: sketch} for the tags seen.

    ``collect_threshold`` trades a whole extra shuffle stage against
    driver collect volume: KB-scale states (t-digest/KLL/HLL) can skip
    the tree stage up to a few hundred partials; pass a small threshold
    for fat states (CMS/Bloom).  ``size_hint``, the partials stage's
    task count, is passed by callers that know it (a direct scan's
    ``tasks``, a probed input); else ``_plan_partitions`` reads it off
    ``partials``' plan, and API drift plans one tree level."""
    keys = ("tag",) if "tag" in partials.columns else ()
    rows = _merge_levels(
        partials, keys, size_hint, collect_threshold, fanout
    ).collect()
    if not keys:
        return serde.merge_sketches(r["state"] for r in rows)
    return {
        t: serde.merge_sketches(r["state"] for r in rows if r["tag"] == t)
        for t in {r["tag"] for r in rows}
    }


def sketch_columns(
    df: DataFrame,
    specs: dict[str, tuple[Callable[[], object], str]],
    fanout: int = FANOUT,
    collect_threshold: int = 256,
) -> dict[str, object]:
    """Build MANY sketches in ONE scan: ``specs`` maps column name ->
    (factory, kind).  Sketch builds are scan-bound, so a job computing
    e.g. n_tok quantiles + doc_id cardinality + token heavy-hitter
    counts should read the table once, not three times.  Stage 1 keeps
    one sketch per (column, partition) and emits one tagged state row
    each; ``tree_merge`` reduces each tag separately, so no reducer
    sees more than ``fanout`` states, sized by the input's planned
    partition count (``_plan_partitions``, which never runs the
    input).  Returns {column: sketch} for the columns with values.

    When ``df`` is only a parquet scan (``direct._scan_files`` decides,
    from the plan), stage 1 runs on the direct engine over its files
    instead: pyarrow decodes inside the Python worker, skipping the
    JVM decode and the Arrow handoff.  Both engines feed each kind the
    same values and hash them the same way."""
    from sketchlib.spark.direct import _direct_partials, _scan_files

    scan = _scan_files(df, [(c, k) for c, (_f, k) in specs.items()])
    if scan is None:
        size = _plan_partitions(df, assume=collect_threshold + 1)
        partials = _tagged_partials(df, specs)
    else:
        files, size, types = scan
        partials = _direct_partials(df.sparkSession, files, size, specs, types)
    return tree_merge(
        partials,
        fanout=fanout,
        collect_threshold=collect_threshold,
        size_hint=size,
    )


def sketch_column(
    df: DataFrame,
    col: str,
    factory: Callable[[], object],
    kind: str = KIND_DOUBLE,
    fanout: int = FANOUT,
    collect_threshold: int = 256,
):
    """End-to-end: ``sketch_columns`` of one column; returns the final
    sketch, or None if the column had no values."""
    return sketch_columns(
        df, {col: (factory, kind)}, fanout, collect_threshold
    ).get(col)


# --------------------------------------------------------------- grouped build


def _key_codes(kb: pa.RecordBatch):
    """The grouped builds' key codes, on both engines: per row of the
    key columns ``kb`` a code, -1 where any key is NULL (``_route``
    drops the row), and the batch whose row ``c`` holds code ``c``'s
    keys at their Arrow types.  The NULL rows go before the
    factorization, as ``to_numpy`` widens an integer column with nulls
    to float64.  A NaN key is a key, as in Spark's groupBy."""
    import pandas as pd

    valid = np.ones(kb.num_rows, dtype=bool)
    for a in kb.columns:
        if a.null_count:
            valid &= np.asarray(a.is_valid())
    rows = np.flatnonzero(valid)
    kept = kb if rows.size == kb.num_rows else kb.take(rows)
    code = np.zeros(rows.size, dtype=np.int64)
    for a in kept.columns:
        c, u = pd.factorize(a.to_numpy(zero_copy_only=False), use_na_sentinel=False)
        code = pd.factorize(code * len(u) + c)[0]  # dense: stays below n^2
    codes = np.full(kb.num_rows, -1, dtype=np.int64)
    codes[rows] = code
    return codes, kept.take(np.unique(code, return_index=True)[1])


def _keyed_states(batches, factory, kind: str, max_groups: int):
    """The one keyed stage-1 body, a map-side combine, of the grouped
    builds and the checkpointed build on both engines.  ``batches``
    yields ``(codes, keys, values)``: a code per row (a negative one
    drops the row), a batch whose row ``c`` holds code ``c``'s keys
    (its schema is the output key columns'), and the value column,
    KIND_HASH64 values as uint64 hashes or as raw integers hashed at
    the flush.  ``_route`` splits each batch into one ``AccFeeder`` per
    key, all under one ``_ACC_BUDGET_BYTES`` budget.  Yields partial
    rows; once ``max_groups`` keys are held their states are emitted
    and the map starts empty (stage 2 merges the duplicate keys), so
    worker memory stays bounded under high-cardinality keys."""
    budget = [_ACC_BUDGET_BYTES]
    feeders: dict[tuple, AccFeeder] = {}

    def emit(schema, secs):
        items = [f.finish() for f in feeders.values()]
        return _partials_batch(
            [f.sk.to_bytes() for f in feeders.values()], items, secs,
            **{f.name: pa.array([kt[i] for kt in feeders], f.type)
               for i, f in enumerate(schema)},
        )

    t0 = time.monotonic()
    for codes, keys, varr in _prefetch(batches):
        key_of = list(zip(*(c.to_pylist() for c in keys.columns)))
        for code, vals in _route(codes, varr, kind):
            feeder = feeders.get(key_of[code])
            if feeder is None:
                feeder = feeders[key_of[code]] = AccFeeder(
                    factory(), kind in (KIND_HASH64, KIND_ARRAY_HASH),
                    _kind_domain(kind), budget,
                )
            if vals.dtype == np.uint64:  # hashed by the source
                feeder.feed_hashed(vals)
            else:
                feeder.feed_raw(vals)
        if len(feeders) >= max_groups:
            yield emit(keys.schema, time.monotonic() - t0)
            feeders, t0 = {}, time.monotonic()
    if feeders:
        yield emit(keys.schema, time.monotonic() - t0)


def _grouped_partials(df, keys, col, factory, kind, max_groups_per_partition=100_000):
    """Grouped stage 1, DataFrame[*keys, state binary, items long,
    build_secs double]: ``_keyed_states`` over ``_key_codes``, fed by
    the direct engine when ``direct._scan_files`` admits the keys and
    ``col`` (a bare parquet scan), else by the JVM's Arrow batches,
    KIND_HASH64 values hashed by ``_value_col``.  On either engine a
    row with a NULL key is dropped and each key column keeps the
    frame's Spark type."""
    from sketchlib.spark.direct import _keyed_partials, _scan_files

    schema = _key_schema(df, keys) + _PARTIAL_SCHEMA
    scan = _scan_files(df, [*((k, None) for k in keys), (col, kind)])
    if scan is not None:
        return _keyed_partials(
            df.sparkSession, scan, keys, _key_codes, col, factory, kind,
            schema, max_groups_per_partition,
        )

    def coded(batches: Iterator[pa.RecordBatch]):
        for b in batches:
            varr = b.column("__v")
            if kind == KIND_HASH64:
                varr = varr.view(pa.uint64())
            yield (*_key_codes(b.select(keys)), varr)

    return df.select(*keys, _value_col(col, kind).alias("__v")).mapInArrow(
        lambda it: _keyed_states(coded(it), factory, kind, max_groups_per_partition),
        schema,
    )


def grouped_sketch(
    df: DataFrame,
    keys: list[str],
    col: str,
    factory: Callable[[], object],
    kind: str = KIND_DOUBLE,
    max_groups_per_partition: int = 100_000,
) -> DataFrame:
    """Per-group sketches: DataFrame[*keys, state binary, items long,
    build_secs double] — ``_grouped_partials`` (the direct engine over a
    bare parquet scan, the JVM otherwise; NULL keys dropped; at most
    ``max_groups_per_partition`` keys held per task) merged per key by
    ``_keyed_merge``, whose levels cap hot keys' fan-in at ``FANOUT``."""
    return _keyed_merge(
        _grouped_partials(df, keys, col, factory, kind, max_groups_per_partition),
        keys,
    )
