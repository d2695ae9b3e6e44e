"""Approximate-nearest-neighbor search over an embedding column.

* ``brute_topk`` — exact baseline: broadcast the (small) query matrix,
  scan all candidates with one numpy GEMM per Arrow batch inside
  mapInArrow (zero per-row Python), keep a per-partition top-k, reduce
  to the global top-k driver-side.  Scan cost O(N*Q*d) flops but a
  single data pass; this is the correct shape for one-off queries at
  any N.
* ``ivf_topk`` — scale path: deterministic k-means-lite centroids
  (seeded init, few Lloyd iterations over a sample), every vector is
  assigned to its nearest centroid list JVM-joinable bucket; a query
  probes only the ``nprobe`` nearest centroid buckets (~nprobe/C of
  the data).  Recall is checked against the brute baseline in tests.
* ``embedding_near_duplicates`` — all-pairs cosine >= threshold via
  the same partitioned GEMM (candidate block x full broadcast matrix)
  when the table fits in executor memory; past ``max_side`` rows it
  auto-delegates to ``ivf_near_duplicates`` (bucketed both sides) —
  never a silent cap.

Embeddings are ``array<float>`` columns; batches convert to (rows, d)
float32 matrices via one reshape of the Arrow flat buffer.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _batch_matrix(batch: pa.RecordBatch, col_idx: int) -> np.ndarray:
    """(rows, d) float32 from a fixed-length list<float> column."""
    arr = batch.column(col_idx)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float32, copy=False)
    n = len(arr)
    if n == 0:
        return flat.reshape(0, 0)
    d = flat.size // n
    return flat.reshape(n, d)


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _topk_per_query(partial: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query over per-task candidate rows:
    DataFrame[query_id, rank int, vec_id, cos rounded to 4 places].
    The ranking, including its salted two-level plan at high task
    counts, is :func:`sketchlib.spark.api.top_k_per_group`'s."""
    from sketchlib.spark.api import top_k_per_group

    top = top_k_per_group(
        partial, ["query_id"], k, order_col="cos", descending=True,
        tie_cols=["vec_id"],
    )
    return top.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "vec_id",
        F.round("cos", 4).alias("cos"),
    )


def brute_topk(
    df: DataFrame,
    queries: np.ndarray,
    query_ids: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dtype=np.float32,
) -> DataFrame:
    """Exact cosine top-k: DataFrame[query_id, rank, vec_id, cos].

    ``queries`` is a (Q, d) matrix; it ships broadcast inside the task
    closure (Q is small).  dtype=np.float64 for bit-parity with
    double-precision oracles; float32 for 2x GEMM throughput."""
    qm = _normalize(np.asarray(queries, dtype=dtype))
    qids = list(query_ids)
    spark = df.sparkSession

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        best_cos = np.full((len(qids), k), -np.inf, dtype=dtype)
        best_id = np.full((len(qids), k), -1, dtype=np.int64)
        got = False
        for b in batches:
            ids = b.column(0).to_numpy(zero_copy_only=False)
            m = _normalize(_batch_matrix(b, 1).astype(dtype))
            if m.size == 0:
                continue
            got = True
            cos = qm @ m.T  # (Q, rows) one GEMM per batch
            top = min(k, cos.shape[1])
            idx = np.argpartition(-cos, top - 1, axis=1)[:, :top]
            for qi in range(len(qids)):
                cand_cos = np.concatenate([best_cos[qi], cos[qi, idx[qi]]])
                cand_id = np.concatenate([best_id[qi], ids[idx[qi]]])
                order = np.argsort(-cand_cos)[:k]
                best_cos[qi] = cand_cos[order]
                best_id[qi] = cand_id[order]
        if not got:
            return
        qout, iout, cout = [], [], []
        for qi, qid in enumerate(qids):
            mask = best_id[qi] >= 0
            qout.extend([qid] * int(mask.sum()))
            iout.extend(best_id[qi][mask].tolist())
            cout.extend(best_cos[qi][mask].astype(np.float64).tolist())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qout, type=pa.int64()),
                pa.array(iout, type=pa.int64()),
                pa.array(cout, type=pa.float64()),
            ],
            names=["query_id", "vec_id", "cos"],
        )

    partial = df.select(id_col, vec_col).mapInArrow(
        fn, "query_id long, vec_id long, cos double"
    )
    return _topk_per_query(partial, k)


def train_centroids(
    df: DataFrame,
    n_centroids: int | None = 16,
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic k-means-lite on a driver-side sample (seeded
    subsample + a few Lloyd iterations).  Centroid quality only gates
    recall/speed, never correctness (verification is exact)."""
    if n_centroids is None:
        # IVF heuristic: C ~ sqrt(N) balances probe cost (~nprobe/C of
        # the data per query) against candidate volume (~N^2*assign/C
        # for near-dup self-joins)
        n_centroids = max(8, int(df.count() ** 0.5))
    # ONE-job seeded pseudo-random sample: order by a seeded hash of
    # the vector (TakeOrderedAndProject = per-partition top-K merge,
    # no full sort shuffle).  NOT a bare .limit(): that takes the first
    # partitions' rows, so on data sorted/clustered by similarity the
    # centroids would all be trained inside one region (recall
    # collapse).  Hash order is data-derived, unbiased by partition or
    # row order, deterministic for (data, seed).
    picked = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col), F.lit(int(seed))))
        .limit(sample)
    )
    rows = picked.toPandas()[vec_col]
    if len(rows) == 0:
        # empty table: no centroids (callers decide whether that is an
        # error) — np.array([]) is 1-d and _normalize would AxisError
        return np.zeros((0, 0), dtype=np.float32)
    m = _normalize(np.array([np.asarray(r, dtype=np.float32) for r in rows]))
    k = min(n_centroids, m.shape[0])
    rng = np.random.default_rng(seed)
    # greedy farthest-point init (k-means++-style, deterministic):
    # random init can seed two centroids in one cluster and leave
    # another uncovered — Lloyd rarely recovers from that
    chosen = [int(rng.integers(m.shape[0]))]
    best_cos = m @ m[chosen[0]]  # max cosine to any chosen centroid
    for _ in range(1, k):
        nxt = int(np.argmin(best_cos))
        chosen.append(nxt)
        best_cos = np.maximum(best_cos, m @ m[nxt])
    cents = m[chosen].copy()
    for _ in range(iters):
        sims = m @ cents.T
        assign = np.argmax(sims, axis=1)
        for c in range(cents.shape[0]):
            members = m[assign == c]
            if members.size:
                cents[c] = members.mean(axis=0)
            else:
                # reseed an empty centroid at the worst-covered point
                cents[c] = m[int(np.argmin(sims.max(axis=1)))]
        cents = _normalize(cents)
    return cents


def assign_buckets(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append the nearest-centroid bucket id (one GEMM per batch)."""
    cents = _normalize(np.asarray(centroids, dtype=np.float32))
    cols = df.columns

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            m = _normalize(_batch_matrix(b, cols.index(vec_col)))
            if m.shape[0] == 0:
                continue
            bucket = np.argmax(m @ cents.T, axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column(i) for i in range(len(cols))] + [pa.array(bucket)],
                names=cols + ["bucket"],
            )

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    return df.mapInArrow(fn, f"{schema}, bucket int")


def cluster_embeddings(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    sample: int = 4096,
    iters: int = 5,
    seed: int = 42,
    centroids: np.ndarray | None = None,
):
    """Cosine k-means clustering of an embedding column, end-to-end:
    train centroids (seeded farthest-point init + Lloyd iterations on
    a hash-order driver sample — deterministic for (data, seed)) and
    append every row's nearest-centroid id.  Returns
    ``(assigned_df, centroids)``; pass ``centroids`` to re-assign a
    new table with a previously trained model (the cross-snapshot
    shape: train once, assign every incoming partition).

    100-TB shape: training touches only ``sample`` vectors (one
    TakeOrderedAndProject job); assignment is one vectorized GEMM per
    Arrow batch appended to the scan — no shuffle, no state.  This is
    the standard pretraining-corpus recipe for topic bucketing,
    cluster-balanced sampling (compose with ``top_k_per_group`` on the
    cluster id), and semantic-dedup blocking."""
    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    for c in {cluster_col, "bucket"}:
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    if centroids is None:
        centroids = train_centroids(
            df,
            n_centroids=n_clusters,
            vec_col=vec_col,
            sample=sample,
            iters=iters,
            seed=seed,
        )
        if centroids.shape[0] == 0:
            raise ValueError("cannot cluster an empty table")
        if centroids.shape[0] < n_clusters:
            import warnings

            warnings.warn(
                f"cluster_embeddings: only {centroids.shape[0]} distinct "
                f"sample vectors — returning that many clusters, not "
                f"the requested {n_clusters}",
                UserWarning,
                stacklevel=2,
            )
    out = assign_buckets(df, centroids, vec_col=vec_col)
    if cluster_col != "bucket":
        out = out.withColumnRenamed("bucket", cluster_col)
    return out, centroids


def ivf_topk(
    df: DataFrame,
    queries: np.ndarray,
    query_ids: list,
    k: int = 10,
    n_centroids: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: probe only the nprobe nearest centroid
    buckets per query.  Returns DataFrame[query_id, rank, vec_id, cos]."""
    if centroids is None:
        centroids = train_centroids(
            df, n_centroids=n_centroids, vec_col=vec_col, seed=seed
        )
    cents = _normalize(np.asarray(centroids, dtype=np.float32))
    if n_centroids is None:
        # auto-sized centroid count: keep the probed fraction ~1/4 —
        # on weakly-clustered embeddings smaller fractions collapse
        # recall (measured 0.53 at 1/8 vs 0.8+ at 1/4 on the random
        # test embeddings; naturally clustered data needs far less)
        nprobe = max(nprobe, cents.shape[0] // 4)
    qm = _normalize(np.asarray(queries, dtype=np.float32))
    probe = np.argsort(-(qm @ cents.T), axis=1)[:, :nprobe]  # (Q, nprobe)
    wanted = sorted({int(b) for row in probe for b in row})
    bucketed = assign_buckets(df, cents, id_col, vec_col).filter(
        F.col("bucket").isin(wanted)
    )
    # per-query probe masks resolved inside the scan: a candidate
    # participates only in queries probing its bucket
    probe_sets = {int(b): [qi for qi in range(len(query_ids)) if int(b) in probe[qi]]
                  for b in wanted}
    qids = list(query_ids)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        best_cos = np.full((len(qids), k), -np.inf, dtype=np.float32)
        best_id = np.full((len(qids), k), -1, dtype=np.int64)
        got = False
        for b in batches:
            names = b.schema.names
            ids = b.column(names.index(id_col)).to_numpy(zero_copy_only=False)
            buckets = b.column(names.index("bucket")).to_numpy(zero_copy_only=False)
            m = _normalize(_batch_matrix(b, names.index(vec_col)))
            if m.shape[0] == 0:
                continue
            got = True
            cos = qm @ m.T
            for qi in range(len(qids)):
                mask = np.isin(buckets, probe[qi])
                if not mask.any():
                    continue
                c = cos[qi][mask]
                cid = ids[mask]
                top = min(k, c.size)
                idx = np.argpartition(-c, top - 1)[:top]
                cand_cos = np.concatenate([best_cos[qi], c[idx]])
                cand_id = np.concatenate([best_id[qi], cid[idx]])
                order = np.argsort(-cand_cos)[:k]
                best_cos[qi] = cand_cos[order]
                best_id[qi] = cand_id[order]
        if not got:
            return
        qout, iout, cout = [], [], []
        for qi, qid in enumerate(qids):
            mask = best_id[qi] >= 0
            qout.extend([qid] * int(mask.sum()))
            iout.extend(best_id[qi][mask].tolist())
            cout.extend(best_cos[qi][mask].astype(np.float64).tolist())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qout, type=pa.int64()),
                pa.array(iout, type=pa.int64()),
                pa.array(cout, type=pa.float64()),
            ],
            names=["query_id", "vec_id", "cos"],
        )

    partial = bucketed.mapInArrow(fn, "query_id long, vec_id long, cos double")
    return _topk_per_query(partial, k)


def ivf_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = 16,
    assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
    centroids: np.ndarray | None = None,
    seed: int = 42,
    observation=None,
) -> DataFrame:
    """All-pairs cosine >= threshold when *both* sides are too large to
    broadcast: multi-assign every vector to its ``assign`` nearest
    centroid buckets, self-join within buckets (id_a < id_b), verify
    the exact cosine per candidate pair with a vectorized einsum.
    Multi-assignment covers boundary pairs (two near-identical vectors
    always share their nearest centroid; probing 2 covers the
    near-boundary cases).  Candidate volume is ~N^2 * assign / C, so
    size C to the data.  Returns DataFrame[id_a, id_b, cos].

    Skew handling — hot buckets are SUB-SPLIT, never truncated: a
    dense embedding cluster of B > max_bucket members is chunked into
    ceil(B / max_bucket) sub-buckets (pair volume ~B * max_bucket, not
    B^2), ordered by a per-bucket hash of the id so each of the
    ``assign`` bucket assignments chunks DIFFERENTLY — near-dup pairs
    split in one bucket usually co-occur in another.  (The previous
    row_number cap silently dropped the overflow — recall loss with no
    signal.)  Pass a ``pyspark.sql.Observation`` as ``observation`` to
    receive ``overflow_rows`` / ``bucket_rows`` with the first action."""
    if centroids is None:
        centroids = train_centroids(
            df, n_centroids=n_centroids, vec_col=vec_col, seed=seed
        )
    cents = _normalize(np.asarray(centroids, dtype=np.float32))

    def assign_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column(0)
            m = _normalize(_batch_matrix(b, 1))
            if m.shape[0] == 0:
                continue
            top = np.argsort(-(m @ cents.T), axis=1)[:, :assign].astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [ids, b.column(1), pa.array(list(top))],
                names=[id_col, vec_col, "buckets"],
            )

    vt = df.schema[vec_col].dataType.simpleString()
    assigned = df.select(id_col, vec_col).mapInArrow(
        assign_fn, f"{id_col} long, {vec_col} {vt}, buckets array<int>"
    )
    exploded = assigned.select(id_col, vec_col, F.explode("buckets").alias("bucket"))
    # shared skew guard (see sketchlib/spark/skew.py): chunk hot
    # buckets, never truncate; persist for the self-join
    from sketchlib.spark.skew import sub_split_buckets

    split = sub_split_buckets(
        exploded, ["bucket"], id_col, max_bucket,
        observation=observation, keep_cols=[vec_col],
    )
    a = split.alias("a")
    b = split.alias("b")
    pairs = (
        a.join(b, ["bucket", "sub"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    def verify(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for bt in batches:
            ma = _normalize(_batch_matrix(bt, 2))
            mb = _normalize(_batch_matrix(bt, 3))
            if ma.shape[0] == 0:
                continue
            cos = np.einsum("ij,ij->i", ma, mb)
            keep = cos >= threshold
            if not keep.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    bt.column(0).filter(pa.array(keep)),
                    bt.column(1).filter(pa.array(keep)),
                    pa.array(np.round(cos[keep].astype(np.float64), 4)),
                ],
                names=["id_a", "id_b", "cos"],
            )

    return pairs.mapInArrow(verify, "id_a long, id_b long, cos double")


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_side: int = 100_000,
    on_overflow: str = "ivf",
    **ivf_kwargs,
) -> DataFrame:
    """All-pairs cosine >= threshold (id_a < id_b):
    DataFrame[id_a, id_b, cos].  Broadcasts one normalized side and
    GEMMs candidate batches against it.

    The broadcast side must hold the ENTIRE table — a capped broadcast
    would silently never emit pairs among the excluded rows.  When the
    table exceeds ``max_side`` rows this either delegates to
    ``ivf_near_duplicates`` (``on_overflow="ivf"``, the
    bucketed-both-sides formulation — same output schema) or raises
    (``on_overflow="raise"``)."""
    if on_overflow not in ("ivf", "raise"):
        raise ValueError(
            f"unknown on_overflow {on_overflow!r} (use 'ivf' or 'raise')"
        )
    # size probe stops scanning once max_side+1 rows are found (a full
    # count of a huge table just to discover "too big" is wasted work)
    n = df.limit(max_side + 1).count()
    if n > max_side:
        if on_overflow == "ivf":
            # the downgrade from exact to approximate must be VISIBLE:
            # IVF recall < 1, so callers who need exactness should see
            # this and either raise or size max_side up.
            import warnings

            warnings.warn(
                f"embedding_near_duplicates: table exceeds max_side="
                f"{max_side}; delegating to ivf_near_duplicates "
                "(approximate — recall < 1). Pass on_overflow='raise' "
                "to forbid the downgrade.",
                RuntimeWarning,
                stacklevel=2,
            )
            return ivf_near_duplicates(
                df,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                **ivf_kwargs,
            )
        raise ValueError(
            f"embedding_near_duplicates: table has > max_side={max_side} "
            "rows; a capped broadcast would silently drop pairs. "
            "Use ivf_near_duplicates (or on_overflow='ivf')."
        )
    side = df.select(id_col, vec_col).toPandas()
    ids_b = side[id_col].to_numpy()
    mb = _normalize(
        np.array([np.asarray(v, dtype=np.float32) for v in side[vec_col]])
    )
    # ship the normalized side ONCE per executor via a Spark broadcast
    # (a closure capture re-serializes the full matrix into every task)
    bc = df.sparkSession.sparkContext.broadcast((ids_b, mb))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids_b, mb = bc.value
        for b in batches:
            ids_a = b.column(0).to_numpy(zero_copy_only=False)
            m = _normalize(_batch_matrix(b, 1))
            if m.shape[0] == 0:
                continue
            cos = m @ mb.T
            ai, bi = np.nonzero(cos >= threshold)
            keep = ids_a[ai] < ids_b[bi]
            ai, bi = ai[keep], bi[keep]
            if ai.size == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_a[ai], type=pa.int64()),
                    pa.array(ids_b[bi], type=pa.int64()),
                    pa.array(np.round(cos[ai, bi].astype(np.float64), 4)),
                ],
                names=["id_a", "id_b", "cos"],
            )

    # spread the probe side: the broadcast-GEMM kernel is CPU-bound and
    # a single-file scan plans 1-2 partitions — the whole N x N GEMM
    # would run in ONE python worker.  No-op cost at scale: n <= max_side.
    from sketchlib.spark.api import _spread

    probe, _ = _spread(df.select(id_col, vec_col), id_col)
    return probe.mapInArrow(fn, "id_a long, id_b long, cos double")
