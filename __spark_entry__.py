"""Driver contract for the spark-graft builder (PySpark target).

Queries come in three flavors:

* **Self-validating sketch queries** — the Spark side computes BOTH the
  sketch estimate and the exact answer (exact via built-in Spark
  aggregates), and emits ``(keys..., exact_value, ok)`` where ``ok``
  asserts the estimate is within the sketch's published error bound of
  the exact answer.  The DuckDB oracle recomputes the exact values
  (genuine cross-engine check) and emits ``TRUE`` for ok — so the
  value-hash matches iff (a) Spark's exact aggregation agrees with
  DuckDB and (b) every sketch met its error bound.
* **Exact relational queries** — plain cross-engine parity on the
  hosting layer (scan/filter/groupBy).
* **Token-table queries** — run over the deterministically synthesized
  token_sequences table (BASELINE.json input_hint shape), which DuckDB
  cannot see; their oracle emits only the constant ``(key, ok)`` shape,
  with the real verification done Spark-side against exact aggregates.

All float outputs are rounded to 4 decimals in both engines (parity
verified: Spark ``percentile`` and DuckDB ``quantile_cont`` both use
the (n-1)*q linear-interpolation convention).
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.spark.api import (
    BUCKETED_MIN_PARTITIONS,
    ORDER_BUCKETS,
    _exact_running_prior,
    _order_and_bucket,
    _split_points,
    _spread,
    _use_bucketed,
    approx_distinct,
    approx_quantiles,
    bloom_contains,
    build_bloom,
    build_cms,
    cms_frequencies,
    grouped_quantiles,
)
from sketchlib.spark.datagen import token_sequences

RANK_TOL = 0.005  # reference rank-error bar (t_digest.rs:800-835)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _sf_rows(sf_dir: str) -> int:
    """Deterministic token-table size for this scale factor."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    return max(int(1_000_000 * sf), 1_000)


def _concurrently(*jobs: Callable[[], object]) -> list:
    """Run independent driver-side jobs from one thread each, so their
    Spark jobs overlap and the next job's tasks back-fill the current
    one's tail (every job's result is unchanged).  Results come back
    in argument order; the first failure re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [pool.submit(job) for job in jobs]
        return [f.result() for f in futures]


def _rank_aggs(col: str, ests: list[float], where=None, tag: str = "") -> list:
    """Conditional-aggregate columns for the rank-space error check:
    per estimate, the CDF interval [P(<e), P(<=e)] (and its
    nearest-integer snap — interpolated estimates on discrete columns
    land in probability-mass gaps).  ``where`` restricts every
    aggregate to the rows it holds (one group); ``tag`` prefixes the
    column names so several groups share one aggregation."""
    c = F.col(col).cast("double")
    if where is not None:
        c = F.when(where, c)
    aggs = [F.count(c).alias(f"{tag}n")]
    for i, e in enumerate(ests):
        r = float(np.rint(e))
        aggs += [
            F.avg((c < F.lit(float(e))).cast("double")).alias(f"{tag}lt{i}"),
            F.avg((c <= F.lit(float(e))).cast("double")).alias(f"{tag}le{i}"),
            F.avg((c < F.lit(r)).cast("double")).alias(f"{tag}rlt{i}"),
            F.avg((c <= F.lit(r)).cast("double")).alias(f"{tag}rle{i}"),
        ]
    return aggs


def _rank_interval_ok(q: float, n: int, lt, le, rlt, rle) -> bool:
    """The rank-interval rule: ``q`` lies in the estimate's CDF
    interval [lt, le] or in its integer snap's [rlt, rle], widened by
    a count-aware tolerance — a single rank step is 1/n, so tiny
    inputs (small sf / small groups) get proportional slack."""
    tol = max(RANK_TOL, 1.5 / max(n, 1))
    return bool(lt - tol <= q <= le + tol or rlt - tol <= q <= rle + tol)


def _rank_oks(row, qs: list[float], tag: str = "") -> list[bool]:
    return [
        _rank_interval_ok(
            q, row[f"{tag}n"],
            *(row[f"{tag}{t}{i}"] for t in ("lt", "le", "rlt", "rle")),
        )
        for i, q in enumerate(qs)
    ]


def _rank_ok(df: DataFrame, col: str, qs: list[float], ests: list[float]) -> list[bool]:
    """Rank-space error check in one aggregation job (no raw-row collect)."""
    row = df.agg(*_rank_aggs(col, ests)).first()
    return _rank_oks(row, qs)


def _grouped_rank_ok(
    df: DataFrame, key_col: str, col: str, est_map: dict
) -> dict:
    """Per-group rank-space check: ``est_map`` is {(key, q): estimate};
    returns {(key, q): ok}.  ONE aggregation job with
    :func:`_rank_aggs` per group under a ``key_col == key`` mask —
    never a full-table collect (a driver OOM at real scale)."""
    groups: dict = {}
    for (k, q), e in sorted(est_map.items()):
        groups.setdefault(k, []).append((q, e))
    aggs = []
    for g, (k, items) in enumerate(groups.items()):
        aggs += _rank_aggs(
            col, [e for _q, e in items], F.col(key_col) == k, f"g{g}_"
        )
    row = df.agg(*aggs).first()
    out = {}
    for g, (k, items) in enumerate(groups.items()):
        qs = [q for q, _e in items]
        out.update(zip([(k, q) for q in qs], _rank_oks(row, qs, f"g{g}_")))
    return out


def _running_counts(vc: DataFrame) -> DataFrame:
    """``vc`` (distinct values ``__v`` with row counts ``__c``) plus
    ``__prior___c``, the exact number of rows below ``__v``: value
    ``__v`` holds ranks ``[__prior___c, __prior___c + __c)``.  The
    library's exact prefix sum under its own small/big verdict —
    bucketed by sketch split points of ``__v`` when ``vc`` plans wide,
    never a single-task global window over a big frame."""
    bucketed = _use_bucketed(vc, ORDER_BUCKETS, BUCKETED_MIN_PARTITIONS)
    order, bucket = _order_and_bucket(vc, "__v", 0, ORDER_BUCKETS, bucketed)
    return _exact_running_prior(vc, ["__c"], order, bucket)


def _exact_quantile_check(
    df: DataFrame, col: str, qs: list[float], ests: list[float], vc=None
) -> tuple[list[float], list[bool], int]:
    """Exact interpolated percentiles + rank-interval checks from ONE
    distinct-value count frame.

    ``F.percentile`` builds a per-partition value->count hash map and
    merges every map in a single final task — measured 19s of a 21.5s
    query on 6M rows / ~1M distinct values.  The same exact numbers
    fall out of ``groupBy(value).count()`` (map-side combined, shuffles
    only DISTINCT values) + a running-count rank: value_at(floor/ceil
    of q*(n-1)) interpolated with Spark's own symmetric formula
    ``(hi-pos)*v_lo + (pos-lo)*v_hi`` (Percentile.getPercentile) —
    bit-identical, asserted by tests/test_entry_exact_percentile.py.
    The rank-CDF fractions are conditional SUMS of the same counts
    (sum/n == the former avg-of-indicators: both are exact small-int
    doubles).  The running count is :func:`_running_counts` over the
    distinct-value frame (bounded: price-grid / measurement columns
    have ~fixed granularity), so it takes the library's bucketed
    prefix sum when that frame plans wide; a few light jobs on a
    persisted ~MB frame replace the map-merge."""
    import math as _math

    c = F.col(col).cast("double")
    if vc is None:
        vc = (
            df.filter(c.isNotNull())
            .groupBy(c.alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .persist()
        )
    # else: caller-built persisted (__v, __c) frame — ownership moves
    # here (unpersisted in the finally)
    try:
        v = F.col("__v")
        aggs = [F.sum("__c").alias("n")]
        for i, e in enumerate(ests):
            r = float(np.rint(e))
            for tag, cond in (
                ("lt", v < float(e)),
                ("le", v <= float(e)),
                ("rlt", v < r),
                ("rle", v <= r),
            ):
                aggs.append(F.sum(F.when(cond, F.col("__c"))).alias(f"{tag}{i}"))
        s = vc.agg(*aggs).first()
        n = int(s["n"] or 0)
        row = {"n": n}
        for i in range(len(ests)):
            for tag in ("lt", "le", "rlt", "rle"):
                row[f"{tag}{i}"] = float(s[f"{tag}{i}"] or 0) / max(n, 1)
        oks = _rank_oks(row, qs)
        positions = [q * (n - 1) for q in qs]
        ranks = sorted(
            {int(_math.floor(p)) for p in positions}
            | {int(_math.ceil(p)) for p in positions}
        )
        cum = _running_counts(vc)
        lo_col = F.col("__prior___c")
        cond = None
        for rk in ranks:
            t = (lo_col <= rk) & (rk < lo_col + F.col("__c"))
            cond = t if cond is None else (cond | t)
        val_at: dict[int, float] = {}
        for h in cum.filter(cond).collect():
            lo_c = h["__prior___c"]
            hi_c = lo_c + h["__c"]
            for rk in ranks:
                if lo_c <= rk < hi_c:
                    val_at[rk] = float(h["__v"])
        exact = []
        for p in positions:
            lo, hi = int(_math.floor(p)), int(_math.ceil(p))
            if lo == hi:
                exact.append(val_at[lo])
            else:
                exact.append((hi - p) * val_at[lo] + (p - lo) * val_at[hi])
        return exact, oks, n
    finally:
        vc.unpersist()


def _quantile_query(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    col: str,
    sketch: str,
    qs: list[float],
    **params,
) -> DataFrame:
    df = _read(spark, sf_dir, table).filter(F.col(col).isNotNull())
    # the sketch build and the distinct-value-count materialization are
    # independent jobs: overlap them from two driver threads — the
    # rank/percentile aggs then run on the warm vc cache
    c = F.col(col).cast("double")
    vc = (
        df.filter(c.isNotNull())
        .groupBy(c.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist()
    )
    (ests, _sk), _ = _concurrently(
        lambda: approx_quantiles(df, col, qs, sketch=sketch, **params),
        vc.count,
    )
    exact, oks, _n = _exact_quantile_check(df, col, qs, ests, vc=vc)
    rows = [
        (float(q), float(round(x, 4)), bool(ok))
        for q, x, ok in zip(qs, exact, oks)
    ]
    return spark.createDataFrame(rows, "q double, exact_value double, ok boolean")


# --------------------------------------------------------------------- queries


def q_tdigest_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles of lineitem.l_extendedprice vs exact."""
    return _quantile_query(
        spark, sf_dir, "lineitem", "l_extendedprice", "tdigest",
        [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99], delta=2000, scale="k2",
    )


def q_kll_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles of events.value vs exact."""
    return _quantile_query(
        spark, sf_dir, "events", "value", "kll",
        [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99], k=200,
    )


def q_tdigest_orders_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest (k1 scale) quantiles of orders.o_totalprice vs exact."""
    return _quantile_query(
        spark, sf_dir, "orders", "o_totalprice", "tdigest",
        [0.05, 0.25, 0.5, 0.75, 0.95], delta=1000, scale="k1",
    )


DD_QS = [0.05, 0.25, 0.5, 0.75, 0.95, 0.99]


def q_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch (relative-error) quantiles of supplier.s_acctbal vs
    exact — the column is signed (TPC-H acctbal spans [-999.99,
    9999.99]), exercising all three stores (negative / zero / positive).

    ok-condition: the estimate is within the sketch's RELATIVE bound of
    the exact quantile, with rank-gap slack — DDSketch guarantees
    alpha-relative error vs the data item at the queried rank, while
    ``percentile``/``quantile_cont`` interpolate between ranks, so the
    check allows ``2*alpha*|exact|`` plus the local value spacing
    ``p[q+1.5/(n-1)] - p[q-1.5/(n-1)]`` (the same count-aware slack idea
    as RANK_TOL, expressed in value space)."""
    alpha = 0.01
    df = _read(spark, sf_dir, "supplier").filter(F.col("s_acctbal").isNotNull())
    ests, _sk = approx_quantiles(
        df, "s_acctbal", DD_QS, sketch="dd", alpha=alpha
    )
    n = df.count()
    d = 1.5 / max(n - 1, 1)
    lo = [max(q - d, 0.0) for q in DD_QS]
    hi = [min(q + d, 1.0) for q in DD_QS]
    c = F.col("s_acctbal").cast("double")
    row = df.agg(
        F.percentile(c, F.array(*[F.lit(q) for q in DD_QS + lo + hi])).alias("p")
    ).first()
    k = len(DD_QS)
    rows = []
    for i, q in enumerate(DD_QS):
        exact, p_lo, p_hi = row["p"][i], row["p"][k + i], row["p"][2 * k + i]
        ok = abs(ests[i] - exact) <= 2 * alpha * abs(exact) + (p_hi - p_lo) + 1e-9
        rows.append((float(q), float(round(exact, 4)), bool(ok)))
    return spark.createDataFrame(rows, "q double, exact_value double, ok boolean")


def q_grouped_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language t-digest quantiles of documents.n_chars.

    Exercises the grouped (map-side-combine + keyed merge) path."""
    qs = [0.5, 0.9]
    docs = _read(spark, sf_dir, "documents")
    est_rows = grouped_quantiles(
        docs, ["lang"], "n_chars", qs, sketch="tdigest", delta=1000,
    ).collect()  # groups x qs rows — tiny
    est_map = {(r["lang"], r["q"]): float(r["value"]) for r in est_rows}
    # per-group rank check via conditional aggregates — NO raw-row
    # collect (the former .toPandas() pulled every row to the driver)
    oks = _grouped_rank_ok(docs, "lang", "n_chars", est_map)
    exact_rows = (
        docs.groupBy("lang")
        .agg(
            *[
                F.round(
                    F.percentile(F.col("n_chars").cast("double"), F.lit(q)), 4
                ).alias(f"p{int(q * 100)}")
                for q in qs
            ]
        )
        .collect()
    )
    rows = sorted(
        (r["lang"], float(q), float(r[f"p{int(q * 100)}"]), oks[(r["lang"], q)])
        for r in exact_rows
        for q in qs
    )
    return spark.createDataFrame(
        rows, "lang string, q double, exact_value double, ok boolean"
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct counts vs exact for three key columns."""
    specs = [
        ("orders.o_custkey", "orders", "o_custkey"),
        ("events.user_id", "events", "user_id"),
        ("part.p_partkey", "part", "p_partkey"),
    ]
    # six independent small jobs (3 tables x sketch+exact): overlap
    # them from driver threads (results are per-job deterministic)
    def one(metric, table, col):
        df = _read(spark, sf_dir, table)
        est, sk = approx_distinct(df, col, p=14)
        exact = df.select(F.countDistinct(col).alias("d")).first()["d"]
        ok = abs(est - exact) / max(exact, 1) <= 4 * sk.relative_std_error()
        return (metric, int(exact), bool(ok))

    rows = _concurrently(*[lambda s=s: one(*s) for s in specs])
    return spark.createDataFrame(rows, "metric string, exact_count bigint, ok boolean")


def q_grouped_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type HLL distinct user counts (the grouped staging
    with a HASH sketch): estimates within 4x RSE of the exact per-group
    distinct, which DuckDB recomputes for the value-hash parity."""
    from sketchlib.spark.api import grouped_distinct

    events = _read(spark, sf_dir, "events")
    # the grouped-sketch job and the exact countDistinct are
    # independent — overlap them
    est_rows, exact_rows = _concurrently(
        lambda: grouped_distinct(
            events, ["event_type"], "user_id", p=14
        ).collect(),
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect,
    )
    est = {r["event_type"]: (r["estimate"], r["rse"]) for r in est_rows}
    rows = sorted(
        (
            r["event_type"],
            int(r["d"]),
            bool(
                abs(est[r["event_type"]][0] - r["d"]) / max(r["d"], 1)
                <= 4 * est[r["event_type"]][1]
            ),
        )
        for r in exact_rows
    )
    return spark.createDataFrame(
        rows, "event_type string, exact_distinct bigint, ok boolean"
    )


def q_cms_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequencies of events.event_type: estimates must be
    >= exact and within the eps*N bound."""
    events = _read(spark, sf_dir, "events")
    # the CMS build and the exact counts are independent — overlap them
    cms, exact_rows = _concurrently(
        lambda: build_cms(events, "event_type", 5, 16384),
        events.groupBy("event_type").agg(F.count("*").alias("cnt")).collect,
    )
    exact = {r["event_type"]: r["cnt"] for r in exact_rows}
    est_pdf = cms_frequencies(cms, events, "event_type").toPandas()
    bound = cms.error_bound()
    rows = []
    for _, r in est_pdf.iterrows():
        t = exact[r["event_type"]]
        ok = (r["est_count"] >= t) and (r["est_count"] <= t + bound)
        rows.append((r["event_type"], int(t), bool(ok)))
    rows.sort()
    return spark.createDataFrame(
        rows, "event_type string, exact_count bigint, ok boolean"
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k heavy hitters over events.user_id — SpaceSaving primary
    (formal tracking guarantee), CMS backend as cross-check: the true
    top-5 (Spark-exact) must appear in both backends' found top-10 and
    no estimate may undercount (verified Spark-side; constant-shape
    oracle)."""
    from sketchlib.spark.api import heavy_hitters, heavy_hitters_spacesaving

    # six actions touch only user_id: persist the narrow projection for
    # the query's lifetime (unpersisted before returning), and overlap
    # the independent jobs in two waves
    events = _read(spark, sf_dir, "events").select("user_id").persist()
    exact = events.groupBy("user_id").count()
    got, got_cms, top5_rows = _concurrently(
        lambda: heavy_hitters(events, "user_id", k=10).collect(),
        lambda: heavy_hitters(events, "user_id", k=10, backend="cms").collect(),
        exact.orderBy(F.desc("count"), F.asc("user_id")).limit(5).collect,
    )
    top5 = [r["user_id"] for r in top5_rows]
    got_keys = [r["user_id"] for r in got]
    cms_keys = [r["user_id"] for r in got_cms]
    counts_rows, ss_rows, h5_rows = _concurrently(
        exact.filter(F.col("user_id").isin(got_keys + cms_keys)).collect,
        lambda: heavy_hitters_spacesaving(
            events, "user_id", k=10, capacity=4096
        ).collect(),
        events.filter(F.col("user_id").isin(top5))
        .select(F.xxhash64("user_id").alias("h"))
        .distinct()
        .collect,
    )
    true_counts = {r["user_id"]: r["count"] for r in counts_rows}
    ss_keys = {r["key_hash"] for r in ss_rows}
    top5_hashed = {r["h"] for r in h5_rows}
    containment_ok = all(k in got_keys for k in top5) and all(
        k in cms_keys for k in top5
    )
    no_undercount = all(
        r["est_count"] >= true_counts[r["user_id"]] for r in got + got_cms
    )
    ss_ok = top5_hashed <= ss_keys
    events.unpersist()

    rows = [
        ("hh_top5_contained", bool(containment_ok)),
        ("hh_no_undercount", bool(no_undercount)),
        ("hh_spacesaving_top5", bool(ss_ok)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter over orders.o_custkey probed with every customer
    that has orders: no false negatives means every row is member=true."""
    orders = _read(spark, sf_dir, "orders")
    customers = _read(spark, sf_dir, "customer")
    bloom = build_bloom(orders, "o_custkey", capacity=200_000, fpr=0.001)
    with_orders = customers.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "semi",
    ).select("c_custkey")
    probed = bloom_contains(with_orders, "c_custkey", bloom)
    return probed.select(F.col("c_custkey").cast("bigint"), F.col("member"))


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch corpus overlap (contamination check): A = document
    ids, B = ids shifted by half the corpus — exact set sizes are
    SQL-computable in both engines; ok asserts every estimate is within
    4x the KMV RSE of exact."""
    from sketchlib.spark.api import build_theta

    docs = _read(spark, sf_dir, "documents").select("doc_id").distinct()
    n = docs.count()
    off = n // 2
    b_df = docs.select((F.col("doc_id") + off).alias("doc_id"))
    # four independent jobs — overlap them
    a, b, exact_inter, exact_union = _concurrently(
        lambda: build_theta(docs, "doc_id", 4096),
        lambda: build_theta(b_df, "doc_id", 4096),
        docs.join(b_df, "doc_id", "semi").count,
        docs.union(b_df).distinct().count,
    )
    tol = 4 * a.relative_std_error() + 0.01
    ests = {
        "distinct_a": (a.estimate(), n),
        "distinct_b": (b.estimate(), n),
        "intersection": (a.intersect_estimate(b), exact_inter),
        "union": (a.union_estimate(b), exact_union),
    }
    rows = [
        (m, int(exact), bool(abs(est - exact) / max(exact, 1) <= tol))
        for m, (est, exact) in sorted(ests.items())
    ]
    return spark.createDataFrame(rows, "metric string, exact_count bigint, ok boolean")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact relational hosting-layer parity (scan+filter+groupBy)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1998-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.count("*").alias("cnt"),
        )
    )


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles over the synthesized token table (input_hint
    shape): n_tok row-level via t-digest, flattened token values via
    KLL.  Verified Spark-side against exact percentiles; the oracle
    carries the constant shape only (DuckDB cannot see this table)."""
    n = _sf_rows(sf_dir)
    # four actions read the same deterministic table: materialize it
    # once for the query's lifetime (unpersisted before returning — the
    # generator re-runs from scratch on every invocation)
    df = token_sequences(spark, n, seed=42).persist()
    qs = [0.1, 0.5, 0.9, 0.99]

    # the row-level and token-level chains are independent — overlap
    # them; cache block computation is per-partition locked, so the
    # first jobs co-materialize the persisted table
    def row_chain():
        ests, _ = approx_quantiles(df, "n_tok", qs, sketch="tdigest", delta=2000)
        return _rank_ok(df, "n_tok", qs, ests)

    def tok_chain():
        ests, _ = approx_quantiles(
            df, "tokens", qs, sketch="kll", is_array=True, k=200
        )
        flat = df.select(F.explode("tokens").alias("t"))
        return _rank_ok(flat, "t", qs, ests)

    oks_row, oks_tok = _concurrently(row_chain, tok_chain)
    df.unpersist()

    rows = [
        ("n_tok", float(q), bool(ok)) for q, ok in zip(qs, oks_row)
    ] + [
        ("tokens", float(q), bool(ok)) for q, ok in zip(qs, oks_tok)
    ]
    return spark.createDataFrame(rows, "metric string, q double, ok boolean")


def q_token_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n_tok quantiles over the token table via the grouped
    (map-side-combine + keyed merge) path, verified Spark-side against
    exact grouped percentiles.  Sources follow a Zipf(1.5) skew, so
    this exercises the hot-key path the merge levels exist for."""
    n = _sf_rows(sf_dir)
    # two actions over the same deterministic table: materialize once
    # per invocation (unpersisted before returning); only the two
    # needed columns are persisted
    df = token_sequences(spark, n, seed=42).select("source", "n_tok").persist()
    qs = [0.5, 0.9]
    est_rows = grouped_quantiles(
        df, ["source"], "n_tok", qs, sketch="tdigest", delta=1000
    ).collect()  # groups x qs rows — tiny
    est_map = {(r["source"], r["q"]): float(r["value"]) for r in est_rows}
    # per-group rank check via conditional aggregates — NO raw-row
    # collect (the former .toPandas() pulled every row to the driver)
    oks = _grouped_rank_ok(df, "source", "n_tok", est_map)
    df.unpersist()
    rows = sorted((src, float(q), ok) for (src, q), ok in oks.items())
    return spark.createDataFrame(rows, "source string, q double, ok boolean")


def q_token_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL over doc_id and distinct token ids of the token table,
    verified Spark-side against exact distinct counts."""
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import (
        KIND_ARRAY_HASH,
        KIND_HASH64,
        sketch_columns,
    )

    n = _sf_rows(sf_dir)
    # two actions over the same deterministic table: materialize once
    # per invocation (unpersisted before returning); BOTH HLLs build in
    # ONE scan (register maxes are feed-order-independent, so the
    # fused build equals the two dedicated ones)
    df = token_sequences(spark, n, seed=42).persist()
    sks = sketch_columns(
        df,
        {
            "doc_id": (lambda: HyperLogLog(p=14), KIND_HASH64),
            "tokens": (lambda: HyperLogLog(p=14), KIND_ARRAY_HASH),
        },
    )
    sk_doc = sks.get("doc_id", HyperLogLog(p=14))
    sk_tok = sks.get("tokens", HyperLogLog(p=14))
    est_doc, est_tok = sk_doc.estimate(), sk_tok.estimate()
    ok_doc = abs(est_doc - n) / n <= 4 * sk_doc.relative_std_error()
    exact_tok = (
        df.select(F.explode("tokens").alias("t")).agg(F.countDistinct("t")).first()[0]
    )
    df.unpersist()
    ok_tok = abs(est_tok - exact_tok) / max(exact_tok, 1) <= 4 * sk_tok.relative_std_error()
    rows = [("doc_id", bool(ok_doc)), ("token_values", bool(ok_tok))]
    return spark.createDataFrame(rows, "metric string, ok boolean")


# ----------------------------------------------------- pipeline-operator queries


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) — exact SQL parity."""
    from sketchlib.text.analysis import with_token_stats

    docs = _read(spark, sf_dir, "documents")
    return with_token_stats(docs).select("doc_id", "ws_tokens", "bpe_tokens")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring ratios — exact SQL parity."""
    from sketchlib.text.analysis import with_quality

    docs = _read(spark, sf_dir, "documents")
    return with_quality(docs).select(
        "doc_id", "alpha_ratio", "stopword_ratio", "mean_token_len", "quality_score"
    )


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-count language ID — the pandas-UDF classifier must agree
    with the equivalent SQL CASE expression."""
    from sketchlib.text.analysis import language_id

    docs = _read(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "pred_lang")


def _dedup_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + injected exact copies of every 10th doc (both
    engines construct the same dataset)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return docs.union(injected)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups over the injected dataset."""
    from sketchlib.dedup.exact import exact_duplicate_groups

    groups = exact_duplicate_groups(_dedup_dataset(spark, sf_dir), col="text")
    return groups.select(
        F.col("rep_id").cast("bigint"), F.col("n_dups").cast("bigint")
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup recall on injected mutated copies (drop
    every 20th word of every 20th doc -> shingle Jaccard ~0.75, where
    the 16x4 banding S-curve collides w.p. >0.99), verified
    Spark-side; the oracle carries the constant shape."""
    from sketchlib.dedup.minhash import minhash_near_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.filter(
                F.split("text", " "), lambda w, i: (i % 20) != 19
            ),
            " ",
        ).alias("text"),
    )
    # n_injected rides the main job as an observation (the mutated
    # subtree occurs ONCE in the union, so the metric fires exactly
    # once when minhash's persisted input materializes) — no separate
    # count job
    from pyspark.sql import Observation

    obs = Observation()
    data = docs.union(
        mutated.observe(obs, F.count(F.lit(1)).alias("n_injected"))
    )
    # spread the 2-partition union before the CPU-bound signature
    # kernel (r6 measured this neutral at sf0.1's 5k docs; at sf1's
    # 52k docs the kernel serialized on 2 tasks — scale-adaptive now)
    data, _ = _spread(data, "doc_id")
    pairs = minhash_near_duplicates(data, threshold=0.4).collect()
    n_injected = int(obs.get["n_injected"])
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = sum(
        1 for a, b in found if b == a + 2_000_000 and a % 20 == 0
    )
    recall_ok = hits >= 0.9 * n_injected
    precision_ok = all(r["jaccard"] >= 0.4 for r in pairs)
    rows = [
        ("minhash_recall", bool(recall_ok)),
        ("minhash_precision", bool(precision_ok)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the deterministic measure
    MinHash approximates): injected mutated copies (drop every 20th
    word of every 20th doc, 3-gram Jaccard ~0.77-0.94) plus whatever
    natural pairs clear 0.5 — full exact parity with a DuckDB
    inverted-index self-join oracle, values included."""
    from sketchlib.dedup.ngram import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.filter(F.split("text", " "), lambda w, i: (i % 20) != 19), " "
        ).alias("text"),
    )
    # hash_grams narrows every shuffle/cache row to 8-byte gram keys
    # (measured ~1.4x on this gate at sf1.0); results are identical
    # short of an xxhash64 collision among the corpus' ~30k distinct
    # grams (~2e-11) — the string-gram DuckDB oracle still pins parity
    pairs = ngram_jaccard_pairs(
        docs.union(mutated), w=3, threshold=0.5, hash_grams=True
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (50000s quiet gap
    ends a session): one row per (user, session) with exact bounds,
    count and value sum — full DuckDB window-SQL parity.  Timestamps
    compare in exact integer epoch-micros on both engines."""
    from sketchlib.spark.sessions import epoch_micros, sessionize

    ev = _read(spark, sf_dir, "events").select("user_id", "ts", "value")
    s = sessionize(
        ev,
        ts_col="ts",
        key_col="user_id",
        gap=50_000.0,
        output="sessions",
        aggs={"sum_value": F.round(F.sum("value"), 4)},
    )
    us = lambda c: epoch_micros(c, s.schema[c].dataType)  # noqa: E731
    return s.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_idx",
        us("ts_start").alias("ts_start_us"),
        us("ts_end").alias("ts_end_us"),
        "n_events",
        "sum_value",
    )


def q_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-powered percentile annotation: every event ranked by
    the broadcast t-digest CDF, verified Spark-side against the exact
    percent_rank (abs err <= 0.01, the rank-error bar) plus decile
    balance; constant-shape oracle."""
    from sketchlib.spark.api import with_quantile_rank

    ev = _read(spark, sf_dir, "events").select("event_id", "value")
    out = with_quantile_rank(ev, "value", buckets=10)
    # exact percent_rank WITHOUT a global window over every row:
    # percent_rank(v) == (#rows < v) / (n-1), so the running count
    # over the ~30k DISTINCT values (_running_counts, broadcast back by
    # value) gives the identical double — long/long division on the
    # same operands Spark's PercentRank divides.  The former event_id
    # join and the second groupBy action fuse into ONE conditional agg.
    n = ev.count()
    c = F.col("value").cast("double")
    vc = ev.groupBy(c.alias("__v")).agg(F.count(F.lit(1)).alias("__c"))
    ranks = _running_counts(vc).select("__v", "__prior___c")
    exact_col = (
        (F.col("__prior___c") / F.lit(n - 1)) if n > 1 else F.lit(0.0)
    ).alias("exact")
    j = out.join(F.broadcast(ranks), c == F.col("__v")).select(
        "q_rank", "q_bucket", exact_col
    )
    aggs = [
        F.max(F.abs(F.col("q_rank") - F.col("exact"))).alias("worst"),
        F.count_distinct(F.col("q_bucket")).alias("cd"),
        F.count(F.when(F.col("q_bucket").isNull(), 1)).alias("nullb"),
    ] + [
        F.count(F.when(F.col("q_bucket") == b, 1)).alias(f"b{b}")
        for b in range(10)
    ]
    row = j.agg(*aggs).first()
    worst = row["worst"]
    sizes = [row[f"b{b}"] for b in range(10)]
    balanced = (
        row["cd"] == 10
        and row["nullb"] == 0
        and all(0.08 * n <= s <= 0.12 * n for s in sizes)
    )
    rows = [
        ("rank_abs_err_le_0.01", bool(worst <= 0.01)),
        ("deciles_balanced", bool(balanced)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-day rolling count and value sum per user:
    RANGE-frame window (tie-safe — all equal-instant rows share one
    frame) in exact integer epoch-micros, full parity with the DuckDB
    RANGE BETWEEN oracle."""
    from sketchlib.spark.sessions import epoch_micros, with_rolling_stats

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = with_rolling_stats(
        ev, ts_col="ts", key_col="user_id", window=86_400.0,
        aggs={"rolling_value": F.sum("value")},
    )
    us = lambda c: epoch_micros(c, out.schema[c].dataType)  # noqa: E731
    return out.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        us("ts").alias("ts_us"),
        "rolling_count",
        F.round("rolling_value", 4).alias("rolling_value"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks the user's most recent purchase
    at-or-before its timestamp (marks deduped to one row per (user,
    instant) by max value) — exact parity with DuckDB's native ASOF
    LEFT JOIN, including never-matching and equal-instant rows."""
    from sketchlib.spark.asof import asof_join
    from sketchlib.spark.sessions import epoch_micros

    ev = _read(spark, sf_dir, "events")
    marks = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        marks,
        on="ts",
        by="user_id",
        matched_on_col="purchase_ts",
    )
    us = lambda c: epoch_micros(c, out.schema[c].dataType)  # noqa: E731
    return out.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        us("ts").alias("ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
        us("purchase_ts").alias("purchase_ts_us"),
    )


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-passage removal (Lee et al. substring-dedup
    family): exact copies of every 10th doc are injected, so every
    one of their 5-word spans is corpus-duplicated and BOTH copies
    scrub to '' — byte-for-byte text parity with the DuckDB oracle,
    natural boilerplate repeats included."""
    from sketchlib.dedup.spans import remove_duplicate_spans

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    out = remove_duplicate_spans(docs.union(copies), w=5)
    return out.select(
        F.col("doc_id").cast("bigint"), "text", "n_removed"
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: exact copies (hamming 0) of every
    10th doc plus lightly mutated copies (drop every 30th word) of
    every 20th doc must be recovered within hamming <= 3 (the 4x16
    banding guarantee); verified Spark-side, constant-shape oracle."""
    from sketchlib.dedup.simhash import simhash_near_duplicates

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    mutated = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.filter(F.split("text", " "), lambda w, i: (i % 30) != 29), " "
        ).alias("text"),
    )
    data = docs.union(exact_copies).union(mutated)
    pairs = simhash_near_duplicates(data, max_hamming=3).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    n_exact = exact_copies.count()
    # a < 1M restricts to base-doc pairs: a mutated copy of a SHORT doc
    # (fewer than 30 words -> nothing dropped) equals the exact copy,
    # so (a+1M, a+2M) pairs also appear at hamming 0 — legitimate
    # output, but not what this flag counts
    exact_hits = sum(
        1 for (a, b), h in found.items()
        if b == a + 1_000_000 and a < 1_000_000 and a % 10 == 0 and h == 0
    )
    n_mut = mutated.count()
    mut_hits = sum(
        1 for (a, b), h in found.items()
        if b == a + 2_000_000 and a < 1_000_000 and a % 20 == 0
    )
    rows = [
        ("simhash_exact_hamming0", bool(exact_hits == n_exact)),
        ("simhash_mutated_recall", bool(mut_hits >= 0.8 * n_mut)),
        ("simhash_all_within_bound", bool(all(h <= 3 for h in found.values()))),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints (min rolling shingle hash): every injected
    exact copy must share its original's fingerprint (recall), and
    natural min-shingle collisions among distinct docs must stay rare
    (word-soup docs drawing from one vocabulary DO collide sometimes —
    the bound is a rate, not zero).  Verified Spark-side."""
    from sketchlib.text.fingerprint import document_fingerprints

    # docs + exact copies of every 10th; the single-file scan plans 2
    # partitions and would run the CPU-bound fingerprint UDF there —
    # spread it (gate-input choice, same as decontaminate; measured
    # 2.9-4.4s -> ~1s at sf0.1)
    data = _dedup_dataset(spark, sf_dir).repartition(16, F.col("doc_id"))
    fps = document_fingerprints(data).select("doc_id", "fingerprint").persist()
    n_docs = _read(spark, sf_dir, "documents").count()
    n_copies = n_docs // 10
    try:
        orig = fps.filter(F.col("doc_id") < 1_000_000)
        copies = fps.filter(F.col("doc_id") >= 1_000_000).select(
            (F.col("doc_id") - 1_000_000).alias("doc_id"),
            F.col("fingerprint").alias("fp_copy"),
        )
        matched = (
            orig.join(copies, "doc_id")
            .filter(F.col("fingerprint") == F.col("fp_copy"))
            .count()
        )
        distinct_fps = orig.select("fingerprint").distinct().count()
    finally:
        # exception-safe: never leak cache across the driver's session
        fps.unpersist()
    rows = [
        ("fingerprint_copy_recall_exact", bool(matched == n_copies)),
        ("fingerprint_collision_rate_low", bool(distinct_fps >= 0.9 * n_docs)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over CHAIN pairs (d — d+1M — d+2M for every
    10th doc): merging d with d+2M requires actual transitive label
    propagation, not pairwise grouping.  DuckDB recomputes components
    with a recursive CTE over the same edges — a real cross-engine
    graph-algorithm check."""
    from sketchlib.dedup.cluster import duplicate_clusters

    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 0)
    )
    pairs = base.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    ).union(
        base.select(
            (F.col("doc_id") + 1_000_000).alias("id_a"),
            (F.col("doc_id") + 2_000_000).alias("id_b"),
        )
    )
    clusters = duplicate_clusters(pairs)
    return clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    ).select(F.col("cluster_id").cast("bigint"), "n_members")


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-star/small-star components (O(log n) rounds for ANY
    topology) over the same chain pairs as dedup_clusters, against the
    same DuckDB recursive-CTE oracle — proves both distributed CC
    formulations agree with an exact engine."""
    from sketchlib.dedup.cluster import duplicate_clusters

    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 0)
    )
    pairs = base.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    ).union(
        base.select(
            (F.col("doc_id") + 1_000_000).alias("id_a"),
            (F.col("doc_id") + 2_000_000).alias("id_b"),
        )
    )
    clusters = duplicate_clusters(pairs, method="star")
    return clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    ).select(F.col("cluster_id").cast("bigint"), "n_members")


def q_tdigest_cluster_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-clustering insert path (reference
    t_digest.rs:368-436/443-520, ported r3): add_cluster AND
    add_cluster_tree digest a sample of events.value one centroid at a
    time; both must be rank-correct vs the raw rows at every q.  The
    oracle pins the exact percentiles; ok flags carry the trickle-path
    verification (self-validating gate pattern)."""
    from sketchlib.core.tdigest import TDigest

    events = _read(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    # deterministic 2k-row sample the ORACLE can reproduce in SQL:
    # first 2000 by event_id (TakeOrderedAndProject — one job, no sort)
    sample = [
        r["value"] for r in events.orderBy("event_id").limit(2000).collect()
    ]
    qs = [0.1, 0.5, 0.9]
    d1 = TDigest(delta=300.0, scale="k2")
    d1.add_cluster(sample, growth_limit=5.0)
    d2 = TDigest(delta=300.0, scale="k2")
    d2.add_cluster_tree(sample, growth_limit=5.0, seed=11)
    ests1 = [float(d1.value_at_quantile(q)) for q in qs]
    ests2 = [float(d2.value_at_quantile(q)) for q in qs]
    sdf = spark.createDataFrame([(float(v),) for v in sample], "value double")
    aggs = _rank_aggs("value", ests1 + ests2) + [
        F.percentile(
            F.col("value").cast("double"), F.array(*[F.lit(q) for q in qs])
        ).alias("p")
    ]
    row = sdf.agg(*aggs).first()
    oks = _rank_oks(row, qs + qs)
    count_ok = d1.total_weight() == len(sample) == d2.total_weight()
    rows = [
        (
            float(q),
            float(round(row["p"][i], 4)),
            bool(oks[i] and oks[i + len(qs)] and count_ok),
        )
        for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(
        rows, "q double, exact_value double, ok boolean"
    )


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token-budget mixing ("take B chars per
    language, doc_id order"): exact row parity with the DuckDB window
    oracle — the selected set is fully determined by the prefix rule,
    no sketch tolerance involved."""
    from sketchlib.spark.api import sample_by_token_budget

    docs = _read(spark, sf_dir, "documents")
    picked = sample_by_token_budget(
        docs, {"en": 8_000, "fr": 5_000, "zh": 4_000},
        source_col="lang", size_col="n_chars", order_col="doc_id",
    )
    return picked.select(
        F.col("doc_id").cast("bigint"), "lang",
        F.col("n_chars").cast("bigint"),
    )


def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (alpha=0.5): per-lang budgets
    total*isqrt(n_lang)//sum(isqrt) — integer arithmetic end-to-end,
    so the split AND the prefix-rule selection are exact cross-engine
    row parity with the DuckDB oracle."""
    from sketchlib.spark.api import sample_by_temperature

    docs = _read(spark, sf_dir, "documents")
    picked = sample_by_temperature(
        docs, 20_000, source_col="lang", size_col="n_chars",
        alpha=0.5, order_col="doc_id",
    )
    return picked.select(
        F.col("doc_id").cast("bigint"), "lang",
        F.col("n_chars").cast("bigint"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal-LM sequence packing (concatenate docs in doc_id order,
    chunk at 2048): the (seq_id, seq_offset, n_seqs) layout is a pure
    function of the exact global prefix sum — full row parity with the
    DuckDB window oracle, no sketch tolerance involved."""
    from sketchlib.spark.api import pack_sequences

    docs = _read(spark, sf_dir, "documents")
    packed = pack_sequences(docs, 2048, size_col="n_chars", order_col="doc_id")
    return packed.select(
        F.col("doc_id").cast("bigint"), "seq_id", "seq_offset", "n_seqs"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling at per-language rates
    {en: 1/2, fr: 1/4}: the keep decision is an arithmetic Weyl key
    both engines compute identically (production default is a seeded
    xxhash64 — same plan, engine-specific key), so the selected set has
    exact row parity with the SQL oracle."""
    from sketchlib.spark.api import sample_stratified

    docs = _read(spark, sf_dir, "documents")
    key = F.pmod(
        F.col("doc_id").cast("long") * F.lit(2654435761), F.lit(1 << 20)
    )
    picked = sample_stratified(
        docs, ["lang"], {"en": 0.5, "fr": 0.25}, key_expr=key
    )
    return picked.select(F.col("doc_id").cast("bigint"), "lang")


def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 7/8 : 1/8 train/eval holdout split of documents.
    Membership is a pure function of the row key (arithmetic Weyl key
    here so both engines compute it identically; production default is
    seeded xxhash64 — same plan), so the gate checks full row parity of
    the labelled union: every doc in exactly one split, and the same
    split both engines."""
    from sketchlib.spark.api import split_by_weights

    docs = _read(spark, sf_dir, "documents")
    # 7/8 and 1/8 scale to exact integers at 2^20 (no rounding skew)
    key = F.pmod(
        F.col("doc_id").cast("long") * F.lit(2654435761), F.lit(1 << 20)
    )
    parts = split_by_weights(
        docs, {"train": 0.875, "eval": 0.125}, key_expr=key
    )
    labelled = [
        df.select(F.col("doc_id").cast("bigint"), F.lit(name).alias("split"))
        for name, df in parts.items()
    ]
    out = labelled[0]
    for df in labelled[1:]:
        out = out.unionByName(df)
    return out


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global curriculum rank + round-robin shard id over
    documents ordered by (n_chars, doc_id) — the distributed two-phase
    ranking (bucket counts -> broadcast offsets -> within-bucket
    row_number) must equal a plain row_number() OVER (ORDER BY ...).
    bucketed_min_partitions=0 forces the 100-TB plan at gate scale."""
    from sketchlib.spark.api import with_global_rank

    docs = _read(spark, sf_dir, "documents")
    out = with_global_rank(
        docs,
        "n_chars",
        tie_cols=["doc_id"],
        n_shards=8,
        bucketed_min_partitions=0,
        order_buckets=64,
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("shard").cast("bigint"),
    )


def q_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous curriculum shards = SQL NTILE semantics (0-based):
    documents ordered by (n_chars, doc_id) into 7 shards — 7 does not
    divide the row count, so the ragged-tile boundary arithmetic is
    exercised.  Forced bucketed plan."""
    from sketchlib.spark.api import with_global_rank

    docs = _read(spark, sf_dir, "documents")
    out = with_global_rank(
        docs,
        "n_chars",
        tie_cols=["doc_id"],
        n_shards=7,
        shard_mode="contiguous",
        bucketed_min_partitions=0,
        order_buckets=64,
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("rank").cast("bigint"),
        F.col("shard").cast("bigint"),
    )


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned fact-to-dim join: lineitem rows joined to URGENT
    orders, with lineitem pruned by a broadcast Bloom of the order
    keys BEFORE the shuffle.  Exact vs the plain SQL join: the Bloom
    admits no false negatives and its false positives die in the real
    join that follows."""
    from sketchlib.spark.api import bloom_filtered_join

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    ords = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_totalprice",
        )
    )
    out = bloom_filtered_join(li, ords, "l_orderkey", capacity=100_000)
    return out.select(
        F.col("l_orderkey").cast("bigint"),
        "l_extendedprice",
        "o_totalprice",
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full normalization recipe (lower -> NFC -> collapse whitespace
    -> trim) over a case/whitespace-perturbed input synthesized from
    the documents table (the raw text is already clean lowercase ASCII
    so the perturbation makes every step observable).  NFC parity:
    Python unicodedata vs DuckDB nfc_normalize."""
    from sketchlib.text.normalize import normalize_text

    docs = _read(spark, sf_dir, "documents")
    raw = docs.withColumn(
        "raw",
        F.concat(
            F.upper(F.col("lang")), F.lit("  "), F.col("text"), F.lit(" ")
        ),
    )
    out = normalize_text(raw, col="raw", out_col="norm")
    return out.select(F.col("doc_id").cast("bigint"), "norm")


def q_split_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage explosion on a literal separator (' table ') with
    1-based per-document ordinals, empties dropped: exact row parity
    vs DuckDB string_split + generate_subscripts."""
    from sketchlib.text.normalize import split_passages

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = split_passages(docs, sep=" table ")
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("passage_idx").cast("bigint"),
        "passage",
    )


def q_shuffle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle: the assigned positions must be a
    strict permutation of 1..N, shards balanced within one row, and a
    second independent evaluation (different partitioning) must
    assign every doc the identical position (hash order is not
    SQL-expressible, so the gate carries invariants in the constant
    ivf_recall style).

    Gate cost discipline (r5 judge item #2): ONE shuffle_rows output
    persisted and shared by every invariant branch, all three checks
    folded into a single unioned frame so the driver's collect is the
    only action, and the layout-independence join runs on a ~5%
    hash-sampled doc subset instead of the full corpus.  The second
    evaluation deliberately takes the op's DEFAULT plan gate (the
    single-window plan at this scale, vs `a`'s forced bucketed plan),
    so the invariant is cross-plan AND cross-partitioning equality —
    stronger than before, one fewer internal counts job."""
    from sketchlib.spark.api import shuffle_rows

    docs = _read(spark, sf_dir, "documents")
    n = docs.count()  # parquet metadata count — no data decode
    a = shuffle_rows(
        docs, seed=7, key_cols=["doc_id"], n_shards=8,
        bucketed_min_partitions=0,
    ).select("doc_id", "shuffle_rank", "shard").persist()
    perm = a.agg(
        (
            (F.count(F.lit(1)) == n)
            & (F.countDistinct("shuffle_rank") == n)
            & (F.min("shuffle_rank") == 1)
            & (F.max("shuffle_rank") == n)
        ).alias("ok")
    ).select(F.lit("strict_permutation").alias("metric"), "ok")
    bal = (
        a.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(((F.max("n") - F.min("n")) <= 1).alias("ok"))
        .select(F.lit("shards_balanced").alias("metric"), "ok")
    )
    # layout independence: re-evaluate under a different partitioning
    # (inherently a second evaluation — that IS the invariant), but
    # compare only a hash-capped sample of docs; full outer join +
    # null-safe equality also catches dropped/extra rows
    pred = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(99)), F.lit(20)) == 0
    b = shuffle_rows(
        docs.repartition(13), seed=7, key_cols=["doc_id"], n_shards=8,
    ).select("doc_id", F.col("shuffle_rank").alias("r2"))
    layout = (
        a.filter(pred)
        .select("doc_id", "shuffle_rank")
        .join(b.filter(pred), "doc_id", "full")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        (
                            ~F.col("shuffle_rank").eqNullSafe(F.col("r2"))
                        ).cast("long")
                    ),
                    F.lit(0),
                )
                == 0
            ).alias("ok")
        )
        .select(F.lit("layout_independent").alias("metric"), "ok")
    )
    try:
        rows = [
            (r["metric"], bool(r["ok"]))
            for r in perm.unionByName(bal).unionByName(layout).collect()
        ]
    finally:
        # exception-safe: never leak cache across the driver's session
        a.unpersist()
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style tumbling rollup: 15-minute event windows per
    event_type (count + sum), window bounds as engine-neutral epoch
    micros — exact parity vs DuckDB time_bucket."""
    from sketchlib.spark.sessions import rollup_time_windows

    ev = _read(spark, sf_dir, "events")
    out = rollup_time_windows(
        ev,
        "ts",
        "15 minutes",
        {
            "n": F.count(F.lit(1)).cast("bigint"),
            "total": F.round(F.sum("value"), 4),
        },
        by=["event_type"],
    )
    return out.select(
        "event_type", "window_start", "window_end", "n", "total"
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (point-in-interval): lineitem ship dates falling in
    a 7-day window after a small subset of order dates — the bucketed
    equi-join plan must equal the plain inequality join."""
    from sketchlib.spark.sessions import interval_join

    li, _ = _spread(
        _read(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate"
        ),
        "l_orderkey",
    )
    ivs = (
        _read(spark, sf_dir, "orders")
        .filter(F.pmod(F.col("o_orderkey"), F.lit(97)) == 0)
        .select(
            F.col("o_orderkey").alias("interval_id"),
            F.col("o_orderdate").alias("lo"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("hi"),
        )
    )
    out = interval_join(li, ivs, "l_shipdate", "lo", "hi", bucket="7 days")
    return out.select(
        F.col("l_orderkey").cast("bigint"),
        F.col("l_linenumber").cast("bigint"),
        F.col("interval_id").cast("bigint"),
    )


def q_top_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 longest documents per language (ties by doc_id):
    the two-level salted plan (forced via two_level_min_partitions=0)
    must equal a plain per-group row_number."""
    from sketchlib.spark.api import top_k_per_group

    docs = _read(spark, sf_dir, "documents")
    out = top_k_per_group(
        docs,
        ["lang"],
        5,
        order_col="n_chars",
        descending=True,
        tie_cols=["doc_id"],
        two_level_min_partitions=0,
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        "lang",
        F.col("n_chars").cast("bigint"),
        F.col("rank").cast("bigint"),
    )


def q_materialize_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed training windows over whitespace-tokenized
    document text (L=128): every window's exact token list must match
    the DuckDB concatenate-and-chunk oracle — full content parity, the
    strongest possible check of the packing layout AND the Catalyst
    slice/reassembly plan.  The token list is fingerprinted to a
    scalar (md5 of the space-joined window — injective here: tokens
    come from splitting on spaces, so they contain none) because the
    driver's pandas canonicalizer cannot sort/hash array columns."""
    from sketchlib.spark.api import materialize_packed

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return materialize_packed(docs, "toks", 128, order_col="doc_id").select(
        "seq_id",
        "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tokens_md5"),
    )


def q_token_freq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 tokens by frequency-share drift between the full corpus
    and a 'next release' that dropped every doc_id % 10 == 0 document.
    The ranking metric is the exact BIGINT cross-multiplied share
    difference — full integer parity with the SQL oracle."""
    from sketchlib.spark.drift import token_freq_drift

    docs = _read(spark, sf_dir, "documents")
    nxt = docs.filter(F.col("doc_id") % 10 != 0)
    return token_freq_drift(docs, nxt, "text", k=40)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic between the value distributions of
    'click' and 'view' events — D carried as an exact integer numerator
    (max |n_b*cumcount_a - n_a*cumcount_b| over pooled values), so the
    whole statistic is engine-exact including the final division."""
    from sketchlib.spark.drift import ks_2sample

    ev = _read(spark, sf_dir, "events")
    return ks_2sample(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
        "value",
    )


def q_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies spectrum of the documents corpus
    (count-of-counts: Heaps/Good-Turing view) — exact SQL parity."""
    from sketchlib.text.analysis import freq_spectrum

    return freq_spectrum(_read(spark, sf_dir, "documents"), "text")


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction over the corpus with deterministically
    injected emails/IPs/phone numbers (every doc_id % 7 == 0 document):
    per-doc match counts AND the byte-exact redacted text must both
    match the RE2 oracle — cross-engine regex-semantics parity."""
    from sketchlib.text.pii import redact_pii, with_pii_flags

    docs = _read(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".17 call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, injected)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = redact_pii(with_pii_flags(aug, "text"), "text", out_col="redacted")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_email", "n_ipv4", "n_phone", "has_pii", "redacted",
    )


def q_write_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded sink round-trip: write the corpus as 8
    hash-assigned hive-partitioned shards, read it BACK from the files,
    and emit per-shard stats — so membership, layout, and content all
    have to survive the disk round-trip to match the oracle (which
    computes the same stats straight from the source with the same
    arithmetic shard key)."""
    import tempfile

    from sketchlib.spark.sink import SHARD_COL, read_sharded, write_sharded

    docs = _read(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="sketchlib_shard_gate_") + "/data"
    expr = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(8))
    write_sharded(docs, path, 8, shard_expr=expr)
    back = read_sharded(spark, path)
    return (
        back.groupBy(F.col(SHARD_COL).cast("bigint").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
        )
    )


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies (min_df=25):
    exact SQL parity — array_distinct-then-explode equals DuckDB's
    DISTINCT (doc, term) unnest."""
    from sketchlib.text.analysis import vocabulary

    docs = _read(spark, sf_dir, "documents")
    return vocabulary(docs, "text", min_df=25).select(
        "term", F.col("doc_freq").cast("bigint").alias("doc_freq")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (exact method): training docs sharing
    any 5-word shingle with the eval slice (doc_id % 17 == 0) are
    removed — full row parity with the DuckDB shingle-join oracle."""
    from sketchlib.dedup.decontaminate import decontaminate

    # the sf documents table is ONE parquet file, so the (CPU-bound)
    # Catalyst shingle construction would run in a single task;
    # spreading the scan is a gate-input choice, not an operator one
    # (scale-adaptive — a fixed 8 under-fills a 32-core box at sf1)
    docs, _ = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    kept = decontaminate(docs, eval_df, shingle_w=5, threshold=1)
    return kept.select(F.col("doc_id").cast("bigint"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb repetition signals (top-bigram and duplicate
    5-gram character fractions) — exact SQL parity with a DuckDB
    window-gram oracle at round(,4)."""
    from sketchlib.text.analysis import with_repetition_stats

    docs = _read(spark, sf_dir, "documents")
    out = with_repetition_stats(docs, "text")
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.round("top_bigram_frac", 4).alias("top_bigram_frac"),
        F.round("dup_5gram_frac", 4).alias("dup_5gram_frac"),
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keep-first dedup over a 3-micro-batch document-id
    stream in which one id slice repeats in EVERY file: the appended
    output must contain each id exactly once — returned verbatim (no
    re-distinct), so a duplicate emission breaks row-count parity with
    the DuckDB DISTINCT oracle."""
    import tempfile
    import time as _time

    from sketchlib.streaming.stream import streaming_dedup_exact

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    q = None
    try:
        # inside the try: a setup failure must still restore the conf
        # (review r5 — a leaked 8 skews every later query's plan)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        docs = _read(spark, sf_dir, "documents").select("doc_id")
        work = tempfile.mkdtemp(prefix="dedup_stream_gate_")
        src = f"{work}/src"
        common = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
        for i in range(3):
            part = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
            part.union(common).coalesce(1).write.mode("overwrite").parquet(
                f"{src}/f{i}"
            )
        stream = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        name = "sink_" + work.rsplit("_", 1)[-1]
        q = (
            streaming_dedup_exact(stream, ["doc_id"])
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
            _time.sleep(0.2)
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    rows = spark.table(name).select(
        F.col("doc_id").cast("bigint")
    ).collect()
    return spark.createDataFrame(rows, "doc_id bigint")


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf with the
    transcendental-free ratio idf (its own rarity weighting, chosen
    here because it is bit-reproducible across engines — no libm),
    exact SQL parity including the (score DESC, term ASC) tie-break."""
    from sketchlib.text.analysis import tfidf_keywords

    # spread the one-file scan: the explode + counts are CPU-bound
    # (scale-adaptive — a fixed 8 under-fills a 32-core box at sf1)
    docs, _ = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    out = tfidf_keywords(docs, "text", k=3, idf="ratio")
    return out.select(
        F.col("id").cast("bigint"), "rank", "term",
        F.round("score", 4).alias("score"),
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup: a Bloom seen-state built over the
    even doc_ids must pass exactly the odd ids (no false negative can
    readmit a seen key; at fpr=1e-9 over this deterministic key set the
    false-positive set is empty, so the parity is exact and stable)."""
    from sketchlib.dedup.incremental import build_seen_state, filter_unseen

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    seen = build_seen_state(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", fpr=1e-9
    )
    fresh = filter_unseen(docs, "doc_id", seen)
    return fresh.select(F.col("doc_id").cast("bigint"))


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan table profile of the documents table: exact
    row/null counts pin real numbers; the per-column HLL distinct
    estimate is verified inside the query against exact countDistinct
    at 5% (generous vs the ~1.6% p=12 sigma) and shipped as an ok
    flag the constant-shape oracle pins."""
    from sketchlib.spark.api import profile_table

    docs = _read(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    prof = {r["column"]: r for r in profile_table(docs, cols).collect()}
    exact = docs.agg(
        *[F.countDistinct(c).alias(c) for c in cols]
    ).first()
    rows = []
    for c in cols:
        r = prof[c]
        ok = abs(r["approx_distinct"] - exact[c]) <= max(
            0.05 * exact[c], 2.0
        )
        rows.append((c, int(r["n_rows"]), int(r["n_nulls"]), bool(ok)))
    return spark.createDataFrame(
        rows, "column string, n_rows bigint, n_nulls bigint, distinct_ok boolean"
    )


def q_grouped_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type top-3 user_ids via per-group SpaceSaving
    sketches: the exact per-group top-3 (Spark groupBy) must be
    contained in the sketch's found set and no estimate may undercount
    its true in-group count (constant-shape oracle)."""
    from sketchlib.spark.api import grouped_heavy_hitters

    events = _read(spark, sf_dir, "events")
    got = grouped_heavy_hitters(
        events, ["event_type"], "user_id", k=6, capacity=4096
    ).collect()
    by_grp: dict = {}
    for r in got:
        by_grp.setdefault(r["event_type"], {})[r["user_id"]] = r["est_count"]
    exact = events.groupBy("event_type", "user_id").count()
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(
        F.desc("count"), F.asc("user_id")
    )
    top3 = exact.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    ).collect()
    # true counts for every (group, found user) — one filtered job
    found_users = sorted({r["user_id"] for r in got})
    true_counts = {
        (r["event_type"], r["user_id"]): r["count"]
        for r in exact.filter(F.col("user_id").isin(found_users)).collect()
    }
    rows = []
    for et in sorted(by_grp):
        contained = all(
            t["user_id"] in by_grp[et]
            for t in top3
            if t["event_type"] == et
        )
        no_under = all(
            est >= true_counts.get((et, uid), 0)
            for uid, est in by_grp[et].items()
        )
        rows.append((et, bool(contained and no_under)))
    return spark.createDataFrame(rows, "event_type string, ok boolean")


def q_similarity_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine nearest neighbor (excluding self) for the
    first 20 vectors — exact SQL parity with DuckDB
    list_cosine_similarity."""
    from sketchlib.similarity.ann import brute_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < 20).orderBy("vec_id").collect()
    )
    queries = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qids = [r["vec_id"] for r in qrows]
    top2 = brute_topk(emb, queries, qids, k=2, dtype=np.float64)
    return top2.filter(F.col("rank") == 2).select(
        "query_id", F.col("vec_id").alias("nn_id"), "cos"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over embeddings + one injected
    exact copy of vec 0 (id 90001) — SQL parity."""
    from sketchlib.similarity.ann import embedding_near_duplicates

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    injected = emb.filter(F.col("vec_id") == 0).select(
        F.lit(90001).cast("bigint").alias("vec_id"), "embedding"
    )
    data = emb.union(injected)
    return embedding_near_duplicates(data, threshold=0.9).select(
        "id_a", "id_b", "cos"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: fake media attach -> mapInPandas feature
    extraction; output shape is SQL-checkable."""
    from sketchlib.multimodal.media import attach_fake_media, extract_features

    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    feats = extract_features(attach_fake_media(docs))
    return feats.select("id", F.size("features").alias("n_features"))


def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming global sketch (foreachBatch + exactly-once
    per-batch ledger), SELF-VALIDATING so the DuckDB oracle can pin it
    (rows + schema + value hash, not rows-only):

    the events table arrives as a 3-file stream (maxFilesPerTrigger=1
    -> >= 3 micro-batches).  After draining, (a) the streamed sketch
    must carry the exact row count, (b) its quantile estimates must be
    rank-correct vs the raw rows, and (c) a BATCH-path rebuild of the
    identical sketch over the identical ingested files must also be
    rank-correct — streamed and batch builds agree in rank space.  The
    emitted columns are exact values DuckDB reproduces (count, exact
    percentiles) plus the ok flags, so a wrong streamed estimate flips
    an ok to false and fails the hash."""
    import tempfile
    import time as _time

    from sketchlib.streaming.stream import current_sketch, run_streaming_sketch

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    q = None
    try:
        # conf set INSIDE the try: a setup failure must still restore
        # it (review r5 — a leaked 8 skews every later query's plan)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        events = _read(spark, sf_dir, "events").select("value").filter(
            F.col("value").isNotNull()
        )
        work = tempfile.mkdtemp(prefix="stream_gate_")
        src = f"{work}/src"
        # 3 deterministic source files = micro-batches
        for i in range(3):
            events.filter(F.pmod(F.xxhash64("value"), F.lit(3)) == i).coalesce(
                1
            ).write.mode("overwrite").parquet(f"{src}/f{i}")
        stream = (
            spark.readStream.schema("value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        from sketchlib.core.tdigest import TDigest

        q = run_streaming_sketch(
            stream, "value", lambda: TDigest(delta=1000),
            f"{work}/ledger", f"{work}/ckpt", query_name="gate-stream",
        )
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            q.processAllAvailable()
            if not q.status["isDataAvailable"]:
                break
            _time.sleep(0.2)
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    sk = current_sketch(spark, f"{work}/ledger")
    qs = [0.1, 0.5, 0.9]
    ests_stream = [
        float(v) for v in np.atleast_1d(sk.value_at_quantile(np.array(qs)))
    ]
    # batch-path rebuild over the IDENTICAL ingested files: the
    # streamed state and a fresh batch aggregation must tell the same
    # story (both rank-correct at every q)
    ingested = spark.read.schema("value double").parquet(f"{src}/f*")
    ests_batch, _bsk = approx_quantiles(
        ingested, "value", qs, sketch="tdigest", delta=1000
    )
    ests_batch = [float(v) for v in ests_batch]
    # exact count + exact percentiles + rank intervals for all 6
    # estimates (3 streamed, 3 batch) from the distinct-value-count
    # plan (bit-identical to F.percentile; see _exact_quantile_check)
    exact_p, oks, n_exact = _exact_quantile_check(
        events, "value", qs + qs, ests_stream + ests_batch
    )
    oks_stream, oks_batch = oks[: len(qs)], oks[len(qs):]
    count_ok = sk is not None and sk.count == n_exact
    n_batches = len(
        [d for d in __import__("os").listdir(f"{work}/ledger")]
    ) if sk is not None else 0
    rows = [
        ("stream_batches", 0.0, -1.0, bool(n_batches >= 3)),
        ("stream_count", 0.0, float(n_exact), bool(count_ok)),
    ] + [
        (
            "stream_q",
            float(qx),
            float(round(exact_p[i], 4)),
            bool(oks_stream[i] and oks_batch[i]),
        )
        for i, qx in enumerate(qs)
    ]
    return spark.createDataFrame(
        rows, "metric string, q double, exact_value double, ok boolean"
    )


def q_streaming_windowed_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window sketches (applyInPandasWithState +
    watermark finalization) over the events table streamed as
    time-ordered files: every 1-day window must finalize EXACTLY once
    with the exact row count and a rank-correct median.  The oracle
    recomputes per-day counts and exact medians in SQL; the ok flag
    carries the streaming-side verification (count match + rank check
    + single finalization)."""
    import tempfile
    import time as _time
    import uuid

    from sketchlib.core.tdigest import TDigest
    from sketchlib.streaming.stream import streaming_windowed_quantiles

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # 9 window groups need nowhere near the session's shuffle width;
    # the state store pays per (partition x trigger), so 8 partitions
    # cut the fixed stateful overhead ~3x (restored below)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # first 9 days only: 9 windows exercise the full semantics
        # (exactly-once finalization, counts, rank checks) at a third
        # of the rows — the stateful shuffle per trigger is the cost.
        # The fixture data is SMALL by construction, so the harness
        # stages files and verifies driver-side with pyarrow/numpy
        # (zero extra Spark jobs); the operator under test is the
        # STREAM itself.
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        pdf = (
            _read(spark, sf_dir, "events")
            .select("ts", "value")
            .filter(F.col("value").isNotNull() & (F.dayofmonth("ts") < 10))
            .toPandas()
        )
        work = tempfile.mkdtemp(prefix="stream_win_gate_")
        src = f"{work}/src"
        _os.makedirs(src)
        # 3 time-ordered segments so the watermark advances across
        # triggers, plus a far-future sentinel that pushes the
        # watermark past every real window (its own window never
        # finalizes and is excluded below)
        days = pdf["ts"].dt.day.to_numpy()
        segs = [pdf[days < 4], pdf[(days >= 4) & (days < 7)], pdf[days >= 7]]
        import pandas as _pd

        segs.append(
            _pd.DataFrame(
                {"ts": [_pd.Timestamp("2024-03-01 00:00:00")], "value": [0.0]}
            )
        )
        for i, seg in enumerate(segs):
            _pq.write_table(
                _pa.Table.from_pandas(
                    seg.reset_index(drop=True), preserve_index=False
                ).cast(
                    _pa.schema(
                        [("ts", _pa.timestamp("us")), ("value", _pa.float64())]
                    )
                ),
                f"{src}/f{i}.parquet",
            )
        stream = (
            spark.readStream.schema("ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        out = streaming_windowed_quantiles(
            stream, "ts", "value", lambda: TDigest(delta=1000.0),
            window_duration="1 day", watermark_delay="1 second",
            quantiles=(0.5,),
        )
        qname = f"win_gate_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        try:
            deadline = _time.monotonic() + 180
            while _time.monotonic() < deadline:
                q.processAllAvailable()
                if not q.status["isDataAvailable"]:
                    break
                _time.sleep(0.2)
        finally:
            q.stop()
        got = (
            spark.table(qname)
            .filter(F.col("window_start") < F.lit("2024-02-15").cast("timestamp"))
            .select(
                F.date_format("window_start", "yyyy-MM-dd").alias("day"),
                "items", F.col("q0").alias("est"),
            )
            .collect()
        )
        # exactly-once finalization: no day may appear twice
        got_days = [r["day"] for r in got]
        single = len(got_days) == len(set(got_days))
        est_map = {r["day"]: float(r["est"]) for r in got}
        items_map = {r["day"]: int(r["items"]) for r in got}
        # exact per-day counts, medians, and rank checks in numpy over
        # the already-staged fixture rows (no extra Spark jobs)
        day_key = pdf["ts"].dt.strftime("%Y-%m-%d")
        rows = []
        for dkey, grp in pdf.groupby(day_key):
            v = grp["value"].to_numpy(dtype=np.float64)
            n = int(v.size)
            p50 = float(round(np.quantile(v, 0.5), 4))  # == quantile_cont
            est = est_map.get(dkey)
            if est is None:
                ok = False
            else:
                r = float(np.rint(est))
                ok = _rank_interval_ok(
                    0.5, n, (v < est).mean(), (v <= est).mean(),
                    (v < r).mean(), (v <= r).mean(),
                )
            rows.append(
                (
                    str(dkey),
                    n,
                    p50,
                    bool(single and items_map.get(dkey) == n and ok),
                )
            )
        return spark.createDataFrame(
            sorted(rows), "day string, n bigint, exact_p50 double, ok boolean"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def q_sampling_and_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k uniform sample + sketch-driven range-partition
    bounds over lineitem.l_extendedprice, verified Spark-side:

    * sample: full capacity, exact total count, mean within 4 standard
      errors of the exact mean, sample median rank-near 0.5;
    * bounds: 8 split points partition the table into rows-per-bucket
      within 25% of perfectly balanced (Zipf-proof balance check).

    Oracle carries the constant shape."""
    from sketchlib.core.reservoir import ReservoirSample
    from sketchlib.core.tdigest import TDigest
    from sketchlib.spark.aggregate import (
        KIND_DOUBLE,
        sketch_columns,
        task_partition_salt,
    )

    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    cap = 2000
    # ONE scan builds BOTH sketches (sample + bounds t-digest) via the
    # multi-column pass on an aliased projection; bottom-k sampling is
    # feed-order-independent, so the sample content matches the former
    # dedicated scan.  Was: two separate full scans.
    two = li.select(
        F.col("l_extendedprice").alias("__s"),
        F.col("l_extendedprice").alias("__t"),
    )
    sks = sketch_columns(
        two,
        {
            "__s": (
                lambda: ReservoirSample(
                    capacity=cap, seed=7, salt=task_partition_salt()
                ),
                KIND_DOUBLE,
            ),
            "__t": (lambda: TDigest(delta=2000), KIND_DOUBLE),
        },
    )
    sk, td = sks.get("__s"), sks.get("__t")
    stats = li.agg(
        F.count("l_extendedprice").alias("n"),
        F.avg("l_extendedprice").alias("mean"),
        F.stddev_pop("l_extendedprice").alias("sd"),
    ).first()
    s = np.asarray(sk.sample(), dtype=np.float64)
    size_ok = s.size == min(cap, stats["n"]) and sk.count == stats["n"]
    se = stats["sd"] / np.sqrt(max(s.size, 1))
    mean_ok = abs(s.mean() - stats["mean"]) <= 4 * se + 1e-9
    med = float(np.median(s))

    n_buckets = 8
    # range_partition_bounds' own bound code over the fused scan's
    # t-digest: its (i/n)-quantiles, non-decreasing-enforced
    bounds = _split_points(td, n_buckets)
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (F.col("l_extendedprice") > F.lit(b)).cast("int")
    # median rank check + per-bucket counts fused into ONE aggregation
    row = li.agg(
        F.avg(
            (F.col("l_extendedprice") <= F.lit(med)).cast("double")
        ).alias("mr"),
        *[
            F.count(F.when(bucket == b, 1)).alias(f"b{b}")
            for b in range(n_buckets)
        ],
    ).first()
    median_ok = abs(row["mr"] - 0.5) <= 0.05
    cnts = [row[f"b{b}"] for b in range(n_buckets)]
    target = stats["n"] / n_buckets
    balance_ok = all(c > 0 for c in cnts) and all(
        abs(c - target) <= 0.25 * target + 2 for c in cnts
    )

    rows = [
        ("sample_size_count", bool(size_ok)),
        ("sample_mean_4se", bool(mean_ok)),
        ("sample_median_rank", bool(median_ok)),
        ("range_bounds_balanced", bool(balance_ok)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def q_iceberg_manifest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg manifest direct-scan parity: documents are written as a
    2-snapshot Iceberg-layout table (snapshot 2 appends the remainder
    and DELETES the file holding the 100 smallest doc_ids); Spark reads
    via the manifest chain (sketchlib.iceberg — no runtime jar), DuckDB
    recomputes the live set with the equivalent predicate.  A raw
    directory listing would disagree (it would resurrect the deleted
    rows), so a hash match proves the manifest machinery.

    Fixture synthesis collects 3 narrow columns driver-side — fixture
    TOOLING at test scale, not an operator path."""
    import os

    from sketchlib.spark.io import read_table

    tag = sf_dir.rstrip("/").replace("/", "_")
    loc = f"/tmp/iceberg_docs{tag}"
    if not os.path.exists(os.path.join(loc, "metadata", "version-hint.text")):
        import pyarrow as pa

        from sketchlib.iceberg.fixture import write_iceberg_table

        pdf = (
            _read(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .orderBy("doc_id")
            .toPandas()
        )
        t_all = pa.Table.from_pandas(pdf, preserve_index=False)
        head, rest = t_all.slice(0, 100), t_all.slice(100)
        write_iceberg_table(
            loc,
            [head, rest],
            rows_per_file=max(rest.num_rows // 32, 100),
            delete_first_n_at_last_snapshot=1,
        )
    live = read_table(spark, loc)  # manifest-resolved live files only
    return (
        live.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine k-means over the embeddings table (k=8, seeded):
    invariant gate in the ivf_recall style — every vector assigned
    exactly once, all 8 clusters used, and the clustering beats the
    1-means baseline (mean cosine to own centroid >= cosine to the
    global mean + 0.05; measured 0.22-0.26 vs 0.02-0.05 at 3 sfs)."""
    from sketchlib.similarity.ann import _normalize, cluster_embeddings

    emb = _read(spark, sf_dir, "embeddings")
    n = emb.count()
    out, cents = cluster_embeddings(emb, n_clusters=8, seed=42)
    rows = out.select("embedding", "cluster").toPandas()
    m = _normalize(
        np.array([np.asarray(v, dtype=np.float32) for v in rows["embedding"]])
    )
    c = _normalize(np.asarray(cents, dtype=np.float32))
    self_cos = float((m * c[rows["cluster"].to_numpy()]).sum(1).mean())
    g = _normalize(m.mean(0, keepdims=True))
    glob_cos = float((m @ g.T).mean())
    used = int(rows["cluster"].nunique())
    checks = [
        ("all_assigned", len(rows) == n),
        ("k_clusters_used", used == 8),
        ("kmeans_beats_global_mean", self_cos >= glob_cos + 0.05),
    ]
    return spark.createDataFrame(checks, "metric string, ok boolean")


def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train/encode/decode over documents: the decode of every
    encoded doc must equal its whitespace-normalized text EXACTLY
    (BPE only segments — the end-of-word marker restores boundaries),
    and on this small-vocab corpus 256 requested merges exhaust every
    word, so each word encodes to exactly one piece."""
    from sketchlib.text.bpe import bpe_decode_column, bpe_encode, train_bpe

    # spread the one-file scan: train's word count and the encode
    # kernel are CPU-bound (single row group -> one task otherwise)
    docs, _ = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    merges = train_bpe(docs, num_merges=256)
    enc = bpe_encode(docs, merges)
    # reference normalization/word count use the SAME Java-\s word
    # boundaries as the library, null-safe, with phantom empty tokens
    # from split filtered out (''.split -> [''])
    txt = F.coalesce(F.col("text"), F.lit(""))
    agg = (
        enc.withColumn("back", bpe_decode_column(F.col("bpe_tokens")))
        .agg(
            F.sum(
                (
                    F.col("back")
                    == F.trim(F.regexp_replace(txt, r"\s+", " "))
                ).cast("long")
            ).alias("rt"),
            F.count("*").alias("n"),
            F.sum(F.size("bpe_tokens")).alias("pieces"),
            F.sum(
                F.size(
                    F.filter(
                        F.split(txt, r"\s+"), lambda x: x != F.lit("")
                    )
                )
            ).alias("words"),
        )
        .first()
    )
    checks = [
        ("roundtrip_exact", int(agg["rt"]) == int(agg["n"])),
        ("fully_fused", int(agg["pieces"]) == int(agg["words"])),
        ("trained_merges", len(merges) > 0),
    ]
    return spark.createDataFrame(checks, "metric string, ok boolean")


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall vs the brute baseline (Spark-side check; oracle
    carries the constant shape)."""
    from sketchlib.similarity.ann import brute_topk, ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 10).orderBy("vec_id").collect()
    queries = np.array([r["embedding"] for r in qrows], dtype=np.float32)
    qids = [r["vec_id"] for r in qrows]
    brute = brute_topk(emb, queries, qids, k=10).collect()
    approx = ivf_topk(emb, queries, qids, k=10, n_centroids=8, nprobe=4, seed=1).collect()
    bset: dict = {}
    aset: dict = {}
    for r in brute:
        bset.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        aset.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(bset[q] & aset.get(q, set())) / len(bset[q]) for q in bset]
    rows = [("ivf_mean_recall_ge_0.6", bool(np.mean(recalls) >= 0.6))]
    return spark.createDataFrame(rows, "metric string, ok boolean")


# -------------------------------------------------------------------- contract


def q_pipeline_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END declarative curation pipeline (pipeline.py spec
    runner): normalize -> quality filter -> exact dedup ->
    decontaminate (held-out doc_id%17 slice) -> stratified sample ->
    train/eval split, over documents.  The gate returns every step's
    post-row-count (all riding observe() nodes fired by ONE action)
    plus final-set fingerprints (row count, train-row count, sum of
    per-row Weyl keys) — exact parity with a DuckDB CTE chain
    composing the same six stages."""
    from sketchlib.pipeline import run_pipeline_spec

    # single-file source: spread the scan so the CPU-bound shingle
    # build isn't single-task (gate-input choice, not an operator one;
    # scale-adaptive — a fixed 8 left 3/4 of a 32-core box idle at sf1)
    docs, _ = _spread(_read(spark, sf_dir, "documents"), "doc_id")
    weyl = "pmod(CAST(doc_id AS BIGINT) * 2654435761, 1048576)"
    spec = {
        "steps": [
            {"op": "normalize"},
            {"op": "quality_filter", "min_score": 0.2},
            {"op": "dedup_exact"},
            {"op": "decontaminate", "eval_filter": "doc_id % 17 = 0",
             "shingle_w": 5},
            {"op": "stratified_sample", "strata_cols": ["lang"],
             "fractions": {"en": 0.5, "fr": 0.25}, "key_sql": weyl},
            {"op": "split",
             "weights": {"train": 0.875, "eval": 0.125}, "key_sql": weyl},
        ]
    }
    pins: list = []
    out, counters = run_pipeline_spec(docs, spec, pins=pins)
    final = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.expr(weyl)), F.lit(0)).alias("fp"),
        F.coalesce(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)),
            F.lit(0),
        ).alias("tr"),
    ).first()  # the ONE action — fires every per-step observation
    for p in pins:  # step-boundary pins live only for this action
        p.unpersist()
    rows = [(label, int(obs.get["rows"])) for label, obs in counters]
    rows += [
        ("final:rows", int(final["n"])),
        ("final:train_rows", int(final["tr"])),
        ("final:weyl_sum", int(final["fp"])),
    ]
    return spark.createDataFrame(rows, "step string, value bigint")


def q_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise corpus-overlap matrix (grouped theta/KMV sketches, one
    scan, driver-side set algebra): which orders contain lineitems of
    BOTH return flags — |keys(A)|, |keys(B)|, |A∩B| for every flag
    pair.  The gate emits the EXACT values (Catalyst distinct
    self-join, full DuckDB parity) plus ok flags asserting the sketch
    estimates (k=4096, estimation mode at sf>=0.01) land within
    5x/0.05 error bounds."""
    from sketchlib.spark.api import overlap_matrix

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_orderkey").alias("k")
    )
    est = overlap_matrix(li, "g", "k", k=4096)  # 3-row driver-built DF
    # exact verification: ONE groupBy(k) collect_set shuffle replaces
    # the former distinct + self-join-on-k (two wide shuffles); per-key
    # flag sets are tiny (<= |groups|), and exploding their ordered
    # pairs gives the same exact intersection counts
    sets = li.groupBy("k").agg(F.sort_array(F.collect_set("g")).alias("gs"))
    d = sets.select(F.explode("gs").alias("g")).groupBy("g").agg(
        F.count(F.lit(1)).alias("nd")
    )
    pairs = (
        sets.select(F.explode("gs").alias("ga"), "gs")
        .select("ga", F.explode("gs").alias("gb"))
        .filter(F.col("ga") < F.col("gb"))
        .groupBy(F.col("ga").alias("group_a"), F.col("gb").alias("group_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    rse = 1.0 / math.sqrt(4096 - 2)
    return (
        pairs.join(
            d.select(F.col("g").alias("group_a"), F.col("nd").alias("nda")),
            "group_a",
        )
        .join(
            d.select(F.col("g").alias("group_b"), F.col("nd").alias("ndb")),
            "group_b",
        )
        .join(
            est.select(
                "group_a",
                "group_b",
                F.col("distinct_a").alias("ea"),
                F.col("distinct_b").alias("eb"),
                F.col("intersection").alias("ei"),
                F.col("jaccard").alias("ej"),
            ),
            ["group_a", "group_b"],
        )
        .select(
            "group_a",
            "group_b",
            F.col("nda").cast("bigint").alias("distinct_a"),
            F.col("ndb").cast("bigint").alias("distinct_b"),
            F.col("inter").cast("bigint").alias("intersection"),
            (
                (F.abs(F.col("ea") - F.col("nda")) <= 5 * rse * F.col("nda"))
                & (F.abs(F.col("eb") - F.col("ndb")) <= 5 * rse * F.col("ndb"))
            ).alias("ok_distinct"),
            (
                F.abs(F.col("ei") - F.col("inter")) <= 5 * rse * F.col("inter")
            ).alias("ok_intersection"),
            (
                F.abs(
                    F.col("ej")
                    - F.col("inter")
                    / (F.col("nda") + F.col("ndb") - F.col("inter"))
                )
                <= 0.05
            ).alias("ok_jaccard"),
        )
    )


def q_dedup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level duplicate-passage removal (Lee et al. directly on
    the pre-tokenized sequence shape): an 8-token boilerplate span is
    injected at the head of ~1/5 of the sequences; tokens-mode
    `remove_duplicate_spans` must (a) conserve tokens exactly
    (kept + removed == input, all rows present), (b) scrub >= 8
    tokens from every injected row and 0 from the rest (vocab 50k ->
    natural 8-gram dupes have ~0 probability), and (c) agree EXACTLY
    with the text-mode implementation run on the rendered strings —
    a full cross-implementation equivalence check on real data.  The
    oracle carries the constant shape (DuckDB cannot see the token
    table)."""
    from sketchlib.dedup.spans import remove_duplicate_spans

    # capped corpus: the gate checks SEMANTICS (conservation, scrub,
    # cross-mode equality), which 4k x <=48-token sequences exercise
    # fully — scale wall-time evidence lives in the spans_10x stress.
    # Both span pipelines are ~12 shuffle stages of KB data, so the
    # session shuffle width is dropped to 8 (restored below) and ALL
    # checks ride ONE action over a single three-way join — the
    # token-mode output is never evaluated twice.
    n = min(_sf_rows(sf_dir), 4_000)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    inj = None
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        base = token_sequences(spark, n, seed=11).select(
            "doc_id", F.slice("tokens", 1, 48).alias("tokens")
        )
        boiler = [17, 3, 94, 5, 42, 77, 8, 61]
        binj = F.array(*[F.lit(x) for x in boiler])
        is_inj = F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0
        inj = base.select(
            "doc_id",
            F.when(is_inj, F.concat(binj, F.col("tokens")))
            .otherwise(F.col("tokens"))
            .alias("tokens"),
        ).persist()
        out = remove_duplicate_spans(
            inj, col="tokens", id_col="doc_id", w=8, tokens=True
        )
        txt = inj.select(
            "doc_id",
            F.array_join(F.col("tokens").cast("array<string>"), " ").alias(
                "text"
            ),
        )
        out_txt = remove_duplicate_spans(txt, col="text", id_col="doc_id", w=8)
        j = (
            inj.select(
                "doc_id",
                F.size("tokens").alias("n_in"),
                is_inj.alias("inj"),
            )
            .join(
                out.select(
                    "doc_id",
                    F.size("tokens").alias("n_kept"),
                    F.array_join(
                        F.col("tokens").cast("array<string>"), " "
                    ).alias("r_tok"),
                    F.col("n_removed").alias("nr_tok"),
                ),
                "doc_id",
                "full",
            )
            .join(
                out_txt.select(
                    "doc_id",
                    F.col("text").alias("r_txt"),
                    F.col("n_removed").alias("nr_txt"),
                ),
                "doc_id",
                "full",
            )
        )
        agg = j.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                (
                    F.col("n_in").isNull()
                    | F.col("n_kept").isNull()
                    | (F.col("n_kept") + F.col("nr_tok") != F.col("n_in"))
                ).cast("long")
            ).alias("bad_conserve"),
            F.sum(
                F.when(
                    F.col("inj"), (F.col("nr_tok") < 8).cast("long")
                ).otherwise((F.col("nr_tok") != 0).cast("long"))
            ).alias("bad_removed"),
            F.sum(F.col("inj").cast("long")).alias("n_inj"),
            F.sum(
                (
                    ~F.col("r_tok").eqNullSafe(F.col("r_txt"))
                    | ~F.col("nr_tok").eqNullSafe(F.col("nr_txt"))
                ).cast("long")
            ).alias("mismatches"),
        ).first()
    finally:
        if inj is not None:
            inj.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    rows = [
        ("rows_present", bool(agg["rows"] == n)),
        ("tokens_conserved", bool(agg["bad_conserve"] == 0)),
        (
            "injected_scrubbed_only",
            bool(agg["bad_removed"] == 0 and agg["n_inj"] > 0),
        ),
        ("token_text_mode_equal", bool(agg["mismatches"] == 0)),
    ]
    return spark.createDataFrame(rows, "metric string, ok boolean")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-source token-length quantiles over the token table
    at sf0.001 scale (grouped sketch end-to-end)."""
    df = token_sequences(spark, _sf_rows("/root/testdata/sf0.001"), seed=42)
    return grouped_quantiles(
        df, ["source"], "n_tok", [0.25, 0.5, 0.75, 0.9, 0.99],
        sketch="tdigest", delta=500,
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path on Spark: per-doc WAV payloads (16-bit
    PCM, built by the numpy encode_wav in a pandas kernel — half a
    second of a 440 Hz sine at 4 kHz whose amplitude is a closed-form
    function of doc_id), decoded by the built-in RIFF/WAVE parser
    inside extract_audio_features(codec='real').  Duration comes from
    the CONTAINER (2000 samples / 4000 Hz = exactly 0.5 s — the
    metadata struct deliberately lies), and RMS/peak/zero-crossing
    land within tight bounds of the sine's closed forms (amp/sqrt(2),
    amp, 2*f/sr), so every output value is deterministic and the
    DuckDB oracle reproduces it from doc_id alone."""
    import numpy as np

    from sketchlib.multimodal.media import (
        MEDIA_SCHEMA,
        encode_wav,
        extract_audio_features,
    )

    base = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .selectExpr("cast(doc_id AS string) AS doc_id")
    )

    def attach(it):
        sr = 4000
        t = np.arange(sr // 2, dtype=np.float32) / sr
        carrier = np.sin(2 * np.pi * 440.0 * t)
        for pdf in it:
            pdf = pdf.copy()
            pdf["media"] = [
                encode_wav(0.1 * (int(d) % 5 + 1) * carrier, sr)
                for d in pdf["doc_id"]
            ]
            pdf["meta"] = [
                {"format": "audio/wav", "width": 0, "height": 0,
                 "channels": 9, "n_frames": 0, "sample_rate": 999}
            ] * len(pdf)
            yield pdf

    media = base.mapInPandas(
        attach, f"doc_id string, media binary, meta struct<{MEDIA_SCHEMA}>"
    )
    f = extract_audio_features(media, codec="real")
    amp = (F.col("id").cast("long") % 5 + 1) * 0.1
    feat = lambda i: F.element_at("audio_features", i)  # noqa: E731
    return f.select(
        "id",
        F.round(feat(1) * 1000).cast("long").alias("duration_ms"),
        (F.abs(feat(2) - amp / math.sqrt(2.0)) < 0.01).alias("ok_rms"),
        (F.abs(feat(3) - amp) < 0.01).alias("ok_peak"),
        ((feat(4) > 0.1) & (feat(4) < 0.3)).alias("ok_zc"),
    )


def q_tokens_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END tokens-mode pipeline: bpe_encode -> tokens-mode
    decontaminate -> tokens-mode duplicate-span removal ->
    materialize_packed, composed as ONE declarative pipeline spec
    (per-step counts riding observe() nodes, fired by the single
    collecting action) — proving the tokens-mode family composes, at
    EXACT DuckDB value parity on counts and per-window token
    checksums.

    Parity construction: the corpus is first projected to <=2-char
    words (a plain-SQL sql_select step, mirrored verbatim by the
    oracle), so every word deterministically BPE-merges to exactly ONE
    piece ``word + '</w>'``: single-char words have no symbol pairs,
    and each distinct 2-char word is exactly one trained merge (~31
    distinct pairs << num_merges=256, vocabulary << max_words) — real
    merges are trained and applied, while the token pipeline stays
    word-isomorphic, so the oracle can mirror shingle decontamination
    (5-token windows <-> 5-word windows), span removal, and window
    packing on the word sequences and reproduce the md5 of every
    packed window's space-joined tokens."""
    from sketchlib.pipeline import run_pipeline_spec

    # single-file source: spread before the CPU-bound encode kernel
    # (scale-adaptive — a fixed 8 left 3/4 of a 32-core box idle at sf1)
    docs, _ = _spread(
        _read(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    spec = {
        "steps": [
            {"op": "sql_select", "exprs": [
                "doc_id",
                "array_join(transform(split(text, ' '), "
                "w -> substring(w, 1, 2)), ' ') AS text",
            ]},
            {"op": "bpe_encode", "num_merges": 256},
            {"op": "decontaminate", "tokens": True,
             "eval_filter": "doc_id % 13 = 0", "shingle_w": 5},
            {"op": "dedup_spans", "tokens": True, "w": 5},
            {"op": "materialize_packed", "seq_len": 128,
             "order_col": "doc_id"},
        ]
    }
    pins: list = []
    out, counters = run_pipeline_spec(docs, spec, pins=pins)
    wins = out.select(
        F.lit("win").alias("kind"),
        F.col("seq_id").cast("long").alias("k"),
        F.col("n_tokens").cast("long").alias("v"),
        F.md5(F.concat_ws(" ", "tokens")).alias("s"),
    ).collect()  # the ONE action — fires every per-step observation
    for p in pins:  # step-boundary pins live only for this action
        p.unpersist()
    rows = [
        ("step", i, int(obs.get["rows"]), label)
        for i, (label, obs) in enumerate(counters)
    ] + [tuple(r) for r in wins]
    return spark.createDataFrame(
        rows, "kind string, k bigint, v bigint, s string"
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path on Spark: per-doc PNG payloads (built by
    the stdlib+numpy encode_png in a pandas kernel — a 6x8 RGB image
    whose three constant channel values are a closed-form function of
    doc_id), decoded by the built-in parse_png inside
    extract_features(codec='real').  Channel means are exact integers
    the DuckDB oracle reproduces from doc_id alone; stds must be
    exactly 0 and byte entropy exactly log2(3) (three equiprobable
    byte values), so every output value is deterministic."""
    import numpy as np

    from sketchlib.multimodal.media import (
        MEDIA_SCHEMA,
        encode_png,
        extract_features,
    )

    base = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .selectExpr("cast(doc_id AS string) AS doc_id")
    )

    def attach(it):
        for pdf in it:
            pdf = pdf.copy()
            blobs = []
            for d in pdf["doc_id"]:
                v = int(d) % 5
                img = np.empty((6, 8, 3), dtype=np.uint8)
                img[:, :, 0] = 10 * v + 1
                img[:, :, 1] = 10 * v + 5
                img[:, :, 2] = 10 * v + 9
                blobs.append(encode_png(img))
            pdf["media"] = blobs
            pdf["meta"] = [
                {"format": "image/png", "width": 0, "height": 0,
                 "channels": 0, "n_frames": 0, "sample_rate": 0}
            ] * len(pdf)  # meta deliberately lies; the container wins
            yield pdf

    media = base.mapInPandas(
        attach, f"doc_id string, media binary, meta struct<{MEDIA_SCHEMA}>"
    )
    f = extract_features(media, codec="real")
    feat = lambda i: F.element_at("features", i)  # noqa: E731
    ent = math.log2(3.0)
    return f.select(
        "id",
        F.round(feat(1)).cast("long").alias("mean_r"),
        F.round(feat(2)).cast("long").alias("mean_g"),
        F.round(feat(3)).cast("long").alias("mean_b"),
        (
            (F.abs(feat(4)) < 1e-9)
            & (F.abs(feat(5)) < 1e-9)
            & (F.abs(feat(6)) < 1e-9)
        ).alias("ok_std"),
        (F.abs(feat(7) - ent) < 1e-9).alias("ok_entropy"),
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram novelty (cross-document originality score): the
    fraction of each doc's 5-grams occurring exactly once corpus-wide.
    Same injected-duplicate shape as dedup_spans (every 10th doc also
    appears as doc_id+3e6), so the duplicated pairs must score 0.0 and
    the rest stay near 1.0 — exact DuckDB parity on counts and the
    round(,4) score."""
    from sketchlib.text.novelty import ngram_novelty

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    out = ngram_novelty(docs.union(dup), w=5)
    return out.select(
        "doc_id", "n_grams", "novel_grams",
        F.round("novelty", 4).alias("novelty"),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed unigram LM scoring (the CCNet/Gopher-style
    perplexity quality filter) over documents, self-model: every doc
    gets its average per-term log-probability under the corpus's own
    smoothed unigram distribution.  Runs the DEFAULT broadcast-kernel
    plan (zero-shuffle scoring pass); exact DuckDB parity at
    round(,4) — same Laplace closed form, ASCII-whitespace terms in
    all three tokenizers (Java/RE2/kernel)."""
    from sketchlib.text.logprob import unigram_logprob

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = unigram_logprob(docs, "text")
    return out.filter(F.col("n_terms") >= 1).select(
        "doc_id", "n_terms", F.round("avg_logprob", 4).alias("avg_logprob")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate registry.  ORDER MATTERS: the driver's correctness harness
    checks only the FIRST 50 entries, so the dict is windowed by
    rotation policy (README "Gate rotation"): (1) never-driver-checked
    and this-round-changed gates first, (2) gates last checked two
    rounds ago rotating back through, (3) the previous round's green
    remainder in the tail, due to rotate into the window next round.
    No gate may sit outside the window two rounds running.

    Round-7 window (50): the 22 r5-green gates tailed in r6 (policy
    item 3 — led by dedup_spans and sample_temperature, nearest the r6
    refactors), the 5 new gates (image_features, ngram_novelty,
    unigram_logprob, tokens_pipeline, audio_features), the 6 gates
    over code paths changed this round (overlap_matrix distributed
    stage, interval_range_join auto sub-split, global_rank/
    shuffle_rows order_buckets guard, tfidf_keywords cache release,
    pipeline_spec runner context), and 17 kept r6-green flagships; the
    remaining 27 r6-green gates tail and rotate into the r8 window."""
    return {
        # -- new this round ------------------------------------------
        "image_features": q_image_features,
        "ngram_novelty": q_ngram_novelty,
        "unigram_logprob": q_unigram_logprob,
        "tokens_pipeline": q_tokens_pipeline,
        "audio_features": q_audio_features,
        # -- r5-green tail rotating back in (README policy item 3) ---
        "dedup_spans": q_dedup_spans,
        "sample_temperature": q_sample_temperature,
        "asof_join": q_asof_join,
        "time_rollup": q_time_rollup,
        "tdigest_orders_quantiles_k1": q_tdigest_orders_total,
        "corpus_overlap": q_corpus_overlap,
        "text_token_stats": q_text_token_stats,
        "text_language_id": q_text_language_id,
        "dedup_ngram": q_dedup_ngram,
        "rolling_stats": q_rolling_stats,
        "quantile_rank": q_quantile_rank,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "tdigest_cluster_insert": q_tdigest_cluster_insert,
        "bloom_join": q_bloom_join,
        "top_per_group": q_top_per_group,
        "split_passages": q_split_passages,
        "vocabulary": q_vocabulary,
        "pii_scan": q_pii_scan,
        "token_freq_drift": q_token_freq_drift,
        "ks_drift": q_ks_drift,
        # -- r6-green, code path changed this round -------------------
        "overlap_matrix": q_overlap_matrix,
        "interval_range_join": q_interval_join,
        "global_rank": q_global_rank,
        "shuffle_rows": q_shuffle_rows,
        "tfidf_keywords": q_tfidf_keywords,
        "pipeline_spec": q_pipeline_spec,
        # -- r6-green, kept in-window (flagships / adjacent families) -
        "materialize_packed": q_materialize_packed,
        "dedup_token_spans": q_dedup_token_spans,
        "bpe_roundtrip": q_bpe_roundtrip,
        "decontaminate": q_decontaminate,
        "multimodal_features": q_multimodal_features,
        "tdigest_lineitem_quantiles": q_tdigest_lineitem,
        "kll_events_quantiles": q_kll_events,
        "ddsketch_supplier_quantiles": q_ddsketch_quantiles,
        "grouped_doc_quantiles": q_grouped_doc_quantiles,
        "hll_distinct": q_hll_distinct,
        "cms_event_type_counts": q_cms_event_type,
        "heavy_hitters_user": q_heavy_hitters,
        "pricing_summary": q_pricing_summary,
        "token_quantiles": q_token_quantiles,
        "token_grouped_quantiles": q_token_grouped_quantiles,
        "token_cardinality": q_token_cardinality,
        "dedup_exact": q_dedup_exact,
        # ---- driver window ends here (entry 50) --------------------
        # -- r6-green tail: rotates into the window in r8 ------------
        "dedup_minhash": q_dedup_minhash,
        "pack_sequences": q_pack_sequences,
        "sessionize": q_sessionize,
        "freq_spectrum": q_freq_spectrum,
        "text_repetition": q_text_repetition,
        "streaming_dedup": q_streaming_dedup,
        "dedup_incremental": q_dedup_incremental,
        "profile_table": q_profile_table,
        "embedding_clusters": q_embedding_clusters,
        "grouped_heavy_hitters": q_grouped_heavy_hitters,
        "streaming_windowed_quantiles": q_streaming_windowed_quantiles,
        "text_fingerprints": q_text_fingerprints,
        "similarity_top1": q_similarity_top1,
        "embedding_near_dup": q_embedding_near_dup,
        "sampling_and_bounds": q_sampling_and_bounds,
        "streaming_quantiles": q_streaming_quantiles,
        "iceberg_manifest_scan": q_iceberg_manifest_scan,
        "ivf_recall": q_ivf_recall,
        "grouped_hll_distinct": q_grouped_hll_distinct,
        "bloom_custkey_membership": q_bloom_membership,
        "curriculum_shards": q_curriculum_shards,
        "sample_token_budget": q_sample_token_budget,
        "write_sharded": q_write_sharded,
        "sample_stratified": q_sample_stratified,
        "split_train_eval": q_split_train_eval,
        "text_quality": q_text_quality,
        "text_normalize": q_text_normalize,
    }


def _pii_oracle_sql() -> str:
    """DuckDB (RE2) mirror of q_pii_scan: same injection arithmetic,
    same portable regex subset, global regexp_replace ('g' flag — Spark
    replaces globally by default)."""
    from sketchlib.text.pii import PII_PATTERNS, PII_REPLACEMENTS

    inj = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.17 call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = (
            f"regexp_replace({red}, '{pat}', "
            f"'{PII_REPLACEMENTS[name]}', 'g')"
        )
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    flag = " OR ".join(
        f"len(regexp_extract_all(text, '{pat}')) > 0"
        for pat in PII_PATTERNS.values()
    )
    return (
        f"WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
        f"THEN {inj} ELSE text END AS text FROM documents) "
        f"SELECT CAST(doc_id AS BIGINT) AS doc_id, {counts}, "
        f"({flag}) AS has_pii, {red} AS redacted FROM aug"
    )


def _quantile_oracle(table: str, col: str, qs: list[float]) -> str:
    parts = [
        f"SELECT CAST({q} AS DOUBLE) AS q, "
        f"round(quantile_cont({col}, {q}), 4) AS exact_value, TRUE AS ok "
        f"FROM {table} WHERE {col} IS NOT NULL"
        for q in qs
    ]
    return " UNION ALL ".join(parts)


def oracle_sql() -> dict[str, str]:
    from sketchlib.text.logprob import logprob_oracle_sql

    from sketchlib.text.novelty import novelty_oracle_sql

    _novelty_corpus = (
        "(SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 3000000, text FROM documents "
        "WHERE doc_id % 10 = 0)"
    )
    return {
        "image_features": (
            "SELECT CAST(doc_id AS VARCHAR) AS id, "
            "10 * (doc_id % 5) + 1 AS mean_r, "
            "10 * (doc_id % 5) + 5 AS mean_g, "
            "10 * (doc_id % 5) + 9 AS mean_b, "
            "TRUE AS ok_std, TRUE AS ok_entropy "
            "FROM documents WHERE doc_id < 50"
        ),
        "ngram_novelty": novelty_oracle_sql(_novelty_corpus),
        "unigram_logprob": (
            f"SELECT doc_id, n_terms, avg_logprob FROM "
            f"({logprob_oracle_sql('documents')}) WHERE n_terms >= 1"
        ),
        "tdigest_lineitem_quantiles": _quantile_oracle(
            "lineitem", "l_extendedprice", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
        ),
        "kll_events_quantiles": _quantile_oracle(
            "events", "value", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
        ),
        "tdigest_orders_quantiles_k1": _quantile_oracle(
            "orders", "o_totalprice", [0.05, 0.25, 0.5, 0.75, 0.95]
        ),
        "ddsketch_supplier_quantiles": _quantile_oracle(
            "supplier", "s_acctbal", DD_QS
        ),
        "grouped_doc_quantiles": (
            "SELECT lang, CAST(0.5 AS DOUBLE) AS q, "
            "round(quantile_cont(n_chars, 0.5), 4) AS exact_value, TRUE AS ok "
            "FROM documents GROUP BY lang "
            "UNION ALL "
            "SELECT lang, CAST(0.9 AS DOUBLE) AS q, "
            "round(quantile_cont(n_chars, 0.9), 4) AS exact_value, TRUE AS ok "
            "FROM documents GROUP BY lang"
        ),
        "hll_distinct": (
            "SELECT 'orders.o_custkey' AS metric, "
            "count(DISTINCT o_custkey) AS exact_count, TRUE AS ok FROM orders "
            "UNION ALL SELECT 'events.user_id', count(DISTINCT user_id), TRUE "
            "FROM events "
            "UNION ALL SELECT 'part.p_partkey', count(DISTINCT p_partkey), TRUE "
            "FROM part"
        ),
        "cms_event_type_counts": (
            "SELECT event_type, count(*) AS exact_count, TRUE AS ok "
            "FROM events GROUP BY event_type"
        ),
        "grouped_hll_distinct": (
            "SELECT event_type, count(DISTINCT user_id) AS exact_distinct, "
            "TRUE AS ok FROM events GROUP BY event_type"
        ),
        "heavy_hitters_user": (
            "SELECT * FROM (VALUES ('hh_top5_contained', TRUE), "
            "('hh_no_undercount', TRUE), ('hh_spacesaving_top5', TRUE)) "
            "AS t(metric, ok)"
        ),
        "bloom_custkey_membership": (
            "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, TRUE AS member "
            "FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)"
        ),
        "corpus_overlap": (
            "WITH a AS (SELECT DISTINCT doc_id FROM documents), "
            "o AS (SELECT count(*) // 2 AS off FROM a), "
            "b AS (SELECT doc_id + (SELECT off FROM o) AS doc_id FROM a) "
            "SELECT 'distinct_a' AS metric, CAST((SELECT count(*) FROM a) AS BIGINT) "
            "AS exact_count, TRUE AS ok "
            "UNION ALL SELECT 'distinct_b', (SELECT count(*) FROM b), TRUE "
            "UNION ALL SELECT 'intersection', "
            "(SELECT count(*) FROM a JOIN b USING (doc_id)), TRUE "
            "UNION ALL SELECT 'union', "
            "(SELECT count(*) FROM (SELECT doc_id FROM a UNION SELECT doc_id FROM b)), "
            "TRUE"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base, "
            "count(*) AS cnt FROM lineitem "
            "WHERE l_shipdate < TIMESTAMP '1998-06-01' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "token_quantiles": (
            "SELECT * FROM (VALUES "
            "('n_tok', CAST(0.1 AS DOUBLE), TRUE), "
            "('n_tok', CAST(0.5 AS DOUBLE), TRUE), "
            "('n_tok', CAST(0.9 AS DOUBLE), TRUE), "
            "('n_tok', CAST(0.99 AS DOUBLE), TRUE), "
            "('tokens', CAST(0.1 AS DOUBLE), TRUE), "
            "('tokens', CAST(0.5 AS DOUBLE), TRUE), "
            "('tokens', CAST(0.9 AS DOUBLE), TRUE), "
            "('tokens', CAST(0.99 AS DOUBLE), TRUE)"
            ") AS t(metric, q, ok)"
        ),
        "token_cardinality": (
            "SELECT * FROM (VALUES ('doc_id', TRUE), ('token_values', TRUE)) "
            "AS t(metric, ok)"
        ),
        "token_grouped_quantiles": (
            "SELECT * FROM (VALUES "
            "('books', CAST(0.5 AS DOUBLE), TRUE), ('books', CAST(0.9 AS DOUBLE), TRUE), "
            "('code', CAST(0.5 AS DOUBLE), TRUE), ('code', CAST(0.9 AS DOUBLE), TRUE), "
            "('forums', CAST(0.5 AS DOUBLE), TRUE), ('forums', CAST(0.9 AS DOUBLE), TRUE), "
            "('web', CAST(0.5 AS DOUBLE), TRUE), ('web', CAST(0.9 AS DOUBLE), TRUE), "
            "('wiki', CAST(0.5 AS DOUBLE), TRUE), ('wiki', CAST(0.9 AS DOUBLE), TRUE)"
            ") AS t(source, q, ok)"
        ),
        "text_token_stats": (
            r"SELECT doc_id, "
            r"len(string_split_regex(trim(text), '\s+')) AS ws_tokens, "
            r"len(regexp_extract_all(text, '\w+|[^\w\s]')) AS bpe_tokens "
            r"FROM documents"
        ),
        "pipeline_spec": _pipeline_spec_oracle_sql(),
        "audio_features": (
            # closed forms of the synthesized WAV: duration is exactly
            # 2000/4000 s from the container; the sine's RMS/peak/zcr
            # bounds are deterministic TRUEs (see q_audio_features)
            "SELECT CAST(doc_id AS VARCHAR) AS id, "
            "CAST(500 AS BIGINT) AS duration_ms, "
            "TRUE AS ok_rms, TRUE AS ok_peak, TRUE AS ok_zc "
            "FROM documents WHERE doc_id < 50"
        ),
        "tokens_pipeline": (
            # word-isomorphic mirror of the tokens-mode chain (every
            # <=2-char word BPE-merges to one piece word||'</w>' — see
            # q_tokens_pipeline): 5-token shingle decontamination
            # against the doc_id%13 slice, 5-token duplicate-span
            # removal among survivors, then concatenate-and-chunk
            # packing at 128 with per-window md5 token checksums
            "WITH prep AS (SELECT doc_id, list_transform("
            "  string_split(text, ' '), w -> substr(w, 1, 2)) AS ws "
            "  FROM documents), "
            "words AS (SELECT doc_id, unnest(ws) AS word, "
            "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM prep), "
            "sh AS (SELECT doc_id, pos, n, array_to_string(list(word) "
            "  OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN "
            "  CURRENT ROW AND 4 FOLLOWING), ' ') AS s FROM words), "
            "full_sh AS (SELECT doc_id, s FROM sh WHERE pos <= n - 4), "
            "ev AS (SELECT DISTINCT s FROM full_sh WHERE doc_id % 13 = 0), "
            "bad AS (SELECT DISTINCT full_sh.doc_id FROM full_sh "
            "  JOIN ev USING (s)), "
            "clean AS (SELECT doc_id FROM prep "
            "  WHERE doc_id NOT IN (SELECT doc_id FROM bad)), "
            "cwords AS (SELECT w.* FROM words w JOIN clean USING (doc_id)), "
            "g AS (SELECT doc_id, pos, n, array_to_string(list(word) "
            "  OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN "
            "  CURRENT ROW AND 4 FOLLOWING), ' ') AS gram FROM cwords), "
            "occ AS (SELECT doc_id, pos, gram FROM g WHERE pos <= n - 4), "
            "cnt AS (SELECT gram, count(*) AS c FROM occ GROUP BY 1), "
            "dup AS (SELECT o.doc_id, o.pos FROM occ o "
            "  JOIN cnt USING (gram) WHERE c >= 2), "
            "cov AS (SELECT DISTINCT wo.doc_id, wo.pos FROM cwords wo "
            "  JOIN dup d ON wo.doc_id = d.doc_id "
            "  AND wo.pos BETWEEN d.pos AND d.pos + 4), "
            "kept AS (SELECT wo.doc_id, wo.word, wo.pos FROM cwords wo "
            "  ANTI JOIN cov USING (doc_id, pos)), "
            "sized AS (SELECT doc_id, list(word ORDER BY pos) AS kws "
            "  FROM kept GROUP BY doc_id), "
            "sized2 AS (SELECT doc_id, kws, COALESCE(SUM(len(kws)) "
            "  OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
            "  AND 1 PRECEDING), 0) AS prior FROM sized), "
            "toks AS (SELECT prior + generate_subscripts(kws, 1) - 1 "
            "  AS gidx, unnest(kws) AS word FROM sized2), "
            "wins AS (SELECT CAST(gidx // 128 AS BIGINT) AS k, "
            "  CAST(count(*) AS BIGINT) AS v, "
            "  md5(array_to_string(list(word || '</w>' ORDER BY gidx), "
            "  ' ')) AS s FROM toks GROUP BY 1) "
            "SELECT 'step' AS kind, CAST(0 AS BIGINT) AS k, "
            "  (SELECT count(*) FROM documents) AS v, '0:sql_select' AS s "
            "UNION ALL SELECT 'step', 1, "
            "  (SELECT count(*) FROM documents), '1:bpe_encode' "
            "UNION ALL SELECT 'step', 2, "
            "  (SELECT count(*) FROM clean), '2:decontaminate' "
            "UNION ALL SELECT 'step', 3, "
            "  (SELECT count(*) FROM clean), '3:dedup_spans' "
            "UNION ALL SELECT 'step', 4, "
            "  (SELECT count(*) FROM wins), '4:materialize_packed' "
            "UNION ALL SELECT 'win', k, v, s FROM wins"
        ),
        "dedup_token_spans": (
            "SELECT * FROM (VALUES "
            "('rows_present', TRUE), "
            "('tokens_conserved', TRUE), "
            "('injected_scrubbed_only', TRUE), "
            "('token_text_mode_equal', TRUE)) "
            "AS t(metric, ok)"
        ),
        "overlap_matrix": (
            "WITH w AS (SELECT DISTINCT l_returnflag AS g, l_orderkey AS k "
            "  FROM lineitem), "
            "d AS (SELECT g, count(*) AS nd FROM w GROUP BY g), "
            "p AS (SELECT a.g AS group_a, b.g AS group_b, "
            "  count(*) AS intersection FROM w a "
            "  JOIN w b ON a.k = b.k AND a.g < b.g GROUP BY 1, 2) "
            "SELECT p.group_a, p.group_b, "
            "CAST(da.nd AS BIGINT) AS distinct_a, "
            "CAST(db.nd AS BIGINT) AS distinct_b, "
            "CAST(p.intersection AS BIGINT) AS intersection, "
            "TRUE AS ok_distinct, TRUE AS ok_intersection, "
            "TRUE AS ok_jaccard "
            "FROM p JOIN d da ON da.g = p.group_a "
            "JOIN d db ON db.g = p.group_b"
        ),
        "text_quality": _quality_oracle_sql(),
        "text_language_id": _langid_oracle_query(),
        "dedup_exact": (
            "WITH dataset AS ("
            "  SELECT doc_id, text FROM documents "
            "  UNION ALL "
            "  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0"
            ") "
            "SELECT CAST(min(doc_id) AS BIGINT) AS rep_id, "
            "CAST(count(*) AS BIGINT) AS n_dups "
            "FROM dataset GROUP BY text HAVING count(*) > 1"
        ),
        "dedup_minhash": (
            "SELECT * FROM (VALUES ('minhash_recall', TRUE), "
            "('minhash_precision', TRUE)) AS t(metric, ok)"
        ),
        "dedup_spans": (
            # 1-based window-list grams (see decontaminate); covered
            # positions via a bounded BETWEEN join; rebuild with an
            # ordered list aggregate; scrubbed-empty docs restored by
            # the left join
            "WITH alld AS (SELECT doc_id, text FROM documents "
            "  UNION ALL SELECT doc_id + 3000000, text FROM documents "
            "  WHERE doc_id % 10 = 0), "
            "w AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') "
            "  AS ws FROM alld), "
            "words AS (SELECT doc_id, unnest(ws) AS word, "
            "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w), "
            "g AS (SELECT doc_id, pos, n, array_to_string(list(word) "
            "  OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN "
            "  CURRENT ROW AND 4 FOLLOWING), ' ') AS gram FROM words), "
            "occ AS (SELECT doc_id, pos, gram FROM g WHERE pos <= n - 4), "
            "cnt AS (SELECT gram, count(*) AS c FROM occ GROUP BY 1), "
            "dup AS (SELECT o.doc_id, o.pos FROM occ o "
            "  JOIN cnt USING (gram) WHERE c >= 2), "
            "cov AS (SELECT DISTINCT wo.doc_id, wo.pos FROM words wo "
            "  JOIN dup d ON wo.doc_id = d.doc_id "
            "  AND wo.pos BETWEEN d.pos AND d.pos + 4), "
            "kept AS (SELECT wo.doc_id, wo.word, wo.pos FROM words wo "
            "  ANTI JOIN cov USING (doc_id, pos)), "
            "reb AS (SELECT doc_id, array_to_string(list(word ORDER BY "
            "  pos), ' ') AS clean, count(*) AS nk FROM kept GROUP BY 1) "
            "SELECT CAST(a.doc_id AS BIGINT) AS doc_id, "
            "COALESCE(r.clean, '') AS text, "
            "CAST(len(string_split(COALESCE(a.text, ''), ' ')) - "
            "  COALESCE(r.nk, 0) AS BIGINT) AS n_removed "
            "FROM alld a LEFT JOIN reb r USING (doc_id)"
        ),
        "sessionize": (
            # identical boundary rule in exact integer epoch-micros;
            # tie rows can't straddle a boundary (diff 0), so the
            # per-(user, session) aggregation is engine-independent
            "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value "
            "  FROM events WHERE ts IS NOT NULL), "
            "d AS (SELECT *, lag(t) OVER "
            "  (PARTITION BY user_id ORDER BY t) AS pt FROM e), "
            "f AS (SELECT *, CASE WHEN pt IS NULL "
            "  OR t - pt > 50000000000 THEN 1 ELSE 0 END AS nw FROM d), "
            "s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id "
            "  ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "  CURRENT ROW) AS sid FROM f) "
            "SELECT CAST(user_id AS BIGINT) AS user_id, "
            "CAST(sid AS BIGINT) AS session_idx, "
            "min(t) AS ts_start_us, max(t) AS ts_end_us, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "round(sum(value), 4) AS sum_value "
            "FROM s GROUP BY 1, 2"
        ),
        "quantile_rank": (
            "SELECT * FROM (VALUES ('rank_abs_err_le_0.01', TRUE), "
            "('deciles_balanced', TRUE)) AS t(metric, ok)"
        ),
        "rolling_stats": (
            # RANGE frame in integer epoch-micros: tie rows share one
            # frame, so counts/sums are engine-independent
            "WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, "
            "  value FROM events WHERE ts IS NOT NULL) "
            "SELECT event_id, CAST(user_id AS BIGINT) AS user_id, "
            "t AS ts_us, CAST(count(*) OVER win AS BIGINT) AS "
            "rolling_count, round(sum(value) OVER win, 4) AS "
            "rolling_value FROM e WINDOW win AS (PARTITION BY user_id "
            "ORDER BY t RANGE BETWEEN 86400000000 PRECEDING "
            "AND CURRENT ROW)"
        ),
        "asof_join": (
            "WITH marks AS (SELECT user_id, ts, max(value) AS pv "
            "  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT e.event_id, CAST(e.user_id AS BIGINT) AS user_id, "
            "epoch_us(e.ts) AS ts_us, round(m.pv, 4) AS purchase_value, "
            "epoch_us(m.ts) AS purchase_ts_us "
            "FROM events e ASOF LEFT JOIN marks m "
            "ON e.user_id = m.user_id AND e.ts >= m.ts"
        ),
        "dedup_ngram": (
            # same injected mutation as the Spark side (DuckDB list
            # lambdas index 1-based: i % 20 != 0 == Spark's 0-based
            # i % 20 != 19), 3-gram sets via the window-list trick,
            # intersection = inverted-index self-join count
            "WITH mut AS ("
            "  SELECT doc_id + 2000000 AS doc_id, array_to_string("
            "    list_filter(string_split(text, ' '), "
            "      (w, i) -> i % 20 != 0), ' ') AS text "
            "  FROM documents WHERE doc_id % 20 = 0), "
            "alld AS (SELECT doc_id, text FROM documents "
            "  UNION ALL SELECT doc_id, text FROM mut), "
            "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM alld), "
            "words AS (SELECT doc_id, unnest(ws) AS word, "
            "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w), "
            "sh AS (SELECT doc_id, pos, n, "
            "  array_to_string(list(word) OVER (PARTITION BY doc_id "
            "    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING), "
            "    ' ') AS g FROM words), "
            "grams AS (SELECT DISTINCT doc_id, g FROM sh WHERE pos <= n - 2), "
            "sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, "
            "  count(*) AS i FROM grams a JOIN grams b "
            "  ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT CAST(ida AS BIGINT) AS id_a, CAST(idb AS BIGINT) AS id_b, "
            "round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jaccard "
            "FROM inter JOIN sizes sa ON sa.doc_id = inter.ida "
            "JOIN sizes sb ON sb.doc_id = inter.idb "
            "WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"
        ),
        "dedup_simhash": (
            "SELECT * FROM (VALUES ('simhash_all_within_bound', TRUE), "
            "('simhash_exact_hamming0', TRUE), "
            "('simhash_mutated_recall', TRUE)) AS t(metric, ok)"
        ),
        "text_fingerprints": (
            "SELECT * FROM (VALUES ('fingerprint_collision_rate_low', TRUE), "
            "('fingerprint_copy_recall_exact', TRUE)) AS t(metric, ok)"
        ),
        "dedup_clusters": (
            "WITH RECURSIVE "
            "base AS (SELECT doc_id AS d FROM documents WHERE doc_id % 10 = 0), "
            "pairs AS (SELECT d AS a, d + 1000000 AS b FROM base "
            "  UNION ALL SELECT d + 1000000, d + 2000000 FROM base), "
            "edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), "
            "nodes AS (SELECT a AS id FROM edges UNION SELECT b FROM edges), "
            "reach(src, dst) AS ("
            "  SELECT id, id FROM nodes "
            "  UNION "
            "  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a"
            ") "
            "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, "
            "CAST(count(*) AS BIGINT) AS n_members FROM ("
            "  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src"
            ") GROUP BY cluster_id"
        ),
        "similarity_top1": (
            "SELECT query_id, nn_id, cos FROM ("
            "  SELECT a.vec_id AS query_id, b.vec_id AS nn_id, "
            "  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "        CAST(b.embedding AS DOUBLE[])), 4) AS cos, "
            "  row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn "
            "  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id "
            "  WHERE a.vec_id < 20"
            ") WHERE rn = 1"
        ),
        "embedding_near_dup": (
            "WITH dataset AS ("
            "  SELECT vec_id, embedding FROM embeddings "
            "  UNION ALL "
            "  SELECT CAST(90001 AS BIGINT), embedding FROM embeddings "
            "  WHERE vec_id = 0"
            ") "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "      CAST(b.embedding AS DOUBLE[])), 4) AS cos "
            "FROM dataset a JOIN dataset b ON a.vec_id < b.vec_id "
            "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
            "      CAST(b.embedding AS DOUBLE[])) >= 0.9"
        ),
        "multimodal_features": (
            "SELECT CAST(doc_id AS VARCHAR) AS id, 7 AS n_features "
            "FROM documents WHERE doc_id < 50"
        ),
        "ivf_recall": (
            "SELECT * FROM (VALUES ('ivf_mean_recall_ge_0.6', TRUE)) "
            "AS t(metric, ok)"
        ),
        "embedding_clusters": (
            "SELECT * FROM (VALUES ('all_assigned', TRUE), "
            "('k_clusters_used', TRUE), "
            "('kmeans_beats_global_mean', TRUE)) AS t(metric, ok)"
        ),
        "bpe_roundtrip": (
            "SELECT * FROM (VALUES ('roundtrip_exact', TRUE), "
            "('fully_fused', TRUE), ('trained_merges', TRUE)) "
            "AS t(metric, ok)"
        ),
        "sampling_and_bounds": (
            "SELECT * FROM (VALUES ('range_bounds_balanced', TRUE), "
            "('sample_mean_4se', TRUE), ('sample_median_rank', TRUE), "
            "('sample_size_count', TRUE)) AS t(metric, ok)"
        ),
        "iceberg_manifest_scan": (
            # live set = everything except the 100 smallest doc_ids
            # (the deleted first data file of the fixture)
            "SELECT lang, count(*) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM documents "
            "WHERE doc_id > (SELECT max(doc_id) FROM "
            "  (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 100)) "
            "GROUP BY lang"
        ),
        "dedup_clusters_star": (
            # identical component structure to dedup_clusters — the
            # same recursive-CTE oracle must match the star method too
            "WITH RECURSIVE "
            "base AS (SELECT doc_id AS d FROM documents WHERE doc_id % 10 = 0), "
            "pairs AS (SELECT d AS a, d + 1000000 AS b FROM base "
            "  UNION ALL SELECT d + 1000000, d + 2000000 FROM base), "
            "edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs), "
            "nodes AS (SELECT a AS id FROM edges UNION SELECT b FROM edges), "
            "reach(src, dst) AS ("
            "  SELECT id, id FROM nodes "
            "  UNION "
            "  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a"
            ") "
            "SELECT CAST(cluster_id AS BIGINT) AS cluster_id, "
            "CAST(count(*) AS BIGINT) AS n_members FROM ("
            "  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src"
            ") GROUP BY cluster_id"
        ),
        "tdigest_cluster_insert": (
            # exact percentiles of the same deterministic 2000-row
            # sample; ok flags carry the trickle-insert verification
            "WITH s AS (SELECT value FROM ("
            "  SELECT value, event_id FROM events WHERE value IS NOT NULL "
            "  ORDER BY event_id LIMIT 2000)) "
            "SELECT CAST(0.1 AS DOUBLE) AS q, "
            "round(quantile_cont(value, CAST(0.1 AS DOUBLE)), 4) AS exact_value, "
            "TRUE AS ok FROM s "
            "UNION ALL SELECT CAST(0.5 AS DOUBLE), "
            "round(quantile_cont(value, CAST(0.5 AS DOUBLE)), 4), TRUE FROM s "
            "UNION ALL SELECT CAST(0.9 AS DOUBLE), "
            "round(quantile_cont(value, CAST(0.9 AS DOUBLE)), 4), TRUE FROM s"
        ),
        "sample_token_budget": (
            # the prefix rule is pure SQL: take docs per lang in doc_id
            # order while the PRIOR cumulative n_chars < budget
            "WITH ranked AS ("
            "  SELECT doc_id, lang, n_chars, "
            "  COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior "
            "  FROM documents WHERE lang IN ('en', 'fr', 'zh')) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, "
            "CAST(n_chars AS BIGINT) AS n_chars FROM ranked "
            "WHERE prior < (CASE lang WHEN 'en' THEN 8000 "
            "WHEN 'fr' THEN 5000 ELSE 4000 END)"
        ),
        "sample_temperature": (
            # alpha=0.5 weights are floor(sqrt(n)) -- integer-exact
            # (matches math.isqrt for any realistic magnitude); the
            # split and the prefix selection are all-integer
            "WITH avail AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) "
            "  AS n FROM documents WHERE lang IS NOT NULL GROUP BY 1), "
            "wts AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) "
            "  AS BIGINT) AS w FROM avail WHERE n > 0), "
            "tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM wts), "
            "b AS (SELECT lang, 20000 * w // sw AS budget "
            "  FROM wts CROSS JOIN tot), "
            "ranked AS (SELECT doc_id, lang, n_chars, "
            "  COALESCE(SUM(n_chars) OVER (PARTITION BY lang "
            "    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "    1 PRECEDING), 0) AS prior FROM documents "
            "  WHERE lang IN (SELECT lang FROM b)) "
            "SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.lang, "
            "CAST(r.n_chars AS BIGINT) AS n_chars "
            "FROM ranked r JOIN b USING (lang) WHERE r.prior < b.budget"
        ),
        "pack_sequences": (
            # the packed layout is pure window arithmetic: exact global
            # prefix sum in doc_id order, chunked at L=2048
            "WITH ordered AS ("
            "  SELECT doc_id, n_chars, "
            "  COALESCE(SUM(n_chars) OVER (ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior "
            "  FROM documents WHERE n_chars > 0) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(prior // 2048 AS BIGINT) AS seq_id, "
            "CAST(prior % 2048 AS BIGINT) AS seq_offset, "
            "CAST((prior % 2048 + n_chars - 1) // 2048 + 1 AS BIGINT) AS n_seqs "
            "FROM ordered"
        ),
        "sample_stratified": (
            # same arithmetic Weyl keep rule, fractions chosen so
            # f * 2^20 is an exact integer (no FP truncation skew)
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents "
            "WHERE lang IN ('en', 'fr') AND "
            "(doc_id * 2654435761) % 1048576 < "
            "(CASE lang WHEN 'en' THEN 524288 ELSE 262144 END)"
        ),
        "split_train_eval": (
            # same Weyl key, train range [0, 7/8 * 2^20), eval the rest;
            # both bounds are exact integers so no FP rounding skew
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CASE WHEN (doc_id * 2654435761) % 1048576 < 917504 "
            "THEN 'train' ELSE 'eval' END AS split FROM documents"
        ),
        "global_rank": (
            # total order (n_chars, doc_id) -> ranks are deterministic;
            # shard is round-robin striping by rank
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)"
            " AS rank, "
            "CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) % 8"
            " AS BIGINT) AS shard FROM documents"
        ),
        "curriculum_shards": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)"
            " AS rank, "
            "CAST(ntile(7) OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)"
            " AS shard FROM documents"
        ),
        "bloom_join": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "l_extendedprice, o_totalprice "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderpriority = '1-URGENT'"
        ),
        "shuffle_rows": (
            "SELECT * FROM (VALUES ('strict_permutation', TRUE), "
            "('shards_balanced', TRUE), ('layout_independent', TRUE)) "
            "AS t(metric, ok)"
        ),
        "time_rollup": (
            "SELECT event_type, "
            "epoch_us(time_bucket(INTERVAL '15 minutes', ts)) "
            "AS window_start, "
            "epoch_us(time_bucket(INTERVAL '15 minutes', ts) "
            "+ INTERVAL '15 minutes') AS window_end, "
            "CAST(count(*) AS BIGINT) AS n, "
            "round(sum(value), 4) AS total "
            "FROM events GROUP BY event_type, "
            "time_bucket(INTERVAL '15 minutes', ts)"
        ),
        "interval_range_join": (
            "SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(l.l_linenumber AS BIGINT) AS l_linenumber, "
            "CAST(o.o_orderkey AS BIGINT) AS interval_id "
            "FROM lineitem l JOIN orders o "
            "ON l.l_shipdate >= o.o_orderdate "
            "AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY "
            "WHERE o.o_orderkey % 97 = 0"
        ),
        "text_normalize": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "trim(regexp_replace(nfc_normalize(lower("
            "upper(lang) || '  ' || text || ' ')), "
            "'[ \t\n\r]+', ' ', 'g')) AS norm FROM documents"
        ),
        "split_passages": (
            "SELECT doc_id, passage_idx, passage FROM ("
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(generate_subscripts(string_split(text, ' table '), 1)"
            " AS BIGINT) AS passage_idx, "
            "unnest(string_split(text, ' table ')) AS passage "
            "FROM documents) WHERE passage <> ''"
        ),
        "top_per_group": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, "
            "CAST(n_chars AS BIGINT) AS n_chars, "
            "CAST(rn AS BIGINT) AS rank FROM ("
            "SELECT doc_id, lang, n_chars, row_number() OVER ("
            "PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn "
            "FROM documents) WHERE rn <= 5"
        ),
        "materialize_packed": (
            # concatenate whitespace tokens in doc_id order, chunk at
            # 128: per-window exact token-list parity
            "WITH sized AS ("
            "  SELECT doc_id, string_split(text, ' ') AS words, "
            "  COALESCE(SUM(len(string_split(text, ' '))) OVER ("
            "    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "    1 PRECEDING), 0) AS prior "
            "  FROM documents WHERE len(string_split(text, ' ')) > 0), "
            "toks AS ("
            "  SELECT prior + generate_subscripts(words, 1) - 1 AS gidx, "
            "  unnest(words) AS word FROM sized) "
            "SELECT CAST(gidx // 128 AS BIGINT) AS seq_id, "
            "CAST(count(*) AS BIGINT) AS n_tokens, "
            "md5(array_to_string(list(word ORDER BY gidx), ' ')) "
            "AS tokens_md5 "
            "FROM toks GROUP BY 1"
        ),
        "vocabulary": (
            "SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM ("
            "  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term "
            "  FROM documents) "
            "WHERE term <> '' GROUP BY term HAVING count(*) >= 25"
        ),
        "pii_scan": _pii_oracle_sql(),
        "write_sharded": (
            "SELECT CAST((doc_id * 2654435761) % 8 AS BIGINT) AS shard, "
            "CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(min(doc_id) AS BIGINT) AS min_doc, "
            "CAST(max(doc_id) AS BIGINT) AS max_doc "
            "FROM documents GROUP BY 1"
        ),
        "token_freq_drift": (
            "WITH ta AS (SELECT unnest(string_split(text, ' ')) AS token "
            "  FROM documents), "
            "ta2 AS (SELECT token FROM ta WHERE token <> ''), "
            "tb AS (SELECT unnest(string_split(text, ' ')) AS token "
            "  FROM documents WHERE doc_id % 10 <> 0), "
            "tb2 AS (SELECT token FROM tb WHERE token <> ''), "
            "fa AS (SELECT token, count(*) AS count_a FROM ta2 GROUP BY token), "
            "fb AS (SELECT token, count(*) AS count_b FROM tb2 GROUP BY token), "
            "j AS (SELECT COALESCE(fa.token, fb.token) AS token, "
            "  COALESCE(count_a, 0) AS count_a, COALESCE(count_b, 0) AS count_b "
            "  FROM fa FULL OUTER JOIN fb ON fa.token = fb.token) "
            "SELECT token, CAST(count_a AS BIGINT) AS count_a, "
            "CAST(count_b AS BIGINT) AS count_b, "
            "CAST((SELECT count(*) FROM ta2) AS BIGINT) AS total_a, "
            "CAST((SELECT count(*) FROM tb2) AS BIGINT) AS total_b, "
            "CAST(abs(count_a * (SELECT count(*) FROM tb2) "
            "  - count_b * (SELECT count(*) FROM ta2)) AS BIGINT) AS drift_num "
            "FROM j ORDER BY drift_num DESC, token ASC LIMIT 40"
        ),
        "ks_drift": (
            "WITH a AS (SELECT value AS v FROM events "
            "  WHERE event_type = 'click' AND value IS NOT NULL "
            "  AND NOT isnan(value)), "
            "b AS (SELECT value AS v FROM events "
            "  WHERE event_type = 'view' AND value IS NOT NULL "
            "  AND NOT isnan(value)), "
            "f AS (SELECT v, count(*) FILTER (src = 'a') AS ca, "
            "  count(*) FILTER (src = 'b') AS cb FROM ("
            "    SELECT v, 'a' AS src FROM a "
            "    UNION ALL SELECT v, 'b' FROM b) GROUP BY v), "
            "c AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a, "
            "  sum(cb) OVER (ORDER BY v) AS cum_b FROM f), "
            "t AS (SELECT (SELECT count(*) FROM a) AS n_a, "
            "  (SELECT count(*) FROM b) AS n_b) "
            "SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, "
            "CAST(max(abs(n_b * cum_a - n_a * cum_b)) AS BIGINT) AS d_num, "
            "CAST(max(abs(n_b * cum_a - n_a * cum_b)) AS DOUBLE) "
            "  / (n_a * n_b) AS d "
            "FROM c, t GROUP BY n_a, n_b"
        ),
        "freq_spectrum": (
            "WITH t AS (SELECT unnest(string_split(text, ' ')) AS term "
            "  FROM documents), "
            "f AS (SELECT term, count(*) AS c FROM t WHERE term <> '' "
            "  GROUP BY term) "
            "SELECT CAST(c AS BIGINT) AS occurrences, "
            "CAST(count(*) AS BIGINT) AS n_terms FROM f GROUP BY c"
        ),
        "decontaminate": (
            # shingle join: docs sharing any 5-word shingle with the
            # doc_id % 17 == 0 eval slice are dropped (shingles via a
            # per-doc window list — DuckDB's generate_series cannot
            # lateral-join on a column)
            "WITH w AS ("
            "  SELECT doc_id, string_split(text, ' ') AS ws FROM documents), "
            "words AS ("
            "  SELECT doc_id, unnest(ws) AS word, "
            "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w), "
            "sh AS ("
            "  SELECT doc_id, pos, n, "
            "  array_to_string(list(word) OVER (PARTITION BY doc_id "
            "    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), "
            "    ' ') AS s "
            "  FROM words), "
            "full_sh AS (SELECT doc_id, s FROM sh WHERE pos <= n - 4), "
            "ev AS (SELECT DISTINCT s FROM full_sh WHERE doc_id % 17 = 0), "
            "bad AS (SELECT DISTINCT full_sh.doc_id FROM full_sh "
            "  JOIN ev USING (s)) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents "
            "WHERE doc_id NOT IN (SELECT doc_id FROM bad)"
        ),
        "streaming_dedup": (
            "SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id "
            "FROM documents"
        ),
        "dedup_incremental": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents "
            "WHERE doc_id % 2 = 1"
        ),
        "profile_table": (
            "SELECT col AS \"column\", "
            "(SELECT count(*) FROM documents) AS n_rows, "
            "CASE col "
            "  WHEN 'doc_id' THEN (SELECT count(*) - count(doc_id) FROM documents) "
            "  WHEN 'lang' THEN (SELECT count(*) - count(lang) FROM documents) "
            "  WHEN 'source' THEN (SELECT count(*) - count(source) FROM documents) "
            "  ELSE (SELECT count(*) - count(n_chars) FROM documents) "
            "END AS n_nulls, TRUE AS distinct_ok "
            "FROM (VALUES ('doc_id'), ('lang'), ('source'), ('n_chars')) "
            "AS t(col)"
        ),
        "tfidf_keywords": (
            # identical rational arithmetic and parenthesization as the
            # Spark expression: (tc/nw) * ((N+1)/(df+1.0))
            "WITH words AS ("
            "  SELECT doc_id, unnest(string_split(text, ' ')) AS term "
            "  FROM documents), "
            "w2 AS (SELECT * FROM words WHERE term <> ''), "
            "tc AS (SELECT doc_id, term, count(*) AS tc FROM w2 "
            "  GROUP BY 1, 2), "
            "nw AS (SELECT doc_id, count(*) AS nw FROM w2 GROUP BY 1), "
            "vocab AS (SELECT term, count(DISTINCT doc_id) AS df FROM w2 "
            "  GROUP BY 1), "
            "n AS (SELECT count(*) AS nd FROM documents), "
            "scored AS ("
            "  SELECT tc.doc_id, tc.term, "
            "  (CAST(tc.tc AS DOUBLE) / nw.nw) * "
            "  (CAST(nd + 1 AS DOUBLE) / (v.df + CAST(1.0 AS DOUBLE))) "
            "    AS score "
            "  FROM tc JOIN nw USING (doc_id) JOIN vocab v USING (term) "
            "  CROSS JOIN n) "
            "SELECT CAST(doc_id AS BIGINT) AS id, CAST(rn AS INT) AS rank, "
            "term, round(score, 4) AS score FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY doc_id "
            "    ORDER BY score DESC, term ASC) AS rn FROM scored) "
            "WHERE rn <= 3"
        ),
        "text_repetition": (
            # per-doc gram construction via the window-list trick (see
            # decontaminate); top bigram ties break lexicographically
            "WITH w AS (SELECT doc_id, len(text) AS n_chars, "
            "  string_split(text, ' ') AS ws FROM documents), "
            "words AS (SELECT doc_id, n_chars, unnest(ws) AS word, "
            "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w), "
            "g2 AS (SELECT doc_id, n_chars, pos, n, "
            "  array_to_string(list(word) OVER (PARTITION BY doc_id "
            "    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING), "
            "    ' ') AS g FROM words), "
            "c2 AS (SELECT doc_id, n_chars, g, count(*) AS c FROM g2 "
            "  WHERE pos <= n - 1 GROUP BY 1, 2, 3), "
            "top2 AS (SELECT doc_id, c * len(g) / n_chars AS f, "
            "  row_number() OVER (PARTITION BY doc_id "
            "    ORDER BY c DESC, g ASC) AS rn FROM c2), "
            "g5 AS (SELECT doc_id, n_chars, pos, n, "
            "  array_to_string(list(word) OVER (PARTITION BY doc_id "
            "    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), "
            "    ' ') AS g FROM words), "
            "c5 AS (SELECT doc_id, n_chars, g, count(*) AS c FROM g5 "
            "  WHERE pos <= n - 4 GROUP BY 1, 2, 3), "
            "dup5 AS (SELECT doc_id, COALESCE(SUM(CASE WHEN c > 1 THEN "
            "  c * len(g) END) / any_value(n_chars), 0) AS f FROM c5 "
            "  GROUP BY doc_id) "
            "SELECT CAST(d.doc_id AS BIGINT) AS doc_id, "
            "round(COALESCE(t.f, 0), 4) AS top_bigram_frac, "
            "round(COALESCE(p.f, 0), 4) AS dup_5gram_frac "
            "FROM documents d "
            "LEFT JOIN (SELECT doc_id, f FROM top2 WHERE rn = 1) t "
            "  USING (doc_id) "
            "LEFT JOIN dup5 p USING (doc_id)"
        ),
        "grouped_heavy_hitters": (
            "SELECT * FROM (VALUES ('click', TRUE), ('error', TRUE), "
            "('purchase', TRUE), ('signup', TRUE), ('view', TRUE)) "
            "AS t(event_type, ok)"
        ),
        "streaming_windowed_quantiles": (
            # per-day exact counts + exact medians pin real numbers;
            # ok carries exactly-once finalization + count match +
            # rank-correctness of the streamed window estimates
            "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
            "count(value) AS n, "
            "round(quantile_cont(value, CAST(0.5 AS DOUBLE)), 4) AS exact_p50, "
            "TRUE AS ok FROM events "
            "WHERE value IS NOT NULL AND day(ts) < 10 "
            "GROUP BY 1 ORDER BY 1"
        ),
        "streaming_quantiles": (
            # exact count + exact percentiles pin real numbers; the ok
            # flags carry the stream-vs-batch rank verification
            "SELECT 'stream_batches' AS metric, CAST(0.0 AS DOUBLE) AS q, "
            "CAST(-1.0 AS DOUBLE) AS exact_value, TRUE AS ok "
            "UNION ALL "
            "SELECT 'stream_count', CAST(0.0 AS DOUBLE), "
            "CAST(count(value) AS DOUBLE), TRUE FROM events "
            "WHERE value IS NOT NULL "
            "UNION ALL "
            "SELECT 'stream_q', CAST(0.1 AS DOUBLE), "
            "round(quantile_cont(value, CAST(0.1 AS DOUBLE)), 4), TRUE "
            "FROM events WHERE value IS NOT NULL "
            "UNION ALL "
            "SELECT 'stream_q', CAST(0.5 AS DOUBLE), "
            "round(quantile_cont(value, CAST(0.5 AS DOUBLE)), 4), TRUE "
            "FROM events WHERE value IS NOT NULL "
            "UNION ALL "
            "SELECT 'stream_q', CAST(0.9 AS DOUBLE), "
            "round(quantile_cont(value, CAST(0.9 AS DOUBLE)), 4), TRUE "
            "FROM events WHERE value IS NOT NULL"
        ),
    }


def _quality_oracle_sql() -> str:
    """DuckDB mirror of sketchlib.text.analysis.with_quality (the score
    is computed from the rounded ratio columns, exactly as in Spark)."""
    stop_rx = r"\b(the|a|of|and|to|in|is|it)\b"
    return (
        "SELECT doc_id, alpha_ratio, stopword_ratio, mean_token_len, "
        "round("
        "  least(alpha_ratio / 0.7, 1.0) * 0.4 "
        "  + least(stopword_ratio / 0.3, 1.0) * 0.3 "
        "  + (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 "
        "     AND alpha_ratio >= 0.4 THEN 1.0 ELSE 0.0 END) * 0.3"
        ", 4) AS quality_score FROM ("
        "  SELECT doc_id, "
        "  round(CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)"
        "        / n, 4) AS alpha_ratio, "
        f"  round(CAST(len(regexp_extract_all(lower(text), '{stop_rx}')) AS DOUBLE)"
        "        / greatest(toks, 1.0), 4) AS stopword_ratio, "
        "  round((n - spaces) / greatest(toks, 1.0), 4) AS mean_token_len "
        "  FROM ("
        "    SELECT doc_id, text, "
        "    CAST(greatest(len(text), 1) AS DOUBLE) AS n, "
        "    CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) AS spaces, "
        r"    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks "
        "    FROM documents"
        "  )"
        ")"
    )


def _pipeline_spec_oracle_sql() -> str:
    """DuckDB CTE chain mirroring q_pipeline_spec's six stages exactly:
    each CTE re-states a component oracle already proven green on its
    own gate (text_normalize, text_quality, dedup_exact keep-min,
    decontaminate shingle join, sample_stratified / split Weyl keys)."""
    stop_rx = r"\b(the|a|of|and|to|in|is|it)\b"
    norm = (
        "trim(regexp_replace(nfc_normalize(lower(text)), "
        "'[ \t\n\r]+', ' ', 'g'))"
    )
    weyl = "(doc_id * 2654435761) % 1048576"
    return (
        "WITH s0 AS ("
        f"  SELECT doc_id, lang, {norm} AS text FROM documents), "
        "qr AS ("
        "  SELECT doc_id, lang, text, "
        "  round(CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) "
        "AS DOUBLE) / n, 4) AS alpha_ratio, "
        f"  round(CAST(len(regexp_extract_all(lower(text), '{stop_rx}')) "
        "AS DOUBLE) / greatest(toks, 1.0), 4) AS stopword_ratio, "
        "  round((n - spaces) / greatest(toks, 1.0), 4) AS mean_token_len "
        "  FROM ("
        "    SELECT doc_id, lang, text, "
        "    CAST(greatest(len(text), 1) AS DOUBLE) AS n, "
        "    CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) "
        "AS spaces, "
        r"    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) "
        "AS toks FROM s0)), "
        "s1 AS ("
        "  SELECT doc_id, lang, text FROM qr WHERE round("
        "    least(alpha_ratio / 0.7, 1.0) * 0.4 "
        "    + least(stopword_ratio / 0.3, 1.0) * 0.3 "
        "    + (CASE WHEN mean_token_len >= 3.0 AND mean_token_len <= 10.0 "
        "       AND alpha_ratio >= 0.4 THEN 1.0 ELSE 0.0 END) * 0.3"
        "  , 4) >= 0.2), "
        "s2 AS ("
        "  SELECT s1.* FROM s1 JOIN ("
        "    SELECT text, min(doc_id) AS keep FROM s1 GROUP BY text) g "
        "  ON s1.text = g.text AND s1.doc_id = g.keep), "
        "w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s2), "
        "words AS ("
        "  SELECT doc_id, unnest(ws) AS word, "
        "  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w), "
        "sh AS ("
        "  SELECT doc_id, pos, n, "
        "  array_to_string(list(word) OVER (PARTITION BY doc_id "
        "    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING), "
        "    ' ') AS s FROM words), "
        "full_sh AS (SELECT doc_id, s FROM sh WHERE pos <= n - 4), "
        "ev AS (SELECT DISTINCT s FROM full_sh WHERE doc_id % 17 = 0), "
        "bad AS ("
        "  SELECT DISTINCT full_sh.doc_id FROM full_sh JOIN ev USING (s)), "
        "s3 AS ("
        "  SELECT * FROM s2 "
        "  WHERE doc_id NOT IN (SELECT doc_id FROM bad)), "
        "s4 AS ("
        "  SELECT * FROM s3 WHERE lang IN ('en', 'fr') "
        f"  AND {weyl} < "
        "(CASE lang WHEN 'en' THEN 524288 ELSE 262144 END)), "
        "s5 AS ("
        f"  SELECT *, CASE WHEN {weyl} < 917504 "
        "  THEN 'train' ELSE 'eval' END AS split FROM s4) "
        "SELECT '0:normalize' AS step, CAST(count(*) AS BIGINT) AS value "
        "FROM s0 "
        "UNION ALL SELECT '1:quality_filter', CAST(count(*) AS BIGINT) "
        "FROM s1 "
        "UNION ALL SELECT '2:dedup_exact', CAST(count(*) AS BIGINT) FROM s2 "
        "UNION ALL SELECT '3:decontaminate', CAST(count(*) AS BIGINT) "
        "FROM s3 "
        "UNION ALL SELECT '4:stratified_sample', CAST(count(*) AS BIGINT) "
        "FROM s4 "
        "UNION ALL SELECT '5:split', CAST(count(*) AS BIGINT) FROM s5 "
        "UNION ALL SELECT 'final:rows', CAST(count(*) AS BIGINT) FROM s5 "
        "UNION ALL SELECT 'final:train_rows', CAST(count(*) AS BIGINT) "
        "FROM s5 WHERE split = 'train' "
        "UNION ALL SELECT 'final:weyl_sum', "
        f"CAST(COALESCE(sum({weyl}), 0) AS BIGINT) FROM s5"
    )


def _langid_oracle_query() -> str:
    from sketchlib.text.analysis import langid_oracle_case_sql

    scores, case = langid_oracle_case_sql("text")
    return (
        f"SELECT doc_id, {case} AS pred_lang FROM "
        f"(SELECT doc_id, {scores} FROM documents)"
    )
