"""Similarity search: brute top-k vs numpy exact, IVF recall vs brute,
embedding near-dup pairs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.similarity.ann import (
    brute_topk,
    embedding_near_duplicates,
    ivf_topk,
    train_centroids,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb_df(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def emb_np(emb_df):
    pdf = emb_df.toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.array([np.asarray(v, dtype=np.float32) for v in pdf["embedding"]])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    return ids, mn


def test_brute_topk_matches_numpy(spark, emb_df, emb_np):
    ids, mn = emb_np
    q_idx = [0, 7, 42]
    res = brute_topk(
        emb_df, mn[q_idx], [int(ids[i]) for i in q_idx], k=5
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    for qi in q_idx:
        cos = mn[qi] @ mn.T
        order = np.argsort(-cos)[:5]
        expect = [int(ids[j]) for j in order]
        got = [v for _, v, _ in sorted(by_q[int(ids[qi])])]
        assert got == expect, (qi, got, expect)
        # top-1 is the query itself (cos=1)
        assert got[0] == int(ids[qi])


def test_ivf_recall_vs_brute(spark, emb_df, emb_np):
    ids, mn = emb_np
    q_idx = list(range(10))
    queries = mn[q_idx]
    qids = [int(ids[i]) for i in q_idx]
    brute = brute_topk(emb_df, queries, qids, k=10).collect()
    approx = ivf_topk(
        emb_df, queries, qids, k=10, n_centroids=8, nprobe=4, seed=1
    ).collect()
    bset = {}
    aset = {}
    for r in brute:
        bset.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        aset.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(bset[q] & aset.get(q, set())) / len(bset[q]) for q in bset
    ]
    assert np.mean(recalls) >= 0.6, recalls  # nprobe=4 of 8 buckets


def test_ivf_full_probe_equals_brute(spark, emb_df, emb_np):
    ids, mn = emb_np
    q_idx = [3, 11]
    queries = mn[q_idx]
    qids = [int(ids[i]) for i in q_idx]
    brute = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in brute_topk(emb_df, queries, qids, k=5).collect()
    )
    full = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in ivf_topk(
            emb_df, queries, qids, k=5, n_centroids=4, nprobe=4, seed=1
        ).collect()
    )
    assert brute == full  # probing all buckets == exact


def test_centroids_deterministic(spark, emb_df):
    c1 = train_centroids(emb_df, n_centroids=8, seed=9)
    c2 = train_centroids(emb_df, n_centroids=8, seed=9)
    np.testing.assert_array_equal(c1, c2)


def test_embedding_near_duplicates(spark, emb_df, emb_np):
    ids, mn = emb_np
    # inject a near-duplicate of vec 0 with id 99999
    v = mn[0] + np.float32(0.001)
    extra = spark.createDataFrame(
        [(99999, [float(x) for x in v])],
        "vec_id long, embedding array<float>",
    )
    data = emb_df.select("vec_id", "embedding").union(extra)
    pairs = embedding_near_duplicates(data, threshold=0.99).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (int(ids[0]), 99999) in found
    for r in pairs:
        assert r["cos"] >= 0.99
        assert r["id_a"] < r["id_b"]


def test_ivf_near_duplicates_matches_broadcast(spark, emb_df):
    from sketchlib.similarity.ann import ivf_near_duplicates

    # inject two perturbed copies
    rows = emb_df.filter(F.col("vec_id").isin([0, 5])).collect()
    extra = spark.createDataFrame(
        [
            (90000 + r["vec_id"], [float(x) + 0.001 for x in r["embedding"]])
            for r in rows
        ],
        "vec_id long, embedding array<float>",
    )
    data = emb_df.select("vec_id", "embedding").union(extra)
    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(data, threshold=0.98).collect()
    }
    ivf = {
        (r["id_a"], r["id_b"])
        for r in ivf_near_duplicates(
            data, threshold=0.98, n_centroids=8, assign=2, seed=3
        ).collect()
    }
    assert {(0, 90000), (5, 90005)} <= brute
    # IVF must recover the injected pairs (same nearest centroid) and
    # never report a pair below threshold
    assert {(0, 90000), (5, 90005)} <= ivf
    assert ivf <= brute


def test_near_dup_overflow_routes_to_ivf(spark):
    # Regression for the silent broadcast cap: with N > max_side the
    # broadcast variant must NOT silently drop pairs beyond the cap —
    # it auto-delegates to ivf_near_duplicates (or raises).
    rng = np.random.default_rng(3)
    n, d = 200, 16
    m = rng.normal(size=(n, d)).astype(np.float32)
    # inject a near-identical pair far beyond a max_side of 50
    m[151] = m[150] + rng.normal(scale=1e-3, size=d).astype(np.float32)
    df = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(n)], "vec_id long, embedding array<float>"
    )
    # the exact->approximate downgrade must be VISIBLE (advisor r2)
    with pytest.warns(RuntimeWarning, match="approximate"):
        pairs = embedding_near_duplicates(
            df, threshold=0.99, max_side=50, n_centroids=8, seed=1
        ).collect()
    assert any({p["id_a"], p["id_b"]} == {150, 151} for p in pairs), pairs

    with pytest.raises(ValueError, match="max_side"):
        embedding_near_duplicates(df, max_side=50, on_overflow="raise")


def test_ivf_hot_bucket_subsplit_no_silent_drop(spark):
    """Pathological dense-cluster fixture: ALL vectors are near-copies
    of one prototype, so every vector lands in the same `assign`
    centroid buckets.  The hot bucket must be sub-split (never
    truncated): every vector still participates in >= 1 reported pair
    and the overflow volume is surfaced via the observation."""
    from pyspark.sql import Observation

    from sketchlib.similarity.ann import ivf_near_duplicates

    rng = np.random.default_rng(11)
    n, d, cap = 240, 16, 32
    proto = rng.normal(size=d).astype(np.float32)
    proto /= np.linalg.norm(proto)
    m = proto + rng.normal(scale=1e-4, size=(n, d)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    obs = Observation("ivf_skew")
    pairs = ivf_near_duplicates(
        df, threshold=0.99, n_centroids=4, assign=2, max_bucket=cap,
        seed=3, observation=obs,
    ).persist()
    n_pairs = pairs.count()
    assert 0 < n_pairs <= 2 * -(-n // cap) * cap * (cap - 1) / 2
    ids = {
        r[0]
        for r in pairs.select(F.col("id_a").alias("i"))
        .union(pairs.select("id_b"))
        .distinct()
        .collect()
    }
    assert ids == set(range(n))  # the old cap orphaned all but `cap`
    assert obs.get["overflow_rows"] > 0
    pairs.unpersist()


def test_centroid_training_unbiased_on_sorted_data(spark):
    # Adversarial fixture: rows ORDERED by cluster, so .limit(sample)
    # would only ever see cluster 0 and train every centroid there.
    rng = np.random.default_rng(7)
    d, per = 16, 3000
    protos = rng.normal(size=(4, d)).astype(np.float32)
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    rows = []
    for c in range(4):
        pts = protos[c] + rng.normal(scale=0.02, size=(per, d)).astype(np.float32)
        rows.extend((c * per + i, pts[i].tolist()) for i in range(per))
    # keep cluster order: coalesce(1) so partition order == row order
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    cents = train_centroids(df, n_centroids=4, sample=500, seed=5)
    # every true cluster proto must have a centroid at cosine >= 0.95
    best = (protos @ cents.T).max(axis=1)
    assert (best >= 0.95).all(), best


def test_ivf_auto_sizing_on_clustered_data(spark):
    """n_centroids=None auto-sizes C ~ sqrt(N) with nprobe ~ C/4: on
    clustered embeddings (IVF's operating assumption) recall stays
    high while probing ~25% of the data.  Unclustered/random vectors
    inherently defeat IVF at any probe fraction < 1 — that case is the
    brute/broadcast path's job."""
    from sketchlib.similarity.ann import brute_topk, ivf_topk

    rng = np.random.default_rng(0)
    protos = rng.normal(size=(50, 32)).astype(np.float32)
    protos /= np.linalg.norm(protos, axis=1, keepdims=True)
    m = np.vstack([
        protos[c] + rng.normal(scale=0.15, size=(100, 32)).astype(np.float32)
        for c in range(50)
    ])
    df = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(5000)],
        "vec_id long, embedding array<float>",
    )
    qidx = list(range(0, 5000, 500))
    brute = brute_topk(df, m[qidx], qidx, k=10).collect()
    approx = ivf_topk(df, m[qidx], qidx, k=10, n_centroids=None, seed=1).collect()
    bs, as_ = {}, {}
    for r in brute:
        bs.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        as_.setdefault(r["query_id"], set()).add(r["vec_id"])
    rec = np.mean([len(bs[i] & as_.get(i, set())) / len(bs[i]) for i in bs])
    assert rec >= 0.9, rec


def test_global_topk_adaptive_two_level(spark):
    """Round 4: the final per-query rank is two-level ONLY above the
    partition threshold (at small scale the extra shuffle is pure
    overhead; at 10^5-task scale a single per-query window is a
    straggler).  Results must be identical either way, in the schema
    brute_topk / ivf_topk have always returned."""
    from sketchlib.similarity.ann import _topk_per_query

    partial = spark.range(0, 2000).select(
        (F.col("id") % 4).alias("query_id"),
        F.col("id").alias("vec_id"),
        (F.pmod(F.xxhash64("id"), F.lit(10_000)) / 10_000.0).alias("cos"),
    )
    small = partial.repartition(8)
    big = partial.repartition(600)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert plan(_topk_per_query(small, 3)).count("Window [") == 1
    assert plan(_topk_per_query(big, 3)).count("Window [") == 2
    assert _topk_per_query(small, 3).schema.simpleString() == (
        "struct<query_id:bigint,rank:int,vec_id:bigint,cos:double>"
    )
    rs = sorted(map(tuple, _topk_per_query(small, 3).collect()))
    rb = sorted(map(tuple, _topk_per_query(big, 3).collect()))
    assert rs == rb and len(rs) == 4 * 3


def test_cluster_embeddings_assigns_all_deterministically(spark):
    import numpy as np

    from sketchlib.similarity.ann import cluster_embeddings

    rng = np.random.default_rng(7)
    # three well-separated blobs in 8-d
    blobs = []
    for i in range(3):
        base = np.zeros(8)
        base[i] = 4.0
        blobs.append(base + rng.normal(0, 0.05, size=(40, 8)))
    m = np.concatenate(blobs)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(m)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out, cents = cluster_embeddings(df, n_clusters=3, seed=11)
    got = out.collect()
    assert len(got) == 120
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] // 40)
    # well-separated blobs: each cluster holds exactly one blob
    assert len(by_cluster) == 3
    assert all(len(srcs) == 1 for srcs in by_cluster.values())
    # deterministic: same seed, same assignment; reuse trained centroids
    out2, _ = cluster_embeddings(df, n_clusters=3, seed=11)
    assert sorted((r["vec_id"], r["cluster"]) for r in got) == sorted(
        (r["vec_id"], r["cluster"]) for r in out2.collect()
    )
    out3, _ = cluster_embeddings(df, n_clusters=3, centroids=cents)
    assert sorted((r["vec_id"], r["cluster"]) for r in got) == sorted(
        (r["vec_id"], r["cluster"]) for r in out3.collect()
    )


def test_cluster_embeddings_validation(spark):
    from sketchlib.similarity.ann import cluster_embeddings

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_clusters"):
        cluster_embeddings(df, n_clusters=0)
    with pytest.raises(ValueError, match="already exists"):
        cluster_embeddings(
            df.withColumn("cluster", F.lit(1)), n_clusters=1
        )


def test_cluster_embeddings_degenerate_inputs(spark):
    from sketchlib.similarity.ann import cluster_embeddings

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty table"):
        cluster_embeddings(empty, n_clusters=4)
    tiny = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.warns(UserWarning, match="distinct sample vectors"):
        out, cents = cluster_embeddings(tiny, n_clusters=16)
    assert cents.shape[0] == 2
    assert out.count() == 2
