"""Checkpoint/resume: a killed run's completed lineages are reused; the
resumed run recomputes only the missing ones and the final sketch
covers everything (SURVEY.md §7.2 step 6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.core.kll import KLL
from sketchlib.core.tdigest import TDigest
from sketchlib.spark.checkpoint import completed_lineages, run_checkpointed
from sketchlib.spark.datagen import token_sequences
from tests.conftest import is_direct, jvm_side

N_LINEAGE = 8
N_ROWS = 5_000


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = token_sequences(spark, N_ROWS, seed=7, partitions=8)
    df.cache().count()
    return df


def test_full_run_then_resume_noop(spark, tokens_df, tmp_path):
    ckpt = str(tmp_path / "ckpt_full")
    sk, m = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300),
        checkpoint_dir=ckpt, lineage_col="doc_id", n_lineage=N_LINEAGE,
        sketch_kind="tdigest",
    )
    assert m["lineages_total"] == N_LINEAGE
    assert m["lineages_recomputed"] == N_LINEAGE
    assert m["n_updates"] == N_ROWS
    assert sk.count == N_ROWS

    # resume over a complete ledger: nothing recomputed, same answer
    sk2, m2 = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300),
        checkpoint_dir=ckpt, lineage_col="doc_id", n_lineage=N_LINEAGE,
        sketch_kind="tdigest",
    )
    assert m2["lineages_recomputed"] == 0
    assert m2["lineages_resumed"] == N_LINEAGE
    assert sk2.count == N_ROWS


def test_partial_run_resume_completes(spark, tokens_df, tmp_path):
    ckpt = str(tmp_path / "ckpt_partial")
    # simulate a killed run: only lineages {0,1,2} were completed
    lineage = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_LINEAGE))
    subset = tokens_df.filter(lineage < 3)
    run_checkpointed(
        spark, subset, "n_tok", lambda: TDigest(delta=300),
        checkpoint_dir=ckpt, lineage_col="doc_id", n_lineage=N_LINEAGE,
        sketch_kind="tdigest", resume=False,
    )
    done = completed_lineages(spark, ckpt)
    assert done == {0, 1, 2}

    # resume over the full input: recomputes exactly the missing 5
    sk, m = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300),
        checkpoint_dir=ckpt, lineage_col="doc_id", n_lineage=N_LINEAGE,
        sketch_kind="tdigest",
    )
    assert m["lineages_recomputed"] == N_LINEAGE - 3
    assert m["lineages_resumed"] == 3
    assert m["n_updates"] == N_ROWS
    assert sk.count == N_ROWS

    # estimates match an uncheckpointed build within epsilon
    exact = np.array(tokens_df.select("n_tok").toPandas()["n_tok"], float)
    for q in (0.25, 0.5, 0.9):
        true = np.quantile(exact, q)
        assert abs(sk.value_at_quantile(q) - true) <= max(0.02 * true, 1.5)


def test_no_double_count_on_duplicate_ledger_rows(spark, tokens_df, tmp_path):
    """Regression: (a) resume=False over an existing ledger overwrites
    instead of stacking a second copy of every lineage; (b) even if
    duplicate rows DO land in the ledger (e.g. a transient read error
    forced a full recompute-and-append), the final merge dedupes per
    lineage_id and must not double-count."""
    ckpt = str(tmp_path / "ckpt_dup")
    args = dict(
        checkpoint_dir=ckpt, lineage_col="doc_id", n_lineage=N_LINEAGE,
        sketch_kind="tdigest",
    )
    sk, _ = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300), **args
    )
    assert sk.count == N_ROWS

    # (a) fresh run with resume=False over the same dir: not doubled
    sk2, m2 = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300),
        resume=False, **args,
    )
    assert m2["lineages_total"] == N_LINEAGE
    assert sk2.count == N_ROWS

    # (b) force duplicate rows into the ledger, then resume
    ledger = spark.read.parquet(ckpt)
    ledger.withColumn("wall_ts", F.col("wall_ts") - 10).write.mode(
        "append"
    ).parquet(ckpt)
    assert spark.read.parquet(ckpt).count() == 2 * N_LINEAGE
    sk3, m3 = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300), **args
    )
    assert m3["lineages_total"] == N_LINEAGE
    assert sk3.count == N_ROWS


def test_deterministic_lineage_recompute(spark, tokens_df, tmp_path):
    """KLL lineage states are bit-identical across recomputation
    (seeded compaction coins -> reproducible resume)."""
    ck1 = str(tmp_path / "kll1")
    ck2 = str(tmp_path / "kll2")
    for ck in (ck1, ck2):
        run_checkpointed(
            spark, tokens_df, "n_tok", lambda: KLL(k=64, seed=99),
            checkpoint_dir=ck, lineage_col="doc_id", n_lineage=4,
            sketch_kind="kll", resume=False,
        )
    s1 = {
        r["lineage_id"]: bytes(r["state"])
        for r in spark.read.parquet(ck1).collect()
    }
    s2 = {
        r["lineage_id"]: bytes(r["state"])
        for r in spark.read.parquet(ck2).collect()
    }
    assert s1 == s2


def test_cross_engine_checkpoint_resume(spark, tokens_df, tmp_path, partials_plans):
    """The direct lineage kernel computes lineage ids with the numpy
    XXH64 that is bit-equal to Spark's pmod(xxhash64(key), n), so (a) a
    routed ledger's per-lineage item counts are IDENTICAL to a JVM
    ledger's, and (b) a job STARTED on the JVM path (a filtered frame)
    is RESUMED by a routed build over the bare scan: it recomputes
    exactly the missing lineage ids and the final count is exact."""
    from sketchlib.spark.aggregate import KIND_ARRAY

    path = str(tmp_path / "tok")
    tokens_df.write.parquet(path)
    total_tokens = tokens_df.select(
        F.sum(F.size("tokens")).alias("s")
    ).first()["s"]

    # (a) lineage parity: per-lineage n_updates identical across engines
    jvm_dir = str(tmp_path / "ck_jvm")
    dir_dir = str(tmp_path / "ck_direct")
    sk_j, m_j = run_checkpointed(
        spark, jvm_side(spark.read.parquet(path)), "tokens",
        lambda: KLL(k=128), checkpoint_dir=jvm_dir,
        lineage_col="doc_id", kind=KIND_ARRAY, n_lineage=N_LINEAGE,
        sketch_kind="kll",
    )
    assert not is_direct(partials_plans[-1])
    sk_d, m_d = run_checkpointed(
        spark, spark.read.parquet(path), "tokens", lambda: KLL(k=128),
        checkpoint_dir=dir_dir, lineage_col="doc_id",
        kind=KIND_ARRAY, n_lineage=N_LINEAGE, sketch_kind="kll",
    )
    assert is_direct(partials_plans[-1]), partials_plans[-1]
    assert _per_lineage(spark, jvm_dir) == _per_lineage(spark, dir_dir)
    assert sk_j.count == sk_d.count == total_tokens
    np.testing.assert_allclose(
        sk_j.value_at_quantile(np.array([0.1, 0.5, 0.9])),
        sk_d.value_at_quantile(np.array([0.1, 0.5, 0.9])),
        rtol=0.02,
    )

    # (b) cross-engine resume: JVM builds half the lineages, the
    # direct engine completes the rest
    mix_dir = str(tmp_path / "ck_mixed")
    half = spark.read.parquet(path).filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(N_LINEAGE)) < N_LINEAGE // 2
    )
    _, m_half = run_checkpointed(
        spark, half, "tokens", lambda: KLL(k=128),
        checkpoint_dir=mix_dir, lineage_col="doc_id", kind=KIND_ARRAY,
        n_lineage=N_LINEAGE, sketch_kind="kll",
    )
    assert not is_direct(partials_plans[-1])
    assert m_half["lineages_total"] == N_LINEAGE // 2
    sk_m, m_m = run_checkpointed(
        spark, spark.read.parquet(path), "tokens", lambda: KLL(k=128),
        checkpoint_dir=mix_dir, lineage_col="doc_id", kind=KIND_ARRAY,
        n_lineage=N_LINEAGE, sketch_kind="kll",
    )
    assert is_direct(partials_plans[-1])
    assert m_m["lineages_resumed"] == N_LINEAGE // 2
    assert m_m["lineages_recomputed"] == N_LINEAGE // 2
    assert sk_m.count == total_tokens  # exact: nothing double-fed/missed


def _per_lineage(spark, ledger):
    """{lineage_id: n_updates} of a ledger."""
    return {
        r["lineage_id"]: r["n"]
        for r in spark.read.parquet(ledger)
        .groupBy("lineage_id").agg(F.sum("n_updates").alias("n"))
        .collect()
    }


def test_cross_engine_resume_hash_sketch(spark, tokens_df, tmp_path, partials_plans):
    """Hash-kind ledgers interoperate too: the direct kernel hashes
    KIND_HASH64 values with the JVM-bit-equal XXH64 and stamps
    DOMAIN_XXHASH64, so an HLL job started on the JVM path resumes on
    the direct engine (the final ledger merge would raise on a domain
    mismatch)."""
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import KIND_HASH64

    path = str(tmp_path / "tok")
    tokens_df.write.parquet(path)
    ck = str(tmp_path / "ck")
    half = spark.read.parquet(path).filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(N_LINEAGE)) < N_LINEAGE // 2
    )
    run_checkpointed(
        spark, half, "n_tok", lambda: HyperLogLog(p=12),
        checkpoint_dir=ck, lineage_col="doc_id", kind=KIND_HASH64,
        n_lineage=N_LINEAGE, sketch_kind="hll",
    )
    assert not is_direct(partials_plans[-1])
    sk, m = run_checkpointed(
        spark, spark.read.parquet(path), "n_tok", lambda: HyperLogLog(p=12),
        checkpoint_dir=ck, lineage_col="doc_id", kind=KIND_HASH64,
        n_lineage=N_LINEAGE, sketch_kind="hll",
    )
    assert is_direct(partials_plans[-1])
    assert m["lineages_resumed"] == N_LINEAGE // 2
    assert m["lineages_recomputed"] == N_LINEAGE // 2
    true = tokens_df.select("n_tok").distinct().count()
    assert abs(sk.estimate() - true) / true < 0.15


def test_direct_checkpoint_key_is_value_column(spark, tokens_df, tmp_path, partials_plans):
    """``jobs build --checkpoint`` keys lineages by the sketched column
    unless told otherwise: the direct kernel reads that column once and
    builds the JVM path's HLL byte for byte."""
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import KIND_HASH64

    path = str(tmp_path / "tok")
    tokens_df.write.parquet(path)
    sk_j, _ = run_checkpointed(
        spark, jvm_side(spark.read.parquet(path)), "doc_id",
        lambda: HyperLogLog(p=12),
        checkpoint_dir=str(tmp_path / "ck_jvm"), lineage_col="doc_id",
        kind=KIND_HASH64, n_lineage=N_LINEAGE, sketch_kind="hll",
    )
    assert not is_direct(partials_plans[-1])
    sk_d, m_d = run_checkpointed(
        spark, spark.read.parquet(path), "doc_id", lambda: HyperLogLog(p=12),
        checkpoint_dir=str(tmp_path / "ck_direct"), lineage_col="doc_id",
        kind=KIND_HASH64, n_lineage=N_LINEAGE, sketch_kind="hll",
    )
    assert is_direct(partials_plans[-1])
    assert m_d["n_updates"] == N_ROWS
    assert sk_d.to_bytes() == sk_j.to_bytes()


def test_mixed_width_keys_take_one_lineage_on_both_engines(
    spark, tmp_path, partials_plans
):
    """A ``long`` lineage key stored as int64 in the first file and as
    int32 in the later ones hashes as a long on both engines, and the
    rows of a file without the key column land in lineage
    ``pmod(42, n)`` on both: each ledger's per-lineage counts equal
    Spark's ``pmod(xxhash64(k), n)`` grouping, and a ledger started on
    the JVM path and resumed by a routed build counts every value."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_lineage = 16
    path = tmp_path / "widths"
    path.mkdir()
    keys = np.arange(8000) * 7919 - 4_000_000
    for i in range(8):
        part = slice(1000 * i, 1000 * (i + 1))
        pq.write_table(
            pa.table({
                "k": pa.array(keys[part], pa.int64() if i == 0 else pa.int32()),
                "v": pa.array(keys[part] % 1000, pa.int64()),
            }),
            str(path / f"part{i}.parquet"),
        )
    pq.write_table(
        pa.table({"v": pa.array(np.arange(300), pa.int64())}),
        str(path / "part9_nokey.parquet"),
    )
    df = spark.read.schema("k long, v long").parquet(str(path))
    lineage = F.pmod(F.xxhash64("k"), F.lit(n_lineage))
    expected = {
        r["l"]: r["n"]
        for r in df.groupBy(lineage.alias("l")).agg(F.count("v").alias("n")).collect()
    }
    assert expected[42 % n_lineage] >= 300
    args = dict(lineage_col="k", n_lineage=n_lineage, sketch_kind="tdigest")
    ledgers = {}
    for engine, frame in (("direct", df), ("jvm", jvm_side(df))):
        ck = str(tmp_path / f"ck_{engine}")
        sk, m = run_checkpointed(spark, frame, "v", lambda: TDigest(delta=300), ck, **args)
        assert is_direct(partials_plans[-1]) == (engine == "direct")
        assert m["n_updates"] == sk.count == 8300
        ledgers[engine] = _per_lineage(spark, ck)
    assert ledgers["direct"] == ledgers["jvm"] == expected

    ck = str(tmp_path / "ck_resumed")
    run_checkpointed(
        spark, df.filter(lineage < n_lineage // 2), "v",
        lambda: TDigest(delta=300), ck, **args,
    )
    sk, m = run_checkpointed(spark, df, "v", lambda: TDigest(delta=300), ck, **args)
    assert is_direct(partials_plans[-1])
    assert m["lineages_resumed"] == m["lineages_recomputed"] == n_lineage // 2
    assert m["n_updates"] == sk.count == 8300
    assert _per_lineage(spark, ck) == expected


@pytest.mark.parametrize("ledger", ["missing", "empty"])
def test_no_ledger_builds_every_lineage(spark, tokens_df, tmp_path, ledger):
    """A checkpoint directory that does not exist, or exists empty,
    holds no completed lineage: the build computes all of them."""
    ckpt = tmp_path / "ckpt"
    if ledger == "empty":
        ckpt.mkdir()
    assert completed_lineages(spark, str(ckpt)) == set()
    sk, m = run_checkpointed(
        spark, tokens_df, "n_tok", lambda: TDigest(delta=300),
        checkpoint_dir=str(ckpt), lineage_col="doc_id", n_lineage=N_LINEAGE,
    )
    assert m["lineages_recomputed"] == m["lineages_total"] == N_LINEAGE
    assert sk.count == N_ROWS
