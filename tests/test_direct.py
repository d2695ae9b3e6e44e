"""Direct-parquet scan path: equivalence with the DataFrame path and
hash-kind handling (sketchlib/spark/direct.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.tdigest import TDigest
from sketchlib.spark.aggregate import (
    KIND_ARRAY,
    KIND_ARRAY_HASH,
    KIND_DOUBLE,
    KIND_HASH64,
    grouped_sketch,
    sketch_column,
)
from sketchlib.spark.direct import list_parquet_files, sketch_parquet
from sketchlib.spark.datagen import token_sequences
from tests.conftest import is_direct, jvm_side


@pytest.fixture(scope="module")
def token_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("direct") / "tokens")
    token_sequences(spark, 8_000, seed=3, partitions=8).write.parquet(path)
    return path


def test_list_files(token_path):
    files = list_parquet_files(token_path)
    assert len(files) >= 1
    assert all(f.endswith(".parquet") for f in files)


def test_direct_matches_dataframe_path(spark, token_path):
    direct = sketch_parquet(
        spark, token_path, "tokens", lambda: TDigest(delta=800), KIND_ARRAY
    )
    df = jvm_side(spark.read.parquet(token_path))
    via_df = sketch_column(df, "tokens", lambda: TDigest(delta=800), KIND_ARRAY)
    assert direct.count == via_df.count
    assert direct.min == via_df.min and direct.max == via_df.max
    qs = np.array([0.1, 0.5, 0.9])
    np.testing.assert_allclose(
        direct.value_at_quantile(qs), via_df.value_at_quantile(qs), rtol=0.01
    )


def test_direct_scalar_column(spark, token_path):
    sk = sketch_parquet(
        spark, token_path, "n_tok", lambda: KLL(k=128), KIND_DOUBLE
    )
    df = spark.read.parquet(token_path)
    assert sk.count == df.count()
    true = df.agg(F.expr("percentile(n_tok, 0.5)")).first()[0]
    assert abs(sk.value_at_quantile(0.5) - true) <= max(0.02 * true, 2.0)


def test_direct_hash_kind_int(spark, token_path):
    # hash64 on an int column hashes with the numpy XXH64 — estimates
    # must hit the HLL bound
    sk = sketch_parquet(
        spark, token_path, "n_tok", lambda: HyperLogLog(p=12), KIND_HASH64
    )
    true = spark.read.parquet(token_path).select("n_tok").distinct().count()
    assert abs(sk.estimate() - true) / true <= 4 * sk.relative_std_error()


def test_direct_size_hint(spark, token_path, monkeypatch):
    """sketch_parquet hands its real task count to tree_merge (no plan
    conversion just to count partitions)."""
    from sketchlib.spark import direct

    hints = []
    real = direct.tree_merge

    def spy(partials, **kw):
        hints.append(kw["size_hint"])
        return real(partials, **kw)

    monkeypatch.setattr(direct, "tree_merge", spy)
    sketch_parquet(spark, token_path, "n_tok", lambda: TDigest(delta=100))
    files = list_parquet_files(token_path)
    assert hints == [min(len(files), 2 * spark.sparkContext.defaultParallelism)]


def test_cross_hash_domain_merge_refused(spark, token_path):
    """Both engines hash KIND_HASH64 with Spark's xxhash64, so their
    HLL states are byte-equal and their SpaceSaving states (capacity
    above the distinct count: no eviction) count the same hashes; a
    KIND_ARRAY_HASH state (splitmix64) must REFUSE to merge with them —
    the states live in different hash domains and a merged estimate
    would be silently wrong.  The guard rides the serialized header, so
    it also fires through serde.merge_blobs (the Spark merge stages)."""
    from sketchlib import serde
    from sketchlib.core.hashing import DOMAIN_SPLITMIX64, DOMAIN_XXHASH64
    from sketchlib.core.spacesaving import SpaceSaving

    df = jvm_side(spark.read.parquet(token_path))
    for factory, state in (
        (lambda: HyperLogLog(p=12), lambda sk: sk.to_bytes()),
        (lambda: SpaceSaving(capacity=4096), lambda sk: (sk.counts, sk.total)),
    ):
        direct = sketch_parquet(spark, token_path, "n_tok", factory, KIND_HASH64)
        via_df = sketch_column(df, "n_tok", factory, KIND_HASH64)
        assert direct.hash_domain == via_df.hash_domain == DOMAIN_XXHASH64
        assert state(direct) == state(via_df)
        tok = sketch_parquet(spark, token_path, "tokens", factory, KIND_ARRAY_HASH)
        assert tok.hash_domain == DOMAIN_SPLITMIX64
        with pytest.raises(ValueError, match="hash domain"):
            direct.merge(tok)
        # and through the serialized-blob path the merge stages use
        with pytest.raises(ValueError, match="hash domain"):
            serde.merge_blobs([tok.to_bytes(), direct.to_bytes()])
        direct.merge(via_df)  # same-domain merges still work


def test_probes_refuse_foreign_hash_domains(spark, token_path):
    """Probes hash keys with xxhash64: a direct KIND_HASH64 Bloom has
    no false negatives over its own keys, and a KIND_ARRAY_HASH
    (splitmix64) Bloom or CMS is refused instead of answering for keys
    it never saw."""
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.spark.api import bloom_contains, cms_frequencies

    df = spark.read.parquet(token_path)
    proto = BloomFilter.from_capacity(8_000, 0.01)
    bloom = sketch_parquet(
        spark, token_path, "doc_id", lambda: BloomFilter(proto.m, proto.k),
        KIND_HASH64,
    )
    absent = bloom_contains(df, "doc_id", bloom).filter(~F.col("member"))
    assert absent.count() == 0
    for factory, probe in (
        (lambda: BloomFilter(proto.m, proto.k),
         lambda sk: bloom_contains(df, "doc_id", sk)),
        (lambda: CountMinSketch(4, 1024),
         lambda sk: cms_frequencies(sk, df, "source")),
    ):
        sk = sketch_parquet(spark, token_path, "tokens", factory, KIND_ARRAY_HASH)
        with pytest.raises(ValueError, match="hash domain"):
            probe(sk)


def test_direct_checkpoint_hashes_like_the_scan(spark, tmp_path, partials_plans):
    """The direct checkpoint build hashes non-integer KIND_HASH64 values
    before routing them, dropping null rows as the ungrouped scan does: over a
    nullable float32 column both direct builds and the JVM path's
    ``sketch_column`` give one HLL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark.checkpoint import run_checkpointed

    vals = [None if i % 7 == 0 else i / 3.0 for i in range(3000)]
    path = tmp_path / "nullable"
    path.mkdir()
    pq.write_table(
        pa.table({"k": pa.array(np.arange(3000)), "v": pa.array(vals, pa.float32())}),
        str(path / "part0.parquet"),
    )
    scan = sketch_parquet(
        spark, str(path), "v", lambda: HyperLogLog(p=12), KIND_HASH64
    )
    ck, m = run_checkpointed(
        spark, spark.read.parquet(str(path)), "v", lambda: HyperLogLog(p=12),
        str(tmp_path / "ck"), "k", kind=KIND_HASH64, n_lineage=4,
    )
    assert is_direct(partials_plans[-1]), partials_plans[-1]
    assert m["n_updates"] == sum(v is not None for v in vals)
    assert ck.to_bytes() == scan.to_bytes()
    jvm = sketch_column(
        jvm_side(spark.read.parquet(str(path))), "v", lambda: HyperLogLog(p=12),
        KIND_HASH64,
    )
    assert jvm.to_bytes() == scan.to_bytes()


def test_direct_hash64_rejects_uint64(spark, tmp_path):
    """Spark reads parquet UINT_64 as a decimal, so a uint64 column has
    no Spark-parity xxhash64: the direct KIND_HASH64 build fails loud."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "u64.parquet")
    pq.write_table(pa.table({"v": pa.array(np.arange(10, dtype=np.uint64))}), path)
    with pytest.raises(Exception, match="uint64"):
        sketch_parquet(spark, path, "v", lambda: HyperLogLog(p=12), KIND_HASH64)


@pytest.mark.parametrize(
    "arrow_type",
    ["int32", "int64", "string", "float64", "float32"],
)
def test_direct_hash64_equals_dataframe_path(spark, tmp_path, arrow_type):
    """KIND_HASH64 is one hash on both engines: a direct-scan HLL is
    byte-equal to ``sketch_column``'s over the same parquet column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    vals = rng.integers(-50_000, 50_000, 3000)
    if arrow_type == "string":
        arr = pa.array([f"k{v}" for v in vals])
    else:
        floats = arrow_type.startswith("float")
        arr = pa.array(vals / 7.0 if floats else vals).cast(arrow_type)
    path = tmp_path / "keys"
    path.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"v": arr[i * 1000:(i + 1) * 1000]}),
            str(path / f"part{i}.parquet"),
        )
    direct = sketch_parquet(
        spark, str(path), "v", lambda: HyperLogLog(p=12), KIND_HASH64
    )
    via_df = sketch_column(
        jvm_side(spark.read.parquet(str(path))), "v", lambda: HyperLogLog(p=12),
        KIND_HASH64,
    )
    assert direct.to_bytes() == via_df.to_bytes()


def test_row_group_predicate_pushdown(spark, tmp_path):
    """Row-group pruning from parquet footer statistics: inside one
    kept file, groups outside the predicate range are never decoded.
    Verified with the pyarrow metadata counter (which groups exist,
    which are skipped) and by the sketch count covering exactly the
    kept groups' rows."""
    import pyarrow.parquet as pq

    from sketchlib.spark.direct import _prune_row_groups

    # one file, 10 row groups of 1000 rows: v in [0,1000), [1000,2000)…
    path = str(tmp_path / "rg.parquet")
    tbl = __import__("pyarrow").table(
        {"v": np.arange(10_000, dtype=np.float64)}
    )
    pq.write_table(tbl, path, row_group_size=1000)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 10

    kept, skipped = _prune_row_groups(md, "v", 7500, None)
    assert skipped == 7 and kept == [7, 8, 9]
    kept, skipped = _prune_row_groups(md, "v", 2500, 4200)
    assert kept == [2, 3, 4] and skipped == 7
    # groups lacking stats for a missing column: conservatively kept
    kept, skipped = _prune_row_groups(md, "nope", 0, 1)
    assert skipped == 0 and len(kept) == 10

    # end-to-end: the sketch sees exactly the kept groups' rows
    sk = sketch_parquet(
        spark, path, "v", lambda: TDigest(delta=500), KIND_DOUBLE,
        prune=("v", 7500, None),
    )
    assert sk.count == 3000
    assert sk.min == 7000.0 and sk.max == 9999.0  # group granularity
    # a range matching nothing prunes every group -> empty build
    assert sketch_parquet(
        spark, path, "v", lambda: TDigest(delta=500), KIND_DOUBLE,
        prune=("v", 50_000, None),
    ) is None


def test_row_group_pruning_temporal_stats(tmp_path):
    """pyarrow surfaces timestamp/date statistics as datetime objects
    while Iceberg bounds are int micros/days — the row-group pruner
    must compare in the int domain instead of raising TypeError."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark.direct import _prune_row_groups

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ts = [base + dt.timedelta(hours=i) for i in range(40)]
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(40)]
    tbl = pa.table({
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "d": pa.array(days, pa.date32()),
    })
    path = str(tmp_path / "t.parquet")
    pq.write_table(tbl, path, row_group_size=10)
    md = pq.ParquetFile(path).metadata
    # micros bound at hour 25 -> groups 0-1 dropped... group2 contains it
    cut = int((base + dt.timedelta(hours=25)).timestamp() * 1_000_000)
    kept, skipped = _prune_row_groups(md, "ts", cut, None)
    assert kept == [2, 3] and skipped == 2
    # days since epoch bound at day 15 -> keep groups 1..3
    epoch_days = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days + 15
    kept, skipped = _prune_row_groups(md, "d", epoch_days, None)
    assert kept == [1, 2, 3] and skipped == 1
    # incomparable predicate type: conservatively keep everything
    kept, skipped = _prune_row_groups(md, "ts", "not-a-time", None)
    assert skipped == 0 and len(kept) == 4


def test_iceberg_row_group_pruning(spark, tmp_path):
    """sketch_iceberg: the file-level predicate also reaches ROW-GROUP
    granularity inside kept files (field-id resolved to the column name
    through the table-metadata schema)."""
    import pyarrow.parquet as pq

    from sketchlib.iceberg.fixture import wrap_existing_parquet
    from sketchlib.spark.direct import sketch_iceberg

    # 2 files x 4 row groups of 250 rows each
    data = str(tmp_path / "raw")
    __import__("os").makedirs(data)
    paths = []
    for i in range(2):
        t = __import__("pyarrow").table(
            {
                "id": np.arange(i * 1000, (i + 1) * 1000, dtype=np.int64),
                "v": np.arange(i * 1000, (i + 1) * 1000, dtype=np.float64),
            }
        )
        p = f"{data}/part{i}.parquet"
        pq.write_table(t, p, row_group_size=250)
        paths.append(p)
    loc = str(tmp_path / "tbl")
    wrap_existing_parquet(loc, paths, stats_columns=["id", "v"])
    # id >= 1750: file 0 fully pruned (file bounds), file 1 keeps only
    # its last row group at row-group granularity -> 250 rows
    sk = sketch_iceberg(
        spark, loc, "v", lambda: TDigest(delta=500),
        prune_field_id=1, prune_min=1750,
    )
    assert sk.count == 250
    assert sk.min == 1750.0 and sk.max == 1999.0


def test_bincount_acc_uint64_band_and_budget():
    """Regression (self-review r3): uint64 values above 2^63 in a
    narrow band must accumulate (uint64-space subtraction), not crash
    the bincount cast; and a shared byte budget bounds TOTAL
    accumulator memory across many accs."""
    from sketchlib.spark.aggregate import _BincountAcc

    hi = np.uint64(2**63 + 10_000)
    vals = (hi + np.arange(1000, dtype=np.uint64) % np.uint64(64))
    acc = _BincountAcc()
    assert acc.try_add(vals)
    assert acc.items == 1000
    assert acc.counts.sum() == 1000
    # and the distinct-hash flush hashes the true uint64 values
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import flush_hashed

    sk = HyperLogLog(p=10)
    n = flush_hashed(acc, sk, 2)
    assert n == 1000
    assert 40 <= sk.estimate() <= 90  # 64 distinct values

    # shared budget: second acc is denied once the budget is spent
    budget = [8 * 100]  # room for 100 int64 counts total
    a = _BincountAcc(budget)
    b = _BincountAcc(budget)
    assert a.try_add(np.arange(80, dtype=np.int64))
    assert not b.try_add(np.arange(1000, 1200, dtype=np.int64))  # needs 200
    assert b.try_add(np.arange(5, dtype=np.int64))  # 5 fits the remainder
    # flushing releases the budget for later accs
    from sketchlib.core.tdigest import TDigest

    a.flush_into(TDigest(delta=100))
    c = _BincountAcc(budget)
    assert c.try_add(np.arange(60, dtype=np.int64))


def test_prefetch_order_errors_and_early_stop():
    """The one read-ahead thread: order kept past ``depth``, a source
    error re-raised in the consumer, and an early stop joins the
    producer and closes a generator source in the consumer's thread."""
    import threading

    from sketchlib.spark.aggregate import _prefetch

    items = list(range(50))
    assert list(_prefetch(iter(items), depth=3)) == items

    def failing():
        yield 1
        raise KeyError("boom")

    got = []
    with pytest.raises(KeyError, match="boom"):
        for x in _prefetch(failing(), depth=2):
            got.append(x)
    assert got == [1]

    closed_in = []

    def source():
        try:
            yield from range(1000)
        finally:
            closed_in.append(threading.current_thread())

    # hold the sources: the close must come from _prefetch, not from
    # garbage collection
    src = source()
    pf = _prefetch(src, depth=2)
    assert [next(pf), next(pf)] == [0, 1]
    pf.close()
    assert closed_in == [threading.current_thread()]

    closed_in.clear()
    src = source()
    with pytest.raises(ValueError):
        for x in _prefetch(src, depth=2):
            raise ValueError(x)
    assert closed_in == [threading.current_thread()]


def test_direct_overlap_and_bounds_bit_identical(spark, tmp_path):
    """Decode-path work must not change results: the read-ahead decode
    thread and the footer-stat bounds hints give BIT-IDENTICAL sketch
    states vs an inline driver-side feed of the same files, for the
    quantile path (t-digest over list<int32>) and the hash path
    (HLL)."""
    import pyarrow.parquet as pq

    from sketchlib import serde
    from sketchlib.core import hashing
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import (
        KIND_ARRAY,
        KIND_ARRAY_HASH,
        AccFeeder,
        _batch_values,
    )
    from sketchlib.spark.direct import sketch_parquet

    path = str(tmp_path / "tok")
    rows = [
        (i, [int(x) for x in np.random.default_rng(i).integers(0, 999, 40)])
        for i in range(400)
    ]
    spark.createDataFrame(rows, "id long, tokens array<int>").repartition(
        4
    ).write.parquet(path)

    def inline(factory, hash_mode):
        feeder = AccFeeder(
            factory(), hash_mode=hash_mode, domain=hashing.DOMAIN_SPLITMIX64
        )
        for f in list_parquet_files(path):
            for rb in pq.ParquetFile(f).iter_batches(columns=["tokens"]):
                feeder.feed_raw(_batch_values(rb.column(0), KIND_ARRAY))
        feeder.finish()
        return serde.from_bytes(feeder.sk.to_bytes()).to_bytes()

    for factory, kind in (
        (lambda: TDigest(delta=500), KIND_ARRAY),
        (lambda: HyperLogLog(p=12), KIND_ARRAY_HASH),
    ):
        direct = sketch_parquet(spark, path, "tokens", factory, kind, tasks=1)
        assert direct.to_bytes() == inline(factory, kind == KIND_ARRAY_HASH)

    # bounds hints vs per-batch min/max: same accumulated counts
    from sketchlib.spark.aggregate import _BincountAcc

    rng = np.random.default_rng(7)
    batches = [rng.integers(0, 999, 5000).astype(np.int32) for _ in range(5)]
    a, b = _BincountAcc(), _BincountAcc()
    for v in batches:
        assert a.try_add(v)
        assert b.try_add(v, 0, 998)  # conservative file bounds
    assert a.offset == b.offset == 0
    np.testing.assert_array_equal(
        a.counts, b.counts[: a.counts.size]
    )
    assert b.counts[a.counts.size:].sum() == 0

    # lying bounds degrade instead of corrupting: value above stated
    # max -> False, value below stated min (0-fast-path) -> False
    c = _BincountAcc()
    assert c.try_add(np.arange(10, dtype=np.int32), 0, 50)
    assert not c.try_add(np.array([60], dtype=np.int32), 0, 50)
    assert not c.try_add(np.array([-5], dtype=np.int32), 0, 50)
    assert c.counts.sum() == 10


def test_bincount_acc_mixed_signedness_degrades():
    """Advisor r3: one accumulator, batches of MIXED signedness — a
    uint64 batch after a negative-offset int64 batch (np.uint64(neg)
    raises OverflowError raw) and an int64 batch after a >2^63 uint64
    batch (int64 minus huge python int overflows) must return False
    (degrade to the per-batch feed) instead of crashing the task, and
    leave the already-accumulated counts intact."""
    from sketchlib.spark.aggregate import _BincountAcc

    # negative int64 offset, then a uint64 batch
    acc = _BincountAcc()
    assert acc.try_add(np.arange(-50, 50, dtype=np.int64))
    assert not acc.try_add(np.arange(10, 20, dtype=np.uint64))
    assert acc.items == 100 and acc.counts.sum() == 100
    assert acc.offset == -50

    # >2^63 uint64 offset, then an int64 batch whose range would fit
    hi = np.uint64(2**63 + 100)
    acc2 = _BincountAcc()
    assert acc2.try_add(hi + np.arange(10, dtype=np.uint64))
    assert not acc2.try_add(np.full(5, 2**63 - 1, dtype=np.int64))
    assert acc2.items == 10 and acc2.counts.sum() == 10


def test_direct_missing_path(spark):
    with pytest.raises(FileNotFoundError):
        sketch_parquet(
            spark, "/tmp/definitely-missing-dir-xyz", "c",
            lambda: TDigest(), KIND_DOUBLE,
        )


def test_xxhash64_numpy_bit_equal_jvm(spark):
    """Round 4: numpy XXH64 must be BIT-EQUAL to Spark's F.xxhash64 for
    integer columns — long columns via hashLong, int columns via
    hashInt (Spark hashes sub-int integrals through the 4-byte path)."""
    import random

    from sketchlib.core.hashing import xxhash64_i32, xxhash64_i64

    random.seed(3)
    longs = [0, 1, -1, 42, -42, 2**63 - 1, -(2**63)] + [
        random.randint(-(2**63), 2**63 - 1) for _ in range(200)
    ]
    jvm = np.array(
        [
            r["h"]
            for r in spark.createDataFrame([(v,) for v in longs], "v long")
            .select(F.xxhash64("v").alias("h"))
            .collect()
        ],
        dtype=np.int64,
    ).view(np.uint64)
    np.testing.assert_array_equal(jvm, xxhash64_i64(np.array(longs, dtype=np.int64)))

    ints = [0, 1, -1, 49_999, -(2**31), 2**31 - 1] + [
        random.randint(-(2**31), 2**31 - 1) for _ in range(200)
    ]
    jvm32 = np.array(
        [
            r["h"]
            for r in spark.createDataFrame([(int(v),) for v in ints], "v int")
            .select(F.xxhash64("v").alias("h"))
            .collect()
        ],
        dtype=np.int64,
    ).view(np.uint64)
    np.testing.assert_array_equal(jvm32, xxhash64_i32(np.array(ints, dtype=np.int32)))


def test_direct_xxhash64_mode_merges_with_dataframe_path(spark, tmp_path, partials_plans):
    """A direct-scan HLL must be REGISTER-IDENTICAL to the DataFrame
    path's build over the same keys and merge with it, for KIND_HASH64
    over a long column and KIND_ARRAY_HASH over token arrays; a
    checkpointed direct build of the same column merges with both."""
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import (
        KIND_ARRAY_HASH,
        KIND_HASH64,
        sketch_column,
    )
    from sketchlib.spark.checkpoint import run_checkpointed
    from sketchlib.spark.direct import sketch_parquet

    path = str(tmp_path / "tok")
    rows = [
        (1000 + i, [int(x) for x in np.random.default_rng(i).integers(0, 500, 30)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    df.repartition(4).write.parquet(path)
    back = jvm_side(spark.read.parquet(path))

    # scalar long column: direct KIND_HASH64 == DataFrame KIND_HASH64
    jvm_hll = sketch_column(back, "doc_id", lambda: HyperLogLog(p=12), KIND_HASH64)
    xx_hll = sketch_parquet(
        spark, path, "doc_id", lambda: HyperLogLog(p=12), KIND_HASH64,
    )
    assert jvm_hll.to_bytes() == xx_hll.to_bytes()
    merged = HyperLogLog.from_bytes(jvm_hll.to_bytes()).merge(xx_hll)
    assert abs(merged.estimate() - 300) / 300 < 0.1
    # the checkpointed direct build hashes the same way: its lineage
    # states merge into the same registers
    ck_hll, _ = run_checkpointed(
        spark, spark.read.parquet(path), "doc_id", lambda: HyperLogLog(p=12),
        str(tmp_path / "ck"), "doc_id", kind=KIND_HASH64, n_lineage=4,
    )
    assert is_direct(partials_plans[-1]), partials_plans[-1]
    assert ck_hll.to_bytes() == jvm_hll.to_bytes()
    assert ck_hll.merge(xx_hll).to_bytes() == jvm_hll.to_bytes()

    # token elements: direct KIND_ARRAY_HASH == DataFrame KIND_ARRAY_HASH
    jvm_tok = sketch_column(back, "tokens", lambda: HyperLogLog(p=12), KIND_ARRAY_HASH)
    sm_tok = sketch_parquet(
        spark, path, "tokens", lambda: HyperLogLog(p=12), KIND_ARRAY_HASH,
    )
    assert jvm_tok.to_bytes() == sm_tok.to_bytes()


def test_xxhash64_strings_doubles_bit_equal_jvm(spark):
    """Vectorized XXH64 for StringType (UTF-8, full algorithm incl. the
    32-byte stripe path) and DoubleType (-0.0 normalized) must be
    BIT-EQUAL to F.xxhash64."""
    import random

    from sketchlib.core.hashing import xxhash64_f64, xxhash64_str

    random.seed(11)
    strs = ["", "a", "doc-000123", "x" * 31, "y" * 32, "z" * 33, "w" * 100,
            "üñïçødé-строка-日本語", "tab\tnl\n"] + [
        "".join(random.choice("abcdef012345-_") for _ in range(random.randint(0, 80)))
        for _ in range(300)
    ]
    jvm = np.array(
        [r["h"] for r in spark.createDataFrame([(s,) for s in strs], "v string")
         .select(F.xxhash64("v").alias("h")).collect()],
        dtype=np.int64,
    ).view(np.uint64)
    np.testing.assert_array_equal(jvm, xxhash64_str(strs))
    # arrow-buffer path gives the same answers as the python-list path
    import pyarrow as pa

    np.testing.assert_array_equal(xxhash64_str(pa.array(strs)), xxhash64_str(strs))

    dbls = [0.0, -0.0, 1.5, -1.5, 1e308, -1e-308, 3.141592653589793] + [
        random.uniform(-1e6, 1e6) for _ in range(100)
    ]
    jvmd = np.array(
        [r["h"] for r in spark.createDataFrame([(d,) for d in dbls], "v double")
         .select(F.xxhash64("v").alias("h")).collect()],
        dtype=np.int64,
    ).view(np.uint64)
    np.testing.assert_array_equal(jvmd, xxhash64_f64(np.array(dbls)))


def test_direct_xxhash64_string_column_merges(spark, tmp_path):
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import KIND_HASH64, sketch_column
    from sketchlib.spark.direct import sketch_parquet

    path = str(tmp_path / "strkeys")
    rows = [(f"doc-{i:06d}",) for i in range(500)]
    spark.createDataFrame(rows, "doc_id string").repartition(4).write.parquet(path)
    jvm_hll = sketch_column(
        jvm_side(spark.read.parquet(path)), "doc_id", lambda: HyperLogLog(p=12),
        KIND_HASH64,
    )
    xx_hll = sketch_parquet(
        spark, path, "doc_id", lambda: HyperLogLog(p=12), KIND_HASH64,
    )
    assert jvm_hll.to_bytes() == xx_hll.to_bytes()
    merged = HyperLogLog.from_bytes(jvm_hll.to_bytes()).merge(xx_hll)
    assert abs(merged.estimate() - 500) / 500 < 0.1


def test_feed_uint64_dense_fast_path():
    """Review r4: np.bincount refuses uint64 (unsafe cast) — the dense
    non-negative fast path must widen that case instead of crashing."""
    from sketchlib.core.kll import KLL
    from sketchlib.spark.aggregate import _feed

    sk = KLL(k=128)
    n = _feed(sk, np.array([1, 2, 3, 100, 100], dtype=np.uint64))
    assert n == 5 and sk.count == 5


def test_bincount_acc_dtype_drift_degrades():
    """Review r4: a batch of a DIFFERENT integer width must not share
    the accumulator — the flush hashes at the source width (JVM
    hashInt vs hashLong differ) and a narrower cast could wrap."""
    from sketchlib.spark.aggregate import _BincountAcc

    acc = _BincountAcc()
    assert acc.try_add(np.arange(10, dtype=np.int32))
    assert not acc.try_add(np.arange(10, dtype=np.int64))
    assert acc.items == 10 and acc.src_dtype == np.int32


def test_bincount_acc_unsigned_corrupt_bounds_degrade():
    """Review r4: an unsigned batch below a corrupt (understated) vmin
    hint must degrade, not wrap into a multi-GB bincount."""
    from sketchlib.spark.aggregate import _BincountAcc

    acc = _BincountAcc()
    assert acc.try_add(np.arange(100, 110, dtype=np.uint32), 100, 200)
    # stats lie: actual value 5 < stated min 100
    assert not acc.try_add(np.array([5], dtype=np.uint32), 100, 200)
    assert acc.counts.sum() == 10


def test_file_bounds_wider_than_max_range_fall_back(spark, tmp_path):
    """Review r4: a file whose GLOBAL range exceeds MAX_RANGE but whose
    batches are locally narrow must still use the accumulator (hint
    dropped -> per-batch min/max), not reject every batch."""
    import pyarrow as paw
    import pyarrow.parquet as pq

    from sketchlib.core.hll import HyperLogLog
    from sketchlib.spark.aggregate import KIND_HASH64
    from sketchlib.spark.direct import sketch_parquet

    # two row groups: ids clustered near 0 and near 2^40
    vals = np.concatenate([
        np.arange(1000, dtype=np.int64),
        (1 << 40) + np.arange(1000, dtype=np.int64),
    ])
    path = str(tmp_path / "wide.parquet")
    pq.write_table(paw.table({"v": vals}), path, row_group_size=1000)
    sk = sketch_parquet(
        spark, path, "v", lambda: HyperLogLog(p=12), KIND_HASH64
    )
    assert abs(sk.estimate() - 2000) / 2000 < 0.1


def test_array_lineage_key_builds_on_the_jvm(spark, tmp_path, partials_plans):
    """A lineage key the direct kernel does not hash the JVM's way (here
    an ``array<int>``, which is also the sketched column) keeps the
    checkpointed build on the JVM path, which counts every value."""
    from sketchlib.core.kll import KLL
    from sketchlib.spark.aggregate import KIND_ARRAY
    from sketchlib.spark.checkpoint import run_checkpointed

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, [1, 2]), (2, [3])], "doc_id long, tokens array<int>"
    ).write.parquet(path)
    sk, m = run_checkpointed(
        spark, spark.read.parquet(path), "tokens", lambda: KLL(k=64),
        str(tmp_path / "ck"), "tokens", kind=KIND_ARRAY, n_lineage=4,
    )
    assert not is_direct(partials_plans[-1]), partials_plans[-1]
    assert m["n_updates"] == sk.count == 3


def test_xxhash64_type_parity_matrix(spark, tmp_path):
    """Advisor r4 (medium): the numpy XXH64 must be bit-equal to
    what the JVM computes for the Spark type each parquet physical type
    READS BACK AS — float32 via hashInt(floatToIntBits), uint32 via
    hashLong of the zero-extended value (Spark reads UINT_32 as
    LongType), uint8/16 via hashInt of the value — and must REJECT
    types with no JVM-parity hash (uint64 -> Decimal(20,0)) instead of
    silently corrupting a cross-engine merge."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.core import hashing

    f32 = np.array(
        [0.0, -0.0, 1.5, -1.5, np.nan, np.inf, -np.inf, 3.25e-30, 1e30],
        dtype=np.float32,
    )
    # a non-canonical NaN payload: numpy .view preserves it, Java's
    # floatToIntBits / doubleToLongBits collapse it
    f32_odd_nan = np.array([0x7FC00001], dtype=np.int32).view(np.float32)
    f32 = np.concatenate([f32, f32_odd_nan])
    f64 = f32.astype(np.float64)
    f64[-1] = np.array([0x7FF8000000000001], dtype=np.int64).view(np.float64)[0]
    tbl = pa.table(
        {
            "f32": pa.array(f32, type=pa.float32()),
            "f64": pa.array(f64, type=pa.float64()),
            "u8": pa.array(np.array([0, 1, 200, 255, 17, 3, 4, 5, 6, 7], np.uint8)),
            "u16": pa.array(
                np.array([0, 1, 60000, 65535, 1234, 9, 8, 7, 6, 5], np.uint16)
            ),
            "u32": pa.array(
                np.array(
                    [0, 1, 2**31, 2**32 - 1, 123456789, 42, 7, 9, 11, 13],
                    np.uint32,
                )
            ),
        }
    )
    path = str(tmp_path / "typed.parquet")
    pq.write_table(tbl, path)
    back = spark.read.parquet(path)
    # Spark's read schema: u8 -> short, u16 -> int, u32 -> long
    assert dict(back.dtypes)["u32"] == "bigint"
    jvm = back.select(
        *[F.xxhash64(c).alias(c) for c in ("f32", "f64", "u8", "u16", "u32")]
    ).collect()

    def col(name):
        return np.array([r[name] for r in jvm], dtype=np.int64).view(np.uint64)

    np.testing.assert_array_equal(col("f32"), hashing.xxhash64_f32(f32))
    np.testing.assert_array_equal(col("f64"), hashing.xxhash64_f64(f64))
    np.testing.assert_array_equal(
        col("u8"), hashing.xxhash64_ints(tbl["u8"].to_numpy())
    )
    np.testing.assert_array_equal(
        col("u16"), hashing.xxhash64_ints(tbl["u16"].to_numpy())
    )
    np.testing.assert_array_equal(
        col("u32"), hashing.xxhash64_ints(tbl["u32"].to_numpy())
    )
    with pytest.raises(TypeError, match="uint64"):
        hashing.xxhash64_ints(np.array([1, 2], dtype=np.uint64))
    with pytest.raises(ValueError, match="null"):
        hashing.xxhash64_str(pa.array(["a", None, "b"]))


def test_direct_xxhash64_float32_column_merges(spark, tmp_path):
    """End-to-end: a float32 parquet column sketched by the direct
    engine with KIND_HASH64 produces a byte-identical HLL to the
    DataFrame path (F.xxhash64 on the FloatType column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    vals = rng.normal(size=2000).astype(np.float32)
    path = str(tmp_path / "f32keys")
    import os

    os.makedirs(path)
    pq.write_table(
        pa.table({"v": pa.array(vals)}), os.path.join(path, "part0.parquet")
    )
    jvm_hll = sketch_column(
        jvm_side(spark.read.parquet(path)), "v", lambda: HyperLogLog(p=12),
        KIND_HASH64,
    )
    xx_hll = sketch_parquet(
        spark, path, "v", lambda: HyperLogLog(p=12), KIND_HASH64,
    )
    assert jvm_hll.to_bytes() == xx_hll.to_bytes()


@pytest.mark.parametrize("n_files,tasks", [(36, 8), (5, 8)])
def test_map_files_round_robin_slices(spark, n_files, tasks):
    """Every file reaches exactly one task, and per-task slice sizes
    differ by at most one (36 over 8 is 4 or 5 each, not seven 4s and
    an 8; 5 over 8 leaves three tasks with an empty slice)."""
    import pyarrow as pa

    from sketchlib.spark.direct import _map_files

    files = [f"f{i:03d}.parquet" for i in range(n_files)]

    def fn(paths):
        yield pa.RecordBatch.from_pydict(
            {"paths": pa.array([paths], pa.list_(pa.string()))}
        )

    rows = _map_files(spark, files, tasks, fn, "paths array<string>").collect()
    slices = [r["paths"] for r in rows]
    assert len(slices) == tasks
    assert sorted(p for s in slices for p in s) == files
    sizes = [len(s) for s in slices]
    assert max(sizes) - min(sizes) <= 1


@pytest.mark.parametrize("tasks", [0, -1])
def test_tasks_below_one_rejected(spark, token_path, tmp_path, tasks):
    """``tasks < 1`` raises a ValueError before any job runs, on the
    parquet and the Iceberg entry points alike."""
    import pyarrow as pa

    from sketchlib.iceberg.fixture import write_iceberg_table
    from sketchlib.spark.direct import sketch_iceberg

    with pytest.raises(ValueError, match="tasks"):
        sketch_parquet(
            spark, token_path, "n_tok", lambda: TDigest(), KIND_DOUBLE,
            tasks=tasks,
        )
    loc = str(tmp_path / "tbl")
    write_iceberg_table(
        loc, [pa.table({"v": pa.array(np.arange(10.0))})], rows_per_file=4
    )
    with pytest.raises(ValueError, match="tasks"):
        sketch_iceberg(spark, loc, "v", lambda: TDigest(), tasks=tasks)


def test_direct_partials_plan_seeds_from_range(spark, token_path):
    """The partial stage reads a JVM ``Range``, not a Python RDD."""
    from sketchlib.spark.direct import build_partials_direct

    partials = build_partials_direct(
        spark, token_path, "tokens", lambda: TDigest(), KIND_ARRAY
    )
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert "Range" in plan and "MapInArrow" in plan
    assert "ExistingRDD" not in plan


def test_direct_build_job_budget_and_task_coverage(spark, token_path, job_tasks):
    """A direct build whose partial count is at or below
    ``collect_threshold`` is one job of one stage with ``tasks`` tasks.
    HLL states are byte-equal whatever the task count, and the
    t-digest counts every token, also when some tasks have an empty
    file slice."""
    files = list_parquet_files(token_path)
    total = (
        spark.read.parquet(token_path)
        .agg(F.sum(F.size("tokens")))
        .first()[0]
    )
    states = set()
    for tasks in (1, 3, 8):
        sk, jobs = job_tasks(
            f"direct-hll-{tasks}",
            lambda: sketch_parquet(
                spark, token_path, "tokens", lambda: HyperLogLog(p=12),
                KIND_ARRAY_HASH, tasks=tasks,
            ),
        )
        assert jobs == [[tasks]]
        states.add(sk.to_bytes())
    assert len(states) == 1
    for tasks in (1, 3, len(files) + 2):
        sk, jobs = job_tasks(
            f"direct-tdigest-{tasks}",
            lambda: sketch_parquet(
                spark, token_path, "tokens", lambda: TDigest(delta=200),
                KIND_ARRAY, tasks=tasks,
            ),
        )
        assert jobs == [[tasks]]
        assert sk.count == total
    # the two tasks with an empty slice yield no partial row
    from sketchlib.spark.direct import build_partials_direct

    partials = build_partials_direct(
        spark, token_path, "tokens", lambda: TDigest(delta=200), KIND_ARRAY,
        tasks=len(files) + 2,
    )
    assert partials.count() == len(files)


# ------------------------------------------------- engine choice of sketch_columns


def test_bare_scan_routes_to_the_direct_engine(
    spark, token_path, job_tasks, partials_plans
):
    """A bare parquet scan, with or without ``coalesce``, is built by
    the direct kernel: one job of one ``Range`` -> ``MapInArrow`` stage
    with one task per file slice, at most n under ``coalesce(n)``, and
    no ``FileScan``."""
    files = list_parquet_files(token_path)
    tasks = min(len(files), 2 * spark.sparkContext.defaultParallelism)
    df = spark.read.parquet(token_path)
    for i, (frame, n) in enumerate(
        ((df, tasks), (df.coalesce(2), 2), (df.select("n_tok", "doc_id"), tasks))
    ):
        sk, jobs = job_tasks(
            f"routed-build-{i}",
            lambda: sketch_column(frame, "n_tok", lambda: HyperLogLog(p=12), KIND_HASH64),
        )
        assert jobs == [[n]]
        assert is_direct(partials_plans[-1]), partials_plans[-1]
        assert sk.to_bytes() == sketch_parquet(
            spark, token_path, "n_tok", lambda: HyperLogLog(p=12), KIND_HASH64
        ).to_bytes()


def test_transformed_frames_keep_the_jvm_path(spark, token_path, tmp_path, partials_plans):
    """A filter, an ``observe``, a cached frame, a hive-partitioned
    table, a decimal column and a one-file table that Spark splits
    across the cores each keep the JVM plan, ungrouped and grouped,
    and build what they read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Observation

    df = spark.read.parquet(token_path)
    hll = lambda: HyperLogLog(p=12)  # noqa: E731
    n = df.count()
    cached = df.select("n_tok", "source").cache()
    hive = str(tmp_path / "hive")
    df.write.partitionBy("source").parquet(hive)
    dec = str(tmp_path / "dec")
    df.select(F.col("n_tok").cast("decimal(12,2)").alias("d")).write.parquet(dec)
    one = str(tmp_path / "one.parquet")
    pq.write_table(
        pa.table({"v": pa.array(np.arange(400_000, dtype=np.int64))}), one,
        row_group_size=20_000,
    )
    cases = [
        (df.filter(F.col("n_tok") > 0), "n_tok", KIND_HASH64),
        (df.observe(Observation("rows"), F.count(F.lit(1)).alias("n")), "n_tok", KIND_HASH64),
        (cached, "n_tok", KIND_HASH64),
        (spark.read.parquet(hive), "n_tok", KIND_HASH64),
        (spark.read.parquet(dec), "d", KIND_DOUBLE),
    ]
    try:
        for frame, col, kind in cases:
            factory = hll if kind == KIND_HASH64 else (lambda: TDigest(delta=100))
            sk = sketch_column(frame, col, factory, kind)
            assert "Range (0," not in partials_plans[-1], partials_plans[-1]
            if kind == KIND_DOUBLE:
                assert sk.count == n
                continue
            rows = grouped_sketch(frame, ["source"], col, factory, kind).collect()
            assert "Range (0," not in partials_plans[-1], partials_plans[-1]
            assert sum(r["items"] for r in rows) == n
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 << 10))
        sk = sketch_column(spark.read.parquet(one), "v", hll, KIND_HASH64)
        assert "FileScan" in partials_plans[-1], partials_plans[-1]
        assert abs(sk.estimate() - 400_000) / 400_000 < 0.1
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        cached.unpersist()


def test_routed_builds_match_the_jvm_path(spark, token_path, partials_plans):
    """Over a bare scan the operators, ungrouped and grouped, build on
    the direct engine, and their states match the JVM path's: HLL, CMS
    and Bloom byte for byte (per key), SpaceSaving (no eviction) count
    for count; t-digest and KLL meet their rank bounds (per key); two
    routed builds are byte-equal."""
    from sketchlib import serde
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.core.spacesaving import SpaceSaving
    from sketchlib.spark import api

    def per_key(col, factory, kind, state=lambda sk: sk.to_bytes()):
        return lambda d: {
            r["source"]: state(serde.from_bytes(r["state"]))
            for r in grouped_sketch(d, ["source"], col, factory, kind).collect()
        }

    df = spark.read.parquet(token_path)
    jvm = jvm_side(df)
    builds = [
        lambda d: api.approx_distinct(d, "doc_id")[1].to_bytes(),
        lambda d: api.build_cms(d, "tokens", is_array=True).to_bytes(),
        lambda d: api.build_bloom(d, "doc_id", capacity=8_000).to_bytes(),
        lambda d: api.build_cms(d, "source").to_bytes(),
        lambda d: sorted(
            sketch_column(
                d, "source", lambda: SpaceSaving(capacity=64), KIND_HASH64
            ).counts.items()
        ),
        per_key("doc_id", lambda: HyperLogLog(p=12), KIND_HASH64),
        per_key("tokens", lambda: CountMinSketch(width=2048), KIND_ARRAY_HASH),
        per_key("doc_id", lambda: BloomFilter(m_bits=1 << 14), KIND_HASH64),
        per_key(
            "n_tok", lambda: SpaceSaving(capacity=1024), KIND_HASH64,
            lambda sk: sorted(sk.counts.items()),
        ),
    ]
    for build in builds:
        routed = build(df)
        assert is_direct(partials_plans[-1])
        assert routed == build(jvm)
        assert not is_direct(partials_plans[-1])

    rows = df.select("n_tok", "tokens", "source").collect()
    n_tok = np.sort([r["n_tok"] for r in rows])
    tokens = np.sort(np.concatenate([r["tokens"] for r in rows]))
    probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    for values, col, sketch, is_array, eps in (
        (n_tok, "n_tok", "tdigest", False, 0.01),
        (tokens, "tokens", "kll", True, 0.02),
    ):
        est, sk = api.approx_quantiles(df, col, probs, sketch=sketch, is_array=is_array)
        assert is_direct(partials_plans[-1])
        assert sk.count == values.size
        lo = np.searchsorted(values, est, side="left") / values.size
        hi = np.searchsorted(values, est, side="right") / values.size
        assert np.all((lo - eps <= probs) & (np.asarray(probs) <= hi + eps)), (est, lo, hi)
    again = api.approx_quantiles(df, "n_tok", probs)[1]
    assert again.to_bytes() == api.approx_quantiles(df, "n_tok", probs)[1].to_bytes()

    sources = np.array([r["source"] for r in rows])
    for col, sketch, is_array, eps in (
        ("n_tok", "tdigest", False, 0.01),
        ("tokens", "kll", True, 0.02),
    ):
        for frame in (df, jvm):
            out = api.grouped_quantiles(
                frame, ["source"], col, probs, sketch=sketch, is_array=is_array
            ).collect()
            assert is_direct(partials_plans[-1]) == (frame is df)
            assert {r["source"] for r in out} == set(sources)
            for s in set(sources):
                mine = [r for r in rows if r["source"] == s]
                values = np.sort(
                    np.concatenate([r[col] for r in mine]) if is_array
                    else [r[col] for r in mine]
                )
                est = [r["value"] for r in sorted(out, key=lambda r: r["q"]) if r["source"] == s]
                # t-digest interpolates between the integer values: an
                # estimate in (k, k+1) stands for any rank of k or k+1
                lo = np.searchsorted(values, np.floor(est), side="left") / values.size
                hi = np.searchsorted(values, np.ceil(est), side="right") / values.size
                assert np.all((lo - eps <= probs) & (np.asarray(probs) <= hi + eps)), (s, est)


def test_routed_build_reads_each_file_as_the_frame_types_it(
    spark, tmp_path, partials_plans
):
    """Files that store a column narrower than the frame reads it (int32
    under ``long``, float32 under ``double``) are widened before they
    are hashed, and a file without a column feeds it nothing, as its
    NULLs do on the JVM path: the routed HLL and Bloom equal the JVM
    path's byte for byte.  Grouped by such a column, the key comes out
    at the frame's type, and a file without the key column drops its
    rows, on both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark import api
    from sketchlib.spark.aggregate import sketch_columns

    path = tmp_path / "widths"
    path.mkdir()
    v = np.arange(-300, 300)
    parts = (
        {"v": pa.array(v[:200], pa.int32()), "w": pa.array(v[:200] / 8, pa.float32())},
        {"v": pa.array(v[200:400], pa.int64()), "w": pa.array(v[200:400] / 8, pa.float64())},
        {"v": pa.array(v[400:], pa.int32())},
    )
    for i, cols in enumerate(parts):
        pq.write_table(pa.table(cols), str(path / f"part{i}.parquet"))
    df = spark.read.schema("v long, w double").parquet(str(path))
    specs = {c: (lambda: HyperLogLog(p=12), KIND_HASH64) for c in ("v", "w")}
    routed = sketch_columns(df, specs)
    assert is_direct(partials_plans[-1]), partials_plans[-1]
    jvm = sketch_columns(jvm_side(df), specs)
    assert not is_direct(partials_plans[-1])
    for c in specs:
        assert routed[c].to_bytes() == jvm[c].to_bytes(), c
    assert abs(routed["v"].estimate() - 600) < 30
    for c in ("v", "w"):
        bloom = api.build_bloom(df, c, capacity=1_000)
        assert is_direct(partials_plans[-1])
        assert bloom.to_bytes() == api.build_bloom(jvm_side(df), c, capacity=1_000).to_bytes()
    # part2 has no w: as a value it feeds nothing, as a key its rows drop
    for key, col in (("v", "w"), ("w", "v")):
        built = []
        for frame in (df, jvm_side(df)):
            out = grouped_sketch(frame, [key], col, lambda: HyperLogLog(p=12), KIND_HASH64)
            assert out.schema[key].dataType.simpleString() == df.schema[key].dataType.simpleString()
            built.append({r[key]: (r["state"], r["items"]) for r in out.collect()})
            assert is_direct(partials_plans[-1]) == (frame is df)
        assert built[0] == built[1]
        assert sorted(built[0]) == sorted(v[:400] / 8 if key == "w" else v[:400])
        assert {n for _s, n in built[0].values()} == {1}


def test_multi_column_build_is_one_direct_pass(spark, token_path, partials_plans):
    """``sketch_columns`` over a bare scan reads every spec column in
    one direct pass and returns one sketch per column, equal to the
    one-column builds."""
    from sketchlib.spark.aggregate import sketch_columns

    df = spark.read.parquet(token_path)
    specs = {
        "doc_id": (lambda: HyperLogLog(p=12), KIND_HASH64),
        "tokens": (lambda: HyperLogLog(p=12), KIND_ARRAY_HASH),
        "n_tok": (lambda: TDigest(delta=200), KIND_DOUBLE),
    }
    out = sketch_columns(df, specs)
    assert len(partials_plans) == 1 and is_direct(partials_plans[0])
    for col, (factory, kind) in specs.items():
        one = sketch_parquet(spark, token_path, col, factory, kind)
        if kind == KIND_DOUBLE:
            assert out[col].count == one.count
        else:
            assert out[col].to_bytes() == one.to_bytes()


def test_null_is_not_a_value_on_either_engine(spark, tmp_path):
    """KIND_HASH64 drops NULL on both engines: over ``[1, 2, None, 3]``
    the direct scan, the JVM path and ``approx_distinct`` all estimate
    3 with equal HLL bytes.  Grouped by ``["a", "b", None, "a"]``, the
    NULL key's row is dropped and the other keys count 2 and 1 values,
    with equal HLL bytes per key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark.api import approx_distinct, grouped_distinct

    path = tmp_path / "nulls"
    path.mkdir()
    for i in range(4):
        pq.write_table(
            pa.table({
                "v": pa.array([1, 2, None, 3] * 50, pa.int64()),
                "k": pa.array(["a", "b", None, "a"] * 50),
            }),
            str(path / f"part{i}.parquet"),
        )
    hll = lambda: HyperLogLog(p=12)  # noqa: E731
    direct = sketch_parquet(spark, str(path), "v", hll, KIND_HASH64)
    jvm = sketch_column(jvm_side(spark.read.parquet(str(path))), "v", hll, KIND_HASH64)
    assert round(direct.estimate()) == 3
    assert direct.to_bytes() == jvm.to_bytes()
    grouped = []
    for frame in (spark.read.parquet(str(path)), jvm_side(spark.read.parquet(str(path)))):
        est, sk = approx_distinct(frame, "v", p=12)
        assert round(est) == 3 and sk.to_bytes() == direct.to_bytes()
        rows = grouped_sketch(frame, ["k"], "v", hll, KIND_HASH64).collect()
        grouped.append({r["k"]: (bytes(r["state"]), r["items"]) for r in rows})
        est = {r["k"]: round(r["estimate"]) for r in grouped_distinct(frame, ["k"], "v").collect()}
        assert est == {"a": 2, "b": 1}
    assert grouped[0] == grouped[1]
    assert {k: n for k, (_s, n) in grouped[0].items()} == {"a": 400, "b": 200}


def test_nullable_integer_keys_group_on_both_engines(spark, tmp_path, partials_plans):
    """Grouped by an int32 or int64 key with NULLs -- on the direct
    engine, on the JVM path and over a local frame -- each key comes
    out at its Spark type with its exact min, max and distinct count,
    by one key or two, and the NULL-key rows are dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark.api import grouped_distinct, grouped_quantiles

    path = tmp_path / "nullkeys"
    path.mkdir()
    k = [1, None, 2, 1, None, 3] * 20
    for i in range(4):
        pq.write_table(pa.table({
            "k32": pa.array(k, pa.int32()),
            "k64": pa.array(k, pa.int64()),
            "s": pa.array(["x", "y"] * 60),
            "v": pa.array(np.arange(120, dtype=np.float64) + 1000 * i),
        }), str(path / f"part{i}.parquet"))
    df = spark.read.parquet(str(path))
    rows = df.collect()
    local = spark.createDataFrame(
        [(r["k64"], r["s"], r["v"]) for r in rows], "k64 long, s string, v double"
    )
    for frame, keys in (
        (df, ["k32"]), (df, ["k64"]), (df, ["s", "k32"]),
        (jvm_side(df), ["k32"]), (jvm_side(df), ["s", "k64"]),
        (local, ["k64"]), (local, ["s", "k64"]),
    ):
        groups = {}
        for r in rows:
            if r[keys[-1]] is not None:
                groups.setdefault(tuple(r[c] for c in keys), []).append(r["v"])
        quantiles = grouped_quantiles(frame, keys, "v", [0.0, 1.0])
        distinct = grouped_distinct(frame, keys, "v")
        for out in (quantiles, distinct):
            for c in keys:
                assert out.schema[c].dataType == frame.schema[c].dataType
        got = {}
        for r in quantiles.collect():
            got.setdefault(tuple(r[c] for c in keys), []).append(r["value"])
        assert got == {g: [min(v), max(v)] for g, v in groups.items()}
        est = {tuple(r[c] for c in keys): r["estimate"] for r in distinct.collect()}
        assert est.keys() == groups.keys()
        for g, v in groups.items():
            assert abs(est[g] - len(v)) <= 0.02 * len(v), (g, est[g])
        assert is_direct(partials_plans[-1]) == (frame is df)


def test_null_lineage_key_on_both_checkpoint_engines(spark, tmp_path, partials_plans):
    """A NULL lineage key lands in lineage ``pmod(42, n)`` on both
    engines: the direct checkpoint build completes, and both ledgers
    hold the same lineages and final state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketchlib.spark.checkpoint import completed_lineages, run_checkpointed

    path = tmp_path / "keys"
    path.mkdir()
    keys = ["a", None, "b", "a"] * 50
    pq.write_table(
        pa.table({"k": pa.array(keys), "v": pa.array(np.arange(200), pa.int64())}),
        str(path / "part0.parquet"),
    )
    hll = lambda: HyperLogLog(p=12)  # noqa: E731
    runs = {}
    df = spark.read.parquet(str(path))
    for engine, frame in (("direct", df), ("jvm", jvm_side(df))):
        ck = str(tmp_path / f"ck_{engine}")
        sk, m = run_checkpointed(
            spark, frame, "v", hll, ck, "k", kind=KIND_HASH64, n_lineage=8,
        )
        assert is_direct(partials_plans[-1]) == (engine == "direct")
        assert m["n_updates"] == 200
        runs[engine] = (sk.to_bytes(), completed_lineages(spark, ck))
    assert runs["direct"] == runs["jvm"]
    assert 42 % 8 in runs["jvm"][1]
