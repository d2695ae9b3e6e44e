"""Miscellaneous spark/api operators: table profiling."""

from pyspark.sql import functions as F  # noqa: F401


def test_profile_table(spark):
    """Two-scan profiler: exact rows/nulls per column, HLL distinct
    within tolerance, NULL not counted as a value."""
    from sketchlib.spark.api import profile_table

    df = spark.createDataFrame(
        [(i, f"g{i % 7}", None if i % 10 == 0 else float(i % 50))
         for i in range(2000)],
        "id long, grp string, val double",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "grp", "val"}
    for c in prof:
        assert prof[c]["n_rows"] == 2000
    assert prof["id"]["n_nulls"] == 0
    assert prof["val"]["n_nulls"] == 200
    assert prof["id"]["dtype"] == "bigint"
    # distinct: exact 2000 / 7 / 45 within HLL tolerance (p=12 ~1.6%);
    # val's exact count is 45 — every i with i%50 in {0,10,20,30,40}
    # also has i%10==0 and is null
    assert abs(prof["id"]["approx_distinct"] - 2000) <= 2000 * 0.05
    assert prof["grp"]["approx_distinct"] == 7
    assert abs(prof["val"]["approx_distinct"] - 45) <= 3
    # column subset
    sub = profile_table(df, ["grp"]).collect()
    assert len(sub) == 1 and sub[0]["column"] == "grp"


def test_with_quantile_rank_accuracy_and_buckets(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sketchlib.spark.api import with_quantile_rank

    rng = np.random.default_rng(31)
    vals = rng.uniform(0.0, 1000.0, 5000)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    ).repartition(8)
    out = with_quantile_rank(df, "v", buckets=10)
    # exact rank for comparison (gate-scale window is fine in a test)
    exact = df.withColumn(
        "exact", F.percent_rank().over(Window.orderBy("v"))
    )
    joined = out.join(exact.select("id", "exact"), "id")
    worst = joined.agg(
        F.max(F.abs(F.col("q_rank") - F.col("exact")))
    ).collect()[0][0]
    assert worst <= 0.01, worst  # t-digest rank-error bar
    rows = joined.collect()
    for r in rows:
        assert 0.0 <= r["q_rank"] <= 1.0
        assert r["q_bucket"] == min(int(r["q_rank"] * 10), 9)
    assert {r["q_bucket"] for r in rows} == set(range(10))


def test_with_quantile_rank_nulls_empty_validation(spark):
    from pyspark.sql import functions as F

    from sketchlib.spark.api import with_quantile_rank

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 10.0)], "id long, v double"
    )
    got = {r["id"]: (r["q_rank"], r["q_bucket"])
           for r in with_quantile_rank(df, "v", buckets=4).collect()}
    assert got[2] == (None, None)
    assert got[1][0] is not None and got[3][0] is not None
    empty = spark.createDataFrame([], "id long, v double")
    e = with_quantile_rank(empty, "v", buckets=4)
    assert e.count() == 0 and "q_rank" in e.columns and "q_bucket" in e.columns
    import pytest as _pt

    with _pt.raises(ValueError, match="already present"):
        with_quantile_rank(df.withColumn("q_rank", F.lit(1.0)), "v")
    with _pt.raises(ValueError, match="buckets"):
        with_quantile_rank(df, "v", buckets=0)


def _probe_frames(spark, root):
    """(name, frame, planned partitions at local[4] with 8 shuffle
    partitions): the counts the static plan gives, pinned so that the
    plans chosen from them cannot move silently."""
    from pyspark.sql.window import Window

    spark.range(0, 3600).select(
        "id", (F.col("id") % 7).alias("g")
    ).repartition(6).write.parquet(f"{root}/six")
    spark.range(0, 100).select(
        "id", (F.col("id") % 7).alias("g")
    ).coalesce(1).write.parquet(f"{root}/one")
    scan = spark.read.parquet(f"{root}/six")
    one = spark.read.parquet(f"{root}/one")
    win = Window.partitionBy("g").orderBy("id")
    return [
        # Spark packs the six small files into three splits
        ("scan_6_files", scan, 3),
        ("coalesce_4", spark.range(0, 1200, numPartitions=12).coalesce(4), 4),
        ("group_by", scan.groupBy("g").count(), 8),
        ("repartition_23", scan.repartition(23), 23),
        ("filter_after_window",
         scan.withColumn("r", F.row_number().over(win)).filter("r <= 2"), 8),
        # AQE's initial plan leaves this partitioning unknown
        ("broadcast_join", scan.join(F.broadcast(one), "id"), 3),
    ]


def test_plan_partitions_does_not_zero_observations(spark, tmp_path):
    """Regression: Dataset.rdd posts a listener event with EMPTY
    observed metrics; an un-fired upstream Observation latched it and
    silently read 0.  _plan_partitions must use the event-free
    accessor, so adaptive-gate operators (rank/topk/sampler/ann) keep
    caller observations intact.  Also pins the planned count of each
    frame shape the gates see."""
    from pyspark.sql import Observation

    from sketchlib.spark.api import _plan_partitions, shuffle_rows

    df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    obs = Observation()
    o = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    n = _plan_partitions(o, assume=1)
    assert n >= 1
    out = shuffle_rows(o, seed=1, key_cols=["doc_id"])
    assert out.count() == 100
    assert int(obs.get["rows"]) == 100

    for name, frame, want in _probe_frames(spark, tmp_path):
        obs = Observation()
        o = frame.observe(obs, F.count(F.lit(1)).alias("rows"))
        assert _plan_partitions(o, assume=-1) == want, name
        assert o.count() == int(obs.get["rows"]) > 0, name


def test_spread_is_size_proportional(spark, tmp_path):
    """api._spread widens a narrow plan only as far as its size
    estimate fills SPREAD_BYTES_PER_TASK per task, up to 2 x cores."""
    import os

    from sketchlib.spark.api import SPREAD_BYTES_PER_TASK, _spread

    cap = max(2 * spark.sparkContext.defaultParallelism, 8)
    # one ~120 KB file: 1 task's worth of bytes, left as planned
    path = str(tmp_path / "one")
    spark.range(0, 15_000, numPartitions=1).select(
        F.xxhash64("id").alias("h")
    ).write.parquet(path)
    size = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert SPREAD_BYTES_PER_TASK <= size < 2 * SPREAD_BYTES_PER_TASK
    scan = spark.read.parquet(path)
    out, planned = _spread(scan, "h")
    assert out is scan and planned == 1
    # >= cap tasks' worth of bytes in one partition: spread to cap
    big = spark.range(0, cap * SPREAD_BYTES_PER_TASK // 8, numPartitions=1)
    out, planned = _spread(big, "id")
    assert planned == 1 and out.rdd.getNumPartitions() == cap
    # already planned at cap partitions: untouched
    wide = spark.range(0, cap * SPREAD_BYTES_PER_TASK, numPartitions=cap)
    out, planned = _spread(wide, "id")
    assert out is wide and planned == cap


def test_planner_probes_never_write_session_conf(spark, monkeypatch):
    """The gates run operators from driver thread pools: no planner
    probe may write session conf, and AQE must stay on throughout."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np
    from pyspark.sql.conf import RuntimeConfig

    from sketchlib.dedup.ngram import ngram_jaccard_pairs
    from sketchlib.similarity.ann import brute_topk
    from sketchlib.spark.api import (
        pack_sequences,
        sample_by_token_budget,
        top_k_per_group,
        with_global_rank,
    )

    writes = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", 5 + i % 40, " ".join(f"w{(i * 7 + j) % 50}"
          for j in range(12))) for i in range(400)],
        "doc_id long, source string, n_tok long, text string",
    )
    rng = np.random.default_rng(3)
    m = rng.normal(size=(200, 8))
    vecs = spark.createDataFrame(
        [(i, m[i].tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    )

    def layout():
        sampled = sample_by_token_budget(docs, {"s0": 800, "s1": 500})
        ranked = with_global_rank(sampled, "n_tok", tie_cols=["doc_id"])
        return pack_sequences(ranked, 64, order_col="rank").count()

    jobs = [
        layout,
        lambda: top_k_per_group(docs, ["source"], 3, order_col="n_tok",
                                tie_cols=["doc_id"]).count(),
        lambda: ngram_jaccard_pairs(docs, threshold=0.5).count(),
        lambda: brute_topk(vecs, m[:4], [0, 1, 2, 3], k=5).count(),
    ]
    seen = set()
    done = threading.Event()

    def watch():
        while not done.is_set():
            seen.add(spark.conf.get("spark.sql.adaptive.enabled"))
            done.wait(0.005)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        with ThreadPoolExecutor(4) as pool:
            counts = list(pool.map(lambda f: f(), jobs * 2))
    finally:
        done.set()
        watcher.join(timeout=10)
    assert not watcher.is_alive()
    assert all(c > 0 for c in counts)
    assert "spark.sql.adaptive.enabled" not in writes
    assert seen == {"true"}


def test_no_module_writes_session_conf():
    """Session conf is set only where session.get_spark creates the
    session: no module under sketchlib/ calls conf.set(."""
    import pathlib

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    offenders = [
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "conf.set(" in p.read_text()
    ]
    assert offenders == []


def test_session_fixes_the_driver_young_generation(spark):
    """get_spark launches the driver JVM with a fixed young generation
    (``-XX:NewRatio=3``) ahead of the caller's extraJavaOptions, and
    ``extra_conf`` can replace it."""
    from sketchlib.spark import session

    key = "spark.driver.defaultJavaOptions"
    assert session._session_conf("local[4]", None, 1024, None)[key] == "-XX:NewRatio=3"
    assert session._session_conf("local[4]", None, 1024, {key: "-Dx=1"})[key] == "-Dx=1"
    args = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getInputArguments()
    assert "-XX:NewRatio=3" in list(args)


def test_one_stage1_skeleton():
    """Source guard: every stage-1 build reads ahead on the one
    ``aggregate._prefetch`` thread, every driver fold is
    ``serde.merge_sketches``, and the direct builders have no
    ``overlap`` knob."""
    import inspect
    import pathlib

    import sketchlib
    from sketchlib.spark import aggregate, direct

    root = pathlib.Path(sketchlib.__file__).parent
    texts = {
        p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")
    }
    assert sum(t.count("threading.Thread(") for t in texts.values()) == 1
    assert "threading.Thread(" in inspect.getsource(aggregate._prefetch)
    folds = [
        name
        for name, t in texts.items()
        if name not in ("spark/aggregate.py", "serde.py")
        and ("merge_blobs(_sorted_blobs(" in t or "from_bytes(blobs[0])" in t)
    ]
    assert folds == []
    for name, fn in inspect.getmembers(direct, inspect.isfunction):
        if fn.__module__ == direct.__name__:
            assert "overlap" not in inspect.signature(fn).parameters, name


def test_one_gram_module():
    """Source guard: ``text/grams.py`` alone defines a gram — the
    Catalyst shingle builders and the rolling combine — and no MinHash
    UDF branches on the input mode."""
    import pathlib

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    texts = {
        p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")
    }
    for marker in ("def word_shingles(", "def array_shingles(",
                   "* _U64(0x9E3779B97F4A7C15)"):
        assert [n for n, t in texts.items() if marker in t] == ["text/grams.py"]
    for gone in ("_token_shingle_hashes", "_roll_shingles", "_word_shingle_hashes"):
        assert [n for n, t in texts.items() if gone in t] == [], gone
    assert "if tokens:" not in texts["dedup/minhash.py"]


def test_local_frame_is_a_local_scan(spark):
    """``local_frame`` ships driver rows as one Arrow table: the plan is
    a ``LocalTableScan`` (no Python RDD), and long, int, string, binary
    and null values round-trip."""
    from sketchlib.spark.session import local_frame

    schema = "l long, i int, s string, b binary"
    rows = [
        (2**62 + 1, -7, "é", b"\x00\xff"),
        (None, None, None, None),
        (-1, 2**31 - 1, "", b""),
    ]
    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.schema == spark.createDataFrame([], schema).schema
    assert [tuple(r) for r in df.collect()] == [
        (2**62 + 1, -7, "é", bytearray(b"\x00\xff")),
        (None, None, None, None),
        (-1, 2**31 - 1, "", bytearray(b"")),
    ]
    empty = local_frame(spark, [], df.schema)
    assert empty.schema == df.schema and empty.collect() == []


def test_no_create_dataframe_on_a_list():
    """Source guard: driver rows become a frame through
    ``session.local_frame`` only."""
    import pathlib
    import re

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    calls = {
        (p.relative_to(root).as_posix(), m.group(1))
        for p in root.rglob("*.py")
        for m in re.finditer(r"createDataFrame\(\s*([\w\[]+)", p.read_text())
    }
    assert calls == {("spark/session.py", "table")}


def test_no_python_rdd_parallelize():
    """Source guard: the library starts no Python RDD from driver data
    (a session's first one costs about 1.5 s of start-up); direct scans
    seed their tasks from a JVM ``spark.range``."""
    import pathlib

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    hits = [
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if "parallelize(" in p.read_text()
    ]
    assert hits == []


def test_no_dataset_rdd_under_sketchlib():
    """Source guard: no module reads a Dataset's ``rdd`` (under AQE it
    runs the input's shuffle stages, which the caller's action then
    runs again); ``aggregate._plan_partitions`` is the one way the
    library reads a partition count."""
    import pathlib
    import re

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    hits = [
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if re.search(r"\.rdd\b", p.read_text())
    ]
    assert hits == []


def test_single_slot_cache_releases_each_frame_once_across_threads():
    """Driver threads sharing one ``SingleSlotCache`` never leak or
    double-release a frame: every frame but the last held is
    unpersisted exactly once."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from sketchlib.spark.cache import SingleSlotCache

    class Frame:
        def __init__(self):
            self.released = 0

        def unpersist(self):
            self.released += 1

        def sameSemantics(self, other):
            return False

    slot = SingleSlotCache()
    frames = [Frame() for _ in range(8 * 2_000)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [
                pool.submit(lambda fs: [slot.hold(f) for f in fs], frames[i::8])
                for i in range(8)
            ]
            for f in futures:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    last = slot.held
    assert last is not None and last.released == 0
    assert all(f.released == 1 for f in frames if f is not last)
    slot.release()
    assert last.released == 1 and slot.held is None


def test_one_keyed_merge():
    """Source guard: no salt-bucket knob under sketchlib/; the
    partition-id salt appears only in the one level loop and in
    ``top_k_per_group``; ``_merge_states`` is used only in
    ``spark/aggregate.py``."""
    import ast
    import pathlib
    import re

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    texts = {
        p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")
    }
    assert [n for n, t in texts.items() if re.search(r"\bsalt_\w*buckets", t)] == []
    assert [n for n, t in texts.items() if "_merge_states" in t] == [
        "spark/aggregate.py"
    ]
    salted = set()
    for name, text in texts.items():
        for fn in ast.walk(ast.parse(text)):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Attribute)
                        and node.attr == "spark_partition_id"
                    ):
                        salted.add((name, fn.name))
    assert salted == {
        ("spark/aggregate.py", "_merge_levels"),
        ("spark/api.py", "top_k_per_group"),
    }


def test_one_hash_per_input_kind():
    """Source guard: the direct scan has no hash family of its own —
    no hash switch, no private kind, no splitmix helpers for scalars —
    and under ``spark/`` only ``aggregate.py`` names a hash domain."""
    import pathlib

    import sketchlib

    root = pathlib.Path(sketchlib.__file__).parent
    texts = {
        p.relative_to(root).as_posix(): p.read_text() for p in root.rglob("*.py")
    }
    for gone in ("hash_compat", "_hash_any", "hash64_numpy", "hash_f64"):
        assert [n for n, t in texts.items() if gone in t] == [], gone
    for domain in ("DOMAIN_XXHASH64", "DOMAIN_SPLITMIX64"):
        assert [
            n for n, t in texts.items() if n.startswith("spark/") and domain in t
        ] == ["spark/aggregate.py"], domain


def test_one_keyed_feed_loop():
    """Source guard: one keyed stage-1 body, ``aggregate._keyed_states``,
    feeds the grouped and checkpointed builds on both engines -- it is
    the one call site of ``_route`` under ``spark/``, each engine's
    source hands it batches, ``_lineage_partials`` is gone and
    ``_grouped_partials`` feeds no sketch itself."""
    import inspect
    import pathlib

    import sketchlib
    from sketchlib.spark import aggregate, checkpoint, direct

    root = pathlib.Path(sketchlib.__file__).parent / "spark"
    texts = {p.name: p.read_text() for p in root.rglob("*.py")}
    calls = {n: t.count("_route(") - t.count("def _route(") for n, t in texts.items()}
    assert {n: c for n, c in calls.items() if c} == {"aggregate.py": 1}
    assert "_route(" in inspect.getsource(aggregate._keyed_states)
    assert [n for n, t in texts.items() if "_lineage_partials" in t] == []
    for fn in (aggregate._grouped_partials, direct._keyed_partials, checkpoint._partials):
        src = inspect.getsource(fn)
        for feed in ("AccFeeder(", "feed_raw(", "feed_hashed(", "_prefetch("):
            assert feed not in src, (fn.__name__, feed)
    for fn in (aggregate._grouped_partials, direct._keyed_partials):
        assert "_keyed_states(" in inspect.getsource(fn), fn.__name__


def test_gram_operators_release_their_cached_frame(spark):
    """``ngram_jaccard_pairs`` and ``remove_duplicate_spans`` hold their
    persisted frame in a one-slot cache: three calls on different
    inputs leave as many persistent RDDs as one, and a repeated call
    keeps the cache its frame shares with the previous one."""
    from sketchlib.dedup import ngram_jaccard_pairs, remove_duplicate_spans

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta word{i % 3}") for i in range(6)],
        "doc_id long, text string",
    )
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    for op in (
        lambda i: ngram_jaccard_pairs(docs.filter(F.col("doc_id") != i), w=3),
        lambda i: remove_duplicate_spans(docs.filter(F.col("doc_id") != i), w=3),
    ):
        spark.catalog.clearCache()
        op(0).collect()
        after_one = len(persistent())
        assert after_one >= 1
        for i in (1, 2, 2):
            op(i).collect()
            assert len(persistent()) == after_one
    spark.catalog.clearCache()
