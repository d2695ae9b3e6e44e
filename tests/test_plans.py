"""Physical-plan regression tests: the properties that make the
operators scale must stay visible in explain output — column-pruned
scans, JVM-side hashing, and shuffles that carry only sketch states
(never raw rows)."""

import pytest
from pyspark.sql import functions as F

from sketchlib.core.hll import HyperLogLog
from sketchlib.core.tdigest import TDigest
from sketchlib.spark.aggregate import (
    KIND_ARRAY,
    KIND_DOUBLE,
    KIND_HASH64,
    build_partials,
    grouped_sketch,
)
from sketchlib.spark.datagen import token_sequences
from tests.conftest import jvm_side


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "tok")
    token_sequences(spark, 2_000, seed=1, partitions=4).write.parquet(path)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_prunes_to_sketched_column(spark, tokens_path):
    df = spark.read.parquet(tokens_path)
    plan = _formatted(build_partials(df, "tokens", lambda: TDigest(), KIND_ARRAY))
    assert "ReadSchema: struct<tokens:array<int>>" in plan
    # single-column scan, no shuffle before the partial stage
    assert "Exchange" not in plan


def test_hash_runs_jvm_side(spark, tokens_path):
    df = spark.read.parquet(tokens_path)
    plan = _formatted(
        build_partials(df, "doc_id", lambda: HyperLogLog(), KIND_HASH64)
    )
    assert "xxhash64" in plan
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_grouped_shuffle_carries_states_only(spark, tokens_path):
    """A grouped build's exchanges carry state rows only, on both
    engines: the JVM path prunes its scan to the key and value columns;
    over a bare scan the partials are one ``Range`` -> ``MapInArrow``
    stage reading the files itself, with no JVM scan."""
    import re

    df = spark.read.parquet(tokens_path)
    for frame in (jvm_side(df), df):
        plan = _formatted(
            grouped_sketch(frame, ["source"], "n_tok", lambda: TDigest(), KIND_DOUBLE)
        )
        if frame is df:
            assert "Scan parquet" not in plan and "FileScan" not in plan, plan
            assert len(re.findall(r"^\(\d+\) Range$", plan, re.M)) == 1, plan
            assert len(re.findall(r"^\(\d+\) MapInArrow$", plan, re.M)) == 1, plan
        else:
            assert "ReadSchema: struct<n_tok:int,source:string>" in plan
        # every Exchange input must be state rows (raw rows never shuffle)
        exchanges = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert exchanges, plan
        for cols in exchanges:
            assert "state#" in cols, cols
            assert "n_tok" not in cols and "__v" not in cols, cols


def test_grouped_read_out_runs_in_the_merge_reducer(spark, tokens_path, monkeypatch):
    """The grouped operators read their sketches out in the per-key
    merge reducer: each state read plans one Exchange and one
    FlatMapGroupsInPandas, not a second regroup of the merged states."""
    import re

    from sketchlib.spark.api import (
        grouped_distinct,
        grouped_heavy_hitters,
        grouped_quantiles,
    )

    df = spark.read.parquet(tokens_path)
    plans = [
        _formatted(grouped_quantiles(df, ["source"], "n_tok", [0.5, 0.9])),
        _formatted(grouped_distinct(df, ["source"], "doc_id")),
    ]
    collect = type(df).collect

    def spy(self):
        plans.append(_formatted(self))
        return collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    grouped_heavy_hitters(df, ["source"], "doc_id", k=2)
    assert len(plans) > 2
    for plan in plans[:3]:  # the heavy hitters' state read: its first collect
        assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1, plan
        assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas$", plan, re.M)) == 1, plan


def test_filter_pushdown_reaches_scan(spark, tokens_path):
    df = spark.read.parquet(tokens_path).filter(F.col("source") == "web")
    plan = _formatted(build_partials(df, "n_tok", lambda: TDigest(), KIND_DOUBLE))
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,web)]" in plan


def test_heavy_hitters_value_recovery_pushes_isin(spark, tokens_path):
    """The SpaceSaving value-recovery scan must push the winning-hash
    isin predicate into the scan stage (a full-column distinct shuffle
    before filtering would defeat the design)."""
    df = spark.read.parquet(tokens_path)
    hashed = df.select("source", F.xxhash64("source").alias("__h"))
    probe = hashed.filter(F.col("__h").isin([1, 2, 3])).distinct()
    plan = _formatted(probe)
    # the filter sits below the distinct's exchange: node id of the
    # Filter (with the hash-IN condition) < node id of the Exchange
    import re

    assert "Condition : xxhash64" in plan and " IN (1,2,3)" in plan, plan
    f = int(re.search(r"\((\d+)\) Filter", plan).group(1))
    e = int(re.search(r"\((\d+)\) Exchange", plan).group(1))
    assert f < e, plan
    assert "ReadSchema: struct<source:string>" in plan


def test_budget_sampling_source_filter_pushed(spark, tokens_path):
    """sample_by_token_budget must push the budgeted-source isin filter
    into the parquet scan — at 100 TB the unbudgeted sources never
    leave the data source, and only budgeted rows enter the window
    shuffle."""
    from sketchlib.spark.api import sample_by_token_budget

    df = spark.read.parquet(tokens_path)
    picked = sample_by_token_budget(
        df, {"web": 1000.0, "code": 500.0}, source_col="source",
        size_col="n_tok", order_col="doc_id",
    )
    plan = _formatted(picked)
    assert "In(source, [code,web])" in plan.split("PushedFilters:")[1].split("\n")[0], plan
    # exactly one shuffle (the per-source window), keyed by source
    import re

    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan


def test_range_bounds_single_scan(spark, tokens_path):
    """range_partition_bounds is one pruned sketch scan (no join, no
    extra shuffle in the partials plan)."""
    from sketchlib.core.tdigest import TDigest

    df = spark.read.parquet(tokens_path)
    plan = _formatted(build_partials(df, "n_tok", lambda: TDigest(), KIND_DOUBLE))
    assert "ReadSchema: struct<n_tok:int>" in plan
    assert "Exchange" not in plan


def test_materialize_packed_plan_shape(spark, tokens_path):
    """Round 5: the window reassembly is pure Catalyst — exactly one
    shuffle (the seq_id groupBy; the gated small-input prior adds its
    window to the same exchange), a Generate (explode) node, and no
    Python evaluation anywhere."""
    from sketchlib.spark.api import materialize_packed

    df = spark.read.parquet(tokens_path)
    out = materialize_packed(df, "tokens", 256, order_col="doc_id")
    plan = _formatted(out)
    import re

    assert "Generate" in plan, plan
    assert "Python" not in plan, plan
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2, plan  # prior window + groupBy


def test_sample_stratified_no_shuffle(spark, tokens_path):
    """sample_stratified is one map-side filter: zero exchanges."""
    from sketchlib.spark.api import sample_stratified

    df = spark.read.parquet(tokens_path)
    out = sample_stratified(df, ["source"], {"web": 0.25}, key_cols=["doc_id"])
    plan = _formatted(out)
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_asof_join_single_exchange(spark):
    """Round-5 continuation: the as-of join is the union-merge shape —
    exactly ONE Exchange (the by-key hash partitioning), one Window,
    no Python nodes, and no range-join/cartesian node anywhere."""
    import re

    from pyspark.sql import functions as F

    from sketchlib.spark.asof import asof_join

    ldf = spark.range(100).select(
        F.col("id").alias("eid"),
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 7).alias("ts"),
    )
    rdf = spark.range(20).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 31).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    plan = _formatted(asof_join(ldf, rdf, on="ts", by="k"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan, plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_sessionize_single_exchange(spark):
    """sessionize: one Exchange (key partitioning) feeding the
    lag/running-sum window; the sessions rollup adds no second
    shuffle (partial agg rides the same partitioning)."""
    import re

    from pyspark.sql import functions as F

    from sketchlib.spark.sessions import sessionize

    df = spark.range(500).select(
        (F.col("id") % 9).alias("k"), (F.col("id") * 13).alias("ts")
    )
    plan = _formatted(sessionize(df, ts_col="ts", key_col="k", output="sessions"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan, plan
