"""The distinct-value-count exact-percentile path used by the
_quantile_query verification harness must be BIT-identical to Spark's
``F.percentile`` (which it replaced for speed — the per-partition
value->count map merge was 19s of a 21.5s query at sf1.0)."""

from __future__ import annotations

import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")


QS = [0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


def _spark_percentile(spark, df, col, qs):
    row = df.agg(
        F.percentile(
            F.col(col).cast("double"), F.array(*[F.lit(q) for q in qs])
        ).alias("p")
    ).first()
    return list(row["p"])


@pytest.mark.parametrize(
    "data",
    [
        # heavy duplication (discrete grid)
        np.round(np.random.RandomState(7).lognormal(3, 1, 20_000), 1),
        # all-distinct continuous
        np.random.RandomState(8).normal(0, 1, 9_999),
        # tiny n (positions hit exact integers)
        np.arange(5, dtype=float),
        # single value
        np.full(17, 3.25),
    ],
    ids=["discrete", "continuous", "tiny", "constant"],
)
def test_bit_identical_to_spark_percentile(spark, data):
    import __spark_entry__ as E

    df = spark.createDataFrame([(float(x),) for x in data], "x double")
    ref = _spark_percentile(spark, df, "x", QS)
    ests = [float(np.percentile(data, q * 100)) for q in QS]
    exact, oks, n = E._exact_quantile_check(df, "x", QS, ests)
    assert exact == ref  # bit-for-bit, no tolerance
    assert len(oks) == len(QS)
    assert n == len(data)


def test_matches_on_lineitem(spark):
    import __spark_entry__ as E

    df = (
        spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        .filter(F.col("l_extendedprice").isNotNull())
    )
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    ref = _spark_percentile(spark, df, "l_extendedprice", qs)
    ests = list(ref)  # any estimates work for the value comparison
    exact, _, _ = E._exact_quantile_check(df, "l_extendedprice", qs, ests)
    assert exact == ref


def test_rank_oks_match_row_level_aggs(spark):
    """The conditional-SUM-over-counts fractions must reproduce the
    row-level avg-of-indicator fractions (same booleans, same tol)."""
    import __spark_entry__ as E

    rs = np.random.RandomState(11)
    data = np.round(rs.normal(100, 15, 8_000), 0)
    df = spark.createDataFrame([(float(x),) for x in data], "x double")
    qs = [0.1, 0.5, 0.9]
    ests = [float(np.percentile(data, q * 100)) + 0.3 for q in qs]
    row = df.agg(*E._rank_aggs("x", ests)).first()
    oks_old = E._rank_oks(row, qs)
    _, oks_new, _ = E._exact_quantile_check(df, "x", qs, ests)
    assert oks_new == oks_old


@pytest.mark.parametrize(
    "data",
    [
        np.round(np.random.RandomState(7).lognormal(3, 1, 20_000), 1),
        np.random.RandomState(8).normal(0, 1, 9_999),
    ],
    ids=["discrete", "continuous"],
)
def test_bucketed_running_counts_bit_identical(spark, monkeypatch, data):
    """With the big-input verdict forced, the running count comes from
    the bucketed prefix sum (sketch-bounded ``__ob`` buckets) and the
    percentiles stay bit-identical to ``F.percentile``."""
    import __spark_entry__ as E

    monkeypatch.setattr(E, "_use_bucketed", lambda *a: True)
    plans = []
    running_counts = E._running_counts

    def recording(vc):
        cum = running_counts(vc)
        plans.append(cum._jdf.queryExecution().executedPlan().toString())
        return cum

    monkeypatch.setattr(E, "_running_counts", recording)
    df = spark.createDataFrame([(float(x),) for x in data], "x double")
    ref = _spark_percentile(spark, df, "x", QS)
    ests = [float(np.percentile(data, q * 100)) for q in QS]
    exact, _, n = E._exact_quantile_check(df, "x", QS, ests)
    assert exact == ref
    assert n == len(data)
    assert len(plans) == 1 and "__ob" in plans[0]


def test_one_prefix_sum_and_one_thread_pool():
    """Source guard: the gates and drift take their running counts from
    ``api._exact_running_prior`` (no hand-written running window), and
    the gates overlap driver jobs through one ``_concurrently``."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    entry = (root / "__spark_entry__.py").read_text()
    drift = (root / "sketchlib" / "spark" / "drift.py").read_text()
    assert "unboundedPreceding" not in entry
    assert "unboundedPreceding" not in drift
    assert entry.count("ThreadPoolExecutor(") == 1
