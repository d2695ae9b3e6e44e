"""Shared fixtures: the reference test corpus distributions
(FIXTURES.md §B; generators mirror /root/reference/src/util/mod.rs)."""

from __future__ import annotations

import numpy as np
import pytest

SEED = 42


def gen_uniform(n, rng):
    """U[0, 1001) — util/mod.rs:24-33."""
    return rng.uniform(0.0, 1001.0, n)


def gen_ascending(n, rng=None):
    """0..n-1 — util/mod.rs:124-129."""
    return np.arange(n, dtype=np.float64)


def gen_descending(n, rng=None):
    """n-1..0 — rc_sketch.rs:341-344."""
    return np.arange(n, dtype=np.float64)[::-1].copy()


def gen_tan(n, rng):
    """tan(U[-20, 20)) — extreme two-sided tails, util/mod.rs:38-47."""
    return np.tan(rng.uniform(-20.0, 20.0, n))


def gen_reverse_exponential(n, rng):
    """-Exp(1) - 1 — all-negative left tail, util/mod.rs:53-63."""
    return -rng.exponential(1.0, n) - 1.0


def gen_growing_blocks(n, rng):
    """Plateaus of a slowly incrementing value — util/mod.rs:69-86."""
    out = np.empty(n)
    value = 0.0
    p = 0.001
    i = 0
    while i < n:
        block = max(int(rng.geometric(min(p, 1.0))), 1)
        block = min(block, n - i)
        out[i : i + block] = value
        value += 1.0
        p *= 0.98
        i += block
    return out


DISTRIBUTIONS = {
    "uniform": gen_uniform,
    "ascending": gen_ascending,
    "descending": gen_descending,
    "tan": gen_tan,
    "reverse_exponential": gen_reverse_exponential,
    "growing_blocks": gen_growing_blocks,
}


@pytest.fixture
def rng():
    return np.random.default_rng(SEED)


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for integration tests."""
    from sketchlib.spark.session import get_spark

    s = get_spark(master="local[4]", app_name="sketchlib-tests",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_tasks(spark):
    """``job_tasks(name, fn)`` runs ``fn`` in job group ``name`` and
    returns ``fn()``'s result and, per Spark job it ran, its stages'
    task counts."""

    def run(name, fn):
        sc = spark.sparkContext
        sc.setJobGroup(name, name, False)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = [
            [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(name))
        ]
        return out, jobs

    return run


def jvm_side(df):
    """``df`` behind a filter every row passes and the optimizer keeps
    (it is nondeterministic): the builds route only a bare parquet scan
    to the direct engine, so a build over this frame runs the JVM path,
    and a parity test compares the two engines."""
    from pyspark.sql import functions as F

    return df.filter(F.spark_partition_id() >= 0)


def is_direct(plan: str) -> bool:
    """A direct partial stage: tasks seeded by a ``Range``, no JVM scan."""
    return "Range (0," in plan and "MapInArrow" in plan and "FileScan" not in plan


@pytest.fixture
def partials_plans(monkeypatch):
    """The executed plans of the partials every ``sketch_columns`` call
    hands ``tree_merge`` and every grouped or ``run_checkpointed`` build
    hands its keyed merge, in call order."""
    from sketchlib.spark import aggregate, api, checkpoint

    plans = []

    def spy(module, name):
        real = getattr(module, name)

        def record(partials, *args, **kw):
            plans.append(partials._jdf.queryExecution().executedPlan().toString())
            return real(partials, *args, **kw)

        monkeypatch.setattr(module, name, record)

    spy(aggregate, "tree_merge")
    for module in (aggregate, api, checkpoint):
        spy(module, "_keyed_merge")
    return plans


def make_values(name: str, n: int, seed: int = SEED) -> np.ndarray:
    gen = DISTRIBUTIONS[name]
    return np.asarray(gen(n, np.random.default_rng(seed)), dtype=np.float64)
