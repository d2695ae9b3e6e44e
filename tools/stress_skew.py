"""Grouped-quantile skew stress at adversarial Zipf (judge r6 #8).

token_grouped_quantiles runs at Zipf(1.5); this is the nastier shape:
ONE mega key holding half of all rows plus a Zipf(~1)-ish long tail.
The grouped path never shuffles raw rows (stage 1 is a map-side
combine), so the skew pressure lands on the MERGE: the mega key's
fan-in is the input partition count, and a single per-key merge would
have one reduce task merge all P partial states while its siblings
merge a handful — the classic straggler.  ``grouped_sketch``'s keyed
merge derives its levels from the planned partition count: above
``aggregate.FANOUT`` (64) partitions it merges each key's states in
ceil(P/64) buckets first, so P = 256 gets 4 buckets and no reducer
merges more than 64 states of one key.

Evidence, not vibes: per-task durations are pulled from the Spark UI
REST API (/api/v1) for the job's merge stages, and the script asserts
the worst merge task stays within ``--bound`` (default 4x) of its
stage median.  Quantile correctness is checked against exact
percentiles on the mega key and one tail key.

Usage:  python tools/stress_skew.py [n_rows] [partitions]

Run exclusively (no concurrent Spark on the box), like bench.py.
Results recorded in BASELINE.md "grouped-quantile skew stress".
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1{path}") as r:
        return json.load(r)


def _merge_stage_stats(group: str) -> tuple[float, float, float, int]:
    """(max_s, median_s, ratio, n_tasks) of the straggler-iest merge
    stage of the jobs in ``group``: among the stages that read a
    shuffle (the merges, not the stage-1 build, whose first tasks pay
    the Python workers' start-up) and are wide enough to have a
    meaningful median (>= 16 tasks), the one with the largest
    max/median task-duration ratio."""
    import statistics

    app = _rest("/applications")[0]["id"]
    jobs = [j for j in _rest(f"/applications/{app}/jobs")
            if j.get("jobGroup") == group]
    assert jobs, f"no jobs in group {group!r}"
    worst = (0.0, 1.0, 0.0, 0)
    for j in jobs:
        for sid in j["stageIds"]:
            for att in _rest(f"/applications/{app}/stages/{sid}"):
                tasks = att.get("tasks") or {}
                if not tasks:
                    tasks = {
                        str(t["taskId"]): t
                        for t in _rest(
                            f"/applications/{app}/stages/{sid}/"
                            f"{att['attemptId']}/taskList?length=5000"
                        )
                    }
                durs = [t["duration"] / 1000.0 for t in tasks.values()
                        if t.get("duration")]
                if len(durs) < 16 or not att.get("shuffleReadBytes"):
                    continue
                mx, md = max(durs), statistics.median(durs)
                ratio = mx / max(md, 1e-3)
                if ratio > worst[2]:
                    worst = (mx, md, ratio, len(durs))
    return worst


def main(n_rows: int, partitions: int, bound: float = 4.0) -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        # one task per merge reducer: AQE would pack the KB-sized
        # states of many keys into a few tasks and hide the fan-in
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    from sketchlib.spark.api import grouped_quantiles

    # one mega key (half the rows) + ~2000-key log-uniform tail.  The
    # input is CLUSTERED by source (range partitioning — the shape of
    # per-source file layouts): tail keys land in one partition each
    # while the mega key spans ~half of them, so the merge fan-in is
    # skewed (P states for mega, ~1 for the tail).  A uniformly
    # shuffled input has NO merge skew — every key then appears in
    # every partition and all fan-ins equal P, which is why this
    # stress pins the clustered layout explicitly.
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1e6).alias("u")
    df = (
        spark.range(n_rows)
        .select(
            "id",
            F.when(u < 0.5, F.lit("mega"))
            .otherwise(
                F.concat(
                    F.lit("g"),
                    F.floor(F.exp(F.log(F.lit(2000.0)) * (u - 0.5) * 2.0))
                    .cast("string"),
                )
            )
            .alias("source"),
            (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1000)).cast("double"))
            .alias("n_tok"),
        )
        .repartitionByRange(partitions, "source", "id")
        .persist()
    )
    df.count()

    sc.setJobGroup("grouped", "grouped_quantiles")
    t0 = time.monotonic()
    rows = grouped_quantiles(
        df, ["source"], "n_tok", [0.5, 0.9], sketch="tdigest", delta=2000
    ).collect()
    wall = time.monotonic() - t0
    sc.setJobGroup("probe", "exact check")
    est = {(r["source"], r["q"]): r["value"] for r in rows}
    for key in ("mega", "g1"):
        ex = df.filter(F.col("source") == key).agg(
            F.expr("percentile(n_tok, 0.5)").alias("p50"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        # value-space check on a ~uniform 0..999 distribution: rank
        # tolerance ~1% of the range
        assert abs(est[(key, 0.5)] - ex["p50"]) <= 15, (
            key, est[(key, 0.5)], ex["p50"])
    mx, md, ratio, n_tasks = _merge_stage_stats("grouped")
    print(
        f"skew_stress P={partitions}: wall={wall:.2f}s merge-stage "
        f"max_task={mx:.2f}s median_task={md:.3f}s "
        f"ratio={ratio:.1f}x ({n_tasks} tasks)"
    )
    assert n_tasks, "no merge stage of >= 16 tasks; nothing measured"
    assert ratio <= bound, f"merge ratio {ratio:.1f}x exceeds {bound}x"
    print(f"skew_stress: ratio {ratio:.1f}x within bound {bound}x OK")
    spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 256,
    )
