"""Seconds per empty Python task: the fixed cost every Python-UDF stage
pays per partition before any sketch work (the partial-stage layer).

Runs an empty ``mapInArrow`` and an empty RDD ``mapPartitions`` over N
partitions on ``get_spark``, after one warm-up call of each, and prints
one JSON line.  ``--stock`` starts the workers from Spark's own
``pyspark.daemon`` instead of the one ``get_spark`` picks, for a
before/after on the same code.

Usage: python tools/task_overhead.py [--partitions 36] [--repeats 3]
       [--master local[4]] [--stock]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _best(fn, repeats: int) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--partitions", type=int, default=36)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--stock", action="store_true",
                    help="use Spark's own pyspark.daemon")
    args = ap.parse_args(argv)

    # Python workers import sketchlib from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from sketchlib.spark.session import get_spark

    extra = {"spark.ui.enabled": "false",
             "spark.ui.showConsoleProgress": "false"}
    if args.stock:
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark(master=args.master, app_name="task-overhead",
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    n = args.partitions
    df = spark.range(n, numPartitions=n)
    rdd = spark.sparkContext.parallelize(range(n), n)

    def arrow():
        df.mapInArrow(lambda it: (b for b in it), df.schema).count()

    def rdd_parts():
        rdd.mapPartitions(lambda it: it).count()

    try:
        arrow(), rdd_parts()  # warm-up: daemon and worker start
        out = {
            "daemon": spark.conf.get("spark.python.daemon.module",
                                     "pyspark.daemon"),
            "master": args.master,
            "partitions": n,
            "python": "%d.%d.%d" % sys.version_info[:3],
            "map_in_arrow_s": round(_best(arrow, args.repeats), 3),
            "rdd_map_partitions_s": round(_best(rdd_parts, args.repeats), 3),
        }
        out["map_in_arrow_s_per_task"] = round(out["map_in_arrow_s"] / n, 4)
        out["rdd_s_per_task"] = round(out["rdd_map_partitions_s"] / n, 4)
    finally:
        spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
