"""sketchlib benchmark: one closed-loop driver against ``local[<cores>]``.

Run from the repository root:

    python3 perfbench/run.py --workload token_table_ops --seed 1 --seconds 10 --trace 0

One driver process issues one public call at a time.  A run sets up
(session, seeded inputs, exact oracles, worker spawn) ``SETUP_REPEATS``
times and reports the median as ``setup_s``; the first set-up also
starts the JVM.  It then repeats the workload's operation sequence
while less than ``--seconds`` have passed and reports the median
iteration.  Both are timed in steal-free seconds (``common.StealClock``):
wall time less the share of CPU time the hypervisor took away, which
on a shared host swings from 2% to 20% within minutes.  Every
operation is checked against its exact oracle.  The
last line of standard output is one JSON object: with ``--trace 0`` it
carries the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the per-layer metrics, and the span file and per-layer
self-time table are written under ``.perfbench_out/``.  ``--smoke``
runs toy sizes and one set-up, for the benchmark's own test.  Exits 2
without a result when sketchlib or pyspark cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("token_table_ops", "doc_curation")
SETUP_REPEATS = 3
#: layers whose self time the traced run reports per iteration; serde
#: and aggregate are reached only by the probes and the kernel phase
LAYERS = ("bench", "core", "direct", "api", "dedup", "pipeline")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="toy input sizes")
    return ap.parse_args(argv)


def _setup(wl, work: str, spark, phases: dict):
    """One full set-up; returns the live session."""
    from common import start_session, stop_session, warm_workers

    def timed(key, fn):
        t = time.perf_counter()
        result = fn()
        phases.setdefault(key, []).append(time.perf_counter() - t)
        return result

    if spark is not None:
        stop_session(spark)
    spark = timed("session.start_s", lambda: start_session(work))
    timed("datagen.generate_s", lambda: wl.generate(spark, work))
    timed("bench.oracle_s", wl.build_oracle)
    timed("session.warm_workers_s", lambda: warm_workers(spark))
    return spark


def _measure(wl, spark, tracer, checks, seconds: float) -> list:
    """Closed loop: an iteration starts while less than ``seconds`` have
    passed, and the first always runs.  Returns each iteration's
    ``StealClock``."""
    from common import StealClock

    clocks = []
    t0 = time.perf_counter()
    while not clocks or time.perf_counter() - t0 < seconds:
        tracer.iteration = len(clocks)
        with StealClock() as clock, tracer.span("bench.iteration"):
            wl.iteration(spark, tracer, checks)
        clocks.append(clock)
    tracer.iteration = None
    return clocks


def _end_to_end(wl, setups, times, checks, rss) -> dict:
    it = statistics.median(times)
    return {
        "setup_s": statistics.median(setups),
        "iter_s_p50": it,
        "tokens_per_s": wl.tokens / it,
        "docs_per_s": wl.docs / it,
        "ops_ok_frac": (checks.attempted - checks.failed) / checks.attempted,
        "distinct_rel_err": max(checks.distinct_err, default=1.0),
        "dup_recall": checks.dup.get("recall", 1.0),
        "dup_precision": checks.dup.get("precision", 1.0),
        "peak_rss_mb": rss.peak / 2**20,
    }


def _per_layer(wl, spark, tracer, checks, phases, clocks, args, out_dir) -> dict:
    from kernels import kernel_phase
    from workloads import PROBS

    times = [c.seconds for c in clocks]
    out: dict[str, float] = {k: statistics.median(v) for k, v in phases.items()}
    out["bench.rank_err_max"] = max(checks.rank_err, default=1.0)
    spans = tracer.closed()
    # self time per layer, mean over the iterations
    table = {k: v / len(times) for k, v in tracer.self_times_of(spans).items()}
    for layer in LAYERS:
        out[f"{layer}.self_s"] = table.get(layer, 0.0)
    # per-operation time (median over the iterations) and Spark work
    # (the same in every iteration; read from the first)
    first = [s for s in spans if s["iteration"] == 0]
    for s in first:
        if s["name"] == "bench.iteration":
            continue
        out[f"{s['name']}_s"] = tracer.median_s(s["name"])
        if not s["name"].startswith("core."):
            out[f"spark.{s['name']}.stages"] = s["stages"]
            out[f"spark.{s['name']}.tasks"] = s["tasks"]
    for key in ("jobs", "stages", "tasks", "tasks_failed"):
        out[f"spark.{key}"] = sum(s[key] for s in first)
    out["bench.iter_samples"] = float(len(times))
    out["trace.iter_s"] = statistics.median(times)
    out["trace.iter_wall_s"] = statistics.median(c.wall for c in clocks)
    out["bench.steal_share"] = statistics.median(c.steal_share for c in clocks)
    out["trace.spans_per_iter"] = float(len(first))
    out["trace.overhead_frac"] = tracer.own_s / sum(c.wall for c in clocks)
    # layer probes and the kernel phase, outside the timed loop
    wl.probe(spark, tracer, out)
    kernel_phase(tracer, wl.kernel_batch, args.seed, PROBS, out)
    tracer.write(os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(
            {
                "self_s_per_iteration": table,
                "self_s_all_spans": tracer.self_times_of(tracer.closed()),
            },
            f,
            indent=1,
        )
    return out


def run(args, root: str, spec: dict) -> dict:
    from common import Checks, RssSampler, StealClock, Tracer, stop_session
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out", f"{args.workload}-seed{args.seed}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    wl = WORKLOADS[args.workload](args.seed, args.smoke)
    spark = None
    try:
        phases: dict[str, list[float]] = {}
        setups = []
        for _ in range(1 if args.smoke else SETUP_REPEATS):
            with StealClock() as clock:
                spark = _setup(wl, work, spark, phases)
            setups.append(clock)
        tracer = Tracer(spark, bool(args.trace))
        checks = Checks()
        with RssSampler() as rss:
            clocks = _measure(wl, spark, tracer, checks, args.seconds)
        times = [c.seconds for c in clocks]
        if args.trace:
            os.makedirs(out_dir, exist_ok=True)
            values = _per_layer(wl, spark, tracer, checks, phases, clocks, args, out_dir)
        else:
            values = _end_to_end(wl, [c.seconds for c in setups], times, checks, rss)
    finally:
        if spark is not None:
            stop_session(spark, final=True)
        shutil.rmtree(work, ignore_errors=True)
    for msg in checks.failures:
        print(f"check failed: {msg}", file=sys.stderr)
    def show(cs):
        return ", ".join(f"{c.seconds:.2f} ({c.wall:.2f} wall)" for c in cs)

    print(
        f"{args.workload}: steal-free iterations {show(clocks)} s; set-ups {show(setups)} s",
        file=sys.stderr,
    )
    key = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[key]:
        if m["name"] not in values and key == "end_to_end":
            raise KeyError(f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as exc:
        print(f"run from the repository root: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    try:
        import pyspark  # noqa: F401
        import sketchlib  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    # Python workers import sketchlib from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    result = run(args, root, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
