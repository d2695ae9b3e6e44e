"""Session lifecycle, tracing, memory sampling and exact-oracle helpers
shared by the workloads."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from contextlib import contextmanager

import numpy as np

#: driver heap: well below the library's 8 GB default, so the benchmark
#: fits on a small box
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ session


def start_session(work: str):
    """Start (or restart) the local Spark session the workloads run on:
    ``local[<cores>]`` with the library's own defaults, every scratch
    file kept under ``work``."""
    from sketchlib.spark.session import get_spark

    os.environ["SKETCHLIB_DRIVER_MEM"] = DRIVER_MEM
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        master=f"local[{cores()}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # start at the full heap: growing it from the default initial
            # size made a doc_curation iteration 38.6 s instead of 30.1 s
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Xms{DRIVER_MEM}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, final: bool = False) -> None:
    """Stop the SparkContext; with ``final`` also shut the JVM down and
    wait for it to exit, so no process outlives the benchmark."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if not final or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait(timeout=10)


def warm_workers(spark) -> None:
    """Spawn one Python worker per core and import the library in it,
    so no measured call pays worker start-up."""
    import pyarrow as pa

    def fn(batches):
        # what the workloads' Python UDFs import on first use
        import pandas  # noqa: F401
        import pyarrow.compute  # noqa: F401
        import sketchlib.dedup  # noqa: F401
        import sketchlib.serde  # noqa: F401
        import sketchlib.spark.aggregate  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays([pa.array([1], pa.int64())], names=["n"])

    n = cores()
    spark.range(0, n, 1, n).mapInArrow(fn, "n long").collect()


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


# ------------------------------------------------------------------ tracing


class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records name, layer (the name's first dotted part), start,
    end, parent and iteration id.  When enabled, each span also sets a
    Spark job group so the jobs, stages and tasks it launched can be
    read back from ``statusTracker``; ``own_s`` sums the time that
    bookkeeping takes, the overhead tracing adds.  Disabled, ``span``
    only yields: the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.iteration: int | None = None
        self.own_s = 0.0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1]["id"] if self._stack else None,
            "iteration": self.iteration,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        sc.setJobGroup(group, name, False)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update(self._job_counts(group))
            self.own_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numTasks == 0:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}

    # -------------------------------------------------------------- reports

    def closed(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]

    def self_times_of(self, spans: list[dict]) -> dict[str, float]:
        """Self time per layer: a span's duration minus the time its
        child spans cover (children run one after another)."""
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] is not None and s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = max(s["end"] - s["start"] - child[s["id"]], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def median_s(self, name: str) -> float:
        """Median duration of the closed spans called ``name`` (0 if none)."""
        d = [s["end"] - s["start"] for s in self.closed() if s["name"] == name]
        return float(np.median(d)) if d else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.closed():
                f.write(json.dumps(s) + "\n")


# -------------------------------------------------------------------- steal


def _cpu_counters() -> list[int]:
    """Machine-wide CPU time counters from ``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class StealClock:
    """Times a block in wall seconds and in steal-free seconds.

    On a virtual machine the hypervisor takes CPU time away from the
    guest when other guests on the host are busy; the guest kernel
    counts it as steal.  ``steal_share`` is the stolen part of the time
    the guest's CPUs wanted to run (everything but idle and iowait),
    and ``seconds`` the wall time with that share taken out: what the
    block would have taken on the same CPUs with none of their time
    taken.  Without steal (a dedicated machine, or a kernel that does
    not count it) ``seconds`` equals ``wall``."""

    def __enter__(self):
        self._counters = _cpu_counters()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        d = [b - a for a, b in zip(self._counters, _cpu_counters())]
        wanted = sum(d) - d[3] - d[4]
        self.steal_share = d[7] / wanted if len(d) > 7 and wanted > 0 else 0.0
        self.seconds = self.wall * (1.0 - self.steal_share)
        return False


# ------------------------------------------------------------------- memory


def _tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the driver + JVM + worker tree's peak RSS
    while the workload runs."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# ------------------------------------------------------------------ oracles


def _count_le(cum: np.ndarray, idx: np.ndarray) -> np.ndarray:
    idx = idx.astype(np.int64)
    return np.where(idx < 0, 0, cum[np.clip(idx, 0, len(cum) - 1)])


def rank_errors(cum: np.ndarray, probs, values, snap: bool = False) -> np.ndarray:
    """Rank error of quantile estimates over integer data.

    ``cum[v]`` is the exact count of items <= v.  An estimate v for
    probability q is exact when q lies in [F(v-), F(v)]; the error is
    the distance from q to that interval.  With ``snap`` a fractional
    estimate is scored at the better of its two integer neighbours: on
    integer data any value strictly between adjacent support points
    stands for one of them, and the published bounds are stated for
    the order statistic, not for interpolation between ties."""
    n = float(cum[-1])
    probs = np.asarray(probs, dtype=np.float64)
    values = np.asarray(values, dtype=np.float64)
    best = np.full(probs.shape, np.inf)
    for v in (np.floor(values), np.ceil(values)) if snap else (values,):
        hi = _count_le(cum, np.floor(v)) / n
        lo = _count_le(cum, np.ceil(v) - 1) / n
        best = np.minimum(best, np.maximum(np.maximum(lo - probs, probs - hi), 0.0))
    return best


class Checks:
    """Counts operations and the ones that failed (raised, or broke
    their published bound), and keeps the worst accuracy figures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rank_err: list[float] = []
        self.distinct_err: list[float] = []
        self.dup: dict[str, float] = {}

    def op(self, name: str, fn):
        """Run one operation; its check raises ``AssertionError``."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            return None


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)
