"""The spark-submit CLI (``sketchlib.spark.jobs``): every subcommand run
through ``jobs.main`` on a toy table in the shared session, which it must
leave running."""

from __future__ import annotations

import datetime
import json
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sketchlib.core import TDigest
from sketchlib.iceberg.fixture import write_iceberg_table
from sketchlib.spark import jobs, session

N_BASE = 40  # distinct texts; doc i carries text i % N_BASE, so 3 copies each
N_DOCS = 3 * N_BASE


def _text(base: int) -> str:
    # disjoint vocabularies: distinct texts share no word, shingle or gram
    return " ".join(f"w{base}x{j}" for j in range(12))


@pytest.fixture(scope="module")
def toy(tmp_path_factory):
    root = tmp_path_factory.mktemp("jobs")
    start = datetime.datetime(2024, 1, 1)
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": [_text(i % N_BASE) for i in range(N_DOCS)],
        "source": [f"s{i % 3}" for i in range(N_DOCS)],
        "n_tok": pa.array([12] * N_DOCS, pa.int64()),
        "ts": [start + datetime.timedelta(minutes=i) for i in range(N_DOCS)],
        "value": [float(i) for i in range(N_DOCS)],
    })
    pq.write_table(docs, root / "docs.parquet")
    # the jar-free Iceberg read is a bare scan of the live files
    write_iceberg_table(
        str(root / "iceberg"), [docs.select(["doc_id", "value"])], rows_per_file=50
    )
    # eval set: the texts of bases 0..4, so their 15 train copies go
    pq.write_table(docs.slice(0, 5), root / "eval.parquet")
    td = TDigest()
    td.add_buffer(np.arange(N_DOCS, dtype=np.float64))
    (root / "td.bin").write_bytes(td.to_bytes())
    spec = {
        "steps": [
            {"op": "normalize"},
            {"op": "dedup_exact"},
            {"op": "decontaminate", "eval_filter": "doc_id % 17 = 0",
             "shingle_w": 5},
            {"op": "split", "weights": {"train": 0.75, "eval": 0.25}},
        ]
    }
    (root / "spec.json").write_text(json.dumps(spec))
    return root


def _run(capsys, argv) -> dict:
    jobs.main(argv)
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _written(spark, report):
    return spark.read.parquet(report["output"]).count()


# subcommand -> (its arguments, its JSON keys, check(spark, report)); the
# arguments name the toy table {docs}, the fixture dir {root} and {out}
CASES = {
    "build": (
        ["--input", "{root}/iceberg", "--format", "iceberg", "--col", "value",
         "--sketch", "kll"],
        {"sketch", "col", "metrics", "quantiles", "count", "state_bytes"},
        lambda spark, r: r["count"] == N_DOCS,
    ),
    "query": (
        ["--state", "{root}/td.bin", "--values", "60"],
        {"kind", "state_bytes", "quantiles", "ranks", "count"},
        lambda spark, r: r["kind"] == "TDigest" and r["count"] == N_DOCS,
    ),
    "datagen": (
        ["--output", "{out}", "--rows", "50"],
        {"rows", "output"},
        lambda spark, r: r["rows"] == 50 == _written(spark, r),
    ),
    "mix": (
        ["--input", "{docs}", "--output", "{out}",
         "--budgets", "s0=60,s1=24"],
        {"output", "budgets", "rows", "tokens"},
        lambda spark, r: r["rows"] == _written(spark, r) > 0
        and r["tokens"] == 12.0 * r["rows"],
    ),
    "hh": (
        ["--input", "{docs}", "--col", "source"],
        {"col", "top"},
        lambda spark, r: sorted(t["est_count"] for t in r["top"]) == [N_DOCS // 3] * 3,
    ),
    "pack": (
        ["--input", "{docs}", "--output", "{out}",
         "--seq-len", "24", "--text-col", "text", "--order-col", "doc_id"],
        {"output", "seq_len", "windows", "tokens", "full_windows"},
        lambda spark, r: r["tokens"] == 12 * N_DOCS
        and r["windows"] == _written(spark, r),
    ),
    "decontam": (
        ["--input", "{docs}", "--output", "{out}",
         "--eval", "{root}/eval.parquet"],
        {"output", "method", "kept", "removed"},
        lambda spark, r: (r["kept"], r["removed"]) == (N_DOCS - 15, 15),
    ),
    "score": (
        ["--input", "{docs}", "--output", "{out}"],
        {"output", "rows", "avg_logprob_p10_p50_p90", "novelty_p10_p50_p90"},
        lambda spark, r: r["rows"] == N_DOCS == _written(spark, r),
    ),
    "split": (
        ["--input", "{docs}", "--output", "{out}",
         "--weights", "train=0.75,val=0.25"],
        {"output", "weights", "rows", "total"},
        lambda spark, r: r["total"] == N_DOCS == sum(r["rows"].values()),
    ),
    "rank": (
        ["--input", "{docs}", "--output", "{out}",
         "--order-col", "value", "--n-shards", "4"],
        {"output", "rows", "max_rank"},
        lambda spark, r: r["rows"] == r["max_rank"] == N_DOCS,
    ),
    "lsh-dedup": (
        ["--input", "{docs}", "--output", "{out}"],
        {"output", "rows_in", "rows_out", "removed", "threshold"},
        lambda spark, r: (r["rows_in"], r["rows_out"]) == (N_DOCS, N_BASE),
    ),
    "bpe": (
        ["--input", "{docs}", "--output", "{out}",
         "--num-merges", "20"],
        {"output", "merges", "merges_file", "trained", "rows", "pieces"},
        lambda spark, r: r["rows"] == N_DOCS and r["trained"],
    ),
    "rollup": (
        ["--input", "{docs}", "--output", "{out}",
         "--width", "1 hour"],
        {"output", "width", "windows"},
        lambda spark, r: r["windows"] == 2 == _written(spark, r),
    ),
    "pipeline": (
        ["--input", "{docs}", "--output", "{out}",
         "--spec", "{root}/spec.json"],
        {"output", "steps"},
        lambda spark, r: r["steps"]["1:dedup_exact"] == N_BASE,
    ),
    "span-dedup": (
        ["--input", "{docs}", "--output", "{out}"],
        {"output", "w", "rows", "removed_words", "scrubbed_empty"},
        lambda spark, r: r["rows"] == N_DOCS == _written(spark, r),
    ),
    "ngram-dedup": (
        ["--input", "{docs}", "--output", "{out}"],
        {"output", "w", "threshold", "pairs"},
        lambda spark, r: r["pairs"] == 3 * N_BASE == _written(spark, r),
    ),
    "overlap": (
        ["--input", "{docs}", "--group-by", "source", "--col", "doc_id"],
        {"group_by", "col", "k", "pairs"},
        lambda spark, r: [p["intersection"] for p in r["pairs"]] == [0] * 3,
    ),
    "package": (
        ["--output", "{out}.zip"],
        {"zip"},
        lambda spark, r: "sketchlib/spark/jobs.py"
        in zipfile.ZipFile(r["zip"]).namelist(),
    ),
}
NO_SESSION = {"query", "package"}


def test_cases_cover_every_subcommand():
    assert set(CASES) == set(jobs._JOBS)


@pytest.mark.parametrize("cmd", sorted(CASES))
def test_subcommand(cmd, spark, toy, tmp_path, capsys, monkeypatch):
    """Each subcommand prints one JSON line with its keys, reports the
    right figure, and leaves the fixture's session running; ``query``
    and ``package`` touch no session at all."""
    args, keys, check = CASES[cmd]
    paths = {"docs": toy / "docs.parquet", "root": toy, "out": tmp_path / "out"}
    argv = [cmd] + [a.format(**paths) for a in args]
    if cmd in NO_SESSION:
        from pyspark.sql import SparkSession

        def no_session(*a, **k):
            raise AssertionError(f"{cmd} asked for a Spark session")

        monkeypatch.setattr(SparkSession, "getActiveSession", no_session)
        monkeypatch.setattr(jobs, "get_spark", no_session)
        monkeypatch.setattr(session, "get_spark", no_session)
    report = _run(capsys, argv)
    monkeypatch.undo()
    assert set(report) == keys
    assert check(spark, report), report
    assert spark.range(1).count() == 1


def test_pipeline_unpersists_its_pins(spark, toy, tmp_path, capsys, monkeypatch):
    """``jobs pipeline`` persists the inputs of multi-reference steps for
    its one write and releases them after it: the per-step counts equal
    an unpinned run's, and the session's persistent RDDs return to their
    number before the call."""
    from sketchlib.pipeline import run_pipeline_spec

    spec = json.loads((toy / "spec.json").read_text())
    pinned = []

    def spy(df, run_spec, pins=None):
        out = run_pipeline_spec(df, run_spec, pins=pins)
        pinned.extend(pins)
        return out

    monkeypatch.setattr(jobs, "run_pipeline_spec", spy)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = len(persistent())
    report = _run(capsys, [
        "pipeline", "--spec", str(toy / "spec.json"),
        "--input", str(toy / "docs.parquet"), "--output", str(tmp_path / "out"),
    ])
    assert pinned and not any(p.is_cached for p in pinned)
    assert len(persistent()) == before

    out, counters = run_pipeline_spec(spark.read.parquet(str(toy / "docs.parquet")), spec)
    out.write.mode("overwrite").parquet(str(tmp_path / "unpinned"))
    assert report["steps"] == {label: obs.get["rows"] for label, obs in counters}
