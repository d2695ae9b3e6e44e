"""End-to-end curation pipeline: quality filter -> exact dedup ->
near-dedup -> summary sketches, with injected junk/dup/near-dup docs."""

import pytest
from pyspark.sql import functions as F


VOCAB = (
    "the a of and to in is it river mountain fox dog table pipeline copy "
    "morning team plan work items field story ages cat mat data disk day "
    "quick brown lazy fine short clean known review assign stood move"
).split()


@pytest.fixture(scope="module")
def corpus(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    rows = []
    for i in range(40):  # 40 distinct good docs (random word soup with
        # stopwords mixed in so the quality score is high)
        words = list(rng.choice(VOCAB, size=25, replace=True))
        rows.append((i, "the " + " ".join(words) + " and it is done"))
    # exact duplicates of docs 0..4 (ids 100..104)
    for i in range(5):
        rows.append((100 + i, rows[i][1]))
    # near-duplicates of docs 5..9 (ids 200..204): drop last two words
    for i in range(5, 10):
        words = rows[i][1].split()
        rows.append((200 + i - 5, " ".join(words[:-2])))
    # junk that must fail the quality filter
    rows.append((300, "@@@ ### $$$ %%% ^^^ &&& *** ((( )))"))
    rows.append((301, "1234567890 0987654321 111 222 333"))
    return rows


def test_curate(spark, corpus):
    from sketchlib.pipeline import curate

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    curated, report = curate(
        docs, quality_min=0.2, near_dup_threshold=0.5
    )
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}

    assert report["input_rows"] == 52
    # junk filtered
    assert report["after_quality_filter"] == 50
    assert 300 not in ids and 301 not in ids
    # exact dups dropped, originals kept
    assert report["after_exact_dedup"] == 45
    for i in range(5):
        assert i in ids and (100 + i) not in ids
    # near-dups dropped (the higher id of each pair)
    for i in range(5):
        assert (200 + i) not in ids
    assert {5, 6, 7, 8, 9} <= ids
    # annotations present on the output
    cols = set(curated.columns)
    assert {"quality_score", "ws_tokens", "bpe_tokens", "pred_lang"} <= cols
    # report sketches sane
    assert 0 < report["quality_p50"] <= 1.0
    assert report["ws_tokens_p50"] > 5
    assert abs(report["distinct_ids_est"] - len(ids)) / len(ids) < 0.1
    assert set(report["sketches"]) == {"quality_score", "ws_tokens", "doc_id"}


def test_curate_single_materialization(spark, corpus):
    """The stage row-counts must ride observe() metric nodes on the
    final sketch scan's lineage — NOT separate count() actions (four
    redundant full passes at 100 TB).  The returned plan must carry the
    three CollectMetrics nodes on the output lineage, and every count
    in the report must be exactly right even though no count() action
    ran."""
    from sketchlib.pipeline import curate

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    curated, report = curate(docs, quality_min=0.2, near_dup_threshold=0.5)
    plan = curated._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("CollectMetrics") >= 3, plan
    # all four counts present and consistent without any count() action
    assert report["input_rows"] == 52
    assert report["after_quality_filter"] == 50
    assert report["after_exact_dedup"] == 45
    assert report["after_near_dedup"] == 40


def test_curate_idempotent(spark, corpus):
    from sketchlib.pipeline import curate

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    curated1, _ = curate(docs, quality_min=0.2, near_dup_threshold=0.5)
    base = curated1.select("doc_id", "text")
    curated2, report2 = curate(base, quality_min=0.2, near_dup_threshold=0.5)
    # running the pipeline on its own output drops nothing
    assert report2["input_rows"] == report2["after_near_dedup"]


def test_curate_calls_do_not_pile_up_cached_frames(spark, corpus):
    """``curate``'s persisted frames (the ``deduped`` pin, MinHash's
    signature frame, the skew guard's frame) sit in one-slot caches:
    three calls in one session leave as many persisted RDDs as one."""
    from sketchlib.pipeline import curate

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    # other tests' frames may be cleaned meanwhile: count new ids only
    base = set(jsc.getPersistentRDDs().keySet())

    def run():
        curated, _ = curate(docs, quality_min=0.2, near_dup_threshold=0.5)
        kept = curated.select("doc_id").collect()
        return kept, set(jsc.getPersistentRDDs().keySet()) - base

    kept, held = run()
    assert held
    for _ in range(2):
        again, now = run()
        assert again == kept
        assert len(now) == len(held) and now.isdisjoint(held)
        held = now


def test_run_pipeline_spec_end_to_end(spark):
    from sketchlib.pipeline import run_pipeline_spec

    rows = [
        (0, "good document with plenty of words here to pass quality"),
        (1, "good document with plenty of words here to pass quality"),
        (2, "another fine long document of sufficient quality and size"),
        (3, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spec = {
        "steps": [
            {"op": "normalize"},
            {"op": "quality_filter", "min_score": 0.5},
            {"op": "dedup_exact"},
            {"op": "split", "weights": {"train": 0.5, "eval": 0.5}},
            {"op": "shuffle", "seed": 3},
        ]
    }
    out, counters = run_pipeline_spec(docs, spec)
    got = out.collect()  # the one action fires every counter
    counts = {label: int(obs.get["rows"]) for label, obs in counters}
    assert counts["0:normalize"] == 4
    assert counts["1:quality_filter"] == 3  # 'x' dropped
    assert counts["2:dedup_exact"] == 2     # doc 1 is an exact dup of 0
    assert counts["4:shuffle"] == 2
    ids = {r["doc_id"] for r in got}
    assert ids == {0, 2}  # min-id survivors
    assert {r["split"] for r in got} <= {"train", "eval"}
    assert sorted(r["shuffle_rank"] for r in got) == [1, 2]


def test_run_pipeline_spec_validation(spark):
    from sketchlib.pipeline import run_pipeline_spec

    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        run_pipeline_spec(docs, {"steps": []})
    with pytest.raises(ValueError, match="unknown ops.*frobnicate"):
        run_pipeline_spec(docs, {"steps": [{"op": "frobnicate"}]})


def test_spec_dedup_exact_slice_is_size_derived(spark):
    """Regression: the drop-list slice used a fixed 1M length cap —
    a duplicate group larger than the cap silently kept the excess.
    The plan must derive the length from size(ids)."""
    from sketchlib.pipeline import SPEC_STEPS

    docs = spark.createDataFrame(
        [(i, "same text repeated") for i in range(6)] + [(9, "unique doc")],
        "doc_id long, text string",
    )
    out = SPEC_STEPS["dedup_exact"](
        docs, {}, {"text_col": "text", "id_col": "doc_id"}
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 9]
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "1000000" not in plan and "size(ids" in plan


def test_spec_dedup_minhash_cluster_consistent(spark):
    """The spec step must use cluster-representative semantics (one
    survivor per connected component — same as job_lsh_dedup), not
    pairwise greatest-id dropping."""
    from sketchlib.dedup.minhash import minhash_near_duplicates
    from sketchlib.dedup.cluster import keep_representatives
    from sketchlib.pipeline import SPEC_STEPS

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (0, base * 4),
        (1, base * 4 + "tail one"),
        (2, base * 4 + "tail two"),
        (7, "completely different content about spark shuffles and joins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = SPEC_STEPS["dedup_minhash"](
        docs, {"threshold": 0.5}, {"text_col": "text", "id_col": "doc_id"}
    )
    pairs = minhash_near_duplicates(
        docs, col="text", id_col="doc_id", threshold=0.5
    )
    want = keep_representatives(docs, pairs, id_col="doc_id")
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )
    # the unique doc always survives; dup cluster keeps its minimum
    kept = {r["doc_id"] for r in got.collect()}
    assert 7 in kept and 0 in kept and len(kept) < 4


def test_curate_job_budget(spark, corpus, tmp_path):
    """``curate`` runs three actions: the skew guard's ``first()``, the
    capped pair collect and the sketch scan.  With ``deduped`` pinned
    they took 25 Spark jobs in each of 20 runs over this corpus read
    from parquet (ten fresh sessions, two runs each).  Unpinned they
    took 28 in 20 runs: MinHash, the loser anti-join and the sketch
    scan each re-ran the scan, the quality regexes and the exact-dedup
    shuffles.  Clustering
    by distributed label propagation took 60-61 jobs, four of them
    label-round ``localCheckpoint``s.  Below ``SMALL_GRAPH_EDGES`` no
    ``localCheckpoint`` job runs."""
    from sketchlib.pipeline import curate

    src = str(tmp_path / "docs")
    spark.createDataFrame(corpus, "doc_id long, text string").coalesce(
        1
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("curate-job-budget", "curate", False)
    try:
        curated, _ = curate(docs, quality_min=0.2, near_dup_threshold=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("curate-job-budget")
    stages = [
        st.getStageInfo(s).name
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None
    ]
    assert 0 < len(jobs) <= 25, len(jobs)
    assert not [n for n in stages if n.startswith("localCheckpoint")]
    # the sketch scan (and any later action) reads the pinned deduped
    # from the cache, not from a second parquet scan
    scan = curated.select("quality_score", "ws_tokens", "doc_id")
    leaves = scan._jdf.queryExecution().sparkPlan().collectLeaves()
    kinds = {
        leaves.apply(i).getClass().getSimpleName()
        for i in range(leaves.size())
    }
    assert "InMemoryTableScanExec" in kinds, kinds
    assert "FileSourceScanExec" not in kinds, kinds
