"""End-to-end training-data curation pipeline.

Composes the library's operators into the standard curation flow:

  annotate (token stats + quality + language)   [Catalyst expressions]
    -> quality filter                           [pushed-down predicate]
    -> exact dedup                              [hash-groupBy, keep min id]
    -> MinHash+LSH near-dedup                   [keep the smaller id of a pair]
    -> summary sketches over the survivors      [single scan, all sketches]

Returns (curated DataFrame, report dict).  Every drop decision keeps
the minimum id, so the pipeline is deterministic and idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sketchlib.core.hll import HyperLogLog
from sketchlib.core.tdigest import TDigest
from sketchlib.dedup.exact import exact_duplicate_groups
from sketchlib.dedup.minhash import minhash_near_duplicates
from sketchlib.spark.aggregate import KIND_DOUBLE, KIND_HASH64, sketch_columns
from sketchlib.text.analysis import language_id, with_quality, with_token_stats


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_min: float = 0.2,
    near_dup_threshold: float = 0.7,
    annotate_language: bool = True,
    run_near_dedup: bool = True,
) -> tuple[DataFrame, dict]:
    """Run the curation flow; returns (curated_df, report).

    Three actions run: the LSH skew guard's ``first()`` and the capped
    pair collect of ``keep_representatives`` (both only with
    ``run_near_dedup``), and the final sketch scan.  All four stage
    row-counts ride ``observe()`` metric nodes on the one lineage —
    separate ``count()`` actions would re-scan progressively filtered
    data four times, which at 100 TB is four redundant passes.

    ``deduped`` (the rows after the quality filter and the exact-dedup
    anti-join, with the ``obs_in`` / ``obs_exact`` nodes) is persisted:
    MinHash, the final anti-join against the near-dup losers, the
    sketch scan and the caller's own actions all read it, and each
    would otherwise re-run the scan, the quality regexes and the
    exact-dedup shuffles.  The first action (the skew guard's
    ``first()``, or the sketch scan without ``run_near_dedup``) fills
    the cache and with it ``obs_in`` / ``obs_exact``; the sketch scan
    fills ``obs_near``.  The pinned frame stays cached until
    ``spark.catalog.clearCache()`` — callers that loop many corpora
    through one session should clear it between runs, as for
    ``sub_split_buckets``."""
    annotated = with_quality(with_token_stats(docs, text_col), text_col)
    if annotate_language:
        annotated = language_id(annotated, text_col)

    # input + post-filter counts share one metric node (1:1 transforms
    # above mean rows(annotated) == rows(docs))
    obs_in = Observation()  # anonymous: auto-unique name, safe when a curate
    # output feeds another curate (lineage carries old metric nodes)
    annotated = annotated.observe(
        obs_in,
        F.count(F.lit(1)).alias("input_rows"),
        F.sum(
            (F.col("quality_score") >= quality_min).cast("long")
        ).alias("after_quality_filter"),
    )
    filtered = annotated.filter(F.col("quality_score") >= quality_min)

    # exact dedup: drop every member except the minimum id
    groups = exact_duplicate_groups(filtered, col=text_col, id_col=id_col)
    # size-derived slice length: a fixed cap would silently KEEP the
    # excess copies of any duplicate group larger than the cap
    # (boilerplate/empty-text groups exceed millions at corpus scale)
    drop_exact = groups.select(
        F.explode(
            F.expr("slice(ids, 2, greatest(size(ids) - 1, 0))")
        ).alias(id_col)
    )
    obs_exact = Observation()
    # pinned (MULTI_REF_STEPS rule): read by MinHash, by the anti-join
    # against the losers and by every later action on the output
    deduped = filtered.join(drop_exact, id_col, "anti").observe(
        obs_exact, F.count(F.lit(1)).alias("after_exact_dedup")
    ).persist()

    if run_near_dedup:
        # cluster-consistent: keep one doc per connected component —
        # pairwise greatest(id_a,id_b) dropping over-removes on chains
        from sketchlib.dedup.cluster import keep_representatives

        pairs = minhash_near_duplicates(
            deduped, col=text_col, id_col=id_col, threshold=near_dup_threshold
        )
        curated = keep_representatives(deduped, pairs, id_col=id_col)
    else:
        curated = deduped
    obs_near = Observation()
    curated = curated.observe(
        obs_near, F.count(F.lit(1)).alias("after_near_dedup")
    )

    sketches = sketch_columns(
        curated,
        {
            "quality_score": (lambda: TDigest(delta=500), KIND_DOUBLE),
            "ws_tokens": (lambda: TDigest(delta=500), KIND_DOUBLE),
            id_col: (lambda: HyperLogLog(p=13), KIND_HASH64),
        },
    )
    # the sketch scan above is the last action: every metric is filled
    report: dict = {**obs_in.get, **obs_exact.get, **obs_near.get}
    report["after_quality_filter"] = int(report["after_quality_filter"] or 0)
    report["quality_p50"] = float(sketches["quality_score"].value_at_quantile(0.5))
    report["ws_tokens_p50"] = float(sketches["ws_tokens"].value_at_quantile(0.5))
    report["ws_tokens_p99"] = float(sketches["ws_tokens"].value_at_quantile(0.99))
    report["distinct_ids_est"] = float(sketches[id_col].estimate())
    report["sketches"] = {k: v.to_bytes() for k, v in sketches.items()}
    return curated, report


# ---------------------------------------------------------------- spec runner


def _step_normalize(df, p, ctx):
    from sketchlib.text.normalize import normalize_text

    return normalize_text(
        df, col=ctx["text_col"], nfc=bool(p.get("nfc", True))
    )


def _step_token_stats(df, p, ctx):
    return with_token_stats(df, ctx["text_col"])


def _step_quality_filter(df, p, ctx):
    out = df if "quality_score" in df.columns else with_quality(
        df, ctx["text_col"]
    )
    return out.filter(F.col("quality_score") >= float(p["min_score"]))


def _step_language_filter(df, p, ctx):
    out = df if "lang" in df.columns else language_id(df, ctx["text_col"])
    return out.filter(F.col("lang").isin(list(p["keep"])))


def _step_dedup_exact(df, p, ctx):
    groups = exact_duplicate_groups(
        df, col=ctx["text_col"], id_col=ctx["id_col"]
    )
    drop = groups.select(
        F.explode(
            F.expr("slice(ids, 2, greatest(size(ids) - 1, 0))")
        ).alias(ctx["id_col"])
    )
    return df.join(drop, ctx["id_col"], "anti")


def _step_dedup_minhash(df, p, ctx):
    # cluster-consistent removal (same semantics as job_lsh_dedup):
    # naive greatest(id_a,id_b) dropping over-removes on chains — in
    # A<B<C with pairs (A,B),(B,C) it deletes C even though its only
    # detected near-dup B is gone too.  keep_representatives keeps one
    # doc per connected component instead.
    from sketchlib.dedup.cluster import keep_representatives

    pairs = minhash_near_duplicates(
        df, col=ctx["text_col"], id_col=ctx["id_col"],
        threshold=float(p.get("threshold", 0.8)),
    )
    return keep_representatives(df, pairs, id_col=ctx["id_col"])


def _step_decontaminate(df, p, ctx):
    from sketchlib.dedup.decontaminate import decontaminate

    if "eval_filter" in p:
        # eval set = a SQL-predicate slice of the step input (e.g. a
        # held-out doc_id range of the same corpus); engine-portable
        # and spec-serializable
        eval_df = df.filter(F.expr(p["eval_filter"]))
    else:
        from sketchlib.spark.io import read_table

        eval_df = read_table(
            df.sparkSession, p["eval_path"], p.get("format", "auto")
        )
    tokens = bool(p.get("tokens", False))
    return decontaminate(
        df, eval_df,
        col=ctx["tokens_col"] if tokens else ctx["text_col"],
        id_col=ctx["id_col"],
        shingle_w=int(p.get("shingle_w", 5)),
        method=p.get("method", "exact"),
        tokens=tokens,
    )


def _step_sql_select(df, p, ctx):
    # engine-portable projection: the spec carries plain SQL
    # expressions (run through Catalyst here, mirrorable verbatim by
    # any SQL oracle)
    return df.selectExpr(*list(p["exprs"]))


def _step_bpe_encode(df, p, ctx):
    # trains the merge table EAGERLY (one distributed word-count
    # aggregate + the driver-side merge loop) on the step input —
    # the only non-lazy step; encode itself is a lazy Arrow kernel.
    # Downstream tokens-mode steps read ctx["tokens_col"].
    from sketchlib.text.bpe import EOW, bpe_encode, train_bpe

    eow = p.get("eow", EOW)
    merges = train_bpe(
        df, col=ctx["text_col"],
        num_merges=int(p.get("num_merges", 256)),
        max_words=int(p.get("max_words", 65536)),
        eow=eow,
    )
    out_col = p.get("out_col", "bpe_tokens")
    ctx["tokens_col"] = out_col
    return bpe_encode(
        df, merges, col=ctx["text_col"], out_col=out_col, eow=eow
    )


def _step_dedup_spans(df, p, ctx):
    from sketchlib.dedup.spans import remove_duplicate_spans

    tokens = bool(p.get("tokens", False))
    return remove_duplicate_spans(
        df,
        col=ctx["tokens_col"] if tokens else ctx["text_col"],
        id_col=ctx["id_col"],
        w=int(p.get("w", 5)),
        min_count=int(p.get("min_count", 2)),
        tokens=tokens,
    )


def _step_materialize_packed(df, p, ctx):
    # terminal layout step: output schema becomes
    # [group_col?, seq_id, n_tokens, tokens]
    from sketchlib.spark.api import materialize_packed

    return materialize_packed(
        df, tokens_col=ctx["tokens_col"], seq_len=int(p["seq_len"]),
        order_col=p.get("order_col"), group_col=p.get("group_col"),
        seed=int(p.get("seed", 42)),
    )


def _step_pii_redact(df, p, ctx):
    from sketchlib.text.pii import redact_pii

    return redact_pii(df, col=ctx["text_col"])


def _step_stratified_sample(df, p, ctx):
    from sketchlib.spark.api import sample_stratified

    # optional key_sql: a SQL expression string for the keep-decision
    # key (engine-portable specs / cross-engine verification); the
    # production default stays the seeded xxhash64 of the id column
    key = F.expr(p["key_sql"]) if "key_sql" in p else None
    return sample_stratified(
        df, list(p["strata_cols"]), dict(p["fractions"]),
        key_cols=None if key is not None else [ctx["id_col"]],
        seed=int(p.get("seed", 42)),
        default_fraction=float(p.get("default_fraction", 0.0)),
        key_expr=key,
    )


def _step_split(df, p, ctx):
    from sketchlib.spark.api import with_split_label

    key = F.expr(p["key_sql"]) if "key_sql" in p else None
    return with_split_label(
        df, dict(p["weights"]), key_cols=[ctx["id_col"]],
        seed=int(p.get("seed", 42)),
        key_expr=key,
    )


def _step_shuffle(df, p, ctx):
    from sketchlib.spark.api import shuffle_rows

    return shuffle_rows(
        df, seed=int(p.get("seed", 42)), key_cols=[ctx["id_col"]],
        n_shards=p.get("n_shards"),
    )


#: spec-step registry: op name -> (df, params, ctx) -> df.  Every step
#: is a pure DataFrame transform — the runner attaches ONE row-count
#: observation per step, all fired by the single final write action.
SPEC_STEPS = {
    "normalize": _step_normalize,
    "token_stats": _step_token_stats,
    "quality_filter": _step_quality_filter,
    "language_filter": _step_language_filter,
    "dedup_exact": _step_dedup_exact,
    "dedup_minhash": _step_dedup_minhash,
    "decontaminate": _step_decontaminate,
    "pii_redact": _step_pii_redact,
    "stratified_sample": _step_stratified_sample,
    "split": _step_split,
    "shuffle": _step_shuffle,
    "sql_select": _step_sql_select,
    "bpe_encode": _step_bpe_encode,
    "dedup_spans": _step_dedup_spans,
    "materialize_packed": _step_materialize_packed,
}


#: steps whose input the runner persists (``pins``).  Two reasons a
#: step belongs here — both measured, OPTIMIZATION_r08.md:
#:
#: 1. the operator references its input frame MORE THAN ONCE
#:    (anti-join dedup, shingle-join decontamination, span removal,
#:    BPE's eager train + lazy encode).  Without truncation each such
#:    step duplicates the whole upstream subtree in the final plan —
#:    the 5-step tokens pipeline scanned its source 19x with 94
#:    Exchanges: at corpus scale that is 19 full reads.
#: 2. the operator runs MORE THAN ONE QUERY EXECUTION over its input
#:    (materialize_packed: pack_sequences' partition probe + the
#:    caller's action), and — the bigger effect — persisting the input
#:    makes every downstream frame analyze against the registered
#:    cache entry, so the analyzed plans are rooted at the (tiny)
#:    cached relation instead of the full duplicated upstream tree.
#:    Driver-side plan canonicalization of that tree alone cost ~4s
#:    per tokens_pipeline invocation; with the pin the whole
#:    build+action dropped 11.4s -> 5.5s at the 50k-doc scale shape.
#:
#: With ``pins`` each upstream subtree computes once; the caller
#: unpersists after its one materializing action.
MULTI_REF_STEPS = {
    "dedup_exact",
    "dedup_minhash",
    "decontaminate",
    "dedup_spans",
    "bpe_encode",
    "materialize_packed",
}


def run_pipeline_spec(
    docs: DataFrame, spec: dict, pins: list | None = None
) -> tuple[DataFrame, list]:
    """Interpret a declarative curation spec — ``{"steps": [{"op":
    "normalize"}, {"op": "quality_filter", "min_score": 0.2}, ...]}``
    — over a documents frame.  Returns ``(result_df, counters)`` where
    ``counters`` is a list of (step_label, Observation) pairs: each
    step's post-row-count rides an observe() node on the single
    lineage, so ALL stage counts fire with the caller's one
    materializing action (write/count), never one scan per stage.

    Unknown ops fail upfront with the available names.  ``text_col``/
    ``id_col`` default to text/doc_id and flow to every step;
    ``tokens_col`` (default "tokens", reassigned by a ``bpe_encode``
    step's out_col) names the token-array column that tokens-mode
    steps (``decontaminate``/``dedup_spans`` with ``tokens: true``,
    ``materialize_packed``) operate on.

    ``pins`` (optional, recommended for multi-step specs): a caller
    list the runner appends persisted intermediate frames to.  Steps in
    :data:`MULTI_REF_STEPS` reference their input more than once; the
    runner persists those inputs (MEMORY_AND_DISK) so each upstream
    subtree computes ONCE instead of compounding 2^k-style through the
    chain.  The caller MUST unpersist every frame in ``pins`` after its
    materializing action: ``for p in pins: p.unpersist()``.  With
    ``pins=None`` (default) nothing is persisted — the fully lazy
    single-lineage plan of old, correct but with duplicated subtrees."""
    steps = spec.get("steps")
    if not steps:
        raise ValueError("spec.steps must be a non-empty list")
    ctx = {
        "text_col": spec.get("text_col", "text"),
        "id_col": spec.get("id_col", "doc_id"),
        "tokens_col": spec.get("tokens_col", "tokens"),
    }
    unknown = [s["op"] for s in steps if s["op"] not in SPEC_STEPS]
    if unknown:
        raise ValueError(
            f"unknown ops {unknown}; available: {sorted(SPEC_STEPS)}"
        )
    df = docs
    counters: list = []
    for i, step in enumerate(steps):
        if pins is not None and step["op"] in MULTI_REF_STEPS:
            from pyspark.storagelevel import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            pins.append(df)
        df = SPEC_STEPS[step["op"]](df, step, ctx)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        counters.append((f"{i}:{step['op']}", obs))
    return df, counters
