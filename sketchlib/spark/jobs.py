"""spark-submit entrypoints.

Packaging (north rule):

    python -m sketchlib.spark.jobs package          # -> dist/sketchlib.zip
    spark-submit --py-files dist/sketchlib.zip \
        $(python -c 'import sketchlib.spark.jobs as j; print(j.__file__)') \
        build --input /path/to/table --col tokens --kind array \
        --sketch tdigest --checkpoint /tmp/ckpt --lineage-col doc_id

Jobs (each prints one JSON line; all but query and package run on Spark):
  build        one sketch over a column, optionally checkpointed/resumed
  query        estimates from a saved sketch state file
  datagen      materialize the deterministic token-sequence table
  mix          token-budget mixing: per-source document prefixes
  hh           heavy hitters, global or per group
  pack         materialize packed training windows
  decontam     drop train rows that share shingles with an eval set
  score        append unigram log-prob and/or n-gram novelty columns
  split        deterministic train/val/test split in one scan
  rank         exact global curriculum ordering (and shards)
  lsh-dedup    MinHash+LSH near-dedup, one representative per cluster
  bpe          learn (or reuse) BPE merges and encode every document
  rollup       tumbling/sliding time-window rollup
  pipeline     run a declarative curation spec (sketchlib.pipeline)
  span-dedup   scrub duplicated w-word spans
  ngram-dedup  exact n-gram Jaccard near-duplicate pairs
  overlap      pairwise per-group theta-sketch overlap matrix
  package      zip the library for --py-files
"""

from __future__ import annotations

import argparse
import json
import os
import zipfile

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from sketchlib import dedup, serde
from sketchlib.core import BloomFilter, CountMinSketch, HyperLogLog
from sketchlib.dedup.cluster import keep_representatives
from sketchlib.pipeline import run_pipeline_spec
from sketchlib.spark import api
from sketchlib.spark.aggregate import sketch_column
from sketchlib.spark.checkpoint import run_checkpointed
from sketchlib.spark.datagen import token_sequences
from sketchlib.spark.io import read_table
from sketchlib.spark.session import get_spark
from sketchlib.spark.sessions import rollup_time_windows
from sketchlib.text import bpe_encode, ngram_novelty, train_bpe, unigram_logprob

_FORMATS = ("auto", "parquet", "iceberg", "jsonl", "csv")
# argument groups a job names in @_job, declared once for every job that
# takes them; a job that takes --master runs on Spark, the others start
# no session
_GROUPS = {
    "src": [("--input", {"required": True}),
            ("--format", {"default": "auto", "choices": _FORMATS})],
    "dst": [("--output", {"required": True})],
    "spark": [("--master", {"default": None})],
    "docs": [("--col", {"default": "text"}),
             ("--id-col", {"default": "doc_id"})],
    "seed": [("--seed", {"type": int, "default": 42})],
    "quantiles": [("--quantiles", {"default": "0.01,0.25,0.5,0.75,0.99"})],
    "hash-grams": [("--hash-grams", {
        "action": "store_true",
        "help": "use 8-byte xxhash64 gram keys (~G(G-1)/2^65 expected "
        "collisions for G distinct grams; see sketchlib/text/grams.py)",
    })],
}
_JOBS: dict = {}


def _job(name: str, *groups: str, args=()):
    """Register ``fn(spark, df, args)`` as subcommand ``name``, taking the
    named argument groups plus its own ``(flag, add_argument kwargs)``."""

    def register(fn):
        _JOBS[name] = (fn, [a for g in groups for a in _GROUPS[g]] + list(args))
        return fn

    return register


def _run(args) -> None:
    """The skeleton: use the active session (left running) or start one
    (stopped here), read --input, run the job, print its report as one
    JSON line."""
    spark = owned = None
    if "master" in args:
        spark = SparkSession.getActiveSession()
        owned = spark is None
        if owned:
            spark = get_spark(master=args.master)
    try:
        df = read_table(spark, args.input, args.format) if "input" in args else None
        print(json.dumps(args.fn(spark, df, args), default=str))
    finally:
        if owned:
            spark.stop()


def _write(frame: DataFrame, output: str, counts=None, partition_by=None,
           pins=()) -> dict:
    """Write ``frame`` to ``output`` as parquet and return the values
    observed on that one action: ``rows`` plus the aggregates named in
    ``counts`` (NULL read as 0).  ``pins``, the frames persisted for the
    write, are unpersisted after it."""
    obs = Observation()
    frame = frame.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        *[c.alias(n) for n, c in (counts or {}).items()],
    )
    writer = frame.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    try:
        writer.parquet(output)
    finally:
        for p in pins:
            p.unpersist()
    return {k: 0 if v is None else v for k, v in obs.get.items()}


def _csv(value: str | None) -> list | None:
    return value.split(",") if value else None


def _weights(value: str) -> dict:
    return {k: float(v) for k, v in (p.split("=", 1) for p in value.split(","))}


def _quantiles(sk, probs: str) -> dict:
    qs = [float(q) for q in probs.split(",")]
    vals = np.atleast_1d(sk.value_at_quantile(np.array(qs)))
    return dict(zip(map(str, qs), map(float, vals)))


@_job("build", "src", "spark", "seed", "quantiles", args=[
    ("--col", {"required": True}),
    ("--kind", {"default": "auto",
                "choices": ["auto", "double", "array", "hash64", "array_hash"]}),
    ("--sketch", {"default": "tdigest",
                  "choices": ["tdigest", "kll", "dd", "hll", "cms", "bloom"]}),
    ("--delta", {"type": float, "default": 2000.0}),
    ("--scale", {"default": "k2"}),
    ("--k", {"type": int, "default": 200}),
    ("--alpha", {"type": float, "default": 0.01}),
    ("--max-bins", {"type": int, "default": 2048}),
    ("--p", {"type": int, "default": 14}),
    ("--depth", {"type": int, "default": 5}),
    ("--width", {"type": int, "default": 16384}),
    ("--m-bits", {"type": int, "default": 1 << 23}),
    ("--bloom-k", {"type": int, "default": 7}),
    ("--checkpoint", {"default": None}),
    ("--lineage-col", {"default": None}),
    ("--n-lineage", {"type": int, "default": 64}),
    ("--no-resume", {"action": "store_true"}),
    ("--save-state", {"default": None}),
])
def job_build(spark, df, args):
    """Build one sketch over --col, checkpointed per lineage with
    --checkpoint.  The engine follows the input's plan: a bare parquet
    scan (a parquet path, or a jar-free Iceberg directory) builds on the
    direct pyarrow kernel, anything else on the JVM."""
    quantile = args.sketch in ("tdigest", "kll", "dd")
    if quantile:
        factory = api._quantile_factory(
            args.sketch, delta=args.delta, scale=args.scale, k=args.k,
            seed=args.seed, alpha=args.alpha, max_bins=args.max_bins,
        )
    else:
        factory = {
            "hll": lambda: HyperLogLog(p=args.p),
            "cms": lambda: CountMinSketch(depth=args.depth, width=args.width),
            "bloom": lambda: BloomFilter(m_bits=args.m_bits, k=args.bloom_k),
        }[args.sketch]
    kind = args.kind
    if kind == "auto":
        kind = "double" if quantile else "hash64"
    elif kind == "array" and not quantile:
        kind = "array_hash"

    metrics = {}
    if args.checkpoint:
        sk, metrics = run_checkpointed(
            spark, df, args.col, factory, checkpoint_dir=args.checkpoint,
            lineage_col=args.lineage_col or args.col, kind=kind,
            sketch_kind=args.sketch, n_lineage=args.n_lineage,
            resume=not args.no_resume,
        )
    else:
        sk = sketch_column(df, args.col, factory, kind)

    out: dict = {"sketch": args.sketch, "col": args.col, "metrics": metrics}
    if sk is None:
        out["empty"] = True
    elif quantile:
        out["quantiles"] = _quantiles(sk, args.quantiles)
        out["count"] = float(sk.count)
    elif args.sketch == "hll":
        out["estimate"] = sk.estimate()
    else:
        out["total"] = getattr(sk, "total", getattr(sk, "n_added", None))
    if sk is not None:
        out["state_bytes"] = sk.owned_size()
        if args.save_state:
            with open(args.save_state, "wb") as f:
                f.write(sk.to_bytes())
    return out


@_job("query", "quantiles", args=[
    ("--state", {"required": True}),
    ("--values", {"default": None}),
])
def job_query(spark, df, args):
    """Query a saved sketch state file (no Spark needed)."""
    with open(args.state, "rb") as f:
        sk = serde.from_bytes(f.read())
    out: dict = {"kind": type(sk).__name__, "state_bytes": sk.owned_size()}
    if args.quantiles and hasattr(sk, "value_at_quantile"):
        out["quantiles"] = _quantiles(sk, args.quantiles)
    if args.values and hasattr(sk, "quantile_at_value"):
        vs = [float(v) for v in args.values.split(",")]
        ranks = [float(np.atleast_1d(sk.quantile_at_value(v))[0]) for v in vs]
        out["ranks"] = dict(zip(map(str, vs), ranks))
    if hasattr(sk, "estimate"):
        out["estimate"] = sk.estimate()
    if hasattr(sk, "count"):
        c = sk.count
        out["count"] = float(c() if callable(c) else c)
    return out


@_job("datagen", "dst", "spark", "seed", args=[
    ("--rows", {"type": int, "required": True}),
])
def job_datagen(spark, df, args):
    """Materialize the deterministic token-sequence table."""
    _write(token_sequences(spark, args.rows, seed=args.seed), args.output)
    return {"rows": args.rows, "output": args.output}


@_job("mix", "src", "dst", "spark", "seed", args=[
    ("--budgets", {"required": True, "help": "src=tokens[,src=tokens...]"}),
    ("--source-col", {"default": "source"}),
    ("--size-col", {"default": "n_tok"}),
    ("--order-col", {"default": None}),
])
def job_mix(spark, df, args):
    """Token-budget mixing: select per-source document prefixes and
    write the curated table (the production shape of
    ``sample_by_token_budget``)."""
    budgets = _weights(args.budgets)
    picked = api.sample_by_token_budget(
        df, budgets, source_col=args.source_col, size_col=args.size_col,
        order_col=args.order_col, seed=args.seed,
    )
    got = _write(picked, args.output, {"tokens": F.sum(F.col(args.size_col))})
    return {"output": args.output, "budgets": budgets, "rows": got["rows"],
            "tokens": float(got["tokens"])}


@_job("pack", "src", "dst", "spark", "seed", args=[
    ("--seq-len", {"type": int, "required": True}),
    ("--tokens-col", {"default": "tokens"}),
    ("--text-col", {"default": None,
                    "help": "whitespace-tokenize this column instead"}),
    ("--order-col", {"default": None}),
    ("--group-col", {"default": None}),
])
def job_pack(spark, df, args):
    """Materialize packed training windows (the production shape of
    ``materialize_packed``): tokenize (array column, or whitespace on
    --text-col), pack at --seq-len, write parquet windows."""
    tokens_col = args.tokens_col
    if args.text_col:
        df = df.withColumn("__toks", F.split(F.col(args.text_col), " "))
        tokens_col = "__toks"
    packed = api.materialize_packed(
        df, tokens_col, args.seq_len, order_col=args.order_col,
        group_col=args.group_col, seed=args.seed,
    )
    got = _write(packed, args.output, {
        "tokens": F.sum("n_tokens"),
        "full": F.sum((F.col("n_tokens") == args.seq_len).cast("long")),
    })
    return {"output": args.output, "seq_len": args.seq_len,
            "windows": got["rows"], "tokens": got["tokens"],
            "full_windows": got["full"]}


@_job("split", "src", "dst", "spark", "seed", args=[
    ("--weights", {"required": True,
                   "help": "name=w[,name=w...] e.g. train=0.98,val=0.01,test=0.01"}),
    ("--key-cols", {"default": None,
                    "help": "comma-separated; default: all columns"}),
])
def job_split(spark, df, args):
    """Deterministic train/val/test split in ONE input scan: label
    every row with its split and write partitioned by the label
    (--output/split=<name>/...).  Writing N filtered frames instead
    would scan the input N times — the 0.98-weight train split alone
    re-reads everything."""
    weights = _weights(args.weights)
    labelled = api.with_split_label(
        df, weights, key_cols=_csv(args.key_cols), seed=args.seed
    )
    got = _write(labelled, args.output, {
        name: F.sum((F.col("split") == name).cast("long")) for name in weights
    }, partition_by="split")
    return {"output": args.output, "weights": weights,
            "rows": {name: got[name] for name in weights}, "total": got["rows"]}


@_job("rank", "src", "dst", "spark", "seed", args=[
    ("--order-col", {"required": True}),
    ("--tie-cols", {"default": None,
                    "help": "comma-separated unique tie-break key(s)"}),
    ("--n-shards", {"type": int, "default": None}),
])
def job_rank(spark, df, args):
    """Exact global curriculum ordering: append rank (and shard when
    --n-shards is set) and write the ordered table."""
    ranked = api.with_global_rank(
        df, args.order_col, tie_cols=_csv(args.tie_cols) or (),
        n_shards=args.n_shards, seed=args.seed,
    )
    got = _write(ranked, args.output, {"max_rank": F.max("rank")},
                 partition_by="shard" if args.n_shards else None)
    out = {"output": args.output, "rows": got["rows"],
           "max_rank": got["max_rank"]}
    if got["max_rank"] != got["rows"]:
        out["warning"] = "max_rank != rows (non-total order?)"
    return out


@_job("lsh-dedup", "src", "dst", "spark", "docs", args=[
    ("--threshold", {"type": float, "default": 0.8}),
    ("--num-perm", {"type": int, "default": 64}),
    ("--shingle-w", {"type": int, "default": 3}),
    ("--bands", {"type": int, "default": 16}),
    ("--rows-per-band", {"type": int, "default": 4}),
    ("--seed", {"type": int, "default": 1}),
])
def job_lsh_dedup(spark, df, args):
    """End-to-end MinHash+LSH near-dedup: detect near-duplicate pairs,
    cluster them transitively, keep one representative per cluster,
    write the deduplicated corpus."""
    pairs = dedup.minhash_near_duplicates(
        df, col=args.col, id_col=args.id_col,
        threshold=args.threshold, num_perm=args.num_perm,
        shingle_w=args.shingle_w, bands=args.bands,
        rows_per_band=args.rows_per_band, seed=args.seed,
    )
    kept = keep_representatives(df, pairs, id_col=args.id_col)
    n_out = _write(kept, args.output)["rows"]
    n_in = df.count()
    return {"output": args.output, "rows_in": n_in, "rows_out": n_out,
            "removed": n_in - n_out, "threshold": args.threshold}


@_job("bpe", "src", "dst", "spark", args=[
    ("--col", {"default": "text"}),
    ("--num-merges", {"type": int, "default": 4096}),
    ("--max-words", {"type": int, "default": 65536}),
    ("--merges-file", {"default": None,
                       "help": "reuse (if it exists) or save the merge table here"}),
])
def job_bpe(spark, df, args):
    """Tokenize a corpus with BPE: learn merges (one word-count agg +
    driver merge loop), encode every document, write parquet with the
    piece arrays; the merge table is saved as JSON next to the output
    for reuse on later snapshots."""
    for p in (args.output, args.merges_file or ""):
        if "://" in p:
            raise ValueError(
                "bpe merges persistence uses the local filesystem; "
                f"remote URI not supported here: {p!r}"
            )
    trained = not (args.merges_file and os.path.exists(args.merges_file))
    if trained:
        merges = train_bpe(
            df, col=args.col, num_merges=args.num_merges,
            max_words=args.max_words,
        )
    else:
        with open(args.merges_file) as fh:
            merges = [tuple(p) for p in json.load(fh)]
    merges_path = args.merges_file or os.path.join(
        args.output, "_bpe_merges.json"
    )
    got = _write(bpe_encode(df, merges, col=args.col), args.output,
                 {"pieces": F.sum(F.size("bpe_tokens"))})
    # ALWAYS (re)write after the parquet write: mode('overwrite') just
    # wiped the output dir, so a reused merges file living inside it
    # would otherwise be deleted while the metrics line still points
    # at it
    with open(merges_path, "w") as fh:
        json.dump([list(p) for p in merges], fh)
    return {
        "output": args.output, "merges": len(merges),
        "merges_file": merges_path, "trained": trained,
        "rows": got["rows"], "pieces": got["pieces"],
    }


@_job("rollup", "src", "dst", "spark", args=[
    ("--ts-col", {"default": "ts"}),
    ("--value-col", {"default": "value"}),
    ("--width", {"required": True, "help": 'e.g. "15 minutes"'}),
    ("--slide", {"default": None}),
    ("--start-time", {"default": None}),
    ("--by", {"default": None, "help": "comma-separated keys"}),
])
def job_rollup(spark, df, args):
    """Materialize a tumbling-window rollup (downsampling job): count,
    sum, min, max of --value-col per --width window (and --by key),
    written as parquet."""
    aggs = {
        "n": F.count(F.lit(1)),
        "total": F.sum(args.value_col),
        "lo": F.min(args.value_col),
        "hi": F.max(args.value_col),
    }
    out = rollup_time_windows(
        df, args.ts_col, args.width, aggs, by=_csv(args.by),
        slide=args.slide, start_time=args.start_time,
    )
    return {"output": args.output, "width": args.width,
            "windows": _write(out, args.output)["rows"]}


@_job("pipeline", "spark", args=[
    ("--spec", {"required": True, "help": "JSON pipeline spec"}),
    ("--input", {"default": None, "help": "overrides spec.input"}),
    ("--output", {"default": None, "help": "overrides spec.output"}),
    ("--format", {"default": None, "choices": _FORMATS}),
])
def job_pipeline(spark, df, args):
    """Run a declarative curation pipeline from a JSON spec file (see
    sketchlib.pipeline.SPEC_STEPS for the available ops), write the
    result, and print per-step row counts — all counted on the single
    write action.  The inputs of multi-reference steps are persisted
    for that one write (``run_pipeline_spec``'s ``pins``)."""
    pins: list = []
    out, counters = run_pipeline_spec(df, args.spec, pins=pins)
    _write(out, args.output, pins=pins,
           partition_by="split" if "split" in out.columns else None)
    steps = {label: int(obs.get["rows"]) for label, obs in counters}
    return {"output": args.output, "steps": steps}


@_job("span-dedup", "src", "dst", "spark", "docs", "hash-grams", args=[
    ("--span-w", {"type": int, "default": 5}),
    ("--min-count", {"type": int, "default": 2}),
])
def job_spandedup(spark, df, args):
    """Exact duplicate-passage removal: rewrite the corpus with every
    duplicated w-word span scrubbed; report words removed."""
    out = dedup.remove_duplicate_spans(
        df, col=args.col, id_col=args.id_col, w=args.span_w,
        min_count=args.min_count, hash_grams=args.hash_grams,
    )
    got = _write(out, args.output, {
        "removed_words": F.sum("n_removed"),
        "scrubbed_empty": F.sum(F.when(F.col(args.col) == "", 1).otherwise(0)),
    })
    return {"output": args.output, "w": args.span_w, "rows": got["rows"],
            "removed_words": got["removed_words"],
            "scrubbed_empty": got["scrubbed_empty"]}


@_job("ngram-dedup", "src", "dst", "spark", "docs", "hash-grams", args=[
    ("--gram-w", {"type": int, "default": 3}),
    ("--threshold", {"type": float, "default": 0.5}),
    ("--method", {"default": "auto", "choices": ["auto", "index", "prefix"]}),
])
def job_ngram_dedup(spark, df, args):
    """Exact n-gram Jaccard near-dup pairs: write (id_a, id_b,
    jaccard) and report the pair count."""
    pairs = dedup.ngram_jaccard_pairs(
        df, col=args.col, id_col=args.id_col, w=args.gram_w,
        threshold=args.threshold, method=args.method,
        hash_grams=args.hash_grams,
    )
    return {"output": args.output, "w": args.gram_w,
            "threshold": args.threshold,
            "pairs": _write(pairs, args.output)["rows"]}


@_job("decontam", "src", "dst", "spark", "docs", args=[
    ("--eval", {"required": True}),
    ("--shingle-w", {"type": int, "default": 5}),
    ("--threshold", {"type": int, "default": 1}),
    ("--method", {"default": "exact", "choices": ["exact", "bloom"]}),
])
def job_decontam(spark, df, args):
    """Eval-set decontamination: write the surviving train rows and
    report kept/removed counts."""
    kept = dedup.decontaminate(
        df, read_table(spark, args.eval, args.format), col=args.col,
        id_col=args.id_col, shingle_w=args.shingle_w,
        threshold=args.threshold, method=args.method,
    )
    # the kept count rides the write action; the total is one
    # zero-payload count over the input — an input-side observation
    # would double-count in the exact method, whose plan reads the
    # train frame on both join sides
    n_kept = _write(kept, args.output)["rows"]
    return {"output": args.output, "method": args.method,
            "kept": n_kept, "removed": df.count() - n_kept}


@_job("score", "src", "dst", "spark", "docs", "hash-grams", args=[
    ("--metrics", {"default": "logprob,novelty",
                   "help": "comma-separated subset of logprob,novelty"}),
    ("--shingle-w", {"type": int, "default": 5}),
    ("--tokens", {"action": "store_true",
                  "help": "score a token-array column instead of text"}),
])
def job_score(spark, df, args):
    """Curation scoring: append unigram-LM log-prob and/or n-gram
    novelty columns, write the scored table, report score quantiles
    as one JSON line."""
    metrics = args.metrics.split(",")
    if set(metrics) - {"logprob", "novelty"}:
        raise SystemExit(f"unknown metrics in {args.metrics!r}")
    if "logprob" in metrics:
        # id_col enables the large-vocab explode+join fallback
        df = unigram_logprob(df, args.col, tokens=args.tokens, id_col=args.id_col)
    if "novelty" in metrics:
        df = ngram_novelty(
            df, col=args.col, id_col=args.id_col, w=args.shingle_w,
            tokens=args.tokens, hash_grams=args.hash_grams,
        )
    summary = {"output": args.output, "rows": _write(df, args.output)["rows"]}
    # coarse score quantiles over the just-written output (one cheap
    # scan of the score columns, not a recompute)
    out_df = spark.read.parquet(args.output)
    for m, c in (("logprob", "avg_logprob"), ("novelty", "novelty")):
        if m in metrics:
            qs = out_df.approxQuantile(c, [0.1, 0.5, 0.9], 1e-3)
            summary[f"{c}_p10_p50_p90"] = [round(x, 4) for x in qs]
    return summary


@_job("hh", "src", "spark", args=[
    ("--col", {"required": True}),
    ("--group-by", {"default": None}),
    ("--topk", {"type": int, "default": 10}),
    ("--capacity", {"type": int, "default": 4096}),
])
def job_hh(spark, df, args):
    """Heavy hitters (global or per-group) as one JSON line."""
    if args.group_by:
        top = api.grouped_heavy_hitters(
            df, _csv(args.group_by), args.col, k=args.topk,
            capacity=args.capacity,
        )
    else:
        top = api.heavy_hitters(df, args.col, k=args.topk, capacity=args.capacity)
    return {"col": args.col, "top": [r.asDict() for r in top.collect()]}


@_job("overlap", "src", "spark", args=[
    ("--group-by", {"required": True}),
    ("--col", {"required": True}),
    ("--k", {"type": int, "default": 4096}),
    ("--array", {"action": "store_true"}),
])
def job_overlap(spark, df, args):
    """Pairwise per-group overlap matrix (theta-sketch set algebra)
    as one JSON line — ``--array`` treats --col as a token array."""
    rows = api.overlap_matrix(
        df, args.group_by, args.col, k=args.k, is_array=args.array
    ).collect()
    return {"group_by": args.group_by, "col": args.col, "k": args.k,
            "pairs": [r.asDict() for r in rows]}


@_job("package", args=[("--output", {"default": None})])
def job_package(spark, df, args):
    """Zip the library for --py-files (no Spark needed)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo = os.path.dirname(root)
    out = args.output or os.path.join(repo, "dist", "sketchlib.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, repo)
                    zf.write(full, rel)
    return {"zip": out}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="sketchlib.spark.jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name, (fn, args) in _JOBS.items():
        p = sub.add_parser(name, description=fn.__doc__)
        for flag, kw in args:
            p.add_argument(flag, **kw)
        p.set_defaults(fn=fn)
    args = ap.parse_args(argv)
    if args.cmd == "pipeline":  # --input/--format/--output override the spec's
        with open(args.spec) as fh:
            args.spec = json.load(fh)
        args.input = args.input or args.spec["input"]
        args.format = args.format or args.spec.get("format", "auto")
        args.output = args.output or args.spec["output"]
    _run(args)


if __name__ == "__main__":
    main()
