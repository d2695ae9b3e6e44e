"""spark-submit entrypoints.

Packaging (north rule):

    python -m sketchlib.spark.jobs package          # -> dist/sketchlib.zip
    spark-submit --py-files dist/sketchlib.zip \
        $(python -c 'import sketchlib.spark.jobs as j; print(j.__file__)') \
        build --input /path/to/table --col tokens --kind array \
        --sketch tdigest --checkpoint /tmp/ckpt --lineage-col doc_id

Jobs:
  build     build one sketch over a column (optionally checkpointed /
            resumed) on the engine the input's plan picks, print
            estimates as one JSON line
  datagen   materialize the deterministic token-sequence table
  package   zip the library for --py-files
"""

from __future__ import annotations

import argparse
import json
import os

import zipfile


def _make_factory(sketch: str, args):
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.core.kll import KLL
    from sketchlib.core.tdigest import TDigest

    if sketch == "tdigest":
        return lambda: TDigest(delta=args.delta, scale=args.scale)
    if sketch == "kll":
        return lambda: KLL(k=args.k, seed=args.seed)
    if sketch == "dd":
        from sketchlib.core.ddsketch import DDSketch

        return lambda: DDSketch(alpha=args.alpha, max_bins=args.max_bins)
    if sketch == "hll":
        return lambda: HyperLogLog(p=args.p)
    if sketch == "cms":
        return lambda: CountMinSketch(depth=args.depth, width=args.width)
    if sketch == "bloom":
        return lambda: BloomFilter(m_bits=args.m_bits, k=args.bloom_k)
    raise ValueError(sketch)


def _default_kind(sketch: str, kind: str) -> str:
    if kind != "auto":
        return kind
    return "double" if sketch in ("tdigest", "kll", "dd") else "hash64"


def job_build(args) -> None:
    from sketchlib.spark.aggregate import sketch_column
    from sketchlib.spark.checkpoint import run_checkpointed
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    factory = _make_factory(args.sketch, args)
    kind = _default_kind(args.sketch, args.kind)
    if kind == "array" and args.sketch in ("hll", "cms", "bloom"):
        kind = "array_hash"

    # both builds pick the engine from the frame's plan: a bare parquet
    # scan (a parquet path, or an Iceberg directory read jar-free as its
    # live files) runs on the direct kernel, anything else on the JVM
    metrics = {}
    if args.checkpoint:
        sk, metrics = run_checkpointed(
            spark,
            df,
            args.col,
            factory,
            checkpoint_dir=args.checkpoint,
            lineage_col=args.lineage_col or args.col,
            kind=kind,
            sketch_kind=args.sketch,
            n_lineage=args.n_lineage,
            resume=not args.no_resume,
        )
    else:
        sk = sketch_column(df, args.col, factory, kind)

    out: dict = {"sketch": args.sketch, "col": args.col, "metrics": metrics}
    if sk is None:
        out["empty"] = True
    elif args.sketch in ("tdigest", "kll", "dd"):
        qs = [float(q) for q in args.quantiles.split(",")]
        vals = sk.value_at_quantile(__import__("numpy").array(qs))
        out["quantiles"] = dict(zip(map(str, qs), map(float, vals)))
        out["count"] = float(sk.count)
        out["state_bytes"] = sk.owned_size()
    elif args.sketch == "hll":
        out["estimate"] = sk.estimate()
        out["state_bytes"] = sk.owned_size()
    else:
        out["total"] = getattr(sk, "total", getattr(sk, "n_added", None))
        out["state_bytes"] = sk.owned_size()
    if args.save_state and sk is not None:
        with open(args.save_state, "wb") as f:
            f.write(sk.to_bytes())
    print(json.dumps(out))
    spark.stop()


def job_query(args) -> None:
    """Query a saved sketch state file (no Spark needed)."""
    import numpy as np

    from sketchlib import serde

    with open(args.state, "rb") as f:
        sk = serde.from_bytes(f.read())
    out: dict = {"kind": type(sk).__name__, "state_bytes": sk.owned_size()}
    if args.quantiles and hasattr(sk, "value_at_quantile"):
        qs = [float(q) for q in args.quantiles.split(",")]
        vals = np.atleast_1d(sk.value_at_quantile(np.array(qs)))
        out["quantiles"] = dict(zip(map(str, qs), map(float, vals)))
    if args.values and hasattr(sk, "quantile_at_value"):
        vs = [float(v) for v in args.values.split(",")]
        ranks = [float(np.atleast_1d(sk.quantile_at_value(v))[0]) for v in vs]
        out["ranks"] = dict(zip(map(str, vs), ranks))
    if hasattr(sk, "estimate"):
        out["estimate"] = sk.estimate()
    if hasattr(sk, "count"):
        c = sk.count
        out["count"] = float(c() if callable(c) else c)
    print(json.dumps(out))


def job_datagen(args) -> None:
    from sketchlib.spark.datagen import token_sequences
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = token_sequences(spark, args.rows, seed=args.seed)
    df.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": args.rows, "output": args.output}))
    spark.stop()


def job_mix(args) -> None:
    """Token-budget mixing: select per-source document prefixes and
    write the curated table (the production shape of
    ``sample_by_token_budget``)."""
    from sketchlib.spark.api import sample_by_token_budget
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    budgets = {}
    for part in args.budgets.split(","):
        src, amount = part.split("=", 1)
        budgets[src] = float(amount)
    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    picked = sample_by_token_budget(
        df, budgets, source_col=args.source_col, size_col=args.size_col,
        order_col=args.order_col, seed=args.seed,
    )
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    picked = picked.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col(args.size_col)).alias("tokens"),
    )
    picked.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "output": args.output, "budgets": budgets,
        "rows": int(obs.get["rows"]), "tokens": float(obs.get["tokens"] or 0),
    }))
    spark.stop()


def job_pack(args) -> None:
    """Materialize packed training windows (the production shape of
    ``materialize_packed``): tokenize (array column, or whitespace on
    --text-col), pack at --seq-len, write parquet windows."""
    from pyspark.sql import Observation, functions as F

    from sketchlib.spark.api import materialize_packed
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    tokens_col = args.tokens_col
    if args.text_col:
        df = df.withColumn("__toks", F.split(F.col(args.text_col), " "))
        tokens_col = "__toks"
    packed = materialize_packed(
        df, tokens_col, args.seq_len, order_col=args.order_col,
        group_col=args.group_col, seed=args.seed,
    )
    obs = Observation()
    packed = packed.observe(
        obs,
        F.count(F.lit(1)).alias("windows"),
        F.sum("n_tokens").alias("tokens"),
        F.sum((F.col("n_tokens") == args.seq_len).cast("long")).alias("full"),
    )
    packed.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "output": args.output, "seq_len": args.seq_len,
        "windows": int(obs.get["windows"]),
        "tokens": int(obs.get["tokens"] or 0),
        "full_windows": int(obs.get["full"] or 0),
    }))
    spark.stop()


def job_split(args) -> None:
    """Deterministic train/val/test split in ONE input scan: label
    every row with its split and write partitioned by the label
    (--output/split=<name>/...).  Writing N filtered frames instead
    would scan the input N times — the 0.98-weight train split alone
    re-reads everything."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.spark.api import with_split_label
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    weights = {}
    for part in args.weights.split(","):
        name, w = part.split("=", 1)
        weights[name] = float(w)
    key_cols = args.key_cols.split(",") if args.key_cols else None
    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    labelled = with_split_label(
        df, weights, key_cols=key_cols, seed=args.seed
    )
    obs = Observation()
    labelled = labelled.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[
            F.sum((F.col("split") == name).cast("long")).alias(name)
            for name in weights
        ],
    )
    labelled.write.mode("overwrite").partitionBy("split").parquet(
        args.output
    )
    got = obs.get
    print(json.dumps({
        "output": args.output, "weights": weights,
        "rows": {name: int(got[name] or 0) for name in weights},
        "total": int(got["rows"]),
    }))
    spark.stop()


def job_rank(args) -> None:
    """Exact global curriculum ordering: append rank (and shard when
    --n-shards is set) and write the ordered table."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.spark.api import with_global_rank
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    tie_cols = args.tie_cols.split(",") if args.tie_cols else ()
    ranked = with_global_rank(
        df, args.order_col, tie_cols=tie_cols,
        n_shards=args.n_shards, seed=args.seed,
    )
    obs = Observation()
    ranked = ranked.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.max("rank").alias("max_rank"),
    )
    writer = ranked.write.mode("overwrite")
    if args.n_shards:
        writer = writer.partitionBy("shard")
    writer.parquet(args.output)
    rows = int(obs.get["rows"])
    out = {"output": args.output, "rows": rows,
           "max_rank": int(obs.get["max_rank"] or 0)}
    if out["max_rank"] != rows:
        out["warning"] = "max_rank != rows (non-total order?)"
    print(json.dumps(out))
    spark.stop()


def job_lsh_dedup(args) -> None:
    """End-to-end MinHash+LSH near-dedup: detect near-duplicate pairs,
    cluster them transitively, keep one representative per cluster,
    write the deduplicated corpus."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.dedup.cluster import keep_representatives
    from sketchlib.dedup.minhash import minhash_near_duplicates
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    docs = read_table(spark, args.input, args.format)
    pairs = minhash_near_duplicates(
        docs, col=args.col, id_col=args.id_col,
        threshold=args.threshold, num_perm=args.num_perm,
        shingle_w=args.shingle_w, bands=args.bands,
        rows_per_band=args.rows_per_band, seed=args.seed,
    )
    kept = keep_representatives(docs, pairs, id_col=args.id_col)
    obs = Observation()
    kept = kept.observe(obs, F.count(F.lit(1)).alias("rows"))
    kept.write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_out = int(obs.get["rows"])
    print(json.dumps({
        "output": args.output, "rows_in": n_in, "rows_out": n_out,
        "removed": n_in - n_out, "threshold": args.threshold,
    }))
    spark.stop()


def job_bpe(args) -> None:
    """Tokenize a corpus with BPE: learn merges (one word-count agg +
    driver merge loop), encode every document, write parquet with the
    piece arrays; the merge table is saved as JSON next to the output
    for reuse on later snapshots."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark
    from sketchlib.text.bpe import bpe_encode, train_bpe

    for p in (args.output, args.merges_file or ""):
        if "://" in p:
            raise ValueError(
                "bpe merges persistence uses the local filesystem; "
                f"remote URI not supported here: {p!r}"
            )
    spark = get_spark(master=args.master)
    docs = read_table(spark, args.input, args.format)
    if args.merges_file and os.path.exists(args.merges_file):
        with open(args.merges_file) as fh:
            merges = [tuple(p) for p in json.load(fh)]
        trained = False
    else:
        merges = train_bpe(
            docs, col=args.col, num_merges=args.num_merges,
            max_words=args.max_words,
        )
        trained = True
    enc = bpe_encode(docs, merges, col=args.col)
    obs = Observation()
    enc = enc.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.size("bpe_tokens")).alias("pieces"),
    )
    enc.write.mode("overwrite").parquet(args.output)
    merges_path = args.merges_file or os.path.join(
        args.output, "_bpe_merges.json"
    )
    # ALWAYS (re)write after the parquet write: mode('overwrite') just
    # wiped the output dir, so a reused merges file living inside it
    # would otherwise be deleted while the metrics line still points
    # at it
    with open(merges_path, "w") as fh:
        json.dump([list(p) for p in merges], fh)
    print(json.dumps({
        "output": args.output, "merges": len(merges),
        "merges_file": merges_path, "trained": trained,
        "rows": int(obs.get["rows"]),
        "pieces": int(obs.get["pieces"] or 0),
    }))
    spark.stop()


def job_rollup(args) -> None:
    """Materialize a tumbling-window rollup (downsampling job): count,
    sum, min, max of --value-col per --width window (and --by key),
    written as parquet."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.sessions import rollup_time_windows

    spark = get_spark(master=args.master)
    ev = read_table(spark, args.input, args.format)
    aggs = {
        "n": F.count(F.lit(1)),
        "total": F.sum(args.value_col),
        "lo": F.min(args.value_col),
        "hi": F.max(args.value_col),
    }
    by = args.by.split(",") if args.by else None
    out = rollup_time_windows(
        ev, args.ts_col, args.width, aggs, by=by, slide=args.slide,
        start_time=args.start_time,
    )
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("windows"))
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "output": args.output, "width": args.width,
        "windows": int(obs.get["windows"]),
    }))
    spark.stop()


def job_pipeline(args) -> None:
    """Run a declarative curation pipeline from a JSON spec file (see
    sketchlib.pipeline.SPEC_STEPS for the available ops), write the
    result, and print per-step row counts — all counted on the single
    write action."""
    from sketchlib.pipeline import run_pipeline_spec
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    with open(args.spec) as fh:
        spec = json.load(fh)
    spark = get_spark(master=args.master)
    docs = read_table(
        spark, args.input or spec["input"],
        args.format or spec.get("format", "auto"),
    )
    out, counters = run_pipeline_spec(docs, spec)
    output = args.output or spec["output"]
    writer = out.write.mode("overwrite")
    if "split" in out.columns:
        writer = writer.partitionBy("split")
    writer.parquet(output)
    print(json.dumps({
        "output": output,
        "steps": {label: int(obs.get["rows"]) for label, obs in counters},
    }))
    spark.stop()


def job_spandedup(args) -> None:
    """Exact duplicate-passage removal: rewrite the corpus with every
    duplicated w-word span scrubbed; report words removed."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.dedup.spans import remove_duplicate_spans
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    docs = read_table(spark, args.input, args.format)
    out = remove_duplicate_spans(
        docs, col=args.col, id_col=args.id_col, w=args.span_w,
        min_count=args.min_count, hash_grams=args.hash_grams,
    )
    obs = Observation()
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_removed").alias("removed_words"),
        F.sum(
            F.when(F.col(args.col) == "", 1).otherwise(0)
        ).alias("scrubbed_empty"),
    )
    out.write.mode("overwrite").parquet(args.output)
    m = obs.get
    print(json.dumps({
        "output": args.output, "w": args.span_w,
        "rows": int(m["rows"]),
        "removed_words": int(m["removed_words"] or 0),
        "scrubbed_empty": int(m["scrubbed_empty"] or 0),
    }))
    spark.stop()


def job_ngram_dedup(args) -> None:
    """Exact n-gram Jaccard near-dup pairs: write (id_a, id_b,
    jaccard) and report the pair count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sketchlib.dedup.ngram import ngram_jaccard_pairs
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    docs = read_table(spark, args.input, args.format)
    pairs = ngram_jaccard_pairs(
        docs, col=args.col, id_col=args.id_col, w=args.gram_w,
        threshold=args.threshold, method=args.method,
        hash_grams=args.hash_grams,
    )
    obs = Observation()
    pairs = pairs.observe(obs, F.count(F.lit(1)).alias("pairs"))
    pairs.write.mode("overwrite").parquet(args.output)
    print(json.dumps({
        "output": args.output, "w": args.gram_w,
        "threshold": args.threshold, "pairs": int(obs.get["pairs"]),
    }))
    spark.stop()


def job_decontam(args) -> None:
    """Eval-set decontamination: write the surviving train rows and
    report kept/removed counts."""
    from sketchlib.dedup.decontaminate import decontaminate
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    train = read_table(spark, args.input, args.format)
    eval_df = read_table(spark, args.eval, args.format)
    from pyspark.sql import Observation, functions as F

    kept = decontaminate(
        train, eval_df, col=args.col, id_col=args.id_col,
        shingle_w=args.shingle_w, threshold=args.threshold,
        method=args.method,
    )
    obs_out = Observation()
    kept = kept.observe(obs_out, F.count(F.lit(1)).alias("kept"))
    # the kept count rides the write action (no re-scan of the just-
    # written output); the total is one zero-payload count over the
    # input — an input-side Observation would double-count in the
    # exact method, whose plan reads `train` on both join sides
    kept.write.mode("overwrite").parquet(args.output)
    n_kept = int(obs_out.get["kept"])
    n_total = train.count()
    print(json.dumps({
        "output": args.output, "method": args.method,
        "kept": n_kept, "removed": int(n_total - n_kept),
    }))
    spark.stop()


def job_score(args) -> None:
    """Curation scoring: append unigram-LM log-prob and/or n-gram
    novelty columns, write the scored table, report score quantiles
    as one JSON line."""
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark
    from sketchlib.text.logprob import unigram_logprob
    from sketchlib.text.novelty import ngram_novelty

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    tokens = args.tokens
    metrics = args.metrics.split(",")
    if set(metrics) - {"logprob", "novelty"}:
        raise SystemExit(f"unknown metrics in {args.metrics!r}")
    if "logprob" in metrics:
        # id_col enables the large-vocab explode+join fallback
        df = unigram_logprob(df, args.col, tokens=tokens, id_col=args.id_col)
    if "novelty" in metrics:
        df = ngram_novelty(
            df, col=args.col, id_col=args.id_col, w=args.shingle_w,
            tokens=tokens, hash_grams=args.hash_grams,
        )
    df.write.mode("overwrite").parquet(args.output)
    # report coarse score quantiles over the just-written output (one
    # cheap scan of the two score columns, not a recompute)
    out_df = spark.read.parquet(args.output)
    summary: dict = {"output": args.output, "rows": out_df.count()}
    for m, c in (("logprob", "avg_logprob"), ("novelty", "novelty")):
        if m in metrics:
            qs = out_df.approxQuantile(c, [0.1, 0.5, 0.9], 1e-3)
            summary[f"{c}_p10_p50_p90"] = [round(x, 4) for x in qs]
    print(json.dumps(summary))
    spark.stop()


def job_hh(args) -> None:
    """Heavy hitters (global or per-group) as one JSON line."""
    from sketchlib.spark.api import grouped_heavy_hitters, heavy_hitters
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    if args.group_by:
        rows = grouped_heavy_hitters(
            df, args.group_by.split(","), args.col, k=args.topk,
            capacity=args.capacity,
        ).collect()
        out = [r.asDict() for r in rows]
    else:
        rows = heavy_hitters(
            df, args.col, k=args.topk, capacity=args.capacity
        ).collect()
        out = [r.asDict() for r in rows]
    print(json.dumps({"col": args.col, "top": out}, default=str))
    spark.stop()


def job_overlap(args) -> None:
    """Pairwise per-group overlap matrix (theta-sketch set algebra)
    as one JSON line — ``--array`` treats --col as a token array."""
    from sketchlib.spark.api import overlap_matrix
    from sketchlib.spark.io import read_table
    from sketchlib.spark.session import get_spark

    spark = get_spark(master=args.master)
    df = read_table(spark, args.input, args.format)
    rows = overlap_matrix(
        df, args.group_by, args.col, k=args.k, is_array=args.array
    ).collect()
    print(
        json.dumps(
            {
                "group_by": args.group_by,
                "col": args.col,
                "k": args.k,
                "pairs": [r.asDict() for r in rows],
            },
            default=str,
        )
    )
    spark.stop()


def job_package(args) -> None:
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
    print(json.dumps({"zip": out}))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(prog="sketchlib.spark.jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser(
        "build",
        help="build one sketch over a column",
        description="Build one sketch over --col, checkpointed per lineage "
        "with --checkpoint.  The engine follows the input's plan: a bare "
        "parquet scan (a parquet path, or a jar-free Iceberg directory) "
        "builds on the direct pyarrow kernel, anything else on the JVM.",
    )
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    b.add_argument("--col", required=True)
    b.add_argument("--kind", default="auto",
                   choices=["auto", "double", "array", "hash64", "array_hash"])
    b.add_argument("--sketch", default="tdigest",
                   choices=["tdigest", "kll", "dd", "hll", "cms", "bloom"])
    b.add_argument("--master", default=None)
    b.add_argument("--delta", type=float, default=2000.0)
    b.add_argument("--scale", default="k2")
    b.add_argument("--k", type=int, default=200)
    b.add_argument("--alpha", type=float, default=0.01)
    b.add_argument("--max-bins", type=int, default=2048)
    b.add_argument("--seed", type=int, default=42)
    b.add_argument("--p", type=int, default=14)
    b.add_argument("--depth", type=int, default=5)
    b.add_argument("--width", type=int, default=16384)
    b.add_argument("--m-bits", type=int, default=1 << 23)
    b.add_argument("--bloom-k", type=int, default=7)
    b.add_argument("--quantiles", default="0.01,0.25,0.5,0.75,0.99")
    b.add_argument("--checkpoint", default=None)
    b.add_argument("--lineage-col", default=None)
    b.add_argument("--n-lineage", type=int, default=64)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--save-state", default=None)
    b.set_defaults(fn=job_build)

    q = sub.add_parser("query")
    q.add_argument("--state", required=True)
    q.add_argument("--quantiles", default="0.01,0.25,0.5,0.75,0.99")
    q.add_argument("--values", default=None)
    q.set_defaults(fn=job_query)

    d = sub.add_parser("datagen")
    d.add_argument("--rows", type=int, required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--seed", type=int, default=42)
    d.add_argument("--master", default=None)
    d.set_defaults(fn=job_datagen)

    m = sub.add_parser("mix")
    m.add_argument("--input", required=True)
    m.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    m.add_argument("--output", required=True)
    m.add_argument("--budgets", required=True,
                   help="src=tokens[,src=tokens...]")
    m.add_argument("--source-col", default="source")
    m.add_argument("--size-col", default="n_tok")
    m.add_argument("--order-col", default=None)
    m.add_argument("--seed", type=int, default=42)
    m.add_argument("--master", default=None)
    m.set_defaults(fn=job_mix)

    h = sub.add_parser("hh")
    h.add_argument("--input", required=True)
    h.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    h.add_argument("--col", required=True)
    h.add_argument("--group-by", default=None)
    h.add_argument("--topk", type=int, default=10)
    h.add_argument("--capacity", type=int, default=4096)
    h.add_argument("--master", default=None)
    h.set_defaults(fn=job_hh)

    pk = sub.add_parser("pack")
    pk.add_argument("--input", required=True)
    pk.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    pk.add_argument("--output", required=True)
    pk.add_argument("--seq-len", type=int, required=True)
    pk.add_argument("--tokens-col", default="tokens")
    pk.add_argument("--text-col", default=None,
                    help="whitespace-tokenize this column instead")
    pk.add_argument("--order-col", default=None)
    pk.add_argument("--group-col", default=None)
    pk.add_argument("--seed", type=int, default=42)
    pk.add_argument("--master", default=None)
    pk.set_defaults(fn=job_pack)

    dc = sub.add_parser("decontam")
    dc.add_argument("--input", required=True)
    dc.add_argument("--eval", required=True)
    dc.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    dc.add_argument("--output", required=True)
    dc.add_argument("--col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--shingle-w", type=int, default=5)
    dc.add_argument("--threshold", type=int, default=1)
    dc.add_argument("--method", default="exact", choices=["exact", "bloom"])
    dc.add_argument("--master", default=None)
    dc.set_defaults(fn=job_decontam)

    sc = sub.add_parser("score")
    sc.add_argument("--input", required=True)
    sc.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    sc.add_argument("--output", required=True)
    sc.add_argument("--metrics", default="logprob,novelty",
                    help="comma-separated subset of logprob,novelty")
    sc.add_argument("--col", default="text")
    sc.add_argument("--id-col", default="doc_id")
    sc.add_argument("--shingle-w", type=int, default=5)
    sc.add_argument("--tokens", action="store_true",
                    help="score a token-array column instead of text")
    sc.add_argument("--hash-grams", action="store_true",
                    help="novelty: shuffle 8-byte xxhash64 gram keys "
                    "(~G(G-1)/2^65 expected collisions for G distinct "
                    "grams; see sketchlib/text/grams.py)")
    sc.add_argument("--master", default=None)
    sc.set_defaults(fn=job_score)

    sl = sub.add_parser("split")
    sl.add_argument("--input", required=True)
    sl.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    sl.add_argument("--output", required=True)
    sl.add_argument("--weights", required=True,
                    help="name=w[,name=w...] e.g. train=0.98,val=0.01,test=0.01")
    sl.add_argument("--key-cols", default=None,
                    help="comma-separated; default: all columns")
    sl.add_argument("--seed", type=int, default=42)
    sl.add_argument("--master", default=None)
    sl.set_defaults(fn=job_split)

    rk = sub.add_parser("rank")
    rk.add_argument("--input", required=True)
    rk.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    rk.add_argument("--output", required=True)
    rk.add_argument("--order-col", required=True)
    rk.add_argument("--tie-cols", default=None,
                    help="comma-separated unique tie-break key(s)")
    rk.add_argument("--n-shards", type=int, default=None)
    rk.add_argument("--seed", type=int, default=42)
    rk.add_argument("--master", default=None)
    rk.set_defaults(fn=job_rank)

    ld = sub.add_parser("lsh-dedup")
    ld.add_argument("--input", required=True)
    ld.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    ld.add_argument("--output", required=True)
    ld.add_argument("--col", default="text")
    ld.add_argument("--id-col", default="doc_id")
    ld.add_argument("--threshold", type=float, default=0.8)
    ld.add_argument("--num-perm", type=int, default=64)
    ld.add_argument("--shingle-w", type=int, default=3)
    ld.add_argument("--bands", type=int, default=16)
    ld.add_argument("--rows-per-band", type=int, default=4)
    ld.add_argument("--seed", type=int, default=1)
    ld.add_argument("--master", default=None)
    ld.set_defaults(fn=job_lsh_dedup)

    bp = sub.add_parser("bpe")
    bp.add_argument("--input", required=True)
    bp.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    bp.add_argument("--output", required=True)
    bp.add_argument("--col", default="text")
    bp.add_argument("--num-merges", type=int, default=4096)
    bp.add_argument("--max-words", type=int, default=65536)
    bp.add_argument("--merges-file", default=None,
                    help="reuse (if it exists) or save the merge table here")
    bp.add_argument("--master", default=None)
    bp.set_defaults(fn=job_bpe)

    ru = sub.add_parser("rollup")
    ru.add_argument("--input", required=True)
    ru.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    ru.add_argument("--output", required=True)
    ru.add_argument("--ts-col", default="ts")
    ru.add_argument("--value-col", default="value")
    ru.add_argument("--width", required=True, help='e.g. "15 minutes"')
    ru.add_argument("--slide", default=None)
    ru.add_argument("--start-time", default=None)
    ru.add_argument("--by", default=None, help="comma-separated keys")
    ru.add_argument("--master", default=None)
    ru.set_defaults(fn=job_rollup)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--spec", required=True, help="JSON pipeline spec")
    pl.add_argument("--input", default=None, help="overrides spec.input")
    pl.add_argument("--output", default=None, help="overrides spec.output")
    pl.add_argument("--format", default=None,
                    choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    pl.add_argument("--master", default=None)
    pl.set_defaults(fn=job_pipeline)

    sd = sub.add_parser("span-dedup")
    sd.add_argument("--input", required=True)
    sd.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    sd.add_argument("--output", required=True)
    sd.add_argument("--col", default="text")
    sd.add_argument("--id-col", default="doc_id")
    sd.add_argument("--span-w", type=int, default=5)
    sd.add_argument("--min-count", type=int, default=2)
    sd.add_argument("--hash-grams", action="store_true",
                    help="shuffle 8-byte xxhash64 gram keys (~G(G-1)/2^65 "
                    "expected collisions for G distinct grams; see "
                    "sketchlib/text/grams.py)")
    sd.add_argument("--master", default=None)
    sd.set_defaults(fn=job_spandedup)

    ng = sub.add_parser("ngram-dedup")
    ng.add_argument("--input", required=True)
    ng.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    ng.add_argument("--output", required=True)
    ng.add_argument("--col", default="text")
    ng.add_argument("--id-col", default="doc_id")
    ng.add_argument("--gram-w", type=int, default=3)
    ng.add_argument("--threshold", type=float, default=0.5)
    ng.add_argument("--method", default="auto", choices=["auto", "index", "prefix"])
    ng.add_argument("--hash-grams", action="store_true",
                    help="compare 8-byte xxhash64 gram keys (~G(G-1)/2^65 "
                    "expected collisions for G distinct grams; see "
                    "sketchlib/text/grams.py)")
    ng.add_argument("--master", default=None)
    ng.set_defaults(fn=job_ngram_dedup)

    ov = sub.add_parser("overlap")
    ov.add_argument("--input", required=True)
    ov.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg", "jsonl", "csv"])
    ov.add_argument("--group-by", required=True)
    ov.add_argument("--col", required=True)
    ov.add_argument("--k", type=int, default=4096)
    ov.add_argument("--array", action="store_true")
    ov.add_argument("--master", default=None)
    ov.set_defaults(fn=job_overlap)

    p = sub.add_parser("package")
    p.add_argument("--output", default=None)
    p.set_defaults(fn=job_package)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
