"""The workloads: inputs made from the seed, exact oracles built at
set-up, one closed-loop operation sequence, and the traced-only layer
probes.

Why these two:

- ``token_table_ops`` is sketch-bound both ways round: first the
  paper's scan-bound build, the direct pyarrow-in-worker scan feeding
  the ``core`` update kernels with small (t-digest, HLL) states to
  merge; then the token table read through the DataFrame path
  (JVM-to-Arrow handoff), fat states (KLL, CMS, Bloom) to merge and
  serialise, and the layout operators.
- ``doc_curation`` is stage- and join-bound: quality filter, exact and
  MinHash dedup, summary sketches, then n-gram Jaccard pairs over a
  corpus with planted duplicates.  The sketch kernels do little here,
  and the token workloads never reach ``dedup`` or ``pipeline``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import check, rank_errors, reset_dir

PROBS = np.round(np.concatenate([[0.001, 0.005], np.linspace(0.01, 0.99, 99), [0.995, 0.999]]), 6)
#: published rank-error bounds the checks hold each estimate to:
#: t-digest delta=2000 and KLL k=200 (ACCURACY.md §4; KLL's
#: all-quantiles bound at k=200 is 1.65%)
TDIGEST_EPS = 0.01
KLL_EPS = 0.0165
#: HLL estimates must land within this many standard errors
HLL_SIGMAS = 4.0
GROUP_PROBS = [0.1, 0.5, 0.9]


def _hll_check(checks, est: float, true: int, sk) -> None:
    rel = abs(est - true) / true
    checks.distinct_err.append(rel)
    check(
        rel <= HLL_SIGMAS * sk.relative_std_error(),
        f"HLL estimate {est:.1f} vs exact {true}",
    )


def _quantile_check(checks, cum, values, eps: float, what: str, probs=PROBS) -> None:
    checks.rank_err.append(float(rank_errors(cum, probs, values).max()))
    err = float(rank_errors(cum, probs, values, snap=True).max())
    check(err <= eps, f"{what}: rank error {err:.5f} > {eps}")


# ------------------------------------------------------------ token tables


def _partial_stats(partials) -> list[tuple[int, int, float]]:
    """(state bytes, items, build seconds) of every partial row."""
    from pyspark.sql import functions as F

    return [
        (r[0], r[1], r[2])
        for r in partials.select(
            F.length("state"), "items", "build_secs"
        ).collect()
    ]


def _tree_levels(size: int, fanout: int, threshold: int) -> int:
    """Shuffle levels ``tree_merge`` plans for ``size`` partials."""
    levels = 0
    while size > threshold:
        size = max((size + fanout - 1) // fanout, 1)
        levels += 1
    return levels


def _layout_summary(packed, seq_len: int) -> dict:
    """Collect what the layout checks need: one small row per sampled
    document."""
    rows = packed.select(
        "source", "rank", "n_tok", "seq_id", "seq_offset", "n_seqs"
    ).collect()
    cols = list(zip(*rows)) if rows else [()] * 6
    out = {"source": np.array(cols[0], dtype=object)}
    for name, col in zip(("rank", "n_tok", "seq_id", "seq_offset", "n_seqs"), cols[1:]):
        out[name] = np.array(col, dtype=np.int64)
    out["prior"] = out["seq_id"] * seq_len + out["seq_offset"]
    out["seq_len"] = seq_len
    return out


def _check_layout(s: dict, budgets: dict, source_tokens: dict) -> None:
    """Budget sampling, exact global rank and packing, checked against
    their definitions: each source's take reaches its budget and stops
    at the document that crosses it; ranks are a permutation of 1..n;
    every document starts where the previous one in rank order ends."""
    from sketchlib.spark.datagen import MAX_TOKENS

    n = s["rank"].size
    check(n > 0, "layout sampled no documents")
    check(np.array_equal(np.sort(s["rank"]), np.arange(1, n + 1)), "ranks not 1..n")
    order = np.argsort(s["rank"])
    ntok = s["n_tok"][order]
    starts = np.concatenate([[0], np.cumsum(ntok)[:-1]])
    check(np.array_equal(s["prior"][order], starts), "packed offsets not contiguous")
    L = s["seq_len"]
    check(
        np.array_equal(s["n_seqs"], (s["seq_offset"] + s["n_tok"] - 1) // L + 1),
        "n_seqs does not cover each document",
    )
    for src, budget in budgets.items():
        got = int(s["n_tok"][s["source"] == src].sum())
        want = min(budget, source_tokens[src])
        check(want <= got < budget + MAX_TOKENS, f"{src}: took {got} tokens for budget {budget}")


class TokenTableOps:
    """A ``datagen.token_sequences`` table of ``files`` parquet files.
    First the paper's scan-bound build: the direct pyarrow-in-worker
    path builds a t-digest (KIND_ARRAY) and an HLL (KIND_ARRAY_HASH)
    over the token column.  Then the table is read with
    ``spark.read.parquet`` and run through the public DataFrame
    operators: quantiles, distinct, CMS, Bloom, grouped quantiles, heavy
    hitters, and the layout chain budget sample -> global rank ->
    packing.  Bloom, the fattest state, reads one partition per file,
    more than its ``collect_threshold`` of 32, so it goes through one
    ``tree_merge`` level.  The other operators read one partition per
    core: every partition costs a Python task (about 0.45 s of an
    iteration per 4 partitions on a 4-core box), and the run budget
    leaves room for one such wide read.  The layout chain runs
    on its adaptive plan, which at this size is the single-window one;
    forcing the bucketed plan took about 19 s of a 30 s iteration, too
    long for more than one sample per run."""

    name = "token_table_ops"
    rows, smoke_rows, files = 12_000, 2_000, 36
    SEQ_LEN = 2048

    def __init__(self, seed: int, smoke: bool):
        self.rows = self.smoke_rows if smoke else self.rows
        self.seed = seed

    def generate(self, spark, work: str) -> None:
        from sketchlib.spark import datagen

        self.path = os.path.join(work, "tokens")
        reset_dir(self.path)
        datagen.token_sequences(
            spark, self.rows, seed=self.seed, partitions=self.files
        ).write.mode("overwrite").parquet(self.path)

    def build_oracle(self) -> None:
        from sketchlib.spark.datagen import MAX_TOKENS, SOURCES, VOCAB_SIZE

        t = pq.read_table(self.path, columns=["doc_id", "tokens", "n_tok", "source"])
        toks = t.column("tokens").combine_chunks().flatten().to_numpy()
        self.token_counts = np.bincount(toks, minlength=VOCAB_SIZE)
        self.token_cum = np.cumsum(self.token_counts)
        self.n_tokens = int(toks.size)
        n_tok = t.column("n_tok").to_numpy()
        src = t.column("source").to_numpy(zero_copy_only=False)
        self.ntok_cum = np.cumsum(np.bincount(n_tok, minlength=MAX_TOKENS + 1))
        self.source_ntok_cum = {}
        self.source_tokens = {}
        self.source_docs = {}
        for s in SOURCES:
            m = src == s
            if m.any():
                self.source_ntok_cum[s] = np.cumsum(
                    np.bincount(n_tok[m], minlength=MAX_TOKENS + 1)
                )
                self.source_tokens[s] = int(n_tok[m].sum())
                self.source_docs[s] = int(m.sum())
        self.doc_ids = t.column("doc_id").combine_chunks()
        self.n_docs = t.num_rows

    @property
    def tokens(self) -> int:
        return self.n_tokens

    @property
    def docs(self) -> int:
        return self.n_docs

    @property
    def kernel_batch(self) -> int:
        """Tokens one input partition holds."""
        return self.tokens // self.files

    def _read(self, spark, wide: bool):
        """The table as one partition per file (``wide``) or per core."""
        from common import cores

        # every file is far below the open cost: one partition each
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
        df = spark.read.parquet(self.path)
        return df if wide else df.coalesce(cores())

    def iteration(self, spark, tracer, checks) -> None:
        from sketchlib.core import HyperLogLog, TDigest
        from sketchlib.core.hashing import hash_i64, xxhash64_str
        from sketchlib.spark import api
        from sketchlib.spark.aggregate import KIND_ARRAY, KIND_ARRAY_HASH
        from sketchlib.spark.direct import sketch_parquet

        budgets = {s: v // 2 for s, v in self.source_tokens.items()}
        df, wide = self._read(spark, False), self._read(spark, True)

        def direct_tdigest():
            with tracer.span("direct.sketch_parquet_tdigest"):
                sk = sketch_parquet(
                    spark, self.path, "tokens", lambda: TDigest(delta=2000.0), KIND_ARRAY
                )
            with tracer.span("core.tdigest.value_at_quantile"):
                vals = sk.value_at_quantile(PROBS)
            _quantile_check(checks, self.token_cum, vals, TDIGEST_EPS, "direct t-digest")

        def direct_hll():
            with tracer.span("direct.sketch_parquet_hll"):
                sk = sketch_parquet(
                    spark, self.path, "tokens", lambda: HyperLogLog(p=14), KIND_ARRAY_HASH
                )
            with tracer.span("core.hll.estimate"):
                est = sk.estimate()
            _hll_check(checks, est, int((self.token_counts > 0).sum()), sk)

        def q_tdigest():
            with tracer.span("api.approx_quantiles_tdigest"):
                vals, _ = api.approx_quantiles(df, "n_tok", PROBS)
            _quantile_check(checks, self.ntok_cum, vals, TDIGEST_EPS, "t-digest n_tok")

        def q_kll():
            with tracer.span("api.approx_quantiles_kll"):
                vals, _ = api.approx_quantiles(df, "tokens", PROBS, sketch="kll", is_array=True)
            _quantile_check(checks, self.token_cum, vals, KLL_EPS, "KLL tokens")

        def distinct():
            with tracer.span("api.approx_distinct"):
                est, sk = api.approx_distinct(df, "doc_id")
            _hll_check(checks, est, self.n_docs, sk)

        def cms():
            with tracer.span("api.build_cms"):
                sk = api.build_cms(df, "tokens", is_array=True)
            est = sk.estimate_hashes(hash_i64(np.arange(self.token_counts.size)))
            check(bool((est >= self.token_counts).all()), "CMS undercounts")
            check(sk.total == self.n_tokens, f"CMS total {sk.total} != {self.n_tokens}")

        def bloom():
            with tracer.span("api.build_bloom"):
                sk = api.build_bloom(wide, "doc_id", capacity=self.rows)
            hit = sk.contains_hashes(xxhash64_str(self.doc_ids, seed=42))
            check(bool(hit.all()), f"Bloom false negatives: {int((~hit).sum())}")

        def grouped():
            with tracer.span("api.grouped_quantiles"):
                rows = api.grouped_quantiles(df, ["source"], "n_tok", GROUP_PROBS).collect()
            for s, cum in self.source_ntok_cum.items():
                got = sorted((r["q"], r["value"]) for r in rows if r["source"] == s)
                check(len(got) == len(GROUP_PROBS), f"grouped_quantiles rows for {s}")
                _quantile_check(
                    checks, cum, [v for _, v in got], TDIGEST_EPS,
                    f"grouped t-digest {s}", probs=[q for q, _ in got],
                )

        def heavy():
            with tracer.span("api.heavy_hitters"):
                rows = api.heavy_hitters(df, "source", k=3).collect()
            top = sorted(self.source_docs, key=lambda s: -self.source_docs[s])[:3]
            check([r[0] for r in rows] == top, f"heavy hitters {rows} vs {top}")
            for r in rows:
                check(r[1] >= self.source_docs[r[0]], f"heavy hitter {r[0]} undercounted")

        def layout():
            with tracer.span("api.sample_by_token_budget"):
                sampled = api.sample_by_token_budget(df, budgets)
            with tracer.span("api.with_global_rank"):
                ranked = api.with_global_rank(sampled, "n_tok", tie_cols=["doc_id"])
            with tracer.span("api.pack_sequences"):
                packed = api.pack_sequences(ranked, self.SEQ_LEN, order_col="rank")
            with tracer.span("api.layout_collect"):
                summary = _layout_summary(packed, self.SEQ_LEN)
            _check_layout(summary, budgets, self.source_tokens)

        checks.op("direct.sketch_parquet_tdigest", direct_tdigest)
        checks.op("direct.sketch_parquet_hll", direct_hll)
        checks.op("api.approx_quantiles_tdigest", q_tdigest)
        checks.op("api.approx_quantiles_kll", q_kll)
        checks.op("api.approx_distinct", distinct)
        checks.op("api.build_cms", cms)
        checks.op("api.build_bloom", bloom)
        checks.op("api.grouped_quantiles", grouped)
        checks.op("api.heavy_hitters", heavy)
        checks.op("api.layout", layout)

    def probe(self, spark, tracer, out: dict) -> None:
        """Split the direct t-digest build into its partial stage, and
        the fat-state DataFrame builds into the partial stage (the
        JVM-to-Arrow handoff) and the tree merge; task busy time comes
        from the partial rows."""
        from sketchlib.core import KLL, BloomFilter, CountMinSketch, TDigest
        from sketchlib.spark.aggregate import (
            KIND_ARRAY,
            KIND_ARRAY_HASH,
            KIND_HASH64,
            build_partials,
            tree_merge,
        )
        from sketchlib.spark.direct import build_partials_direct

        partials = build_partials_direct(
            spark, self.path, "tokens", lambda: TDigest(delta=2000.0), KIND_ARRAY
        ).persist()
        try:
            with tracer.span("direct.partials"):
                rows = _partial_stats(partials)
        finally:
            partials.unpersist()
        busy = np.array([r[2] for r in rows])
        out["direct.partials_s"] = tracer.median_s("direct.partials")
        out["direct.task_busy_s_sum"] = float(busy.sum())
        out["direct.task_busy_s_max"] = float(busy.max())
        out["direct.task_skew"] = float(busy.max() / busy.mean())
        out["direct.state_bytes"] = float(sum(r[0] for r in rows))

        df = self._read(spark, True)
        nparts = df.rdd.getNumPartitions()
        proto = BloomFilter.from_capacity(self.n_docs, 0.01)
        builds = [
            ("kll", "tokens", lambda: KLL(k=200, seed=42), KIND_ARRAY),
            ("cms", "tokens", lambda: CountMinSketch(5, 16384), KIND_ARRAY_HASH),
            ("bloom", "doc_id", lambda: BloomFilter(proto.m, proto.k), KIND_HASH64),
        ]
        # the operators' own threshold for fat states
        threshold = 32
        busy_max, state_bytes, rows_total = 0.0, 0, 0
        for name, col, factory, kind in builds:
            partials = build_partials(df, col, factory, kind).persist()
            try:
                with tracer.span(f"aggregate.partials_{name}"):
                    rows = _partial_stats(partials)
                with tracer.span(f"aggregate.tree_merge_{name}"):
                    tree_merge(partials, collect_threshold=threshold, size_hint=nparts)
            finally:
                partials.unpersist()
            busy_max = max(busy_max, max(r[2] for r in rows))
            state_bytes += sum(r[0] for r in rows)
            rows_total += len(rows)
        out["aggregate.partials_s"] = sum(
            tracer.median_s(f"aggregate.partials_{b[0]}") for b in builds
        )
        out["aggregate.tree_merge_s"] = sum(
            tracer.median_s(f"aggregate.tree_merge_{b[0]}") for b in builds
        )
        out["aggregate.tree_levels"] = float(_tree_levels(nparts, 64, threshold))
        out["aggregate.partial_rows"] = float(rows_total)
        out["aggregate.state_bytes"] = float(state_bytes)
        out["aggregate.task_busy_s_max"] = float(busy_max)


# ---------------------------------------------------------------- documents

#: the document recipe of tools/gen_sf_local.py: a 31-word vocabulary,
#: 10..100 words per document
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


def make_corpus(n: int, seed: int):
    """(doc_id, text) with planted exact copies, planted near copies
    (last word swapped; Jaccard >= 0.95 on word 3-grams, so MinHash LSH
    finds them with certainty) and junk that fails the quality filter.
    Every planted id is larger than its source's, so every "keep the
    minimum id" rule keeps the source."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    # every length 10..100 equally often, in seeded order, so the word
    # total that ``tokens_per_s`` divides moves with the seed only
    # through the planted copies (well under 1%)
    counts = rng.permutation(np.resize(np.arange(10, 101), n))
    flat = vocab[rng.integers(0, len(VOCAB), int(counts.sum()))]
    ends = np.cumsum(counts)
    texts = [" ".join(flat[e - c : e]) for c, e in zip(counts, ends)]
    n_dup = max(2, n // 100)
    long_docs = np.flatnonzero(counts >= 40)
    src = rng.choice(long_docs, size=2 * n_dup, replace=False)
    ids = list(range(n))
    pairs = set()
    for j, s in enumerate(src[:n_dup]):
        texts.append(texts[s])
        ids.append(n + j)
        pairs.add((int(s), n + j))
    for j, s in enumerate(src[n_dup:]):
        words = texts[s].split()
        swap = VOCAB[(VOCAB.index(words[-1]) + 1 + int(rng.integers(0, 30))) % 31]
        texts.append(" ".join(words[:-1] + [swap]))
        ids.append(n + n_dup + j)
        pairs.add((int(s), n + n_dup + j))
    n_junk = max(2, n // 200)
    junk_ids = set()
    for j in range(n_junk):
        digits = rng.integers(0, 10, 12)
        texts.append("#### " + " ".join(f"{d}{d}{d} @@" for d in digits))
        ids.append(n + 2 * n_dup + j)
        junk_ids.add(n + 2 * n_dup + j)
    return ids, texts, pairs, junk_ids


class DocCuration:
    """``pipeline.curate`` then ``dedup.ngram_jaccard_pairs`` over a
    corpus with planted exact and near duplicates."""

    name = "doc_curation"

    def __init__(self, seed: int, smoke: bool):
        self.n = 300 if smoke else 1_000
        self.seed = seed

    def generate(self, spark, work: str) -> None:
        ids, texts, self.pairs, self.junk = make_corpus(self.n, self.seed)
        self.path = os.path.join(work, "docs")
        reset_dir(self.path)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            os.path.join(self.path, "part-0.parquet"),
        )
        self.texts = dict(zip(ids, texts))

    def build_oracle(self) -> None:
        self.copies = {b for _, b in self.pairs}
        self.removed = self.copies | self.junk
        survivors = [i for i in self.texts if i not in self.removed]
        self.n_survivors = len(survivors)
        ws = np.array([len(self.texts[i].split()) for i in survivors])
        self.ws_cum = np.cumsum(np.bincount(ws, minlength=102))
        self.n_words = int(sum(len(t.split()) for t in self.texts.values()))

    @property
    def tokens(self) -> int:
        return self.n_words

    @property
    def docs(self) -> int:
        return len(self.texts)

    @property
    def kernel_batch(self) -> int:
        """Words of the corpus (one input partition)."""
        return self.n_words

    def iteration(self, spark, tracer, checks) -> None:
        from sketchlib.dedup import ngram_jaccard_pairs
        from sketchlib.pipeline import curate

        docs = spark.read.parquet(self.path)

        def do_curate():
            with tracer.span("pipeline.curate"):
                curated, report = curate(docs)
                kept = {r[0] for r in curated.select("doc_id").collect()}
            removed = set(self.texts) - kept
            planted_dups = self.copies
            checks.dup["recall"] = len(removed & planted_dups) / len(planted_dups)
            checks.dup["precision"] = (
                len(removed & self.removed) / len(removed) if removed else 1.0
            )
            _quantile_check(
                checks, self.ws_cum,
                [report["ws_tokens_p50"], report["ws_tokens_p99"]],
                TDIGEST_EPS, "curate ws_tokens", probs=[0.5, 0.99],
            )
            from sketchlib.core.hll import HyperLogLog

            _hll_check(
                checks, report["distinct_ids_est"], self.n_survivors, HyperLogLog(p=13)
            )
            check(report["input_rows"] == len(self.texts), "curate input_rows")
            check(
                report["after_quality_filter"] == len(self.texts) - len(self.junk),
                "curate quality filter count",
            )
            check(removed == self.removed, f"curate removed {len(removed)} docs, "
                  f"planted {len(self.removed)}")

        def do_pairs():
            with tracer.span("dedup.ngram_jaccard_pairs"):
                got = {
                    (r[0], r[1])
                    for r in ngram_jaccard_pairs(docs).select("id_a", "id_b").collect()
                }
            check(got == self.pairs, f"ngram pairs {len(got)} vs planted {len(self.pairs)}")

        checks.op("pipeline.curate", do_curate)
        checks.op("dedup.ngram_jaccard_pairs", do_pairs)

    def probe(self, spark, tracer, out: dict) -> None:
        """Time curate's dedup stages one by one and count LSH work."""
        from sketchlib.dedup import (
            exact_duplicate_groups,
            lsh_candidate_pairs,
            minhash_near_duplicates,
            minhash_signatures,
        )
        from sketchlib.dedup.cluster import keep_representatives

        docs = spark.read.parquet(self.path)
        with tracer.span("dedup.exact_duplicate_groups"):
            exact_duplicate_groups(docs).collect()
        with tracer.span("dedup.lsh_candidate_pairs"):
            cands = lsh_candidate_pairs(minhash_signatures(docs)).count()
        with tracer.span("dedup.minhash_near_duplicates"):
            pairs = minhash_near_duplicates(docs, threshold=0.7)
            verified = pairs.count()
        with tracer.span("dedup.keep_representatives"):
            keep_representatives(docs, pairs).count()
        for name in (
            "exact_duplicate_groups", "minhash_near_duplicates",
            "keep_representatives",
        ):
            out[f"dedup.{name}_s"] = tracer.median_s(f"dedup.{name}")
        out["dedup.lsh_candidate_pairs"] = float(cands)
        out["dedup.lsh_useful_frac"] = verified / cands if cands else 0.0


WORKLOADS = {w.name: w for w in (TokenTableOps, DocCuration)}

