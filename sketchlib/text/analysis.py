"""Token counting, quality scoring, and language identification.

Token counting and quality ratios are pure Catalyst expressions
(JVM-side, codegen) — the formulas are simple enough that an ANSI-SQL
oracle can reproduce them (``with_quality`` documents where its
stopword count and the oracle's ``lower()`` agree).

Language ID is an n-gram/marker-count heuristic: count occurrences of
a small set of high-frequency function words per language (plus a CJK
codepoint count for zh) and take the argmax with a deterministic
priority tie-break.  The Spark implementation is a vectorized pandas
UDF; ``langid_oracle_case_sql`` emits an equivalent SQL expression so
the prediction is cross-checkable in DuckDB.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# BPE-ish word/punct tokenization: runs of word chars, or single
# non-space symbols (the shape GPT-style pre-tokenizers use)
TOKEN_REGEX = r"\w+|[^\w\s]"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

# marker function words per language; priority order breaks ties
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "with"],
    "de": ["der", "die", "und", "ist", "nicht", "ein"],
    "es": ["el", "la", "que", "los", "una", "es"],
    "fr": ["le", "la", "les", "est", "une", "dans"],
}
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]
_CJK_RE = re.compile(r"[一-鿿]")


def _sql_rx(pattern: str) -> str:
    """Escape a regex for embedding in a Spark SQL string literal
    (Spark processes backslash escapes inside single quotes)."""
    return pattern.replace("\\", "\\\\")


def with_token_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Append ws_tokens (whitespace split) and bpe_tokens (TOKEN_REGEX
    matches) counts — both reproducible in ANSI SQL."""
    c = F.col(col)
    return df.withColumn(
        "ws_tokens", F.size(F.split(F.trim(c), r"\s+"))
    ).withColumn(
        "bpe_tokens",
        F.size(F.expr(f"regexp_extract_all({col}, '{_sql_rx(TOKEN_REGEX)}', 0)")),
    )


def with_quality(df: DataFrame, col: str = "text") -> DataFrame:
    """Append quality ratios: alpha/space/punct character ratios,
    stopword ratio over whitespace tokens, mean token length, and a
    composite quality score in [0, 1].  Pure Catalyst expressions.

    The stopword count matches case-insensitively with ``(?i)`` rather
    than over ``lower(text)``.  Spark's ``lower`` is ICU case mapping,
    and its first use in a JVM builds ICU tables (about 2 s).  ``(?i)``
    folds ASCII only and every stopword is ASCII, so a stopword matches
    the same runs of the raw text as of its lowered form; lowering maps
    letters to letters, so ``\\b`` falls in the same places.  The count
    equals the ``lower()`` form's that the DuckDB oracle keeps
    (``tests/test_text.py`` checks dotted/dotless i, Kelvin sign,
    sigma, combining marks and digits next to stopwords)."""
    c = F.col(col)
    n = F.greatest(F.length(c), F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    space = F.length(F.regexp_replace(c, r"[^ ]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("double")
    toks = F.size(F.split(F.trim(c), r"\s+")).cast("double")
    stop_pattern = _sql_rx(r"\b(" + "|".join(STOPWORDS) + r")\b")
    stops = F.size(F.expr(f"regexp_extract_all({col}, '(?i){stop_pattern}', 0)")).cast(
        "double"
    )
    out = (
        df.withColumn("alpha_ratio", F.round(alpha / n, 4))
        .withColumn("space_ratio", F.round(space / n, 4))
        .withColumn("punct_ratio", F.round(punct / n, 4))
        .withColumn("stopword_ratio", F.round(stops / F.greatest(toks, F.lit(1.0)), 4))
        .withColumn(
            "mean_token_len",
            F.round((n - space) / F.greatest(toks, F.lit(1.0)), 4),
        )
    )
    # composite: reward alpha-heavy, some stopwords, sane token length
    # (the length term only counts for alphabetic text — symbol/digit
    # soup must not collect it)
    score = (
        F.least(F.col("alpha_ratio") / 0.7, F.lit(1.0)) * 0.4
        + F.least(F.col("stopword_ratio") / 0.3, F.lit(1.0)) * 0.3
        + F.when(
            (F.col("mean_token_len") >= 3.0)
            & (F.col("mean_token_len") <= 10.0)
            & (F.col("alpha_ratio") >= 0.4),
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
        * 0.3
    )
    return out.withColumn("quality_score", F.round(score, 4))


def _score_langs_py(texts: pd.Series) -> pd.Series:
    """Vectorized-ish marker scoring (compiled regex per marker, pandas
    str.count over the whole batch — no per-row Python loop)."""
    lowered = texts.str.lower().fillna("")
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(markers) + r")\b"
        scores[lang] = lowered.str.count(pat)
    scores["zh"] = texts.fillna("").str.count(_CJK_RE.pattern) * 3
    sdf = pd.DataFrame(scores)[LANG_PRIORITY]
    # argmax with priority-order tie-break; all-zero -> "und"
    best = sdf.idxmax(axis=1)
    best[sdf.max(axis=1) <= 0] = "und"
    return best


def language_id(df: DataFrame, col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Append the predicted language (marker-count heuristic)."""

    @pandas_udf("string")
    def langid_udf(texts: pd.Series) -> pd.Series:
        return _score_langs_py(texts)

    return df.withColumn(out_col, langid_udf(F.col(col)))


def langid_oracle_case_sql(col: str = "text") -> str:
    """ANSI-SQL expression (DuckDB dialect) computing the same
    prediction as ``language_id`` — marker counts, argmax, priority
    tie-break."""
    exprs = {}
    for lang, markers in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(markers) + r")\b"
        exprs[lang] = f"len(regexp_extract_all(lower({col}), '{pat}'))"
    exprs["zh"] = f"len(regexp_extract_all({col}, '[一-鿿]')) * 3"
    score_cols = ", ".join(f"{exprs[lg]} AS s_{lg}" for lg in LANG_PRIORITY)
    best = f"greatest({', '.join('s_' + lg for lg in LANG_PRIORITY)})"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in LANG_PRIORITY
    ) + " END"
    return score_cols, case


def vocabulary(
    df: DataFrame,
    col: str = "text",
    min_df: int = 1,
    tokens: bool = False,
) -> DataFrame:
    """Corpus vocabulary with document frequencies:
    DataFrame[term, doc_freq] for every term appearing in at least
    ``min_df`` documents.  ``tokens=True`` treats ``col`` as an
    already-tokenized array column; otherwise whitespace-split.

    Plan shape: ``array_distinct`` BEFORE the explode caps each doc's
    contribution at its distinct-term count, and the groupBy count is
    a map-side-combinable aggregation on the term — the standard
    vocab-build at 100 TB (one shuffle keyed by term; AQE splits the
    stop-word-scale hot keys).  The df >= min_df filter prunes the
    singleton long tail before any downstream join."""
    terms = F.col(col) if tokens else F.split(F.col(col), " ")
    exploded = df.select(
        F.explode(F.array_distinct(terms)).alias("term")
    ).filter(F.col("term") != "")
    return (
        exploded.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= int(min_df))
    )


def freq_spectrum(
    df: DataFrame, col: str = "text", tokens: bool = False
) -> DataFrame:
    """Token frequency-of-frequencies spectrum:
    ``DataFrame[occurrences, n_terms]`` — for each occurrence count c,
    how many distinct terms appear exactly c times in the corpus.

    This is the count-of-counts view behind Heaps/Zipf analysis,
    Good-Turing smoothing mass (``n_terms`` at c=1), and dedup health
    checks (a fat spectrum head after exact dedup means near-dup
    leakage).  Plan shape at 100 TB: explode -> per-term counts (one
    map-side-combinable shuffle, vocabulary-sized output) -> counts of
    counts (second shuffle over a domain of ~thousands of distinct
    occurrence values — trivially small).  Empty tokens are dropped
    (same convention as ``vocabulary``)."""
    terms = F.col(col) if tokens else F.split(F.col(col), " ")
    per_term = (
        df.select(F.explode(terms).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    return (
        per_term.groupBy("occurrences")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .select(
            F.col("occurrences").cast("bigint").alias("occurrences"),
            F.col("n_terms").cast("bigint").alias("n_terms"),
        )
    )


def with_repetition_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Append the Gopher/RefinedWeb-style within-document repetition
    signals used to filter boilerplate and degenerate text:

    - ``top_bigram_frac``: characters covered by all instances of the
      most frequent word 2-gram, over the document's character count
      (ties broken toward the lexicographically smallest gram, so the
      statistic is engine-reproducible);
    - ``dup_5gram_frac``: characters covered by instances of every
      word 5-gram occurring more than once, over the character count.

    Both are 0.0 for documents too short to form a gram (and for
    NULL/empty text).  One vectorized pandas batch kernel — repetition
    counting is per-row work with data-dependent dict sizes, which
    Catalyst higher-order functions cannot express without a shuffle;
    the UDF keeps it embarrassingly parallel (zero shuffle)."""

    def _frac(words: list, n_chars: int, w: int, dup_only: bool) -> float:
        if n_chars <= 0 or len(words) < w:
            return 0.0
        counts: dict = {}
        for i in range(len(words) - w + 1):
            g = " ".join(words[i : i + w])
            counts[g] = counts.get(g, 0) + 1
        if dup_only:
            covered = sum(c * len(g) for g, c in counts.items() if c > 1)
        else:
            # max count, ties to the lexicographically smallest gram
            # (== SQL ORDER BY c DESC, g ASC LIMIT 1)
            negc, g = min((-c, g) for g, c in counts.items())
            covered = -negc * len(g)
        return covered / n_chars

    @pandas_udf("top_bigram_frac double, dup_5gram_frac double")
    def rep_udf(texts: pd.Series) -> pd.DataFrame:
        top, dup = [], []
        for t in texts:
            if t is None:
                top.append(0.0)
                dup.append(0.0)
                continue
            words = t.split(" ")
            n = len(t)
            top.append(_frac(words, n, 2, dup_only=False))
            dup.append(_frac(words, n, 5, dup_only=True))
        return pd.DataFrame({"top_bigram_frac": top, "dup_5gram_frac": dup})

    out = df.withColumn("__rep", rep_udf(F.col(col)))
    return (
        out.withColumn("top_bigram_frac", F.col("__rep.top_bigram_frac"))
        .withColumn("dup_5gram_frac", F.col("__rep.dup_5gram_frac"))
        .drop("__rep")
    )


#: internal vocabulary frame persisted by the most recent
#: tfidf_keywords call — the shared one-slot contract (spark/cache.py)
_vocab_cache = None


def _get_vocab_cache():
    global _vocab_cache
    if _vocab_cache is None:
        from sketchlib.spark.cache import SingleSlotCache

        _vocab_cache = SingleSlotCache()
    return _vocab_cache


def release_tfidf_cache() -> None:
    """Unpersist the internal vocabulary cached by the most recent
    :func:`tfidf_keywords` call (no-op when none is held).  Called
    automatically at the start of every internal-vocab
    ``tfidf_keywords`` run, so loops over corpora hold at most one
    cached frame; call it explicitly once the last returned frame has
    been materialized to drop that final one too.  Releasing early is
    always safe — an unevaluated consumer just recomputes the
    vocabulary instead of reading the cache."""
    _get_vocab_cache().release()


def tfidf_keywords(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_df: int = 1,
    idf: str = "log",
    vocab: DataFrame | None = None,
    max_broadcast_terms: int = 2_000_000,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf:
    DataFrame[id, rank, term, score].

    tf = occurrences of the term in the doc / doc word count;
    idf = ``ln((N+1)/(df+1)) + 1`` (smoothed) or, with
    ``idf="ratio"``, the transcendental-free ``(N+1)/(df+1)``.  The
    ratio form is its own (harsher) rarity weighting — NOT
    order-equivalent to the log form in general, because tf multiplies
    the idf and a monotonic idf transform does not survive the product
    — but it involves no libm, so its scores are bit-reproducible
    across SQL engines, which is what the correctness gate exercises.
    Ties break toward the lexicographically smaller term.

    Plan shape: one explode + per-(doc, term) count (map-side
    combinable; the per-doc word count is the SUM of those counts, no
    second pass over the text), a broadcast join against the (small,
    min_df-pruned) vocabulary for df, and a per-doc top-k window —
    bounded at the doc's distinct-term count per partition key.
    ``vocab`` accepts a precomputed ``vocabulary()`` frame so corpora
    scored repeatedly against one vocabulary skip the df pass."""
    if idf not in ("log", "ratio"):
        raise ValueError(f"unknown idf {idf!r}")
    from pyspark.sql.window import Window

    from pyspark import StorageLevel

    n_docs = df.count()
    # gate the broadcast on the ACTUAL vocabulary size: an unpruned
    # corpus-scale vocabulary (default min_df=1) can blow past the
    # broadcast/driver limits — fall back to a shuffle join then.
    # The INTERNAL vocab is persisted so the count and the join share
    # one evaluation.  At most ONE such frame stays cached: each call
    # releases the previous call's (so loops over many corpora hold a
    # bounded cache instead of accumulating executor memory), and
    # release_tfidf_cache() drops the last one.  A CALLER-supplied
    # vocab is never persisted here (that would be a visible side
    # effect on their frame — persist it yourself when reusing it
    # across calls).
    if vocab is None:
        vocab = vocabulary(df, col, min_df=min_df).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _get_vocab_cache().hold(vocab)  # releases the previous one
    n_terms = vocab.count()
    vocab_side = (
        F.broadcast(vocab) if n_terms <= max_broadcast_terms else vocab
    )
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tc = words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tc"))
    # per-doc word count = sum of its term counts: derived from the tc
    # aggregate, so the text is tokenized exactly once
    nw = tc.groupBy("id").agg(F.sum("tc").alias("nw"))
    counts = tc.join(nw, "id").join(vocab_side, "term")
    ratio = (F.lit(float(n_docs + 1)) / (F.col("doc_freq") + F.lit(1.0)))
    idf_expr = (
        ratio if idf == "ratio" else (F.log(ratio) + F.lit(1.0))
    )
    scored = counts.withColumn(
        "score", F.col("tc") / F.col("nw") * idf_expr
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "term", "score")
    )
