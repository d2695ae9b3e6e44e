"""Text analysis: token counting, quality, language ID (real
discrimination on multilingual fixtures + SQL-parity of the heuristic),
fingerprinting."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sketchlib.text.analysis import (
    STOPWORDS,
    _score_langs_py,
    _sql_rx,
    language_id,
    with_quality,
    with_token_stats,
)
from sketchlib.text.fingerprint import document_fingerprints, fingerprint_series

MULTILINGUAL = [
    ("en", "the cat sat on the mat and it is a fine day to be out in the sun"),
    ("en", "this is the story of a dog and the bone that was lost to the river"),
    ("de", "der hund und die katze sind nicht im haus aber der garten ist schoen"),
    ("de", "das ist ein gutes buch und der autor ist nicht bekannt"),
    ("es", "el perro y la gata viven en la casa que los abuelos tienen"),
    ("es", "una manzana es la fruta que los ninos quieren"),
    ("fr", "le chien est dans la maison et les chats sont dans une boite"),
    ("fr", "la vie est belle dans les montagnes et le vent est doux"),
    ("zh", "这是一个关于猫和狗的故事 它们住在一个小房子里"),
    ("zh", "今天天气很好 我们去公园散步"),
]


def test_langid_discriminates_fixtures():
    texts = pd.Series([t for _, t in MULTILINGUAL])
    preds = _score_langs_py(texts)
    truth = [lg for lg, _ in MULTILINGUAL]
    assert (preds.to_numpy() == np.array(truth)).mean() >= 0.9


def test_langid_und_on_gibberish():
    preds = _score_langs_py(pd.Series(["zzz qqq 123", ""]))
    assert list(preds) == ["und", "und"]


def test_langid_spark_matches_local(spark):
    df = spark.createDataFrame(
        [(lg, t) for lg, t in MULTILINGUAL], "lang string, text string"
    )
    got = {r["text"]: r["pred_lang"] for r in language_id(df).collect()}
    local = _score_langs_py(pd.Series([t for _, t in MULTILINGUAL]))
    for (lg, t), pred in zip(MULTILINGUAL, local):
        assert got[t] == pred


def test_langid_matches_duckdb_oracle(spark):
    import duckdb

    from sketchlib.text.analysis import langid_oracle_case_sql

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = {
        r["doc_id"]: r["pred_lang"] for r in language_id(docs).limit(200).collect()
    }
    scores, case = langid_oracle_case_sql("text")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    oracle = dict(
        con.execute(
            f"SELECT doc_id, {case} FROM (SELECT doc_id, {scores} FROM documents)"
        ).fetchall()
    )
    for doc_id, pred in got.items():
        assert oracle[doc_id] == pred, doc_id


def test_token_stats(spark):
    df = spark.createDataFrame(
        [("hello world, how are you?",), ("one-token",)], "text string"
    )
    out = with_token_stats(df).collect()
    assert out[0]["ws_tokens"] == 5
    # BPE-ish: hello/world/,/how/are/you/? = 7
    assert out[0]["bpe_tokens"] == 7
    assert out[1]["ws_tokens"] == 1
    assert out[1]["bpe_tokens"] == 3  # one / - / token


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [
            ("The quick brown fox jumps over the lazy dog and it is a good day.",),
            ("@@@@ #### $$$$ 1234 !!!!",),
        ],
        "text string",
    )
    rows = with_quality(df).collect()
    good, bad = rows[0], rows[1]
    assert 0.0 <= bad["quality_score"] < good["quality_score"] <= 1.0
    assert good["alpha_ratio"] > bad["alpha_ratio"]
    assert good["stopword_ratio"] > 0


STOPWORD_CASES = [
    # mixed-case ASCII
    "The THE tHe A a Of OF And AND To TO In IN Is IS It IT",
    "ThE cat SAT oN tHe mat AnD iT wAs",
    # dotted capital I / dotless i (lower("\u0130") is "i" + U+0307)
    "\u0130t is \u0130s \u0131t in \u0130n a \u0130a a\u0130 \u0131a a\u0131 \u0130T",
    # Kelvin sign (lowers to ASCII "k")
    "\u212athe \u212a a \u212a\u212aa the\u212a \u212aa",
    # sharp s, capital and final sigma
    "\u00df the \u00dfa a\u00df STRASSE \u1e9e a",
    "\u03a3 a \u03a3a \u039f\u0394\u039f\u03a3 a \u03a3\u0391\u03a3 the \u03c2a a\u03c2",
    # roman numeral one, circled A
    "\u2160a a\u2160 \u2160 a \u24b6 the \u24b6the the\u24b6 \u2160the",
    # combining marks next to a stopword
    "the\u0301 a\u0308 \u0301a \u0301the The\u0300 end i\u0307t \u0130\u0307s",
    # digits and underscore touching a stopword
    "the1 1the 2a a_ _the the_ 9 a 9 is9 _it it IS_ 0In",
    "",
    None,
]


def test_stopword_count_equals_lower_form(spark):
    """``with_quality`` counts stopwords with ``(?i)`` on the raw text;
    the count must equal the ``lower()`` form's (the DuckDB oracle's
    formula) on every row, non-ASCII case pairs included."""
    pat = _sql_rx(r"\b(" + "|".join(STOPWORDS) + r")\b")
    df = spark.createDataFrame(
        list(enumerate(STOPWORD_CASES)), "i int, text string"
    )
    lowered = F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))
    folded = F.size(F.expr(f"regexp_extract_all(text, '(?i){pat}', 0)"))
    toks = F.greatest(F.size(F.split(F.trim("text"), r"\s+")), F.lit(1))
    rows = (
        with_quality(df)
        .select(
            "i", lowered.alias("lowered"), folded.alias("folded"),
            "stopword_ratio",
            F.round(lowered / toks, 4).alias("lowered_ratio"),
        )
        .orderBy("i")
        .collect()
    )
    assert len(rows) == len(STOPWORD_CASES)
    for r in rows:
        assert r["folded"] == r["lowered"], (STOPWORD_CASES[r["i"]], r)
        assert r["stopword_ratio"] == r["lowered_ratio"], (
            STOPWORD_CASES[r["i"]], r)
    assert rows[0]["folded"] == 17  # every mixed-case stopword counted


def test_with_quality_plan_has_no_lower(spark):
    """Spark's ``lower`` is ICU case mapping; its first use in a JVM
    builds ICU tables.  ``with_quality`` must not plan it."""
    # a text column the optimizer cannot fold into a local relation
    df = spark.range(2).select(
        F.concat(F.lit("The "), F.col("id").cast("string")).alias("text")
    )

    def plan(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    # the probe sees a lower() where there is one
    assert "lower(" in plan(df.select(F.lower("text")))
    assert "lower(" not in plan(with_quality(df))


def test_fingerprint_identity_and_sensitivity():
    a = "the quick brown fox jumps over the lazy dog near the river bank today"
    b = a  # identical
    c = a.replace("quick", "slow")
    fps = fingerprint_series(pd.Series([a, b, c]))
    assert fps[0] == fps[1]
    # a one-word change may or may not move the min-hash; identical
    # docs MUST collide, and empty is stable
    assert fingerprint_series(pd.Series([""]))[0] == 0


def test_fingerprint_spark(spark):
    df = spark.createDataFrame(
        [("a", "x y z w v u t s"), ("b", "x y z w v u t s"), ("c", "totally different words here")],
        "doc_id string, text string",
    )
    rows = {r["doc_id"]: r["fingerprint"] for r in document_fingerprints(df).collect()}
    assert rows["a"] == rows["b"]
    assert rows["a"] != rows["c"]


def test_repetition_stats(spark):
    """Gopher/RefinedWeb repetition signals: degenerate repetitive
    text scores high, diverse text low; short/null text scores 0."""
    from sketchlib.text.analysis import with_repetition_stats

    loop = "spam ham " * 20  # "spam ham spam ham ..."
    df = spark.createDataFrame(
        [
            (1, loop.strip()),
            (2, "all these words are completely different from one another"),
            (3, "word"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["top_bigram_frac"], r["dup_5gram_frac"])
        for r in with_repetition_stats(df).collect()
    }
    # doc 1: "spam ham" x20 -> bigram "ham spam" or "spam ham" repeats
    # 19-20x; dup 5-grams cover nearly the whole doc
    assert got[1][0] > 0.4 and got[1][1] > 0.9, got[1]
    # doc 2: every bigram unique -> top covers exactly one instance
    text2 = "all these words are completely different from one another"
    assert got[2][1] == 0.0
    assert 0 < got[2][0] < 0.5
    # python-recompute exact values for doc 1 and 2
    for did, text in ((1, loop.strip()), (2, text2)):
        words = text.split(" ")
        from collections import Counter

        c2 = Counter(
            " ".join(words[i : i + 2]) for i in range(len(words) - 1)
        )
        negc, g = min((-c, g) for g, c in c2.items())
        assert got[did][0] == pytest.approx(-negc * len(g) / len(text))
        c5 = Counter(
            " ".join(words[i : i + 5]) for i in range(len(words) - 4)
        )
        dup = sum(c * len(g) for g, c in c5.items() if c > 1)
        assert got[did][1] == pytest.approx(dup / len(text))
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)
    assert got[5] == (0.0, 0.0)


def test_tfidf_keywords(spark):
    from sketchlib.text.analysis import tfidf_keywords, vocabulary

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "cherry cherry banana common common common"),
            (3, "durian durian common common"),
        ],
        "doc_id long, text string",
    )
    got = tfidf_keywords(df, k=2).collect()
    by = {}
    for r in got:
        by.setdefault(r["id"], []).append((r["rank"], r["term"]))
    # doc-exclusive repeated terms beat the corpus-wide "common"
    assert by[1][0] == (1, "apple")
    assert by[2][0] == (1, "cherry")
    assert by[3][0] == (1, "durian")
    # python recompute of the full log-idf scores for doc 1
    import math

    n_docs, nw = 3, 6
    def score(tc, dfreq):
        return tc / nw * (math.log((n_docs + 1) / (dfreq + 1)) + 1)
    exp = sorted(
        [("apple", score(2, 1)), ("banana", score(1, 2)),
         ("common", score(3, 3))],
        key=lambda t: (-t[1], t[0]),
    )[:2]
    got1 = [
        (r["term"], r["score"]) for r in sorted(
            (x for x in got if x["id"] == 1), key=lambda r: r["rank"]
        )
    ]
    for (et, es), (gt, gs) in zip(exp, got1):
        assert et == gt and gs == pytest.approx(es)
    # ratio idf: its own rarity weighting (NOT order-equivalent to log
    # in general — tf multiplies the idf); python-recompute for doc 1
    ratio = tfidf_keywords(df, k=2, idf="ratio").collect()
    exp_ratio = sorted(
        [("apple", 2 / nw * (4 / 2)), ("banana", 1 / nw * (4 / 3)),
         ("common", 3 / nw * (4 / 4))],
        key=lambda t: (-t[1], t[0]),
    )[:2]
    got_r1 = [
        (r["term"], r["score"]) for r in sorted(
            (x for x in ratio if x["id"] == 1), key=lambda r: r["rank"]
        )
    ]
    for (et, es), (gt, gs) in zip(exp_ratio, got_r1):
        assert et == gt and gs == pytest.approx(es)
    # ...and a fixture where the two forms RANK DIFFERENTLY (review
    # r5: the old docstring claimed order-equivalence; ln does not
    # survive multiplication by tf): 19 docs, one with 2x rare + 8x
    # semi-common — ratio puts the rare term first, log the common one
    docs2 = [(100, " ".join(["a"] * 2 + ["b"] * 8))] + [
        (200 + i, "b filler%d" % i) for i in range(18)
    ]
    df2 = spark.createDataFrame(docs2, "doc_id long, text string")
    top_ratio = {
        r["term"] for r in tfidf_keywords(df2, k=1, idf="ratio").collect()
        if r["id"] == 100
    }
    top_log = {
        r["term"] for r in tfidf_keywords(df2, k=1, idf="log").collect()
        if r["id"] == 100
    }
    assert top_ratio == {"a"} and top_log == {"b"}
    # precomputed vocab short-circuits the df pass and agrees
    v = vocabulary(df, "text")
    with_v = tfidf_keywords(df, k=2, vocab=v).collect()
    assert {(r["id"], r["rank"], r["term"]) for r in with_v} == {
        (r["id"], r["rank"], r["term"]) for r in got
    }
    with pytest.raises(ValueError, match="idf"):
        tfidf_keywords(df, idf="nope")


def test_tfidf_broadcast_gate(spark):
    """Regression: tfidf_keywords forced F.broadcast(vocab) — an
    unpruned corpus-scale vocabulary can exceed driver limits.  The
    join must fall back to a shuffle join past max_broadcast_terms,
    with identical results either way."""
    from sketchlib.text.analysis import tfidf_keywords

    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "beta delta epsilon beta beta"),
        (3, "gamma zeta alpha eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bc = tfidf_keywords(df, k=2)
    sj = tfidf_keywords(df, k=2, max_broadcast_terms=0)
    key = lambda r: (r["id"], r["rank"], r["term"])
    assert sorted(map(key, bc.collect())) == sorted(map(key, sj.collect()))
    # pin the vocab join specifically: the regression was the FORCED
    # F.broadcast(vocab) hint, which survives into the analyzed
    # logical plan as a ResolvedHint — the threshold path must carry
    # the hint, the fallback path must not.  (A substring check on the
    # physical plan is vacuous: any other broadcast/sort-merge join in
    # the query could satisfy it.)
    bc_logical = bc._jdf.queryExecution().analyzed().toString()
    sj_logical = sj._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in bc_logical.lower()
    assert "broadcast" not in sj_logical.lower()


def test_tfidf_cache_released_between_calls(spark):
    """The internal vocabulary persist is bounded: each tfidf_keywords
    call releases the previous call's cached frame, and
    release_tfidf_cache() drops the final one (advisor r6: loops over
    corpora accumulated one session-lifetime cached frame per call)."""
    from sketchlib.text import analysis
    from sketchlib.text.analysis import release_tfidf_cache, tfidf_keywords

    release_tfidf_cache()
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta alpha")],
        "doc_id long, text string",
    )
    df2 = spark.createDataFrame(
        [(1, "zeta eta theta"), (2, "eta iota zeta")],
        "doc_id long, text string",
    )
    tfidf_keywords(df, k=1).collect()
    v1 = analysis._get_vocab_cache().held
    assert v1 is not None and v1.storageLevel.useMemory
    # second call over a DIFFERENT corpus (Spark's cache manager keys
    # by logical plan — an identical plan would re-cache v1's entry)
    tfidf_keywords(df2, k=1).collect()
    v2 = analysis._get_vocab_cache().held
    assert v2 is not v1
    assert not v1.storageLevel.useMemory  # previous frame released
    assert v2.storageLevel.useMemory
    release_tfidf_cache()
    assert analysis._get_vocab_cache().held is None
    assert not v2.storageLevel.useMemory
    # caller-supplied vocab is never tracked or persisted here
    from sketchlib.text.analysis import vocabulary

    v = vocabulary(df, "text")
    tfidf_keywords(df, k=1, vocab=v).collect()
    assert analysis._get_vocab_cache().held is None
