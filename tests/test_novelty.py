"""Corpus n-gram novelty (sketchlib/text/novelty.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sketchlib.text.novelty import ngram_novelty


def _rows(df, id_col="doc_id"):
    return {
        r[id_col]: (r["n_grams"], r["novel_grams"], r["novelty"])
        for r in df.collect()
    }


def test_closed_form(spark):
    # w=2 grams: d1 "a b","b c" ; d2 "a b","b d" ; d3 none (1 word)
    df = spark.createDataFrame(
        [("d1", "a b c"), ("d2", "a b d"), ("d3", "z"), ("d4", None)],
        ["doc_id", "text"],
    )
    out = _rows(ngram_novelty(df, w=2))
    # "a b" occurs twice -> not novel; "b c"/"b d" once each -> novel
    assert out["d1"] == (2, 1, 0.5)
    assert out["d2"] == (2, 1, 0.5)
    assert out["d3"] == (0, 0, None)
    assert out["d4"] == (0, 0, None)


def test_exact_duplicates_score_zero(spark):
    base = [(f"d{i}", f"w{i} x{i} y{i} z{i} q{i} r{i}") for i in range(8)]
    dup = [("c1", base[0][1]), ("c2", base[0][1])]  # d0 text twice more
    df = spark.createDataFrame(base + dup, ["doc_id", "text"])
    out = _rows(ngram_novelty(df, w=5))
    for d in ("d0", "c1", "c2"):
        assert out[d][2] == 0.0
    for i in range(1, 8):
        assert out[f"d{i}"][2] == 1.0


def test_within_doc_repeat_not_novel(spark):
    df = spark.createDataFrame(
        [("d1", "p q p q"), ("d2", "u v")], ["doc_id", "text"]
    )
    out = _rows(ngram_novelty(df, w=2))
    # d1 grams: "p q","q p","p q" -> "p q" count 2 (within one doc)
    assert out["d1"] == (3, 1, pytest.approx(1 / 3))
    assert out["d2"] == (1, 1, 1.0)


def test_hash_grams_equivalent(spark):
    rows = [
        (f"d{i}", " ".join(f"t{(i * 5 + j) % 40}" for j in range(10)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = _rows(ngram_novelty(df, w=4))
    hashed = _rows(ngram_novelty(df, w=4, hash_grams=True))
    assert plain == hashed
    tok = spark.createDataFrame(
        [(d, [int(t[1:]) for t in text.split()]) for d, text in rows],
        "doc_id string, tokens array<int>",
    )
    tok_plain = _rows(ngram_novelty(tok, col="tokens", w=4, tokens=True))
    tok_hashed = _rows(
        ngram_novelty(tok, col="tokens", w=4, tokens=True, hash_grams=True)
    )
    assert tok_plain == tok_hashed == plain


def test_tokens_mode_matches_text_mode(spark):
    from sketchlib.spark.datagen import token_sequences

    df = token_sequences(spark, 250, seed=3).select(
        "doc_id", F.slice("tokens", 1, 24).alias("tokens")
    )
    tok = _rows(ngram_novelty(df, col="tokens", w=5, tokens=True))
    txt_df = df.select(
        "doc_id",
        F.array_join(F.col("tokens").cast("array<string>"), " ").alias("text"),
    )
    txt = _rows(ngram_novelty(txt_df, w=5))
    assert tok == txt


def test_tokens_requires_array(spark):
    df = spark.createDataFrame([("d1", "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="array column"):
        ngram_novelty(df, col="text", tokens=True)
