"""Corpus n-gram novelty scoring — the cross-document originality
signal for curation and novelty-weighted sampling.

``text_repetition`` (Gopher/RefinedWeb) measures WITHIN-document
repetition; this measures a document's originality AGAINST THE WHOLE
CORPUS: the fraction of its word (or token) ``w``-grams that occur
exactly once corpus-wide.  Boilerplate-heavy pages score near 0, and
an exact duplicate pair drives both members to 0 — the continuous
cousin of `remove_duplicate_spans` (same gram convention), usable as
a filter threshold or a sampling weight where span-scrubbing is too
destructive.

Semantics (exact, engine-reproducible — the gate verifies against a
pure-SQL DuckDB oracle):

1. every position ``p`` starts a ``w``-gram — the one gram convention
   of ``sketchlib/text/grams.py`` (text: single-space split words,
   shared with spans dedup; tokens: array windows);
2. a gram occurrence is NOVEL iff its corpus-wide occurrence count
   (every (doc, position) instance, within-doc repeats included) is
   exactly 1;
3. per doc: ``n_grams``, ``novel_grams``, and
   ``novelty = novel_grams / n_grams`` (NULL below ``w`` words).

Plan (pure Catalyst): shingle transform + explode -> ONE
groupBy(gram) for global counts (map-side partial agg) -> re-join the
occurrences -> per-doc agg -> left join back onto the input (rows
below ``w`` words survive with 0 grams).  ``hash_grams=True`` narrows
both shuffles to 8-byte xxhash64 keys for corpus-scale runs (about
G(G-1)/2^65 expected colliding pairs for G distinct grams — the bound
stated in ``grams.py``).

Contract: ``id_col`` unique and non-NULL per document (it keys the
re-attach join); NULL text scores like the empty string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib.text.grams import grams


def ngram_novelty(
    docs: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    w: int = 5,
    tokens: bool = False,
    hash_grams: bool = False,
) -> DataFrame:
    """Append ``n_grams``, ``novel_grams``, ``novelty`` to ``docs``.

    The occurrence lineage is read twice (once building the global
    gram counts, once as the join probe); Spark's shuffle reuse
    already avoids most of the duplication."""
    g = grams(docs, col, w, tokens=tokens, hashed=hash_grams)
    occ = docs.select(id_col, F.explode(g).alias("__gram"))
    counts = occ.groupBy("__gram").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = (
        occ.join(counts, "__gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__c") == 1).cast("bigint")).alias("novel_grams"),
        )
    )
    out = docs.join(per_doc, id_col, "left")
    return (
        out.withColumn(
            "n_grams", F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint")
        )
        .withColumn(
            "novel_grams",
            F.coalesce(F.col("novel_grams"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "novelty",
            F.when(
                F.col("n_grams") > 0,
                F.col("novel_grams") / F.col("n_grams"),
            ),
        )
    )


def novelty_oracle_sql(table: str, col: str = "text", id_col: str = "doc_id",
                       w: int = 5) -> str:
    """DuckDB SQL reproducing text-mode novelty exactly (novelty
    rounded to 4 dp, the cross-engine float convention).  ``table``
    may be any relation expression (e.g. a parenthesized UNION)."""
    k = w - 1
    return f"""
WITH src AS (SELECT {id_col}, {col} FROM {table}),
w AS (SELECT {id_col}, string_split(COALESCE({col}, ''), ' ') AS ws FROM src),
words AS (SELECT {id_col}, unnest(ws) AS word,
  generate_subscripts(ws, 1) AS pos, len(ws) AS n FROM w),
g AS (SELECT {id_col}, pos, n, array_to_string(list(word)
  OVER (PARTITION BY {id_col} ORDER BY pos ROWS BETWEEN
  CURRENT ROW AND {k} FOLLOWING), ' ') AS gram FROM words),
occ AS (SELECT {id_col}, pos, gram FROM g WHERE pos <= n - {k}),
cnt AS (SELECT gram, count(*) AS c FROM occ GROUP BY 1),
per AS (SELECT o.{id_col}, count(*) AS n_grams,
  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS novel_grams
  FROM occ o JOIN cnt USING (gram) GROUP BY 1)
SELECT s.{id_col},
  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(COALESCE(p.novel_grams, 0) AS BIGINT) AS novel_grams,
  round(p.novel_grams::DOUBLE / p.n_grams, 4) AS novelty
FROM src s LEFT JOIN per p USING ({id_col})
""".strip()
