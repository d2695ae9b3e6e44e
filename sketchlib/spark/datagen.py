"""Deterministic synthetic token-sequence table, generated JVM-side.

The mandated input shape (BASELINE.json ``input_hint``):
  doc_id: string, tokens: array<int32>, n_tok: int32, source: string

Everything is derived from xxhash64(id, seed) inside whole-stage
codegen — no Python, no driver-side data, fully deterministic, and
scales linearly with ``spark.range`` parallelism.  ``source`` follows a
Zipf(1.5)-ish skew over five sources (FIXTURES.md §A) to exercise the
grouped keyed merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCES = ["web", "books", "code", "wiki", "forums"]
# Zipf exponent 1.5 over ranks 1..5, cumulative thresholds
_ZIPF_W = [1.0, 0.35355, 0.19245, 0.125, 0.08944]
_ZIPF_CUM = []
_acc = 0.0
for _w in _ZIPF_W:
    _acc += _w / sum(_ZIPF_W)
    _ZIPF_CUM.append(_acc)

VOCAB_SIZE = 50_000
MAX_TOKENS = 2048


def token_sequences(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    max_tokens: int = MAX_TOKENS,
) -> DataFrame:
    """Build the deterministic token table with pure SQL expressions."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 4, 8)
    df = spark.range(0, n_rows, 1, partitions)

    h = F.xxhash64(F.col("id"), F.lit(seed))
    u = (F.pmod(h, F.lit(1_000_000)).cast("double") / 1_000_000.0)

    # n_tok ~ clipped lognormal-ish via sum of two uniforms (cheap,
    # deterministic); range [1, max_tokens]
    h2 = F.xxhash64(F.col("id"), F.lit(seed + 1))
    u2 = (F.pmod(h2, F.lit(1_000_000)).cast("double") / 1_000_000.0)
    n_tok = (
        F.least(
            F.greatest(
                (F.pow(F.lit(float(max_tokens)), (u + u2) / 2.0)).cast("int"),
                F.lit(1),
            ),
            F.lit(max_tokens),
        )
    ).alias("n_tok")

    source = (
        F.when(u < _ZIPF_CUM[0], SOURCES[0])
        .when(u < _ZIPF_CUM[1], SOURCES[1])
        .when(u < _ZIPF_CUM[2], SOURCES[2])
        .when(u < _ZIPF_CUM[3], SOURCES[3])
        .otherwise(SOURCES[4])
    ).alias("source")

    tokens = F.transform(
        F.sequence(F.lit(1), F.col("n_tok")),
        lambda i: F.pmod(
            F.xxhash64(F.col("id"), i, F.lit(seed + 2)), F.lit(VOCAB_SIZE)
        ).cast("int"),
    ).alias("tokens")

    return (
        df.withColumn("n_tok", n_tok)
        .withColumn("source", source)
        .select(
            F.format_string("doc-%010d", F.col("id")).alias("doc_id"),
            tokens,
            F.col("n_tok").cast("int").alias("n_tok"),
            F.col("source"),
        )
    )


def token_checksums(df: DataFrame) -> DataFrame:
    """Per-row xxhash64 checksum of the token array (doc_id, checksum).

    The per-row invariant (input_hint): every pipeline stage must leave
    ``tokens`` byte-identical; tests compare this before/after.
    """
    return df.select(
        "doc_id", F.xxhash64(F.col("tokens")).alias("tok_checksum")
    )
