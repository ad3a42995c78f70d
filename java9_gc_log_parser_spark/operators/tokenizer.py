"""Distributed BPE merge learning (tokenizer training over the corpus).

Byte-pair-encoding vocabulary induction is the canonical "train the
tokenizer on the training corpus" step of an LLM data pipeline. The key
scale fact — exploited by every real trainer (HF tokenizers, SentencePiece
in word mode) — is that BPE never needs the corpus after the first pass:
merge learning runs on the WORD-FREQUENCY table, whose size is the
vocabulary (millions of rows), not the corpus (trillions of tokens).

Scale shape (100 TB): corpus-scale work is exactly ONE map-combinable
word-count hash agg. Each of the ``n_merges`` iterations then does an
adjacent-pair count + argmax over the O(vocab) table (persisted once, so
no iteration re-touches the corpus) and ships exactly one row to the
driver — O(n_merges) driver round-trips, same discipline as the k-means /
PageRank iteration loops (clustering.py, graph.py).

Determinism contract (cross-engine, replayed verbatim by the DuckDB
oracle):

- best pair per step = max summed count, ties broken by the pair string
  ascending (binary/ASCII collation both engines share);
- merge application = the DOUBLE space-bounded ``replace`` on the
  space-separated symbol string: ``replace(replace(s, ' l r ', ' lr '),
  ' l r ', ' lr ')``. One replace pass consumes the trailing space of a
  match, hiding an immediately following occurrence; a second pass
  catches the survivors, which pass one has guaranteed are isolated.
  For runs of a REPEATED symbol ('a a a a a') this rule can differ from
  leftmost-greedy BPE in which occurrences it merges — but it is a
  deterministic, engine-identical rule (`replace` scans left-to-right,
  non-overlapping, in both Spark and DuckDB), which is what an oracled
  operator needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MERGES_SCHEMA = StructType(
    [
        StructField("step", IntegerType(), False),
        StructField("left", StringType(), False),
        StructField("right", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def _spaced_chars(word) -> F.Column:
    # "fast" -> " f a s t "  (regexp backref: each char followed by a space)
    return F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))


def _adjacent_pairs(syms) -> F.Column:
    arr = F.split(F.trim(syms), " ")
    n = F.size(arr)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat(F.get(arr, i), F.lit(" "), F.get(arr, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _apply_merge(syms, left: str, right: str) -> F.Column:
    pat = f" {left} {right} "
    rep = f" {left}{right} "
    return F.replace(
        F.replace(syms, F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
    )


def bpe_learn(
    spark: SparkSession, docs: DataFrame, n_merges: int = 8
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    ``(step, left, right, merged, pair_count)`` — the trained-tokenizer
    artifact a real pipeline would broadcast to its encode stage."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    from java9_gc_log_parser_spark.operators.text_analysis import term_counts

    # the single corpus-scale pass: lowered-token word frequencies
    words = (
        term_counts(docs)
        .select("cnt", _spaced_chars(F.col("term")).alias("syms"))
        .persist()
    )
    words.count()  # materialize: no iteration may re-touch the corpus
    try:
        merges: list[tuple] = []
        cur = words
        for step in range(1, n_merges + 1):
            best = (
                cur.select(
                    "cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("pair")
                )
                .groupBy("pair")
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, c = best[0]["pair"], int(best[0]["c"])
            left, right = pair.split(" ")
            merges.append((step, left, right, left + right, c))
            cur = cur.select(
                "cnt", _apply_merge(F.col("syms"), left, right).alias("syms")
            )
        return spark.createDataFrame(merges, MERGES_SCHEMA)
    finally:
        words.unpersist()


def bpe_encode_fertility(
    docs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Encode the corpus with a learned merge list and report tokenizer
    fertility (pieces per word) per source — the standard "is the
    tokenizer a good fit for this corpus slice" health metric (high
    fertility on a source means the vocab underserves it).

    The encode path never re-runs BPE per token occurrence: merges are
    applied once to the O(vocab) distinct-word table (the same chained
    double-replace used during training), and the corpus token stream
    picks up its piece count via a BROADCAST join against that tiny
    encoded vocab — one map-only corpus pass + one map-combinable agg.
    ``merges`` is the driver-side merge list (O(n_merges) rows, the
    artifact ``bpe_learn`` produced).
    """
    from java9_gc_log_parser_spark.operators.text_analysis import lower_tokens

    vocab = (
        docs.select(F.explode(lower_tokens()).alias("word"))
        .distinct()
        .select("word", _spaced_chars(F.col("word")).alias("syms"))
    )
    syms = F.col("syms")
    for left, right in merges:
        syms = _apply_merge(syms, left, right)
    enc = vocab.select(
        "word", F.size(F.split(F.trim(syms), " ")).alias("n_pieces")
    )
    stream = docs.select("source", F.explode(lower_tokens()).alias("word"))
    return (
        stream.join(F.broadcast(enc), "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.round(
                F.sum("n_pieces").cast("double") / F.count("*"), 6
            ).alias("pieces_per_word"),
        )
    )
