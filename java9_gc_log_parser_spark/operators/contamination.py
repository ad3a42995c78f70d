"""Benchmark decontamination: train/eval n-gram overlap detection.

Before training, a corpus must be screened against evaluation benchmarks:
any training document sharing enough rare word n-grams with an eval document
leaks the benchmark into the training set (the standard n-gram-overlap
decontamination procedure described openly in LLM training reports).

Spark-first shape (no UDFs, no all-pairs):

  * both sides are shingled with the SAME tokenizer/shingler as the dedup
    family (``dedupe.with_shingles`` — distinct word n-grams, short-doc
    fallback), so dedup and decontamination agree on token semantics;
  * a doc shorter than the n-gram collapses to ONE shingle, its full token
    string, so it can never reach the overlap minimum: a pair that shares
    a non-empty gram of fewer than n tokens is flagged as well. Only two
    token-identical short docs share such a gram (every other gram has
    exactly n tokens; blank docs share the empty one);
  * the eval side is exploded to (gram, eval_id) and **broadcast**: eval
    benchmarks are a few MB against a 100 TB corpus, so the join is map-side
    — the train corpus is scanned once, shuffle-free until the final
    per-pair aggregation;
  * the per-pair aggregation groups by (train_id, eval_id) and counts the
    shared grams; because shingles are distinct per doc, ``count(*)`` IS the
    distinct-overlap size. Partial aggregation (map-side combine) bounds the
    shuffle to surviving pairs, which decontamination keeps rare by using
    long-ish n-grams;
  * when the eval side is too big to broadcast, degenerate grams
    (boilerplate shared by more than ``FALLBACK_MAX_GRAM_EVAL_DOCS`` eval
    docs) are dropped — a documented recall trade-off, computed on the eval
    side before the join, so the hot-key blow-up never reaches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedupe import with_shingles


#: above this many exploded (gram, eval_id) rows the eval side stops being
#: broadcast-able (rough sizing: ~100 B/row puts 5M rows near Spark's default
#: 8 GB broadcast-table ceiling's comfortable fraction and well past
#: autoBroadcastJoinThreshold) and the join falls back to a shuffle hash join
BROADCAST_MAX_EVAL_GRAMS = 5_000_000

#: the fallback path makes the boilerplate cap MANDATORY: without the
#: broadcast, a degenerate gram shared by many eval docs is a hot shuffle key
#: whose output is |train matches| x |eval docs| rows on one reducer
FALLBACK_MAX_GRAM_EVAL_DOCS = 1000

#: a train doc is contaminated when it shares at least _MIN_OVERLAP distinct
#: word _NGRAM-grams with an eval doc, or both are the same short doc
_NGRAM = 4
_MIN_OVERLAP = 2

#: the cosine at which semantic_decontaminate flags a corpus vector
_SEMANTIC_THRESHOLD = 0.30


def contamination_pairs(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """(train_id, eval_id, n_shared): train docs sharing ``>= _MIN_OVERLAP``
    distinct word ``_NGRAM``-grams with an eval doc, or token-identical to
    it when shorter than ``_NGRAM`` tokens (then ``n_shared`` is 1).

    ``filter`` on the result (or an anti-join back to ``train``) is the
    decontaminated corpus.

    Join-strategy selection is measured: count the exploded eval rows (one
    job over the SMALL side only; the train corpus is never touched), then
      * at most ``BROADCAST_MAX_EVAL_GRAMS`` — broadcast the exploded
        eval-gram table (the normal case: eval benchmarks are a few MB
        against a 100 TB corpus; the corpus scan stays map-side, zero
        shuffle before the pair aggregation);
      * more — shuffle HASH join on ``gram`` (hinted: the gram side needs no
        sort, and a sort-merge join would sort the full exploded corpus),
        for a huge eval registry (hundreds of benchmarks x long n-grams).
        Grams in more than ``FALLBACK_MAX_GRAM_EVAL_DOCS`` eval docs are
        dropped first — without the broadcast, a boilerplate gram is a hot
        shuffle key.

    Both paths produce identical results on the same inputs when no gram
    reaches the cap (tests/test_contamination.py asserts it), and neither
    can plan a BroadcastNestedLoopJoin (equi-join on gram; plan-asserted).
    """
    ev = (
        with_shingles(eval_df, _NGRAM)
        .select(F.col("doc_id").alias("eval_id"), F.explode("sh").alias("gram"))
    )
    broadcast_eval = ev.count() <= BROADCAST_MAX_EVAL_GRAMS
    if not broadcast_eval:
        ok = (
            ev.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_n_ev"))
            .filter(F.col("_n_ev") <= FALLBACK_MAX_GRAM_EVAL_DOCS)
            .select("gram")
        )
        ev = ev.join(ok, "gram")
    tr = (
        with_shingles(train, _NGRAM)
        .select(F.col("doc_id").alias("train_id"), F.explode("sh").alias("gram"))
    )
    joined = (
        tr.join(F.broadcast(ev), "gram")
        if broadcast_eval
        else tr.join(ev.hint("shuffle_hash"), "gram")
    )
    short = (F.col("gram") != "") & (
        F.size(F.split(F.col("gram"), " ")) < _NGRAM
    )
    return (
        joined.groupBy("train_id", "eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.bool_or(short).alias("_short"),
        )
        .filter((F.col("n_shared") >= _MIN_OVERLAP) | F.col("_short"))
        .drop("_short")
    )


def decontaminate(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Train corpus minus every document ``contamination_pairs`` flags.

    Left anti join on the (small) flagged-id set — at scale, broadcast-able
    because the contaminated fraction of a screened corpus is tiny.
    """
    flagged = contamination_pairs(train, eval_df).select(
        F.col("train_id").alias("doc_id")
    ).distinct()
    return train.join(F.broadcast(flagged), "doc_id", "left_anti")


def semantic_decontaminate(
    corpus_emb: DataFrame, eval_emb: DataFrame
) -> DataFrame:
    """Embedding-space (semantic) eval-set contamination: corpus vectors
    whose cosine to some eval vector reaches ``_SEMANTIC_THRESHOLD``, with
    the best match per corpus vector — (vec_id, eval_id, cos).

    The n-gram screen (:func:`contamination_pairs`) misses paraphrased or
    lightly-rewritten benchmark leakage; the embedding screen catches what
    survives surface rewording (the PaLM/GPT-4-style second contamination
    gate). ``decontaminate``-style anti-join of the flagged ids is the
    cleaned corpus.

    Scale shape: the eval side is benchmarks — a few thousand vectors
    against a 10^12-row corpus — so it BROADCASTS, blocked by the same
    deterministic sign-LSH bucket as
    :func:`similarity.embedding_near_dup_pairs` (equi-join on the bucket,
    never a broadcast nested-loop over the full eval set; recall loss from
    bucket splits is the documented LSH trade, measured in
    tests/test_contamination.py). The corpus scan stays map-side: bucket
    id and norm are row-local arithmetic, the join probes a broadcast hash
    table, and the best-match window partitions by corpus vec_id over only
    the matched subset. No corpus-sized shuffle anywhere.
    """
    from .similarity import _with_norm, rounded_cos, sign_bucket

    c = _with_norm(corpus_emb).select(
        "vec_id",
        "_emb",
        "_nrm",
        sign_bucket(F.col("embedding")).alias("_blk"),
    )
    ev = _with_norm(eval_emb).select(
        F.col("vec_id").alias("eval_id"),
        F.col("_emb").alias("_eemb"),
        F.col("_nrm").alias("_enrm"),
        sign_bucket(F.col("embedding")).alias("_blk"),
    )
    cos = rounded_cos("_emb", "_nrm", "_eemb", "_enrm")
    matched = (
        c.join(F.broadcast(ev), "_blk")
        .withColumn("cos", cos)
        .filter(F.col("cos") >= _SEMANTIC_THRESHOLD)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("eval_id").asc()
    )
    return (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("eval_id").cast("long").alias("eval_id"),
            "cos",
        )
    )
