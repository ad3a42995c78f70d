"""Inverted-index construction: term -> bounded posting list + df/tf stats.

The search-engine side of a corpus store: contamination lookups ("which
docs contain this eval answer?"), boilerplate forensics, and targeted
re-inspection all need term -> documents access without a full scan. The
index here is the classic distributed shape — the same computation as the
original MapReduce inverted-index example, expressed declaratively so
Catalyst plans the partial aggregations.

Scale notes (100 TB):
  * explode(tokens) is the linear cost — one pass, map-side.
  * per-(term, doc) tf collapses duplicates BEFORE any per-term work, so a
    doc repeating a hot word 10^4 times contributes ONE row downstream.
  * the posting list is capped per term BEFORE collection via a
    row_number window (Spark's WindowGroupLimit rewrites rank <= k into a
    per-partition top-k, so a stopword appearing in 10^9 docs never
    materializes 10^9 rows in one task — the classic hot-postings skew
    killer). df/tf stats still count EVERY doc via a map-combinable hash
    agg that never builds the list.
  * ``_DF_MIN`` prunes hapax terms (the overwhelming majority of the vocab by
    type count) from the index, bounding output size; full-vocab stats
    live in `zipf_topk`/`tfidf_topk`.

Reference parity: beyond-reference operator (SURVEY §2 extension set) —
the reference grep-scans its one log; a 100 TB corpus needs the index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import tokens_col

__all__ = ["inverted_index"]


#: smallest document frequency a term is indexed at, and the posting
#: list head's length
_DF_MIN = 2
_POSTINGS_CAP = 16


def inverted_index(docs: DataFrame) -> DataFrame:
    """Build ``(term, df, tf, postings)`` per term with df >= ``_DF_MIN``.

    ``df`` counts distinct docs containing the term, ``tf`` total
    occurrences across the corpus, ``postings`` the first ``_POSTINGS_CAP``
    doc_ids ascending (array<long>) — the bounded head of the posting
    list; a real store would spill full postings to a term-bucketed table,
    same plan shape.
    """
    per_doc = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_doc"))
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf_doc").cast("long").alias("tf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    head = (
        per_doc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _POSTINGS_CAP)
        .groupBy("term")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("postings"))
    )
    return (
        stats.filter(F.col("df") >= _DF_MIN)
        .join(head, "term")
        .select("term", "df", "tf", "postings")
    )
