"""Hybrid (sparse + dense) retrieval with reciprocal-rank fusion.

Composition query over two operators already in the inventory: the
inverted-index posting join (operators/indexing.py, q87) supplies the
keyword leg, exact cosine top-k (operators/similarity.py, q19) supplies the
embedding leg, and the two rankings fuse via RRF — the standard hybrid
retrieval recipe a training-data pipeline uses for eval-set mining and
targeted corpus slicing. Proves the inventory's pieces compose into a
search engine, not just isolated rollups.

Determinism contract (cross-engine oracle parity):
  * Sparse scores are PURE INTEGERS: score = Σ over shared DISTINCT terms
    of bit_length(N div df) — a quantized idf in the repo's established
    string-space bit-length idiom (operators/sketches.py q65), no floats.
  * Dense ranks order by the 6-dp-rounded cosine (the q19 contract) with
    id tie-break.
  * RRF contributions are INTEGER micro-units: 10^6 div (60 + rank),
    summed exactly; final ranking ties break by doc id. No float fusion.

Scale notes (100 TB):
  * The query set is tiny and both legs BROADCAST it: the sparse leg is a
    posting-list equi-join (query terms broadcast against the corpus's
    distinct (doc, term) pairs — the same shape as q87's index build, one
    map-combinable agg on (query, doc)); the dense leg scans the corpus
    embeddings once against broadcast query vectors (q19's shape).
  * Leg fusion happens on two k_leg-rows-per-query rank tables — trivially
    small — via one full-outer join and a window over per-query groups.
  * Per-leg top-k plans as WindowGroupLimit (per-partition k-heaps), never
    a global sort of scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import ann_topk_bruteforce
from .text_analysis import doc_terms

__all__ = ["hybrid_rrf_search"]

_RRF_SCALE = 1_000_000


def hybrid_rrf_search(docs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Hybrid search: for each query doc (``doc_id % 101 == 0``, aligned
    with the embeddings' ``vec_id`` key space), fuse the top ``k_leg`` = 20
    keyword matches and the top 20 cosine neighbors via reciprocal-rank
    fusion (``1 / (60 + rank)`` per leg); return the top 10 fused hits.

    Output: ``(query_id, doc_id, rrf_fp, sparse_rank, dense_rank,
    final_rank)`` — ``rrf_fp`` in 10^6 micro-units, leg ranks NULL when the
    doc appears in only one leg.
    """
    k_leg, k_out, rrf_k = 20, 10, 60

    # ---- sparse leg: quantized-idf keyword overlap ------------------------
    dterm = doc_terms(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    df_tbl = dterm.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("_df"))
    # idf_fp = bit_length(N div df): conv(v,10,2) never emits leading zeros
    idf = dterm.crossJoin(F.broadcast(n_docs)).join(df_tbl, "term").select(
        "doc_id",
        "term",
        F.length(
            F.conv((F.expr("_n div _df")).cast("string"), 10, 2)
        ).cast("long").alias("_idf_fp"),
    )
    qterms = idf.filter("doc_id % 101 = 0").select(
        F.col("doc_id").alias("query_id"), "term", "_idf_fp"
    )
    overlap = (
        idf.withColumnRenamed("doc_id", "cand_id")
        .drop("_idf_fp")
        .join(F.broadcast(qterms), "term")
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("_idf_fp").alias("_score_fp"))
    )
    w_sparse = Window.partitionBy("query_id").orderBy(
        F.col("_score_fp").desc(), F.col("cand_id").asc()
    )
    sparse = (
        overlap.withColumn("sparse_rank", F.row_number().over(w_sparse))
        .filter(F.col("sparse_rank") <= k_leg)
        .select("query_id", F.col("cand_id").alias("id"), "sparse_rank")
    )

    # ---- dense leg: q19's exact cosine top-k ------------------------------
    dense = ann_topk_bruteforce(embeddings, k=k_leg).select(
        "query_id",
        F.col("neighbor_id").alias("id"),
        F.col("rank").alias("dense_rank"),
    )

    # ---- reciprocal-rank fusion (integer micro-units) ---------------------
    fused = sparse.join(dense, ["query_id", "id"], "full_outer").select(
        "query_id",
        "id",
        "sparse_rank",
        "dense_rank",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({rrf_k} + sparse_rank)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({rrf_k} + dense_rank)"),
                F.lit(0).cast("long"),
            )
        ).alias("rrf_fp"),
    )
    w_out = Window.partitionBy("query_id").orderBy(
        F.col("rrf_fp").desc(), F.col("id").asc()
    )
    return (
        fused.withColumn("final_rank", F.row_number().over(w_out))
        .filter(F.col("final_rank") <= k_out)
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            "rrf_fp",
            "sparse_rank",
            "dense_rank",
            "final_rank",
        )
    )
