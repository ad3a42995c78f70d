"""Unit tests for operators/search.py (hybrid RRF retrieval)."""

from __future__ import annotations

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.search import hybrid_rrf_search


def _corpus(spark):
    # doc 0 is the query (0 % 101 == 0); doc 1 shares rare terms with it,
    # doc 2 shares only a ubiquitous term, doc 3 shares nothing
    docs = spark.createDataFrame(
        [
            (0, "alpha beta common", "s", 17),
            (1, "alpha beta common extra", "s", 23),
            (2, "common zzz yyy", "s", 14),
            (3, "qqq rrr sss", "s", 11),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    # embeddings: doc 1 colinear with query, doc 3 orthogonal-ish
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0]),
            (2, [0.5, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    return docs, embs


def test_hybrid_rrf_orders_shared_rare_terms_first(spark):
    docs, embs = _corpus(spark)
    out = hybrid_rrf_search(docs, embs)
    rows = sorted(out.collect(), key=lambda r: r["final_rank"])
    assert all(r["query_id"] == 0 for r in rows)
    # doc 1 tops both legs -> rank 1 overall
    assert rows[0]["doc_id"] == 1
    assert rows[0]["sparse_rank"] == 1 and rows[0]["dense_rank"] == 1
    # rrf_fp is exact integer micro-units: two rank-1 legs
    assert rows[0]["rrf_fp"] == 2 * (1_000_000 // 61)
    # doc 3 shares no term: absent from sparse leg -> NULL sparse_rank
    d3 = next(r for r in rows if r["doc_id"] == 3)
    assert d3["sparse_rank"] is None and d3["dense_rank"] is not None


def test_hybrid_rrf_respects_k_out(spark):
    # 12 candidates for query 0 in both legs; only the top 10 come back
    docs = spark.createDataFrame(
        [(i, f"common w{i}", "s", 10) for i in range(13)],
        "doc_id long, text string, source string, n_chars long",
    )
    embs = spark.createDataFrame(
        [(i, [1.0, float(i), 0.0]) for i in range(13)],
        "vec_id long, embedding array<float>",
    )
    out = hybrid_rrf_search(docs, embs)
    assert out.count() == 10
    assert out.filter(F.col("final_rank") > 10).count() == 0
