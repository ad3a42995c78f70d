from __future__ import annotations

from java9_gc_log_parser_spark.operators.indexing import inverted_index


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def test_index_df_tf_and_postings(spark):
    out = {
        r.term: (r.df, r.tf, r.postings)
        for r in inverted_index(_docs(spark, ["a b a", "b c", "a", "  "])).collect()
    }
    # 'a' in docs 0,2 (tf 3); 'b' in docs 0,1 (tf 2); 'c' hapax -> pruned
    assert out == {"a": (2, 3, [0, 2]), "b": (2, 2, [0, 1])}


def test_postings_capped_but_stats_full(spark):
    docs = _docs(spark, ["hot"] * 20)
    out = inverted_index(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.df, r.tf) == (20, 20)  # stats count every doc...
    assert r.postings == list(range(16))  # ...the list head is capped


def test_duplicates_collapse_before_per_term_work(spark):
    # one doc repeating a word 1000x contributes tf=1000 but df=1 and at
    # most one posting row
    docs = _docs(spark, [" ".join(["w"] * 1000), "w"])
    r = inverted_index(docs).collect()[0]
    assert (r.df, r.tf, r.postings) == (2, 1001, [0, 1])


def test_empty_and_blank_docs_index_nothing(spark):
    assert inverted_index(_docs(spark, ["", "   "])).count() == 0


def test_posting_head_uses_window_group_limit(spark):
    """The rank <= cap filter must plan as WindowGroupLimit: each map task
    keeps a local top-cap per term before the shuffle, so a stopword in
    10^9 docs never materializes its full posting list in one task."""
    plan = (
        inverted_index(_docs(spark, ["a b", "a c"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
