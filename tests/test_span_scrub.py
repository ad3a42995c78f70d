"""Unit tests for dedupe.dup_span_scrub (duplicated-span removal)."""

from __future__ import annotations

from java9_gc_log_parser_spark.operators.dedupe import dup_span_scrub


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _run(spark, rows):
    out = dup_span_scrub(_docs(spark, rows)).collect()
    return {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"]) for r in out}


def test_shared_span_scrubbed_from_both_docs(spark):
    shared = "one two three four five"
    got = _run(
        spark,
        [(1, "w", f"alpha {shared} beta"), (2, "w", f"{shared} gamma delta")],
    )
    assert got[1] == (7, 5, "alpha beta")
    assert got[2] == (7, 5, "gamma delta")


def test_overlapping_duplicated_grams_merge_into_one_span(spark):
    # 6 shared tokens -> two overlapping 5-grams -> 6 positions covered
    shared = "a b c d e f"
    got = _run(spark, [(1, "w", f"x {shared}"), (2, "w", f"{shared} y")])
    assert got[1] == (7, 6, "x")
    assert got[2] == (7, 6, "y")


def test_short_docs_and_unique_docs_untouched(spark):
    got = _run(
        spark,
        [(1, "w", "tiny doc"), (2, "w", "all tokens here are unique ones")],
    )
    assert got[1] == (2, 0, "tiny doc")
    assert got[2] == (6, 0, "all tokens here are unique ones")


def test_fully_duplicated_doc_scrubs_to_empty(spark):
    t = "one two three four five"
    got = _run(spark, [(1, "w", t), (2, "w", t)])
    assert got[1] == (5, 5, "")
    assert got[2] == (5, 5, "")


def test_matching_is_case_insensitive_output_lowercased(spark):
    got = _run(
        spark,
        [(1, "w", "One Two Three Four Five TAIL"), (2, "w", "one two three four five")],
    )
    assert got[1] == (6, 5, "tail")
