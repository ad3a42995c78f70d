"""Unit tests for operators/contamination.py: known-answer overlap fixture,
threshold behavior, boilerplate-gram cap, and the decontaminate anti-join."""

from __future__ import annotations

from java9_gc_log_parser_spark.operators.contamination import (
    contamination_pairs,
    decontaminate,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _pairs(spark, train_rows, eval_rows, **kw):
    got = contamination_pairs(
        _df(spark, train_rows), _df(spark, eval_rows), **kw
    ).collect()
    return {(r["train_id"], r["eval_id"]): r["n_shared"] for r in got}


def test_known_answer_overlap(spark):
    """Train doc 1 embeds eval doc 10's text verbatim -> every eval 2-gram is
    shared; train doc 2 shares exactly one 2-gram (below min_overlap=2)."""
    train = [
        (1, "s", "x y a b c d z"),       # contains "a b c d" -> grams a b, b c, c d
        (2, "s", "a b q r s t u"),       # shares only "a b"
        (3, "s", "p q r s t u v"),       # disjoint
    ]
    eval_rows = [(10, "s", "a b c d")]
    got = _pairs(spark, train, eval_rows, n=2, min_overlap=2)
    assert got == {(1, 10): 3}


def test_min_overlap_one_flags_single_gram(spark):
    train = [(2, "s", "a b q r s t u")]
    eval_rows = [(10, "s", "a b c d")]
    got = _pairs(spark, train, eval_rows, n=2, min_overlap=1)
    assert got == {(2, 10): 1}


def test_short_doc_fallback_exact_match(spark):
    """Docs shorter than n collapse to one full-text shingle: only an exact
    (lowercased) token-sequence match can fire."""
    train = [(1, "s", "Tiny Doc"), (2, "s", "tiny doc x y z w q")]
    eval_rows = [(10, "s", "tiny doc")]
    got = _pairs(spark, train, eval_rows, n=4, min_overlap=1)
    assert got == {(1, 10): 1}  # doc 2's 4-grams never equal the 2-token gram


def _fallback(monkeypatch, cap=None):
    """Force the shuffle-hash path a huge eval registry takes (optionally
    with a smaller boilerplate cap) by lowering the module's thresholds."""
    from java9_gc_log_parser_spark.operators import contamination

    monkeypatch.setattr(contamination, "BROADCAST_MAX_EVAL_GRAMS", 0)
    if cap is not None:
        monkeypatch.setattr(contamination, "FALLBACK_MAX_GRAM_EVAL_DOCS", cap)


_BOILERPLATE_EVAL = [
    (10, "s", "common header here rare tail gram"),
    (11, "s", "common header here other words follow"),
    (12, "s", "common header here more filler text"),
]


def test_boilerplate_gram_cap(spark, monkeypatch):
    """On the fallback path a gram present in more eval docs than the cap
    is dropped before matching; rarer grams still fire. The broadcast path
    keeps every gram."""
    train = [(1, "s", "common header here rare tail gram")]
    uncapped = _pairs(spark, train, _BOILERPLATE_EVAL, n=3, min_overlap=1)
    assert set(uncapped) == {(1, 10), (1, 11), (1, 12)}
    _fallback(monkeypatch, cap=1)
    capped = _pairs(spark, train, _BOILERPLATE_EVAL, n=3, min_overlap=1)
    # "common header here" appears in 3 eval docs -> dropped; the rare tail
    # grams of eval 10 survive and still flag the pair
    assert set(capped) == {(1, 10)}


def test_fallback_path_same_result_and_plan_shape(spark, monkeypatch):
    """The shuffle path (huge eval registry) must produce the exact same
    pairs as the broadcast path when no gram reaches the cap, via a shuffle
    HASH join — never a sort-merge over the exploded corpus and never a
    BroadcastNestedLoopJoin on either path."""
    train = [
        (1, "s", "x y a b c d z"),
        (2, "s", "a b q r s t u"),
        (3, "s", "p q r s t u v"),
    ]
    eval_rows = [(10, "s", "a b c d"), (11, "s", "c d z q")]

    def run(fallback):
        if fallback:
            _fallback(monkeypatch)
        df = contamination_pairs(
            _df(spark, train), _df(spark, eval_rows), n=2, min_overlap=1
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        if fallback:
            assert "ShuffledHashJoin" in plan
        return {(r["train_id"], r["eval_id"]): r["n_shared"]
                for r in df.collect()}

    bc = run(False)
    assert bc and run(True) == bc  # identical and non-trivial


def test_fallback_cap_is_mandatory(spark, monkeypatch):
    """On the non-broadcast path the boilerplate cap always applies: a gram
    in >FALLBACK_MAX_GRAM_EVAL_DOCS eval docs can never become a hot
    shuffle key. The default cap (1000) keeps a 3-eval-doc gram; a cap of 1
    drops it."""
    train = [(1, "s", "common header here rare tail gram")]
    _fallback(monkeypatch)
    default_cap = _pairs(spark, train, _BOILERPLATE_EVAL, n=3, min_overlap=1)
    assert set(default_cap) == {(1, 10), (1, 11), (1, 12)}
    _fallback(monkeypatch, cap=1)
    capped = _pairs(spark, train, _BOILERPLATE_EVAL, n=3, min_overlap=1)
    assert set(capped) == {(1, 10)}


def test_decontaminate_removes_flagged_only(spark):
    train = [
        (1, "s", "x y a b c d z"),
        (2, "s", "a b q r s t u"),
        (3, "s", "p q r s t u v"),
    ]
    eval_rows = [(10, "s", "a b c d")]
    kept = decontaminate(
        _df(spark, train), _df(spark, eval_rows), n=2, min_overlap=2
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3]
    assert kept.columns == ["doc_id", "source", "text"]


# ---------------------------------------------------------------------------
# semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------

def _emb_fixture(spark, n=120, dim=8, seed=7):
    """Deterministic vectors: eval set = every 10th id; ids 5 and 15 are
    near-copies of eval vectors 0 and 10 (paraphrase leakage stand-ins)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    base = dict(rows)
    rows[5] = (5, [x + 0.01 for x in base[0]])
    rows[15] = (15, [x - 0.01 for x in base[10]])
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_semantic_decontaminate_flags_leaks_and_best_match(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.contamination import (
        semantic_decontaminate,
    )

    embs = _emb_fixture(spark)
    ev = embs.filter(F.col("vec_id") % 10 == 0)
    corpus = embs.filter(F.col("vec_id") % 10 != 0)
    out = semantic_decontaminate(corpus, ev, threshold=0.98).toPandas()
    got = dict(zip(out.vec_id, out.eval_id))
    assert got[5] == 0 and got[15] == 10
    assert (out.cos >= 0.98).all()
    # eval ids never appear on the corpus side
    assert not (out.vec_id % 10 == 0).any()


def test_semantic_decontaminate_plan_and_recall(spark):
    """Plan: eval side broadcasts, no nested-loop or cartesian join.
    Recall of the sign-LSH blocking vs the exact all-pairs screen is
    measured and bounded (the documented trade)."""
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.contamination import (
        semantic_decontaminate,
    )
    from java9_gc_log_parser_spark.operators.similarity import cosine

    embs = _emb_fixture(spark, n=300)
    ev = embs.filter(F.col("vec_id") % 10 == 0)
    corpus = embs.filter(F.col("vec_id") % 10 != 0)
    out = semantic_decontaminate(corpus, ev, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = set(out.toPandas().vec_id)
    # exact ground truth via full cross join (test-only; tiny)
    ex = (
        corpus.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
        .crossJoin(ev.select(F.col("vec_id").alias("eid"), F.col("embedding").alias("ee")))
        .withColumn("cos", cosine(F.col("ce"), F.col("ee")))
        .filter(F.col("cos") >= 0.5)
        .select("cid")
        .distinct()
    )
    truth = set(r.cid for r in ex.collect())
    assert got <= truth  # blocking never fabricates a flag
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.25  # 4-bit sign blocking keeps same-orthant hits
