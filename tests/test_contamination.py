"""Unit tests for operators/contamination.py: known-answer overlap fixture,
threshold behavior, boilerplate-gram cap, and the decontaminate anti-join."""

from __future__ import annotations

from java9_gc_log_parser_spark.operators.contamination import (
    contamination_pairs,
    decontaminate,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _pairs(spark, train_rows, eval_rows):
    got = contamination_pairs(
        _df(spark, train_rows), _df(spark, eval_rows)
    ).collect()
    return {(r["train_id"], r["eval_id"]): r["n_shared"] for r in got}


_TRAIN = [
    (1, "s", "x y a b c d e f z"),   # contains "a b c d e f": 3 of its 4-grams
    (2, "s", "a b c d q r s t u"),   # shares only "a b c d"
    (3, "s", "p q r s t u v w"),     # disjoint
    (4, "s", "a b c d e q r s"),     # shares exactly "a b c d", "b c d e"
]


def test_known_answer_overlap(spark):
    """Train doc 1 embeds eval doc 10's text verbatim -> every eval 4-gram
    is shared; train doc 2 shares one 4-gram (below the minimum of 2) and
    train doc 4 exactly two (the minimum, inclusive)."""
    eval_rows = [(10, "s", "a b c d e f")]
    got = _pairs(spark, _TRAIN, eval_rows)
    assert got == {(1, 10): 3, (4, 10): 2}


def test_min_overlap_one_flags_single_gram(spark, monkeypatch):
    """The overlap minimum is inclusive at any value: lowered to 1, one
    shared 4-gram flags."""
    from java9_gc_log_parser_spark.operators import contamination

    monkeypatch.setattr(contamination, "_MIN_OVERLAP", 1)
    train = [(2, "s", "a b c d q r s t u")]
    eval_rows = [(10, "s", "a b c d")]
    assert _pairs(spark, train, eval_rows) == {(2, 10): 1}


def test_short_doc_fallback_exact_match(spark, monkeypatch):
    """Docs shorter than n collapse to one full-text shingle, below the
    minimum overlap of 2: sharing it flags on its own, on both join paths.
    Only an exact (lowercased) token-sequence match shares it, and blank
    docs, which share the empty shingle, never flag."""
    train = [
        (1, "s", "Tiny Doc"),
        (2, "s", "tiny doc x y z w q"),
        (3, "s", "  "),
        (4, "s", "a b c"),
    ]
    eval_rows = [(10, "s", "tiny doc"), (11, "s", ""), (12, "s", "a b c d")]
    # doc 2's 4-grams never equal the 2-token gram; doc 4's whole text is
    # only a prefix of doc 12's one 4-gram
    assert _pairs(spark, train, eval_rows) == {(1, 10): 1}
    _fallback(monkeypatch)
    assert _pairs(spark, train, eval_rows) == {(1, 10): 1}


def _fallback(monkeypatch, cap=None):
    """Force the shuffle-hash path a huge eval registry takes (optionally
    with a smaller boilerplate cap) by lowering the module's thresholds."""
    from java9_gc_log_parser_spark.operators import contamination

    monkeypatch.setattr(contamination, "BROADCAST_MAX_EVAL_GRAMS", 0)
    if cap is not None:
        monkeypatch.setattr(contamination, "FALLBACK_MAX_GRAM_EVAL_DOCS", cap)


#: every eval doc opens with the same 5-token header: two boilerplate 4-grams
_BOILERPLATE_EVAL = [
    (10, "s", "common shared header boiler text rare tail gram end"),
    (11, "s", "common shared header boiler text other words follow now"),
    (12, "s", "common shared header boiler text more filler words here"),
]
_BOILERPLATE_TRAIN = [
    (1, "s", "common shared header boiler text rare tail gram end")
]


def test_boilerplate_gram_cap(spark, monkeypatch):
    """On the fallback path a gram present in more eval docs than the cap
    is dropped before matching; rarer grams still fire. The broadcast path
    keeps every gram."""
    uncapped = _pairs(spark, _BOILERPLATE_TRAIN, _BOILERPLATE_EVAL)
    assert set(uncapped) == {(1, 10), (1, 11), (1, 12)}
    _fallback(monkeypatch, cap=1)
    capped = _pairs(spark, _BOILERPLATE_TRAIN, _BOILERPLATE_EVAL)
    # the two header grams appear in 3 eval docs -> dropped; the rare tail
    # grams of eval 10 survive and still flag the pair
    assert set(capped) == {(1, 10)}


def test_fallback_path_same_result_and_plan_shape(spark, monkeypatch):
    """The shuffle path (huge eval registry) must produce the exact same
    pairs as the broadcast path when no gram reaches the cap, via a shuffle
    HASH join — never a sort-merge over the exploded corpus and never a
    BroadcastNestedLoopJoin on either path."""
    eval_rows = [(10, "s", "a b c d e f"), (11, "s", "c d e f z q r")]

    def run(fallback):
        if fallback:
            _fallback(monkeypatch)
        df = contamination_pairs(_df(spark, _TRAIN), _df(spark, eval_rows))
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
    _fallback(monkeypatch)
    default_cap = _pairs(spark, _BOILERPLATE_TRAIN, _BOILERPLATE_EVAL)
    assert set(default_cap) == {(1, 10), (1, 11), (1, 12)}
    _fallback(monkeypatch, cap=1)
    capped = _pairs(spark, _BOILERPLATE_TRAIN, _BOILERPLATE_EVAL)
    assert set(capped) == {(1, 10)}


def test_decontaminate_removes_flagged_only(spark):
    eval_rows = [(10, "s", "a b c d e f")]
    kept = decontaminate(_df(spark, _TRAIN), _df(spark, eval_rows))
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
    out = semantic_decontaminate(corpus, ev).toPandas()
    got = dict(zip(out.vec_id, out.eval_id))
    assert got[5] == 0 and got[15] == 10
    cos = dict(zip(out.vec_id, out.cos))
    assert cos[5] >= 0.98 and cos[15] >= 0.98  # the near-copies
    assert (out.cos >= 0.30).all()
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
    out = semantic_decontaminate(corpus, ev)
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
        .filter(F.col("cos") >= 0.30)
        .select("cid")
        .distinct()
    )
    truth = set(r.cid for r in ex.collect())
    assert got <= truth  # blocking never fabricates a flag
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.25  # 4-bit sign blocking keeps same-orthant hits
