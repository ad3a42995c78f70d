"""Unit tests for bigram_logprob, tfidf_topk (text_analysis) and
kmeans_assign (clustering) — hand-computed known answers plus invariants
(reference test style: GcLineParserTest.scala:14-79)."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators import clustering
from java9_gc_log_parser_spark.operators.clustering import kmeans_assign
from java9_gc_log_parser_spark.operators.text_analysis import (
    bigram_logprob,
    tfidf_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


# --------------------------------------------------------------------------
# bigram_logprob
# --------------------------------------------------------------------------

def test_bigram_logprob_hand_computed(spark):
    # corpus: d1 = "a b a b", d2 = "a b"
    # unigram counts: a=3, b=3; V=2
    # bigram counts: "a b"=3, "b a"=1
    # d1 bigrams: (a b), (b a), (a b)
    #   lp(a b) = ln((3+1)/(3+2)) = ln(0.8); lp(b a) = ln((1+1)/(3+2)) = ln(0.4)
    #   avg = (2*ln(.8) + ln(.4)) / 3
    # d2 bigrams: (a b) -> avg = ln(0.8)
    out = {
        r.doc_id: r
        for r in bigram_logprob(
            _docs(spark, [(1, "s", "a b a b"), (2, "s", "a b")])
        ).collect()
    }
    assert out[1].n_bigrams == 3
    assert abs(out[1].avg_logp - (2 * math.log(0.8) + math.log(0.4)) / 3) < 1e-6
    assert out[2].n_bigrams == 1
    assert abs(out[2].avg_logp - math.log(0.8)) < 1e-6


def test_bigram_logprob_degenerate_docs(spark):
    # <2 tokens -> zero bigrams, score 0.0 (doc still present in the output)
    out = {
        r.doc_id: r
        for r in bigram_logprob(
            _docs(spark, [(1, "s", ""), (2, "s", "solo"), (3, "s", "x y")])
        ).collect()
    }
    assert (out[1].n_bigrams, out[1].avg_logp) == (0, 0.0)
    assert (out[2].n_bigrams, out[2].avg_logp) == (0, 0.0)
    assert out[3].n_bigrams == 1


def test_bigram_logprob_repetitive_scores_higher(spark):
    # a degenerate doc repeating one bigram scores higher than unique prose
    docs = _docs(
        spark,
        [(1, "s", "spam spam spam spam spam spam")]
        + [(i, "s", t) for i, t in enumerate(
            ["quick brown fox", "lazy dog sleeps", "rain in spain"], start=2
        )],
    )
    out = {r.doc_id: r.avg_logp for r in bigram_logprob(docs).collect()}
    assert out[1] > max(out[i] for i in (2, 3, 4))


# --------------------------------------------------------------------------
# tfidf_topk
# --------------------------------------------------------------------------

def test_tfidf_topk_hand_computed(spark):
    # N=3 docs; "cat" appears in d1 only (df=1), "the" in all (df=3 -> idf 0)
    docs = _docs(
        spark,
        [
            (1, "s", "the cat cat fish"),
            (2, "s", "the dog eel fox gnu"),
            (3, "s", "the bird"),
        ],
    )
    rows = tfidf_topk(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert d1[0].term == "cat" and d1[0].tf == 2
    assert abs(d1[0].score - round(2 * math.log(3.0), 6)) < 1e-9
    assert d1[1].term == "fish"
    # "the" has idf ln(3/3)=0 -> score 0, still rankable
    assert d1[2].term == "the" and d1[2].score == 0.0
    # ranks are 1..k and capped at k: d2's five terms keep the top 3
    assert all(1 <= r.rank <= 3 for r in rows)
    assert [r.term for r in sorted(by_doc[2], key=lambda r: r.rank)] == [
        "dog", "eel", "fox"
    ]


def test_tfidf_topk_deterministic_tie_break(spark):
    # two terms with identical tf and df tie on score -> term asc order
    docs = _docs(spark, [(1, "s", "b a"), (2, "s", "c d")])
    d1 = sorted(
        [r for r in tfidf_topk(docs).collect() if r.doc_id == 1],
        key=lambda r: r.rank,
    )
    assert [r.term for r in d1] == ["a", "b"]


# --------------------------------------------------------------------------
# kmeans_assign
# --------------------------------------------------------------------------

def _embs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_two_obvious_clusters(spark):
    # two tight groups far apart, each holding two of the four seeds (the
    # ids with the smallest md5, dealt alternately): no 4-means cluster may
    # mix them
    ids = sorted(range(10), key=lambda i: hashlib.md5(str(i).encode()).digest())
    near_origin = [(i, [0.0 + i * 0.01, 0.0], 0) for i in ids[0::2]]
    far = [(i, [100.0 + i * 0.01, 100.0], 1) for i in ids[1::2]]
    out = kmeans_assign(_embs(spark, near_origin + far)).collect()
    groups = {}
    for r in out:
        groups.setdefault(r.cluster, set()).add(r.vec_id)
    assert len(out) == 10
    sides = [{i for i, _, _ in near_origin}, {i for i, _, _ in far}]
    assert all(any(g <= s for s in sides) for g in groups.values())


def test_kmeans_deterministic_across_runs(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0], 0) for i in range(40)]
    e = _embs(spark, rows)
    a = sorted((r.vec_id, r.cluster, r.d2) for r in kmeans_assign(e).collect())
    b = sorted((r.vec_id, r.cluster, r.d2) for r in kmeans_assign(e).collect())
    assert a == b


def test_kmeans_converges_on_line(spark, monkeypatch):
    # 12 colinear points, 4-means: one more Lloyd iteration must not change
    # the assignment (fixed point reached), and the partition must be
    # contiguous segments of the line (1-D k-means clusters are always
    # intervals). A fixed point needs more rounds than the 2 kmeans_assign
    # runs, so the test raises _KMEANS_ITERS.
    rows = [(i, [float(i), 0.0], 0) for i in range(12)]
    e = _embs(spark, rows)
    monkeypatch.setattr(clustering, "_KMEANS_ITERS", 4)
    a4 = sorted((r.vec_id, r.cluster) for r in kmeans_assign(e).collect())
    monkeypatch.setattr(clustering, "_KMEANS_ITERS", 5)
    a5 = sorted((r.vec_id, r.cluster) for r in kmeans_assign(e).collect())
    assert a4 == a5
    seq = [c for _, c in a4]  # cluster ids along the line
    changes = sum(1 for i in range(1, len(seq)) if seq[i] != seq[i - 1])
    assert changes == len(set(seq)) - 1  # each cluster is one contiguous run


def test_semdedup_keep_rule_matches_numpy(spark, sf_dir):
    """Verdict parity with a straight numpy re-derivation: within each
    k-means cell, in every cosine>=tau pair the (d2, vec_id)-larger member
    is dropped; everything else is kept."""
    import numpy as np

    from java9_gc_log_parser_spark.operators.clustering import (
        kmeans_assign,
        semdedup,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tau = 0.3
    got = {r["vec_id"]: r for r in semdedup(embs).collect()}
    assigned = {r["vec_id"]: (r["cluster"], r["d2"])
                for r in kmeans_assign(embs).collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embs.collect()}
    # semdedup's clusters/d2 must equal kmeans_assign's
    assert {v: (r["cluster"], r["d2"]) for v, r in got.items()} == assigned

    losers = set()
    ids = sorted(vecs)
    for i, va in enumerate(ids):
        for vb in ids[i + 1:]:
            if assigned[va][0] != assigned[vb][0]:
                continue
            a, b = vecs[va], vecs[vb]
            cos = round(float(a @ b) / (float(np.linalg.norm(a))
                                        * float(np.linalg.norm(b)) + 1e-12), 6)
            if cos >= tau:
                losers.add(max(
                    (va, vb),
                    key=lambda v: (assigned[v][1], v),
                ))
    assert {v for v, r in got.items() if not r["keep"]} == losers
