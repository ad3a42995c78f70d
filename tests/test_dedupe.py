"""Unit tests for operators/dedupe.py: known-answer fixtures, blocking
exactness, and the LSH recall-vs-exact property (table-driven, mirroring the
reference's parser test style, GcLineParserTest.scala:14-79)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.dedupe import (
    lsh_buckets,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    with_shingles,
    with_simhash,
)
from java9_gc_log_parser_spark.operators.text_analysis import (
    lower_tokens,
    word_ngrams,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _py_ngrams(text: str, n: int) -> list[str]:
    """Python ground truth mirroring text_analysis.word_ngrams exactly."""
    toks = text.lower().split()
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _py_shingles(text: str, n: int) -> frozenset:
    """Python ground truth mirroring with_shingles exactly."""
    return frozenset(_py_ngrams(text, n) or [" ".join(text.lower().split())])


def _py_jaccard(a: frozenset, b: frozenset) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


# ---------------------------------------------------------------------------
# with_shingles
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "text,n,expected",
    [
        ("a b c d", 3, {"a b c", "b c d"}),
        ("a b", 3, {"a b"}),  # shorter than n -> whole text
        ("", 3, {""}),  # empty doc still emits one shingle
        ("A b a B", 1, {"a", "b"}),  # lowercased + distinct
        ("x  y", 2, {"x y"}),  # multi-space collapse via \s+ split
        ("a b c", 3, {"a b c"}),  # exactly n tokens -> one gram
        ("a", 2, {"a"}),  # n - 1 tokens
        ("   ", 3, {""}),  # blank doc
    ],
)
def test_with_shingles_known(spark, text, n, expected):
    """with_shingles, and under it the word n-gram kernel, which yields no
    gram for fewer than n tokens (with_shingles falls back to the text)."""
    df = _docs(spark, [(1, "s", text)])
    [row] = with_shingles(df, n=n).select(
        "sh", word_ngrams(lower_tokens(), n).alias("g")
    ).collect()
    assert set(row.sh) == expected
    assert row.g == _py_ngrams(text, n)


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs
# ---------------------------------------------------------------------------

def test_ngram_jaccard_known_pair(spark):
    df = _docs(
        spark,
        [(1, "s", "the cat sat"), (2, "s", "the cat sat"), (3, "s", "dog runs")],
    )
    rows = ngram_jaccard_pairs(df).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_ngram_jaccard_adjacent_length_buckets(spark):
    # sizes 3 vs 6 sit in different log2 buckets (2 vs 3) at exactly the
    # threshold ratio 0.5 — the +/-w bucket explode must still find the pair,
    # in BOTH doc_id orders (small-doc-first and big-doc-first).
    df = _docs(
        spark,
        [
            (1, "s", "a b c d e f"),  # 6 shingles (n=1)
            (2, "s", "a b c"),  # 3 shingles, jaccard 3/6 = 0.5
            (10, "t", "p q r"),
            (11, "t", "p q r s t u"),
        ],
    )
    rows = ngram_jaccard_pairs(df).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert got == {(1, 2): 0.5, (10, 11): 0.5}


def test_ngram_jaccard_blocking_is_exact(spark):
    # property: the compound (source, length-bucket) blocking returns exactly
    # the brute-force pairs within each source at the threshold.
    rows = []
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for i in range(24):
        k = 1 + (i * 7) % 10  # lengths 1..10 -> multiple log2 buckets
        toks = [words[(i + j) % 10] for j in range(k)]
        rows.append((i, f"src{i % 2}", " ".join(toks)))
    df = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df).collect()
    }
    sh = {i: _py_shingles(t, 1) for i, _, t in rows}
    src = {i: s for i, s, _ in rows}
    want = {}
    for a, b in itertools.combinations(range(24), 2):
        if src[a] != src[b]:
            continue
        j = round(_py_jaccard(sh[a], sh[b]), 6)
        if j >= 0.5:
            want[(a, b)] = j
    assert got == want


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

BASE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a silver moon near the old stone bridge"
)


def _near_dup_corpus():
    """10 base docs + a perturbed clone each (high 3-gram jaccard) + noise."""
    rows = []
    base_words = BASE.split()
    for i in range(10):
        words = [f"{w}{i}" if j % 5 == 0 else w for j, w in enumerate(base_words)]
        rows.append((i * 2, "s", " ".join(words)))
        clone = list(words)
        clone[3] = "changed"  # one-word edit -> jaccard stays high
        rows.append((i * 2 + 1, "s", " ".join(clone)))
    for i in range(10):
        rows.append((100 + i, "s", f"totally unrelated text number {i} about topic{i}"))
    return rows


def test_minhash_identical_docs_pair(spark):
    df = _docs(spark, [(1, "s", BASE), (2, "s", BASE), (3, "s", "other words here")])
    rows = minhash_lsh_pairs(df, 0.6, lsh_buckets(df)).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in rows] == [(1, 2, 1.0)]


def test_minhash_lsh_recall_and_precision_vs_exact(spark):
    rows = _near_dup_corpus()
    df = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(df, 0.5, lsh_buckets(df)).collect()
    }
    sh = {i: _py_shingles(t, 3) for i, _, t in rows}
    exact = {
        (a, b): round(_py_jaccard(sh[a], sh[b]), 6)
        for a, b in itertools.combinations(sorted(sh), 2)
        if _py_jaccard(sh[a], sh[b]) >= 0.5
    }
    # precision is EXACT: verification computes true jaccard, so every
    # returned pair must be a true pair with the true score
    for pair, j in got.items():
        assert pair in exact and exact[pair] == j, pair
    # recall: a one-word edit on a 24-word doc gives 3-gram jaccard ~0.76;
    # banding (8 bands of 4) catches such a pair with p ~ 1-(1-0.76^4)^8 ~ 0.96
    high = {p for p, j in exact.items() if j >= 0.7}
    assert len(high) >= 10
    recall = len(high & set(got)) / len(high)
    assert recall >= 0.7, f"LSH recall {recall} over {len(high)} true pairs"


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def test_simhash_identical_docs_zero_hamming(spark):
    df = _docs(spark, [(1, "s", BASE), (2, "s", BASE)])
    rows = simhash_pairs(with_simhash(df), max_hamming=8).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_simhash_pairs_accepts_injected_signatures(spark):
    """Any ``(doc_id, sim)`` table works, e.g. one read back from parquet:
    docs 1 and 2 share bands 1-3 and sit 3 bits apart; doc 3 (all ones)
    shares no band with either."""
    sig = spark.createDataFrame([(1, 0), (2, 7), (3, -1)],
                                "doc_id long, sim long")
    rows = simhash_pairs(sig, max_hamming=8).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in rows] == [(1, 2, 3)]


def test_simhash_signature_deterministic(spark):
    df = _docs(spark, [(1, "s", BASE)])
    s1 = with_simhash(df).select("sim").collect()[0].sim
    s2 = with_simhash(df).select("sim").collect()[0].sim
    assert s1 == s2
    # word order must not change the signature (bag-of-words hashes)
    df2 = _docs(spark, [(1, "s", " ".join(reversed(BASE.split())))])
    assert with_simhash(df2).select("sim").collect()[0].sim == s1


def test_simhash_near_dups_found_unrelated_excluded(spark):
    rows = _near_dup_corpus()
    df = _docs(spark, rows)
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(with_simhash(df), max_hamming=10).collect()
    }
    # every one-word-edit clone pair is near in Hamming space
    found_clones = sum(1 for i in range(10) if (2 * i, 2 * i + 1) in got)
    assert found_clones >= 8
    # hamming values bounded as filtered
    assert all(0 <= h <= 10 for h in got.values())


def test_staging_columns_rejected_on_input(spark):
    # inputs carrying reserved staging names must not be silently destroyed
    df = _docs(spark, [(1, "s", "a b c")]).withColumn("_toks", F.lit("x"))
    with pytest.raises(ValueError, match="_toks"):
        with_shingles(df, 3)


# ---------------------------------------------------------------------------
# dedup_clusters: connected components + canonical keep-list
# ---------------------------------------------------------------------------

def _clusters(spark, docs_rows, pairs_rows):
    from java9_gc_log_parser_spark.operators.dedupe import dedup_clusters

    docs = _docs(spark, docs_rows)
    pairs = spark.createDataFrame(pairs_rows, "doc_a long, doc_b long")
    return {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_clusters(docs, pairs).collect()
    }


def _path_pairs(spark, n):
    return spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")


def test_dedup_clusters_transitive_chain(spark):
    """A~B and B~C must land A,B,C in one cluster even though A~C was never
    emitted; the min id is canonical; untouched docs are their own keepers."""
    rows = [(i, "s", f"doc {i}") for i in range(5)]
    got = _clusters(spark, rows, [(0, 1), (1, 2)])
    assert got == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (4, True),
    }


def test_dedup_clusters_two_components_and_long_chain(spark):
    """Chain 0-1-2-3-4 (diameter > 1 round) with a triangle 0-1-2 and a
    reversed duplicate edge + disjoint pair 10-11."""
    rows = [(i, "s", f"doc {i}") for i in [0, 1, 2, 3, 4, 10, 11, 12]]
    got = _clusters(spark, rows, [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11),
                                  (0, 2), (1, 0)])
    assert {k: v[0] for k, v in got.items()} == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 12,
    }
    assert [k for k, v in got.items() if v[1]] == sorted(
        [k for k, v in got.items() if v[1]]
    ) and {k for k, v in got.items() if v[1]} == {0, 10, 12}


def test_dedup_clusters_empty_pairs(spark):
    """No pairs -> every doc is its own singleton cluster, all kept."""
    rows = [(i, "s", f"doc {i}") for i in range(3)]
    got = _clusters(spark, rows, [])
    assert got == {i: (i, True) for i in range(3)}


def test_star_contract_path_graph_olog_rounds(spark):
    """The adversarial case for label propagation: a 1,000-node PATH graph
    (diameter 999 -> label prop needs 999 rounds). The alternating
    large-star/small-star contraction must converge in O(log n) rounds and
    still label every node with the component minimum (0)."""
    from java9_gc_log_parser_spark.operators.dedupe import star_contract

    n = 1000
    labels, rounds = star_contract(_path_pairs(spark, n), max_iter=25)
    # Kiveris et al. bound: O(log^2 n) worst case, ~log2(n) in practice;
    # anything near the 999-round diameter means the contraction is broken
    assert rounds <= 15, rounds
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert len(got) == n
    assert set(got.values()) == {0}


def test_dedup_clusters_long_chain_is_one_cluster(spark):
    """A 30-node path is one component whatever its diameter: every node's
    cluster_id is 0 and only node 0 is kept."""
    from java9_gc_log_parser_spark.operators.dedupe import dedup_clusters

    n = 30
    docs = _docs(spark, [(i, "s", f"doc {i}") for i in range(n)])
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_clusters(docs, _path_pairs(spark, n)).collect()
    }
    assert got == {i: (0, i == 0) for i in range(n)}


def test_star_contract_raises_when_not_converged(spark):
    """Running out of rounds is an error, never a silent partial labelling."""
    from java9_gc_log_parser_spark.operators.dedupe import star_contract

    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        star_contract(_path_pairs(spark, 30), max_iter=1)


# ---------------------------------------------------------------------------
# incremental dedup vs persisted signature store
# ---------------------------------------------------------------------------

def _incr_fixture(spark):
    """Base corpus of 3 docs; batch of 5: doc 100 copies base doc 1,
    doc 101+102 copy each other (batch-internal pair), doc 103 copies BOTH
    base doc 2 and batch doc 101's vocabulary? no — doc 103 copies base
    doc 2 AND doc 104 copies doc 103 (batch) — verdict priority check:
    103 must be dup_of_base, 104 matches 103 (batch) and base 2 equally
    and must prefer the base."""
    mk = lambda words: " ".join(words)
    t1 = mk([f"w{i}" for i in range(40)])
    t2 = mk([f"v{i}" for i in range(40)])
    t3 = mk([f"u{i}" for i in range(40)])
    tpair = mk([f"p{i}" for i in range(40)])
    tuniq = mk([f"z{i}" for i in range(40)])
    base = [(1, t1), (2, t2), (3, t3)]
    new = [(100, t1), (101, tpair), (102, tpair), (103, t2), (104, t2),
           (105, tuniq)]
    schema = "doc_id long, text string"
    return (
        spark.createDataFrame(base, schema),
        spark.createDataFrame(new, schema),
    )


def test_incremental_dedup_verdicts_and_priority(spark):
    from java9_gc_log_parser_spark.operators.dedupe import (
        incremental_dedup,
        signature_table,
    )

    base, new = _incr_fixture(spark)
    out = incremental_dedup(
        signature_table(new), signature_table(base)
    ).toPandas().set_index("doc_id")
    assert out.loc[100].verdict == "dup_of_base"
    assert out.loc[100].match_id == 1
    assert out.loc[100].est_jaccard == 1.0
    # batch-internal pair: larger id points at smaller, smaller is unique
    assert out.loc[101].verdict == "unique"
    assert out.loc[102].verdict == "dup_in_batch"
    assert out.loc[102].match_id == 101
    # both 103 and 104 copy base doc 2; 104 ALSO matches batch doc 103 —
    # base priority wins even though the batch est ties
    assert out.loc[103].verdict == "dup_of_base"
    assert out.loc[103].match_id == 2
    assert out.loc[104].verdict == "dup_of_base"
    assert out.loc[104].match_id == 2
    assert out.loc[105].verdict == "unique"
    assert out.loc[105].isna().match_id


def test_incremental_dedup_broadcast_paths_agree_and_plan(spark):
    from java9_gc_log_parser_spark.operators.dedupe import (
        incremental_dedup,
        signature_table,
    )

    base, new = _incr_fixture(spark)
    out = incremental_dedup(signature_table(new), signature_table(base))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the batch side broadcasts into the store-side candidate join; no
    # cartesian product, no Python eval anywhere
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_incremental_dedup_max_bucket_cap(spark):
    """A degenerate bucket (many identical docs) above max_bucket is
    dropped before pair generation — its members come back 'unique'."""
    from java9_gc_log_parser_spark.operators.dedupe import (
        incremental_dedup,
        signature_table,
    )

    same = " ".join(f"d{i}" for i in range(40))
    # 1000 store rows + the new one: every band bucket holds 1001 > 1000
    base = spark.range(1000).selectExpr("id AS doc_id", f"'{same}' AS text")
    new = spark.createDataFrame(
        [(10_000, same)], "doc_id long, text string"
    )
    out = incremental_dedup(
        signature_table(new), signature_table(base)
    ).toPandas()
    assert list(out.verdict) == ["unique"]


def test_dup_ngram_gate_counts_cross_doc_occurrences(spark):
    from java9_gc_log_parser_spark.operators.dedupe import dup_ngram_gate

    docs = spark.createDataFrame(
        [
            # doc 1/2 share the trigram "a b c" (1 occurrence each);
            # doc 1 also repeats its OWN trigram "x y z" twice -> intra-doc
            # repetition alone must NOT count as duplicated
            (1, "a b c q x y z r x y z"),
            (2, "a b c d e"),
            # doc 3: entirely unique
            (3, "p q r s t"),
            # doc 4: shorter than n -> whole-text gram, shared with doc 5
            (4, "hi there"),
            (5, "hi there"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_ngram_gate(docs).collect()}
    # doc1: 9 trigrams, only "a b c" (1 occurrence) appears in another doc
    assert out[1]["n_shingles"] == 9
    assert out[1]["dup_shingles"] == 1
    assert abs(out[1]["dup_frac"] - round(1 / 9, 6)) < 1e-9
    assert out[1]["keep"]
    # doc2: 3 trigrams, 1 duplicated
    assert out[2]["n_shingles"] == 3 and out[2]["dup_shingles"] == 1
    # doc3: nothing duplicated
    assert out[3]["dup_shingles"] == 0 and out[3]["keep"]
    # short docs participate via their full-text gram
    assert out[4]["n_shingles"] == 1 and out[4]["dup_shingles"] == 1
    assert not out[4]["keep"]  # dup_frac 1.0 > 0.3
    assert out[5]["dup_shingles"] == 1


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def test_containment_detects_embedded_doc(spark):
    from java9_gc_log_parser_spark.operators.dedupe import containment_pairs

    core = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(
        spark,
        [
            (1, "s", core),
            (2, "s", core + " iota kappa lamda mu nu xi omicron pi rho"),
            (3, "s", "totally unrelated words about other topic entirely here"),
        ],
    )
    out = containment_pairs(docs).collect()
    assert [(r.doc_small, r.doc_big) for r in out] == [(1, 2)]
    r = out[0]
    # every shingle of doc 1 appears in doc 2
    assert r.containment == 1.0 and r.inter == r.n_small
    assert r.n_big > r.n_small  # symmetric Jaccard would be n_small/n_big


def test_containment_matches_python_ground_truth(spark):
    from java9_gc_log_parser_spark.operators.dedupe import containment_pairs

    rows = [
        (i, "s", " ".join(f"w{(i * 7 + j) % 23}" for j in range(12 + i % 5)))
        for i in range(30)
    ]
    docs = _docs(spark, rows)
    got = {
        (r.doc_small, r.doc_big): (r.inter, r.n_small, r.containment)
        for r in containment_pairs(docs).collect()
    }
    sh = {i: _py_shingles(t, 3) for i, _, t in rows}
    dfreq = {}
    for i, s in sh.items():
        for g in s:
            dfreq[g] = dfreq.get(g, 0) + 1
    expect = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        shared = sh[a] & sh[b]
        if not any(2 <= dfreq[g] <= 5 for g in shared):
            continue  # not a rare-shingle candidate
        small, big = (a, b) if len(sh[a]) <= len(sh[b]) else (b, a)
        c = round(len(shared) / len(sh[small]), 6)
        if c >= 0.6:
            expect[(small, big)] = (len(shared), len(sh[small]), c)
    assert got == expect


def test_containment_rare_blocking_drops_hot_gram_pairs(spark):
    from java9_gc_log_parser_spark.operators.dedupe import containment_pairs

    # 5 of each doc's 6 shingles are shared (containment 0.83 >= 0.6), but
    # all of them are corpus-common (df 10 > df_max 5): no candidates
    boiler = "the quick brown fox jumps over lazy"
    docs = _docs(
        spark, [(i, "s", f"{boiler} unique{i}") for i in range(10)]
    )
    assert containment_pairs(docs).count() == 0


# ------------------------------------------------ corpus overlap sketch


def _py_corpus_grams(texts, n=3):
    grams = set()
    for t in texts:
        toks = t.strip().lower().split()
        if len(toks) >= n:
            grams.update(
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            )
        else:
            grams.add(" ".join(toks))
    return grams


def _py_signature(grams, k=64):
    import hashlib

    return [
        min(
            hashlib.md5(f"{g}:{j}".encode()).hexdigest()[:16] for g in grams
        )
        for j in range(k)
    ]


def test_corpus_overlap_matches_python_ground_truth(spark):
    from java9_gc_log_parser_spark.operators.dedupe import (
        corpus_overlap_minhash,
    )

    corpora = {
        "a": ["a b c d", "x y"],        # grams: {a b c, b c d, x y}
        "b": ["a b c z"],               # grams: {a b c, b c z}
        "c": ["p q r s t"],             # disjoint from both
    }
    rows = [
        (i, src, text)
        for i, (src, text) in enumerate(
            (s, t) for s, ts in corpora.items() for t in ts
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in corpus_overlap_minhash(df).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    gsets = {s: _py_corpus_grams(ts) for s, ts in corpora.items()}
    sigs = {s: _py_signature(g) for s, g in gsets.items()}
    for (sa, sb), r in got.items():
        ga, gb = gsets[sa], gsets[sb]
        n_common = len(ga & gb)
        assert r["n_grams_a"] == len(ga)
        assert r["n_grams_b"] == len(gb)
        assert r["n_common"] == n_common
        exp_match = sum(
            1 for x, y in zip(sigs[sa], sigs[sb]) if x == y
        )
        assert r["n_match"] == exp_match
        assert r["est_jaccard"] == round(exp_match / 64.0, 6)
        assert r["exact_jaccard"] == round(n_common / len(ga | gb), 6)
    # the known overlap: {a b c} of 4 united grams
    assert got[("a", "b")]["exact_jaccard"] == round(1 / 4, 6)
    assert got[("a", "c")]["n_common"] == 0


def test_corpus_overlap_signatures_merge_across_shards(spark):
    """Mergeability: signatures over a corpus == elementwise min of the
    signatures of any partition of it (the property that lets 100-TB
    shards sketch independently)."""
    full = _py_signature(_py_corpus_grams(["a b c d", "p q r"]))
    part = [
        min(x, y)
        for x, y in zip(
            _py_signature(_py_corpus_grams(["a b c d"])),
            _py_signature(_py_corpus_grams(["p q r"])),
        )
    ]
    assert full == part


# ----------------------------------------------------------- PPJoin exact


def test_ppjoin_complete_vs_brute_force(spark):
    import itertools

    from java9_gc_log_parser_spark.operators.dedupe import ppjoin_pairs

    texts = [
        "a b c d e f g h",          # 0
        "a b c d e f g h",          # 1: dup of 0
        "a b c d e f g x",          # 2: near 0
        "z y x w v u t s",          # 3: far
        "a b c",                    # 4: short
        "a b c",                    # 5: dup of 4
        "q r",                      # 6: below-n fallback
        "q r",                      # 7: dup of 6
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ppjoin_pairs(df).collect()}

    def shingles(t):
        toks = t.split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(texts), 2):
        sa, sb = shingles(a), shingles(b)
        inter, uni = len(sa & sb), len(sa | sb)
        if inter * 5 >= 3 * uni:
            want[(i, j)] = round(inter / uni, 6)
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (6, 7) in got  # short-doc fallback shingle still joins


def test_ppjoin_boundary_size_prefix_is_integer_exact(spark):
    """|x| = 5, t = 3/5: ceil(0.6*5) must be 3 (float ceil gives 4 and
    breaks completeness). Two 5-shingle sets sharing exactly 3 shingles
    have J = 3/7 < 0.6 — but sets built to share ceil boundary overlap
    at J >= 0.6 must be FOUND."""
    from java9_gc_log_parser_spark.operators.dedupe import ppjoin_pairs

    # 7 tokens -> 5 trigram shingles each; overlap 4 of 5 shingles
    # (differ in last token): inter=4, uni=6, J=2/3 >= 0.6
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f x")],
        "doc_id long, text string",
    )
    rows = ppjoin_pairs(df).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["inter"], r["uni"]) == (4, 6)


def test_split_leakage_classifies_pairs_without_corpus_join(spark):
    """q140: ends classified by the pure split expression (no join), pair
    order normalized, counts and worst-jaccard per split pair correct."""
    from java9_gc_log_parser_spark.operators.dedupe import (
        split_leakage_report,
    )
    from java9_gc_log_parser_spark.operators.sampling import hash_split

    ids = spark.range(200).selectExpr("id AS doc_id")
    split_of = {
        r.doc_id: r.split for r in hash_split(ids).collect()
    }
    trains = [i for i, s in split_of.items() if s == "train"]
    vals = [i for i, s in split_of.items() if s == "val"]
    pairs = spark.createDataFrame(
        [
            (trains[0], trains[1], 0.9),
            (trains[2], vals[0], 0.8),   # cross-split leak
            (vals[0], trains[3], 0.95),  # reversed order, same class
        ],
        "doc_a long, doc_b long, jaccard double",
    )
    got = {
        (r.split_a, r.split_b): r
        for r in split_leakage_report(pairs).collect()
    }
    assert got[("train", "train")].n_pairs == 1
    assert not got[("train", "train")].cross_split
    tv = got[("train", "val")]
    assert tv.cross_split and tv.n_pairs == 2 and tv.max_jaccard == 0.95
    # no corpus join in the plan: classification is map-side
    plan = split_leakage_report(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
