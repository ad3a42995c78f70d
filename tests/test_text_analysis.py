"""Unit tests for operators/text_analysis.py — table-driven known answers
(reference test style: GcLineParserTest.scala:14-79)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.text_analysis import (
    dedup_exact,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


@pytest.mark.parametrize(
    "text,n_tokens,n_unique,mean_len",
    [
        ("the cat the", 3, 2, 3.0),
        ("", 0, 0, 0.0),
        ("   ", 0, 0, 0.0),  # blank == empty
        ("ab  cd", 2, 2, 2.0),  # multi-space split
        ("x xyz", 2, 2, 2.0),  # (1+3)/2
        ("\tab cd", 2, 2, 2.0),  # leading tab trimmed
        ("ab cd\n", 2, 2, 2.0),  # trailing newline trimmed
        ("\t", 0, 0, 0.0),  # tab-only == empty
    ],
)
def test_token_stats_known(spark, text, n_tokens, n_unique, mean_len):
    [r] = token_stats(_docs(spark, [(1, "s", text)])).collect()
    assert (r.n_tokens, r.n_unique_tokens, r.mean_token_len) == (
        n_tokens, n_unique, mean_len,
    )


def test_quality_score_formula(spark):
    text = "the cat"  # 7 chars, 6 alpha; 2 tokens, 1 stopword
    [r] = quality_score(_docs(spark, [(1, "s", text)])).collect()
    alpha = 6 / 7
    stop = 1 / 2
    want = 0.5 * alpha + 0.3 * (1 - stop) + 0.2 * min(1.0, 7 / 200)
    assert r.alpha_ratio == round(alpha, 6)
    assert r.stopword_ratio == 0.5
    assert abs(r.quality_score - want) < 1e-6


def test_quality_score_empty_doc(spark):
    [r] = quality_score(_docs(spark, [(1, "s", "")])).collect()
    assert (r.alpha_ratio, r.stopword_ratio) == (0.0, 0.0)
    assert abs(r.quality_score - 0.3) < 1e-9  # only the (1 - stop) term


@pytest.mark.parametrize(
    "text,pred",
    [
        ("the fast dog", "en"),
        ("le chien vite", "fr"),
        ("el perro y rapido", "es"),
        ("der hund und die katze schnell", "de"),
        ("nothing matches here", "unknown"),
        ("", "unknown"),
        # 'la' is an fr AND es marker; tie-break is lang asc -> 'es'
        ("la la", "es"),
    ],
)
def test_lang_id_known(spark, text, pred):
    [r] = lang_id(_docs(spark, [(1, "s", text)])).collect()
    assert r.pred_lang == pred


def test_fingerprint_bag_invariance(spark):
    df = _docs(spark, [(1, "s", "beta alpha"), (2, "s", "alpha  beta")])
    rows = {r.doc_id: r for r in fingerprint(df).collect()}
    assert rows[1].bag_fingerprint == rows[2].bag_fingerprint
    assert rows[1].text_md5 != rows[2].text_md5
    assert rows[1].text_md5 == hashlib.md5(b"beta alpha").hexdigest()
    assert rows[1].bag_fingerprint == hashlib.md5(b"alpha beta").hexdigest()


def test_dedup_exact_normalization(spark):
    df = _docs(
        spark,
        [
            (5, "s", "Hello  world"),
            (3, "s", "hello world"),
            (9, "s", "  hello   WORLD "),  # edge spaces trimmed
            (7, "s", "different"),
        ],
    )
    rows = sorted(dedup_exact(df).collect(), key=lambda r: -r.n_docs)
    assert (rows[0].n_docs, rows[0].canonical_doc_id) == (3, 3)
    assert (rows[1].n_docs, rows[1].canonical_doc_id) == (1, 7)
    assert rows[0].text_hash == hashlib.md5(b"hello world").hexdigest()


def test_token_budget_groups_and_means(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import token_budget

    df = _docs(
        spark,
        [
            (1, "a", "one two three"),
            (2, "a", "four five"),
            (3, "b", "six"),
            (4, "b", ""),
        ],
    ).withColumn("split", F.lit("train"))
    got = {
        (r["split"], r["source"]): (r["n_docs"], r["total_tokens"], r["mean_tokens"])
        for r in token_budget(df).collect()
    }
    assert got == {
        ("train", "a"): (2, 5, 2.5),
        ("train", "b"): (2, 1, 0.5),  # blank text counts 0 tokens
    }


# --- repetition_stats (Gopher-style intra-doc repetition gate) -------------

def test_repetition_known_answer(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        repetition_stats,
    )

    # "a b a b a b": 2-grams [ab,ba,ab,ba,ab] -> top 3/5; 3-grams
    # [aba,bab,aba,bab] -> dup (4-2)/4
    df = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "w x y z q r")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert abs(got[0].top_2gram_frac - 0.6) < 1e-9
    assert abs(got[0].dup_3gram_frac - 0.5) < 1e-9
    assert got[0].flagged
    assert abs(got[1].top_2gram_frac - 0.2) < 1e-9  # all distinct: 1/5
    assert got[1].dup_3gram_frac == 0.0
    assert not got[1].flagged


def test_repetition_degenerate_docs(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "solo"), (2, "two words")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for d in (0, 1):  # fewer than 2 tokens: no grams at all
        assert got[d].top_2gram_frac == 0.0
        assert got[d].dup_3gram_frac == 0.0
        assert not got[d].flagged
    assert got[2].top_2gram_frac == 1.0  # exactly one 2-gram
    assert got[2].dup_3gram_frac == 0.0
    assert got[2].flagged


# --- corpus_filter (composite curation gate) --------------------------------

def test_corpus_filter_reasons_and_keep(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import corpus_filter

    docs = spark.createDataFrame(
        [
            # long, varied, stopword-bearing english: keeps
            (0, "the fast table scan joins a sorted merge of rows and keys "
                "over the wide partitioned data files in the warehouse "
                "while the planner prunes each column block it never needs"),
            (1, "a b a b a b a b"),          # repetitive + short-ish
            (2, "le la et vite le la et vite allez bon jour mes amis oui"),  # fr
            (3, "ok"),                        # too short
            (4, ""),                          # empty: several checks fire
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in corpus_filter(docs).collect()}
    assert got[0].keep and got[0].reasons == ""
    assert not got[1].keep and "repetitive" in got[1].reasons
    assert not got[2].keep and "lang" in got[2].reasons
    assert not got[3].keep and "too_short" in got[3].reasons
    assert not got[4].keep
    assert "low_quality" in got[4].reasons and "too_short" in got[4].reasons


def test_corpus_filter_matches_individual_metrics(spark, sf_dir):
    """The gate must agree with the standalone metric operators it gates on
    (shared column builders — this pins the no-drift guarantee)."""
    from java9_gc_log_parser_spark.operators.text_analysis import (
        corpus_filter,
        lang_id,
        quality_score,
        repetition_stats,
    )
    from java9_gc_log_parser_spark.storage import read_table

    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    gate = {r.doc_id: r for r in corpus_filter(docs).collect()}
    q = {r.doc_id: r.quality_score for r in quality_score(docs).collect()}
    rep = {r.doc_id: r.flagged for r in repetition_stats(docs).collect()}
    lang = {r.doc_id: r.pred_lang for r in lang_id(docs).collect()}
    for d, row in gate.items():
        assert ("low_quality" in row.reasons) == (q[d] < 0.5), d
        assert ("repetitive" in row.reasons) == rep[d], d
        assert ("lang" in row.reasons) == (lang[d] != "en"), d


def test_zipf_topk_known_answer(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import zipf_topk

    singles = " ".join(f"t{i:02d}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b x"), (3, ""), (4, singles)],
        "doc_id long, text string",
    )
    rows = zipf_topk(docs).orderBy("rank").collect()
    # counts: a=4, b=3, then 62 terms at 1 (c, t00..t59, x; total 69); the
    # head of 50 cuts the count-1 tie term-asc, after t46
    assert [(r["rank"], r["term"], r["cnt"]) for r in rows[:4]] == [
        (1, "a", 4), (2, "b", 3), (3, "c", 1), (4, "t00", 1)
    ]
    assert len(rows) == 50 and rows[-1]["term"] == "t46"
    assert rows[0]["share"] == round(4 / 69, 6)
    assert rows[2]["cum_share"] == round(8 / 69, 6)


def test_encoding_audit_known(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import encoding_audit

    rows = [
        (1, "plain ascii text"),                  # clean
        (2, "bad � byte � here"),       # 2 replacement chars
        (3, "ctrl\x01\x02chars\x03aaaa"),         # 3 C0 controls of 16 chars
        (4, "tab\tand\nnewline ok"),              # tab/newline NOT control-flagged
        (5, "café naïve résumé"),  # non-ascii but sane
        (6, ""),                                  # empty: ratios 0.0 / 1.0
        (7, "éèêë"),          # all non-ascii -> flagged
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r.asDict() for r in encoding_audit(df).collect()
    }
    assert got[1] == {"doc_id": 1, "n_replacement": 0, "ctrl_ratio": 0.0,
                      "ascii_ratio": 1.0, "flagged": False}
    assert got[2]["n_replacement"] == 2 and got[2]["flagged"]
    assert got[3]["n_replacement"] == 0
    assert got[3]["ctrl_ratio"] == round(3 / 16, 6) and got[3]["flagged"]
    assert got[4] == {"doc_id": 4, "n_replacement": 0, "ctrl_ratio": 0.0,
                      "ascii_ratio": 1.0, "flagged": False}
    assert got[5]["n_replacement"] == 0 and not got[5]["flagged"]
    assert 0.5 < got[5]["ascii_ratio"] < 1.0
    assert got[6] == {"doc_id": 6, "n_replacement": 0, "ctrl_ratio": 0.0,
                      "ascii_ratio": 1.0, "flagged": False}
    assert got[7] == {"doc_id": 7, "n_replacement": 0, "ctrl_ratio": 0.0,
                      "ascii_ratio": 0.0, "flagged": True}


# ---------------------------------------------------------------- sketches

def test_cms_never_underestimates_and_grid_is_bounded(spark):
    from java9_gc_log_parser_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_heavy_hitters,
        cms_sketch,
    )

    docs = spark.createDataFrame(
        [(i, ("hot " * 50) + f"cold{i} rare{i % 7}") for i in range(200)],
        "doc_id long, text string",
    )
    out = cms_heavy_hitters(docs).collect()
    assert len(out) == 20
    assert out[0]["term"] == "hot" and out[0]["cnt"] == 200 * 50
    # CMS one-sided error: estimate >= exact count, always
    assert all(r["overcount"] >= 0 for r in out)
    assert all(r["est"] == r["cnt"] + r["overcount"] for r in out)
    grid = cms_sketch(docs)
    assert grid.count() <= CMS_DEPTH * CMS_WIDTH
    # grid mass per row == total token occurrences (sums are lossless)
    per_row = {r["row"]: r["s"] for r in
               grid.groupBy("row").agg(F.sum("total").alias("s")).collect()}
    assert set(per_row) == set(range(CMS_DEPTH))
    assert len(set(per_row.values())) == 1  # every row sees every occurrence


def test_cms_sketch_is_mergeable(spark):
    from java9_gc_log_parser_spark.operators.sketches import cms_sketch

    a = spark.createDataFrame(
        [(1, "x y z x"), (2, "x q")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(3, "y y w"), (4, "x")], "doc_id long, text string"
    )
    both = a.unionByName(b)
    merged = (
        cms_sketch(a).unionByName(cms_sketch(b))
        .groupBy("row", "bucket")
        .agg(F.sum("total").cast("long").alias("total"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, cms_sketch(both).collect())
    )


def test_hll_estimate_tracks_known_cardinalities(spark):
    from java9_gc_log_parser_spark.operators.sketches import (
        hll_distinct_report,
        hll_registers,
    )

    for n in (40, 500):
        docs = spark.createDataFrame(
            [(i, f"tok{i}") for i in range(n)], "doc_id long, text string"
        )
        row = hll_distinct_report(docs).collect()[0]
        assert row["exact_distinct"] == n
        # 256 registers -> ~6.5% stderr; 3 sigma bound with margin
        assert abs(row["rel_error"]) < 0.25, (n, row)
        assert hll_registers(docs).count() <= 256


def test_histogram_quantile_bounds_and_known_values(spark):
    from java9_gc_log_parser_spark.operators.sketches import (
        histogram_quantile,
    )

    # 1000 values 0..999: p99 index = 0.99*999 = 989.01 -> ~989; the bin
    # holding it is bit_length(989) = 10 -> est = 1023
    df = spark.range(1000).select(F.col("id").alias("v"))
    row = histogram_quantile(df, "v").collect()[0]
    assert row["n_rows"] == 1000
    assert row["est_q"] == 1023
    assert abs(row["exact_q"] - 989.01) < 1e-6
    # one-sided and factor-2-bounded
    assert row["est_q"] >= row["exact_q"]
    assert row["est_q"] < 2 * (row["exact_q"] + 1)
    # degenerate: all zeros land in bin 0, est 0
    z = spark.range(10).select(F.lit(0).cast("long").alias("v"))
    rz = histogram_quantile(z, "v").collect()[0]
    assert rz["est_q"] == 0 and rz["exact_q"] == 0.0


# ------------------------------------------------------- PMI collocations


def test_pmi_collocations_hand_computed(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        pmi_collocations,
    )

    # 4 docs, 3 times over; "x y" co-occur in 6 of 12 docs, each appears
    # in 9: pmi = ln(6*12 / (9*9)) = ln(8/9); "x z": 3 co-docs (below
    # support 5)
    texts = ["x y w", "x y", "x z", "y q z"] * 3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {(r["tok_a"], r["tok_b"]): r
           for r in pmi_collocations(df).collect()}
    import math

    assert out[("x", "y")]["n_ab"] == 6
    assert out[("x", "y")]["n_a"] == 9 and out[("x", "y")]["n_b"] == 9
    assert out[("x", "y")]["pmi"] == pytest.approx(
        math.log(8 / 9), abs=1e-6
    )
    # below support 5: x&z share only the "x z" docs, y&z the "y q z" ones
    assert ("x", "z") not in out
    assert ("y", "z") not in out


def test_pmi_collocations_support_filter_and_dedup_within_doc(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        pmi_collocations,
    )

    # repeated token within one doc counts ONCE (document co-occurrence);
    # "a c" co-occurs in 4 docs, one short of the support floor of 5
    texts = ["a b a b a b"] + ["a b"] * 4 + ["a c"] * 4
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {(r["tok_a"], r["tok_b"]): r["n_ab"]
           for r in pmi_collocations(df).collect()}
    assert out == {("a", "b"): 5}


def test_pmi_vocab_cut_excludes_rare_tokens(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        pmi_collocations,
    )

    # 50 tokens in 7 docs fill the top-50 vocab: the pair in 6 docs has
    # the support but not the document frequency to pair
    hot = " ".join(f"t{i:02d}" for i in range(50))
    texts = [hot] * 7 + ["p1 p2"] * 6
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = {(r["tok_a"], r["tok_b"]) for r in pmi_collocations(df).collect()}
    assert ("p1", "p2") not in pairs
    assert len(pairs) == 50 * 49 // 2


def _clf_w(tok: str) -> int:
    b = int(hashlib.md5(f"{tok}:clf:v1".encode()).hexdigest()[:4], 16) % 1024
    return (b * 2654435761) % 2001 - 1000


def test_classifier_score_hand_computed(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        classifier_score,
        classifier_weights,
    )

    docs = spark.createDataFrame(
        [(1, "the fast Fox"), (2, "  "), (3, "zz")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in classifier_score(docs, classifier_weights(spark)).collect()
    }
    # doc 1: lowered tokens, mean-pooled milli weights + 0.05 bias
    toks = ["the", "fast", "fox"]
    s = sum(_clf_w(t) for t in toks)
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["sum_w_milli"] == s
    exp_logit = round(0.05 + s / (1000.0 * 3), 6)
    assert rows[1]["logit"] == pytest.approx(exp_logit, abs=1e-9)
    assert rows[1]["keep"] == (exp_logit >= 0.0)
    # blank doc: total gate — bias-only logit, never dropped from output
    assert rows[2]["n_tokens"] == 0
    assert rows[2]["sum_w_milli"] == 0
    assert rows[2]["logit"] == pytest.approx(0.05)
    assert rows[2]["keep"] is True
    # single token: logit = bias + w/1000
    w3 = _clf_w("zz")
    assert rows[3]["sum_w_milli"] == w3
    assert rows[3]["logit"] == pytest.approx(round(0.05 + w3 / 1000.0, 6))


def test_classifier_weights_range_and_determinism(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        classifier_weights,
    )

    w = classifier_weights(spark).collect()
    assert len(w) == 1024
    assert all(-1000 <= r["w_milli"] <= 1000 for r in w)
    # replayable off-Spark from the bucket id alone
    assert all(r["w_milli"] == (r["bucket"] * 2654435761) % 2001 - 1000 for r in w)


def test_token_entropy_hand_computed(spark):
    import math

    from java9_gc_log_parser_spark.operators.text_analysis import (
        token_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),       # uniform: H = ln 4, norm = 1
            (2, "x x x x"),       # single type: H = 0, norm NULL
            (3, "  "),            # empty: NULL entropy, counts 0
            (4, "a a b"),         # H = ln3 - (2 ln2)/3
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert rows[1]["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert rows[1]["norm_entropy"] == pytest.approx(1.0, abs=1e-6)
    assert rows[2]["entropy"] == pytest.approx(0.0, abs=1e-6)
    assert rows[2]["norm_entropy"] is None
    assert rows[3]["n_tokens"] == 0
    assert rows[3]["entropy"] is None
    exp = math.log(3) - (2 * math.log(2)) / 3
    assert rows[4]["entropy"] == pytest.approx(exp, abs=1e-6)


def test_score_calibration_buckets_and_means(spark):
    from java9_gc_log_parser_spark.operators.text_analysis import (
        score_calibration,
    )

    # logits 0.0 .. 0.99: deciles are exact, every bucket has 10 docs
    scores = spark.createDataFrame(
        [(i, round(i / 100, 6), i >= 50) for i in range(100)],
        ["doc_id", "logit", "keep"],
    )
    rows = {r["bucket"]: r for r in score_calibration(scores).collect()}
    assert set(rows) == set(range(10))
    assert all(rows[b]["n_docs"] == 10 for b in range(10))
    # means rise monotonically with the bucket; keep flips at bucket 5
    means = [rows[b]["mean_logit"] for b in range(10)]
    assert means == sorted(means)
    assert rows[0]["keep_share"] == 0.0
    assert rows[9]["keep_share"] == 1.0
    assert rows[0]["mean_logit"] == pytest.approx(0.045, abs=1e-6)


def test_normalize_text_folds_and_is_idempotent(spark):
    """q138 chain on adversarial inputs: typography folds to ASCII,
    control chars and runs collapse, trim applies, empty/whitespace-only
    survive, and the audited idempotence column is true everywhere."""
    from java9_gc_log_parser_spark.operators.text_analysis import (
        normalize_text,
    )

    rows = [
        (1, "“quoted” ‘single’ — dash"),
        (2, "a\tb\r\nc\x00d"),
        (3, "   leading  and   trailing   "),
        (4, ""),
        (5, " \t \n "),
        (6, "already clean text"),
        (7, "ellipsis… and nbsp"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in normalize_text(df).collect()}
    import hashlib

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1].norm_md5 == h('"quoted" \'single\' - dash')
    assert got[2].norm_md5 == h("a b c d")
    assert got[3].norm_md5 == h("leading and trailing")
    assert got[4].norm_md5 == h("")
    assert got[5].norm_md5 == h("")
    assert got[6].norm_md5 == h("already clean text")
    assert got[7].norm_md5 == h("ellipsis... and nbsp")
    assert all(r.idempotent for r in got.values())
    assert not got[6].changed and got[1].changed
