"""Text-analysis operators for training-data pipelines over `documents`.

All pure built-in pyspark.sql.functions (JVM columnar, codegen-fused) — no
Python in the hot path. Each operator has a DuckDB oracle in
``__spark_entry__`` computing the same semantics with list functions.

Operators: token stats, quality scoring, language-ID heuristic, document
fingerprinting, exact duplicate detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: closed stopword sets for the n-gram/stopword language heuristic. Real
#: pipelines plug in real lists; the mechanism (vote by marker-token hits,
#: deterministic tie-break) is what matters.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "fr": ("le", "la", "et", "vite"),
    "es": ("el", "la", "y", "rapido"),
    "de": ("der", "die", "und", "schnell"),
}

STOPWORDS = ("a", "the")


#: the edge whitespace the tokenizer trims: what both engines' ``\s``
#: splits on (Java's ``\s`` also matches ``\v``, RE2's does not)
_WS = " \t\n\r\f"


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    text = F.trim(text, F.lit(_WS))
    return F.when(
        F.length(text) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(text, r"\s+"))


# The one kernel per text step: every text operator (dedup,
# decontamination, LM statistics, sketches, sampling, profiling, search)
# builds its tokens, n-grams and term counts here, so two operators can
# never disagree on what a token or a gram is.


def lower_tokens() -> Column:
    """Lowercase whitespace tokens of ``text``."""
    return tokens_col(F.lower(F.col("text")))


def token_count() -> Column:
    """Number of whitespace tokens of ``text`` (case-independent)."""
    return F.size(tokens_col(F.col("text")))


def norm_text() -> Column:
    """``text`` lowercased and trimmed, whitespace runs collapsed to one
    space — the exact-dedup key's text."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"), F.lit(_WS))),
                            r"\s+", " ")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of the token array ``toks`` as space-joined strings, in
    position order; fewer than n tokens -> empty array.

    Bind ``toks`` to a column first: the transform lambda is interpreted
    and re-derives an unbound token expression once per position."""
    sz = F.size(toks)
    return F.when(sz < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def bigram_slots(toks: Column) -> Column:
    """Adjacent pairs of the token array ``toks`` as ``(w1, w2)`` structs,
    built lambda-free (see :func:`bigram_logprob`'s expression-shape note);
    fewer than 2 tokens -> empty array."""
    n_slots = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(toks, 1, n_slots).alias("w1"),
        F.slice(toks, 2, n_slots).alias("w2"),
    )


def terms(docs: DataFrame) -> DataFrame:
    """One ``term`` row per lowercase token occurrence."""
    return docs.select(F.explode(lower_tokens()).alias("term"))


def term_counts(docs: DataFrame) -> DataFrame:
    """``(term, cnt)``: corpus-wide occurrence count of each lowercase
    token — one map-side-combinable hash agg."""
    return terms(docs).groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))


def doc_term_counts(docs: DataFrame) -> DataFrame:
    """``(doc_id, term, cnt)``: occurrence count of each lowercase token
    within its document (zero-token docs have no rows)."""
    return (
        docs.select("doc_id", F.explode(lower_tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def doc_terms(docs: DataFrame) -> DataFrame:
    """``(doc_id, term)``: each distinct lowercase token of a document
    once."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(lower_tokens())).alias("term")
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counts + mean token length (BPE-ish proxy stats)."""
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.round(
            F.when(n > 0, total_len.cast("double") / n).otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
    )


def _quality_cols(text: Column) -> tuple[Column, Column, Column]:
    """(alpha_ratio, stopword_ratio, quality_score), each rounded to 6dp —
    shared by :func:`quality_score` and :func:`corpus_filter` so the gate
    can never drift from the reported metric."""
    n_chars = F.length(text).cast("double")
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    toks = tokens_col(text)
    n_toks = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = F.when(
        n_toks > 0, stop_hits.cast("double") / n_toks
    ).otherwise(F.lit(0.0))
    length_term = F.least(F.lit(1.0), n_chars / F.lit(200.0))
    score = 0.5 * alpha_ratio + 0.3 * (1.0 - stop_ratio) + 0.2 * length_term
    return F.round(alpha_ratio, 6), F.round(stop_ratio, 6), F.round(score, 6)


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/alpha/stopword-ratio quality score (0..1, rounded 6dp)."""
    alpha_ratio, stop_ratio, score = _quality_cols(F.col("text"))
    return docs.select(
        "doc_id",
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def _lang_hits(ltoks: Column) -> dict[str, Column]:
    def _hits(markers):
        # NB: the closure must stay 1-arity — a 2-param lambda would be
        # interpreted by F.filter as an (element, index) lambda
        return F.size(F.filter(ltoks, lambda t: t.isin(*markers))).cast("long")

    return {
        lang: _hits(markers) for lang, markers in sorted(LANG_MARKERS.items())
    }


def _lang_pred(hits_by_lang: dict[str, Column]) -> Column:
    max_hits = F.greatest(*hits_by_lang.values())
    pred = F.lit("unknown")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            (hits_by_lang[lang] == max_hits) & (max_hits > 0), lang
        ).otherwise(pred)
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token voting language heuristic; deterministic tie-break by
    (hits desc, lang asc); no hits -> 'unknown'."""
    hits_by_lang = _lang_hits(lower_tokens())
    return docs.select(
        "doc_id",
        *[hits_by_lang[lang].alias(f"hits_{lang}") for lang in sorted(LANG_MARKERS)],
        _lang_pred(hits_by_lang).alias("pred_lang"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint: md5 of the sorted distinct
    token list (the exact-dedup key for content-equivalent docs)."""
    bag = F.concat_ws(" ", F.array_sort(F.array_distinct(lower_tokens())))
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.md5(bag).alias("bag_fingerprint"),
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups on normalized text (lower + collapsed ws).

    Returns one row per distinct normalized text with the group size and the
    canonical (minimum) doc_id — the classic keep-one-per-group dedup shape;
    scales as a single hash aggregation (map-side combinable).
    """
    return (
        docs.select(F.md5(norm_text()).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


#: staging columns for the repetition metrics (bound-intermediate pattern —
#: same rationale as the parse cascade's expression-shape note)
_REP_TOKS, _REP_G2, _REP_G3 = "_rep_toks", "_rep_g2", "_rep_g3"


def _top_occurrence_count(g: Column) -> Column:
    """Occurrence count of the most frequent element of ``g`` (0 if empty).

    Sort, then max equal-adjacent run length via one ``aggregate`` fold:
    O(n log n) per row with lambdas touching only bound lambda variables.
    The naive shape — ``transform(array_distinct(g), d -> size(filter(g,
    x -> x = d)))`` — is O(distinct x n), and worse: Spark's higher-order
    functions are interpreted and a lambda *captures the outer expression
    tree, not a materialized value*, so each of the ``distinct`` lambda
    elements re-derived ``g`` all the way from the raw text (tokenize +
    ngram build). Measured ~60 ms/doc at sf0.1 (one 5000-doc partition ran
    minutes); this shape is microseconds.
    """

    def _run(acc: Column, x: Column) -> Column:
        # null prev (first element) compares null -> otherwise() -> 1
        return F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))

    return F.aggregate(
        F.array_sort(g),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            _run(acc, x).alias("run"),
            F.greatest(acc["best"], _run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def _stage_ngrams(docs: DataFrame) -> DataFrame:
    """Bind lowercase tokens and word 2-/3-grams as real columns.

    Each staged column is referenced >=2x downstream, so CollapseProject
    keeps the producer as its own project stage instead of re-inlining the
    (non-cheap) tokenize/ngram subtree into every consumer — and lambda
    bodies downstream capture a bound attribute, not an expression tree.
    Still map-only; adds no shuffle.
    """
    clash = [c for c in docs.columns if c.startswith("_rep_")]
    if clash:
        raise ValueError(
            f"input carries reserved staging column(s) {clash}; rename them"
        )
    toks = F.col(_REP_TOKS)
    return docs.withColumn(_REP_TOKS, lower_tokens()).withColumns(
        {_REP_G2: word_ngrams(toks, 2), _REP_G3: word_ngrams(toks, 3)}
    )


def _repetition_cols() -> tuple[Column, Column]:
    """(top_2gram_frac, dup_3gram_frac), rounded to 6dp, over the staged
    ngram columns (:func:`_stage_ngrams` must have run) — shared by
    :func:`repetition_stats` and :func:`corpus_filter`."""
    g2, g3 = F.col(_REP_G2), F.col(_REP_G3)
    n2, n3 = F.size(g2), F.size(g3)
    top_frac = F.when(
        n2 > 0, _top_occurrence_count(g2).cast("double") / n2
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        n3 > 0,
        (n3 - F.size(F.array_distinct(g3))).cast("double") / n3,
    ).otherwise(F.lit(0.0))
    return F.round(top_frac, 6), F.round(dup_frac, 6)


#: repetition gate: a doc is repetitive when either ratio exceeds this
_REP_MAX_FRAC = 0.20


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Intra-document repetition metrics (Gopher-style quality gate).

    Per doc: ``top_2gram_frac`` = occurrences of the most frequent word
    2-gram / total 2-grams; ``dup_3gram_frac`` = fraction of 3-gram slots
    occupied by a non-first occurrence (1 - distinct/total); ``flagged`` =
    either ratio over 0.20. Boilerplate- and loop-heavy documents
    (navigation chrome, degenerate generations) light up both.

    Everything is per-row array arithmetic — a map-only scan with no
    shuffle, so it costs one pass at any corpus size. Per-row cost is
    O(len log len) (sorted-run top-gram count over staged ngram columns;
    see :func:`_top_occurrence_count` for why the naive nested-lambda shape
    was quadratic *and* re-derived the ngrams per element).
    """
    docs = _stage_ngrams(docs)
    top_frac, dup_frac = _repetition_cols()
    return docs.select(
        "doc_id",
        top_frac.alias("top_2gram_frac"),
        dup_frac.alias("dup_3gram_frac"),
        ((top_frac > _REP_MAX_FRAC) | (dup_frac > _REP_MAX_FRAC)).alias(
            "flagged"
        ),
    )


def corpus_filter(docs: DataFrame) -> DataFrame:
    """Composite accept/reject gate: quality score, repetition, language and
    length in ONE map-only projection (``filter(keep)`` is the cleaned
    corpus; ``reasons`` explains every rejection for curation audits).

    Deliberately NOT a join of the individual metric operators — those are
    all projections over the same scan, so composing them by ``doc_id`` join
    would turn a zero-shuffle pass into three scans plus two shuffles at
    100 TB. The shared ``_*_cols`` builders guarantee the gate applies
    byte-identical metric arithmetic to what q15/q36/q16 report.

    Rejection reasons, in fixed order: ``low_quality`` (score < 0.5),
    ``repetitive``, ``lang`` (not ``en``), ``too_short`` (< 5 tokens).
    ``keep`` == no reason fired.
    """
    docs = _stage_ngrams(docs)
    text = F.col("text")
    ltoks = F.col(_REP_TOKS)
    _, _, score = _quality_cols(text)
    top_frac, dup_frac = _repetition_cols()
    pred = _lang_pred(_lang_hits(ltoks))
    n_toks = token_count()
    reasons = F.concat_ws(
        ",",
        F.when(score < 0.5, F.lit("low_quality")),
        F.when(
            (top_frac > _REP_MAX_FRAC) | (dup_frac > _REP_MAX_FRAC),
            F.lit("repetitive"),
        ),
        F.when(pred != "en", F.lit("lang")),
        F.when(n_toks < 5, F.lit("too_short")),
    )
    return docs.select(
        "doc_id",
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram-LM score per document (CCNet-style perplexity
    filter, e.g. Wenzek et al. 2019 — here the LM is trained on the corpus
    itself rather than a held-out reference, which is the self-consistency
    variant used for outlier detection).

    Add-one-smoothed bigram log-probability, averaged over a document's
    bigram slots::

        avg_logp(d) = mean over bigrams (w1,w2) of
                      ln( (c(w1 w2) + 1) / (c(w1) + V) )

    where c(.) are corpus-wide occurrence counts and V is the corpus
    vocabulary size. Degenerate/boilerplate documents score high (their
    bigrams dominate the corpus counts); rare-garbage documents score low.

    Scale shape: the per-doc bigram table is pre-aggregated (map-side
    combinable) so the count-table joins probe (doc, bigram, count) rows,
    never per-occurrence slots; the corpus bigram table derives from that
    same aggregate (one exchange, reused), the unigram table is the classic
    word-count reduction, and the per-doc average is the dc-weighted mean
    (identical to the per-occurrence mean). No window, no driver
    collection; V and the count tables stay distributed (V joins in as a
    broadcast single row). Token-frequency skew ("the") inflates join-probe
    fan-in but never output (join is key-lookup, not pair generation).

    Expression shape: the bigram slots are built lambda-free
    (:func:`bigram_slots`: ``arrays_zip(slice(toks,1,n-1),
    slice(toks,2,n-1))``) exploded, then ``concat_ws`` over the struct
    fields — so the whole path stays inside whole-stage codegen. The
    :func:`word_ngrams` transform-lambda shape is NOT safe here: the
    explode branch references the ngram column exactly once, so
    CollapseProject re-inlines it (and the tokenize under it) into the
    Generate, and the interpreted lambda then re-derives the regex split
    per element — O(n_tokens^2) per doc (see :func:`_top_occurrence_count`
    for the same failure mode in the repetition metrics).
    """
    clash = [c for c in docs.columns if c.startswith("_blm_")]
    if clash:
        raise ValueError(
            f"input carries reserved staging column(s) {clash}; rename them"
        )
    base = docs.withColumn("_blm_lt", lower_tokens()).select(
        "doc_id", "_blm_lt"
    )
    uni = (
        base.select(F.explode("_blm_lt").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    docbg = (
        base.select(
            "doc_id", F.explode(bigram_slots(F.col("_blm_lt"))).alias("_blm_z")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.col("_blm_z.w1"), F.col("_blm_z.w2")
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    bic = docbg.groupBy("g").agg(F.sum("dc").alias("bc"))
    scored = (
        docbg.withColumn("w1", F.split(F.col("g"), " ")[0])
        .join(bic, "g")
        .join(uni, F.col("w1") == uni["tok"])
        .join(F.broadcast(vocab))
        .select(
            "doc_id",
            "dc",
            (
                F.col("dc").cast("double")
                * F.log(
                    (F.col("bc") + F.lit(1.0))
                    / (F.col("uc") + F.col("v")).cast("double")
                )
            ).alias("slp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("dc").alias("n"),
        (F.sum("slp") / F.sum("dc")).alias("m"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(F.coalesce(F.col("m"), F.lit(0.0)), 6).alias("avg_logp"),
    )


#: tfidf_topk's terms per document
_TFIDF_K = 3


def tfidf_topk(docs: DataFrame) -> DataFrame:
    """Top-``_TFIDF_K`` terms per document by tf-idf (keyword extraction /
    topic labeling for corpus audits).

    tf = in-document occurrence count (lowercased whitespace tokens);
    idf = ln(N / df) with N = total documents (including empty ones) and
    df = number of documents containing the term; score = tf * idf rounded
    to 6dp; rank by (score desc, term asc) — fully deterministic.

    Scale shape: one exploded hash agg for tf (map-side combinable), one
    hash agg over the (doc, term)-distinct tf table for df (each term
    counted once per doc, so "the" contributes |docs| rows pre-agg, not
    token-count rows), a key-lookup join tf⋈df, and a per-doc top-k window.
    The window partitions by doc_id — millions of small partitions, never
    one big one.
    """
    from pyspark.sql import Window

    tf = doc_term_counts(docs)
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfr, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.col("cnt").cast("long").alias("tf"),
            F.round(
                F.col("cnt")
                * F.log(F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def token_budget(docs: DataFrame) -> DataFrame:
    """Corpus token accounting per group (the pre-training planning query:
    how many documents / tokens does each split and source contribute).

    One map-side token count folded into a partially-aggregated groupBy on a
    tiny key space — at 100 TB this is a single scan with a few-hundred-row
    shuffle. ``mean_tokens`` is derived post-agg from (total, n) so the
    token-count expression is evaluated once per row.
    """
    agg = docs.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count().cast("long")).alias("total_tokens"),
    )
    return agg.select(
        "split",
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("mean_tokens"),
    )


#: zipf_topk's vocabulary head size
_ZIPF_K = 50


def zipf_topk(docs: DataFrame) -> DataFrame:
    """Corpus vocabulary head: the top-``_ZIPF_K`` terms by frequency with
    rank and cumulative coverage share — the Zipf audit a curation pipeline
    runs to spot boilerplate explosions (a term head covering an outsized
    share of all tokens) and tokenizer-vocabulary drift.

    Deterministic total order: (count desc, term asc). ``share`` and
    ``cum_share`` are fractions of ALL corpus tokens (not just the head),
    rounded to 6dp.

    Scale shape: one exploded word-count hash agg (map-side combinable),
    a TakeOrderedAndProject for the top-k head (each task ships only its
    local top-k — never a global sort of the vocabulary), the total-token
    scalar joined in as a single-row broadcast, and a window over the k-row
    head for the cumulative sum.
    """
    from pyspark.sql import Window

    counts = term_counts(docs)
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    head = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(
        _ZIPF_K
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return (
        head.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("cum_cnt", F.sum("cnt").over(w))
        .select(
            "rank",
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cum_cnt") / F.col("total"), 6).alias("cum_share"),
        )
    )


def encoding_audit(docs: DataFrame) -> DataFrame:
    """Per-document encoding/mojibake QA gate (corpus ingest hygiene).

    Web-scraped corpora carry decode damage: U+FFFD replacement characters
    (bytes that failed to decode), stray C0 control characters (binary
    bleed-through), and wholesale charset confusion (latin-1 read as utf-8).
    Per doc: ``n_replacement`` = count of U+FFFD; ``ctrl_ratio`` = fraction
    of characters that are C0 controls other than tab/newline/CR;
    ``ascii_ratio`` = fraction of characters in the 7-bit range (1.0 for
    empty text — an empty doc is not "non-ascii"); ``flagged`` = any
    replacement char, ctrl_ratio over 0.01, or ascii_ratio under 0.5.

    Scale shape: map-only projection of built-in string expressions inside
    whole-stage codegen — one pass, no shuffle, no UDF; counts are derived
    from length deltas of `regexp_replace`/`replace` (never per-char
    explode).
    """
    n = F.length(F.col("text"))
    n_repl = n - F.length(F.replace(F.col("text"), F.lit("�"), F.lit("")))
    n_ctrl = n - F.length(
        F.regexp_replace(F.col("text"), r"[\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    n_ascii = F.length(
        F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "")
    )
    ctrl_ratio = F.round(
        F.when(n > 0, n_ctrl.cast("double") / n).otherwise(F.lit(0.0)), 6
    )
    ascii_ratio = F.round(
        F.when(n > 0, n_ascii.cast("double") / n).otherwise(F.lit(1.0)), 6
    )
    return docs.select(
        "doc_id",
        n_repl.cast("long").alias("n_replacement"),
        ctrl_ratio.alias("ctrl_ratio"),
        ascii_ratio.alias("ascii_ratio"),
        (
            (n_repl > 0)
            | (ctrl_ratio > F.lit(0.01))
            | (ascii_ratio < F.lit(0.5))
        ).alias("flagged"),
    )


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Collocation mining: pointwise mutual information between the
    50 most document-frequent (lowercased) tokens, over
    document-level co-occurrence — the "which terms travel together"
    rollup used for phrase induction, topic seeding, and tokenizer-merge
    candidates. PMI = ln(P(a,b) / (P(a)·P(b))) with all probabilities
    exact document-count ratios.

    Scale shape (100 TB): the vocabulary cut makes the pair space a
    CONSTANT (≤ C(50, 2) output rows) regardless of corpus size.
    Per doc: distinct-token projection is map-side; the qualifying-token
    filter is a broadcast semi-join against the tiny vocab dim; pair
    generation is a self-equi-join co-partitioned on doc_id with ≤
    50 rows per doc on each side (bounded quadratic per doc,
    never corpus-wide); the final count agg is map-combinable over ≤
    vocab² keys. No top-k cut on the float PMI itself — the output is
    the complete support-filtered pair set, so no cross-engine
    float-ordering ambiguity exists.

    Output: ``(tok_a, tok_b, n_a, n_b, n_ab, pmi)`` with tok_a < tok_b,
    ``n_ab >= 5`` (the support floor); pmi rounded to 6 dp (ln of a ratio
    of exact BIGINTs — same fixed op tree in both engines).
    """
    dt = doc_terms(docs)
    vocab = (
        dt.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(50)
    )
    qual = dt.join(F.broadcast(vocab), "term")
    pairs = (
        qual.select("doc_id", F.col("term").alias("tok_a"),
                    F.col("df").alias("n_a"))
        .join(
            qual.select("doc_id", F.col("term").alias("tok_b"),
                        F.col("df").alias("n_b")),
            "doc_id",
        )
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("n_ab"),
        )
        .filter(F.col("n_ab") >= 5)
    )
    # the corpus cardinality enters as a LITERAL (one cheap count-only
    # scan, the q95 pattern) rather than a one-row join — keeps the plan
    # free of constant-key BroadcastNestedLoopJoin nodes
    n_docs = docs.count()
    return pairs.select(
        "tok_a",
        "tok_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round(
            F.log(
                F.col("n_ab").cast("double")
                * F.lit(float(n_docs))
                / (
                    F.col("n_a").cast("double")
                    * F.col("n_b").cast("double")
                )
            ),
            6,
        ).alias("pmi"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText / logistic-regression style)
# ---------------------------------------------------------------------------

CLF_DIM = 1024
CLF_SALT = "clf:v1"
CLF_BIAS_MILLI = 50  # bias in milli-units: logit starts at +0.05


def classifier_weights(spark) -> DataFrame:
    """The classifier's weight vector as a (bucket, w_milli) dim table.

    Real pipelines broadcast a *trained* model's hashed-vocab weight table
    (fastText / logreg quality classifiers à la GPT-3/LLaMA data curation);
    here the weights are a deterministic function of the bucket id so both
    engines can replay them without a model artifact:
    ``w_milli(b) = (b * 2654435761) % 2001 - 1000``  (Knuth multiplicative
    hash, exact BIGINT, range [-1000, 1000] milli-units).
    """
    return spark.range(CLF_DIM).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 2001 - 1000)
        .cast("long")
        .alias("w_milli"),
    )


def classifier_score(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """Model-based quality gate: mean-pooled hashed bag-of-words linear
    classifier score per document (the architecture of the fastText /
    logistic-regression quality classifiers used to curate GPT-3, LLaMA and
    FineWeb training sets).

    feature bucket = md5(token ++ ':clf:v1') first-4-hex % 1024 (the
    "hashing trick" — vocab-size-independent, engine-portable); logit =
    bias + mean(w[bucket(tok)]). The *logit* is thresholded, not the
    sigmoid: sigmoid is monotone, so ``keep = logit >= 0`` is the same
    gate while avoiding a cross-engine libm exp() seam (same reason
    weighted_priority_sample avoids pow). All accumulation is exact
    BIGINT milli-units; the single float division happens once per doc at
    the end and is rounded to 6 dp.

    Scale shape (100 TB): weights are a fixed-size dim (1024 rows — a real
    2M-term vocab is still a few MB) joined BROADCAST onto the exploded
    token stream — the model never shuffles. The only shuffle is the
    per-doc sum, map-combinable hash agg on doc_id (docs are contiguous
    within scan partitions, so map-side partial aggregation collapses each
    doc to one row before the exchange). ``explode_outer`` keeps
    empty/blank docs as a null-token row so the gate is total: every input
    doc gets a verdict (bias-only logit), nothing silently drops.
    """
    toks = docs.select(
        "doc_id", F.explode_outer(lower_tokens()).alias("tok")
    )
    bucketed = toks.withColumn(
        "bucket",
        F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit(":" + CLF_SALT))), 1, 4),
            16,
            10,
        ).cast("int")
        % CLF_DIM,
    )
    scored = bucketed.join(F.broadcast(weights), "bucket", "left")
    per_doc = scored.groupBy("doc_id").agg(
        F.count("tok").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("w_milli"), F.lit(0)).cast("long").alias("sum_w_milli"),
    )
    logit = F.when(
        F.col("n_tokens") > 0,
        F.lit(CLF_BIAS_MILLI / 1000.0)
        + F.col("sum_w_milli").cast("double")
        / (1000.0 * F.col("n_tokens").cast("double")),
    ).otherwise(F.lit(CLF_BIAS_MILLI / 1000.0))
    # 6-dp quantization via floor(x*1e6 + 0.5), NOT F.round: the logit is
    # a rational (milli-sum / 1000n) that lands EXACTLY on .5 micro
    # boundaries whenever n divides 1000*sum — and Spark's ROUND (shortest-
    # decimal BigDecimal, HALF_UP on the exact tie) disagrees with
    # DuckDB's binary-double ROUND there (diverged at sf0.1). floor is a
    # pure function of the binary double, identical in both engines.
    logit6 = F.floor(logit * 1e6 + 0.5) / 1e6
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "sum_w_milli",
        logit6.alias("logit"),
        (logit6 >= 0.0).alias("keep"),
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-doc lexical (token) Shannon entropy — the information-density
    complement of the q36 repetition gate: boilerplate and keyword-stuffed
    docs score low, natural prose high. H = ln(n) − (Σ c·ln c)/n over the
    doc's token counts c.

    Determinism contract (the q111 discipline): each c·ln(c) term is one
    fixed float op from an exact BIGINT count, QUANTIZED to nano-units
    before the per-doc sum — the accumulation is an order-independent
    integer sum, immune to cross-engine float ordering; ln(n)/ln(k) enter
    once at the boundary with a fixed op tree, rounded to 6 dp.
    ``norm_entropy`` = H/ln(k) (NULL for k ≤ 1 where it is undefined).

    Scale shape (100 TB): one token explode + two map-combinable hash
    aggs keyed by doc_id — docs are contiguous within scan partitions, so
    partial aggregation collapses each doc before either exchange; the
    doc-spine left join keeps zero-token docs in the profile (total gate).
    """
    per_doc = doc_term_counts(docs).groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        F.sum(
            F.round(F.col("cnt").cast("double") * F.log("cnt") * 1e9).cast(
                "long"
            )
        ).alias("s_nano"),
    )
    base = docs.select("doc_id").join(per_doc, "doc_id", "left")
    n = F.coalesce(F.col("n_tokens"), F.lit(0))
    k = F.coalesce(F.col("n_unique"), F.lit(0))
    h_raw = F.log(n.cast("double")) - F.col("s_nano").cast("double") / (
        n.cast("double") * 1e9
    )
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        k.alias("n_unique"),
        F.when(n > 0, F.round(h_raw, 6)).alias("entropy"),
        F.when(k > 1, F.round(h_raw / F.log(k.cast("double")), 6)).alias(
            "norm_entropy"
        ),
    )


def score_calibration(scores: DataFrame) -> DataFrame:
    """Decile lift/calibration table over classifier logits — the standard
    "is the score monotone and well-spread" eval artifact a quality-
    classifier gate ships with (q122's companion, as q119/q120 are the
    ANN legs'): exact interpolating percentile boundaries (the q73
    Spark percentile == DuckDB quantile_cont contract, rounded 6 dp),
    bucket = how many boundaries the logit strictly exceeds, per-bucket
    doc count, mean logit and keep share.

    Determinism: logits are already 6 dp; they are quantized to micro-
    unit BIGINTs before the per-bucket mean (order-independent integer
    sum, the q111 discipline); boundary comparison is on 6 dp values in
    both engines. The boundary row is a one-row broadcast combine (the
    documented constant-key BNLJ exemption); the corpus pass is one scan
    + one map-combinable agg.
    """
    n_buckets = 10
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = scores.agg(
        *[
            F.round(F.percentile("logit", q), 6).alias(f"_b{i}")
            for i, q in enumerate(qs)
        ]
    )
    bucket = sum(
        (F.col("logit") > F.col(f"_b{i}")).cast("int") for i in range(len(qs))
    )
    return (
        scores.join(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            F.round(F.col("logit") * 1e6).cast("long").alias("lu"),
            F.col("keep").cast("long").alias("kp"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("lu").cast("double") / (1e6 * F.count(F.lit(1))), 6
            ).alias("mean_logit"),
            F.round(
                F.sum("kp").cast("double") / F.count(F.lit(1)), 6
            ).alias("keep_share"),
        )
    )


def dataset_card(docs: DataFrame, clf_weights: DataFrame) -> DataFrame:
    """One-row corpus datasheet — the "dataset card" header block every
    training-data release ships (Datasheets for Datasets, Gebru et al.):
    size, source breadth, token volume, exact-dup rate, language mix,
    mean quality and classifier keep share, each reusing the metric
    contract its dedicated operator/oracle already proved (q13 norm-hash
    dedup, q16 lang vote, q15 quality, q122 gate).

    Every leg is one map-combinable corpus agg collapsing to one row;
    the legs combine by one-row cross joins (the documented constant-key
    combine exemption). Float means ride micro-quantized integer sums.
    """
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(token_count()).cast("long").alias("n_tokens"),
        F.countDistinct(F.md5(norm_text())).cast("long").alias("_n_uniq"),
    )
    lang = lang_id(docs).agg(
        F.sum((F.col("pred_lang") == "en").cast("long")).alias("_n_en"),
        F.sum((F.col("pred_lang") == "unknown").cast("long")).alias("_n_unk"),
    )
    qual = quality_score(docs).agg(
        F.sum(F.round(F.col("quality_score") * 1e6).cast("long")).alias("_qu")
    )
    gate = classifier_score(docs, clf_weights).agg(
        F.sum(F.col("keep").cast("long")).alias("_n_keep")
    )
    n = F.col("n_docs").cast("double")
    return (
        base.join(lang)
        .join(qual)
        .join(gate)
        .select(
            "n_docs",
            "n_sources",
            "n_tokens",
            F.round(1.0 - F.col("_n_uniq").cast("double") / n, 6).alias(
                "dup_rate"
            ),
            F.round(F.col("_n_en").cast("double") / n, 6).alias("en_share"),
            F.round(F.col("_n_unk").cast("double") / n, 6).alias(
                "unknown_lang_share"
            ),
            F.round(F.col("_qu").cast("double") / (1e6 * n), 6).alias(
                "mean_quality"
            ),
            F.round(F.col("_n_keep").cast("double") / n, 6).alias(
                "clf_keep_share"
            ),
        )
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical text normalization — the pipeline stage every corpus
    build runs BEFORE dedup/quality so byte-level noise (CRLF vs LF,
    tabs, control chars, curly typography) never defeats exact-hash
    dedup or shifts token stats. Steps, in order:

      1. unicode typographic punctuation -> ASCII ("" '' — – …  )
      2. C0 control chars + DEL -> space (newlines/tabs become spaces)
      3. collapse space runs to one space
      4. trim

    Output per doc: ``doc_id``, ``norm_md5`` (fingerprint of the
    normalized text — compared instead of the text so the oracle result
    stays narrow), ``n_before`` / ``n_after`` (char counts), ``changed``,
    and ``idempotent`` — normalize(normalize(x)) == normalize(x),
    computed per row so the fixed-point property is an AUDITED column,
    not a docstring claim (a non-idempotent normalizer makes incremental
    re-processing diverge from full rebuilds at 100 TB).

    Scale shape: map-only JVM regex/replace chain, no shuffle, no
    Python; the chain is dialect-portable (same semantics in DuckDB's
    RE2 as Java regex — only literal classes and ``+`` used), which is
    what the q138 oracle replays.
    """

    def _norm(col):
        out = col
        for src_ch, dst in (
            ("“", '"'), ("”", '"'), ("‘", "'"),
            ("’", "'"), ("—", "-"), ("–", "-"),
            ("…", "..."), (" ", " "),
        ):
            out = F.replace(out, F.lit(src_ch), F.lit(dst))
        out = F.regexp_replace(out, "[\\x00-\\x1F\\x7F]", " ")
        out = F.regexp_replace(out, " +", " ")
        return F.trim(out)

    once = _norm(F.col("text"))
    twice = _norm(once)
    return docs.select(
        "doc_id",
        F.md5(once).alias("norm_md5"),
        F.length("text").alias("n_before"),
        F.length(once).alias("n_after"),
        (once != F.col("text")).alias("changed"),
        (twice == once).alias("idempotent"),
    )
