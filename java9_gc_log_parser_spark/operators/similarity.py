"""Vector search over the `embeddings` table (array<float> vectors).

Five top-k legs, all returning ``(query_id, neighbor_id, rank, score)``
for the query slice ``_QUERIES``, self-matches excluded, ties to the
lower neighbor_id:
  * brute force — the exact baseline: the (small) query set is broadcast
    against one scan of the corpus, dot products computed JVM-side via
    zip_with/aggregate (no Python);
  * sign-LSH — candidates restricted to the query's sign bucket (a
    deterministic random-hyperplane LSH with axis-aligned planes,
    ``sign_bucket``); at 100 TB the bucket id is the table's partition key,
    so a query touches one partition instead of the whole corpus;
  * IVF — a coarse quantizer (``_IVF_CELLS`` cells) assigns every vector to
    its nearest cell, and a query searches only its ``_IVF_PROBE`` nearest;
  * PQ — product quantization with asymmetric distance: vectors are stored
    as ``_PQ_M`` sub-codebook ids, query distance is a table lookup;
  * IVF-PQ — the two composed (Jégou et al., TPAMI 2011): IVF cells bound
    the candidates, PQ codes score them. ``ivfpq_train``/``ivfpq_encode``
    split the same index into train-once metadata and per-batch encoding.
Recall reports grade the LSH, IVF-PQ and near-duplicate legs against the
exact answer. Near-duplicate pairs (and the semantic decontamination
screen) are blocked by the sign bucket.

Each step is written once: the rounded cosine (``rounded_cos``), the
broadcast probe join and the top-k tail (``_probe_join``, ``_topk``), the
IVF seed and cell argmax (``_ivf_seed``, ``_nearest_cell``), and the Lloyd
loop that trains the PQ codebooks (``clustering.lloyd``, k-means'
own).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-12
#: the query slice every top-k operator searches for
_QUERIES = "vec_id % 101 = 0"
#: neighbours per query of the legs that take no ``k``
_K = 5
#: cosine at which two vectors are near-duplicates: the synthetic
#: embeddings are near-random (max pairwise cosine ~0.4), so a higher bar
#: would leave no pair to check
_NEAR_DUP_COS = 0.30
#: embedding dimensions whose signs form the LSH bucket id (16 buckets)
_LSH_DIMS = (1, 2, 3, 4)
#: PQ: subspaces, codes per subspace, Lloyd rounds, embedding dimension
_PQ_M, _PQ_K_CODES, _PQ_ITERS, _DIM = 4, 4, 2, 64
#: PQ subspace width
_SUB = _DIM // _PQ_M
#: IVF: coarse cells and the cells each query probes
_IVF_CELLS, _IVF_PROBE = 16, 4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def _as_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    da, db = _as_double(a), _as_double(b)
    return _dot(da, db) / (_norm(da) * _norm(db) + F.lit(EPS))


def rounded_cos(a: str, a_nrm: str, b: str, b_nrm: str) -> Column:
    """Cosine of the bound double vectors ``a`` and ``b`` given their norms,
    rounded to 6 dp: the score every search, near-duplicate and
    decontamination leg compares. Float-identical to ``cosine()``, but the
    two O(dim) norm traversals run once per row (``_with_norm``), not once
    per pair."""
    return F.round(
        _dot(F.col(a), F.col(b)) / (F.col(a_nrm) * F.col(b_nrm) + F.lit(EPS)),
        6,
    )


def _with_norm(embeddings: DataFrame) -> DataFrame:
    """Bind the double-cast vector and its L2 norm as real columns so each is
    computed once per row (see dedupe's expression-shape note)."""
    return embeddings.withColumn(
        "_emb", _as_double(F.col("embedding"))
    ).withColumn("_nrm", _norm(F.col("_emb")))


def _probe_join(c: DataFrame, q: DataFrame, *on: Column) -> DataFrame:
    """Corpus rows ``c`` (``neighbor_id``, ...) against the broadcast query
    rows ``q`` (``query_id``, ...) where every ``on`` holds, self-matches
    excluded: the corpus is scanned once and never shuffled toward the
    queries."""
    cond = F.col("query_id") != F.col("neighbor_id")
    for o in on:
        cond = o & cond
    return c.join(F.broadcast(q), cond)


def _topk(
    scored: DataFrame, order: Column, score: Column | str, k: int
) -> DataFrame:
    """The top-k tail: per query the ``k`` best ``neighbor_id`` by
    ``order``, ties to the lower neighbor_id, as ``(query_id, neighbor_id,
    rank, score)``. The window partitions by query, so the sort is
    queries-sized per partition, never global."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k by rounded cosine of probe pairs ``(q_emb, q_nrm, c_emb,
    c_nrm)``."""
    scored = pairs.withColumn(
        "cos", rounded_cos("q_emb", "q_nrm", "c_emb", "c_nrm")
    )
    return _topk(scored, F.col("cos").desc(), "cos", k)


def _adc_topk(scored: DataFrame) -> DataFrame:
    """Top-``_K`` by summed micro-unit ADC distance ``du``, reported as
    ``adc_d2``."""
    return _topk(
        scored,
        F.col("du").asc(),
        F.round(F.col("du").cast("double") / 1e6, 6).alias("adc_d2"),
        _K,
    )


def _sides(e: DataFrame, *extra: str) -> tuple[DataFrame, DataFrame]:
    """The two sides of a cosine search over ``_with_norm`` rows: the
    corpus ``(neighbor_id, c_emb, c_nrm, c_<extra>...)`` and the query slice
    ``(query_id, q_emb, q_nrm, q_<extra>...)``."""

    def side(df: DataFrame, vid: str, p: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(vid),
            F.col("_emb").alias(f"{p}_emb"),
            F.col("_nrm").alias(f"{p}_nrm"),
            *[F.col(x).alias(f"{p}_{x}") for x in extra],
        )

    return side(e, "neighbor_id", "c"), side(e.filter(_QUERIES), "query_id", "q")


def ann_topk_bruteforce(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos) for the
    queries vec_id % 101 == 0.

    The query side is broadcast; the corpus is scanned once.
    """
    c, q = _sides(_with_norm(embeddings))
    return _cosine_topk(_probe_join(c, q), k)


def sign_bucket(emb: Column) -> Column:
    """Deterministic sign-pattern LSH bucket id (axis-aligned hyperplanes)."""
    bucket = F.lit(0)
    for i, d in enumerate(_LSH_DIMS):
        bucket = bucket + F.when(
            F.element_at(emb, d).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(embeddings: DataFrame) -> DataFrame:
    """Approximate top-``_K``: candidates restricted to the query's sign
    bucket.

    Same output shape as the brute-force path; recall trades off against the
    number of hyperplanes (2^4 buckets).
    """
    withb = _with_norm(embeddings).withColumn(
        "bucket", sign_bucket(F.col("embedding"))
    )
    c, q = _sides(withb, "bucket")
    return _cosine_topk(
        _probe_join(c, q, F.col("q_bucket") == F.col("c_bucket")), _K
    )


def ann_topk_ivf(embeddings: DataFrame) -> DataFrame:
    """IVF (inverted-file) approximate top-``_K``: coarse-quantize the corpus
    into ``_IVF_CELLS`` cells, then search each query against only its
    ``_IVF_PROBE`` nearest cells.

    The centroid set is deterministic — the ``_IVF_CELLS`` lowest-vec_id
    vectors (a training-free coarse quantizer; a real deployment k-means
    refines it offline, which changes the centroid table, not this plan).
    Centroids are tiny and broadcast twice: once to assign every corpus
    vector to its argmax-cosine cell (map-only scan), once to pick each
    query's probe cells. The candidate join then hits ``_IVF_PROBE /
    _IVF_CELLS`` of the corpus instead of all of it — at 100 TB the cell
    id becomes the table's partition key, so a probe is a partition-pruned
    scan, and the assignment column is written once at ingest. Output shape
    matches the exact path: (query_id, neighbor_id, rank, cos); recall vs
    brute force is asserted in tests (probing every cell degenerates to
    exact).

    Cell-id tie-break on equal cosine: lowest centroid id, matching the
    oracle's ``row_number() ORDER BY cos DESC, cid``.
    """
    assigned, probes = _ivf_cells(embeddings)
    return _cosine_topk(
        _probe_join(assigned, probes, F.col("cell") == F.col("q_cell")), _K
    )


def _ivf_seed(e: DataFrame, n: int) -> DataFrame:
    """The coarse-cell centroids ``(cid, cent_emb, cent_nrm)``: the ``n``
    lowest-vec_id ``_with_norm`` rows."""
    return (
        e.orderBy("vec_id")
        .limit(n)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("_emb").alias("cent_emb"),
            F.col("_nrm").alias("cent_nrm"),
        )
    )


def _cell_cos(e: DataFrame, cells: DataFrame) -> DataFrame:
    """Every (``_with_norm`` row, broadcast cell) pair with its rounded
    cosine ``_ccos``."""
    return e.join(F.broadcast(cells)).withColumn(
        "_ccos", rounded_cos("_emb", "_nrm", "cent_emb", "cent_nrm")
    )


def _nearest_cell(e: DataFrame, cells: DataFrame, *carry: str) -> DataFrame:
    """``(vec_id, _best)``: each vector's argmax-cosine cell,
    ``_best = struct(cid, *carry)``, cosine ties to the lowest cid.

    A map-side-combinable groupBy over the cell-exploded rows: each
    partition folds its copies locally, so the shuffle stays ~input-sized
    (a window partitioned by vec_id would shuffle the full explosion).
    max_by's ordering struct breaks the ties."""
    return (
        _cell_cos(e, cells)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", *carry),
                F.struct(F.col("_ccos"), -F.col("cid")),
            ).alias("_best")
        )
    )


def _ivf_cells(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The IVF coarse-quantization stage shared by the IVF and IVF-PQ legs:
    returns ``(assigned, probes)`` where ``assigned`` is the corpus with its
    argmax cell ``(neighbor_id, c_emb, c_nrm, cell)`` and ``probes`` is the
    query set with its top-``_IVF_PROBE`` cells ``(query_id, q_emb, q_nrm,
    q_cell)`` — one row per probed cell."""
    e = _with_norm(embeddings)
    cent = _ivf_seed(e, _IVF_CELLS)
    assigned = _nearest_cell(e, cent, "_emb", "_nrm").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_best._emb").alias("c_emb"),
        F.col("_best._nrm").alias("c_nrm"),
        F.col("_best.cid").alias("cell"),
    )
    # probe-cell ranking needs top-_IVF_PROBE (not argmax); the query set is
    # tiny so this window's shuffle is negligible
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("_ccos").desc(), F.col("cid")
    )
    probes = (
        _cell_cos(e.filter(_QUERIES), cent)
        .withColumn("_crk", F.row_number().over(wcell))
        .filter(F.col("_crk") <= _IVF_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("_emb").alias("q_emb"),
            F.col("_nrm").alias("q_nrm"),
            F.col("cid").alias("q_cell"),
        )
    )
    return assigned, probes


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Near-duplicate vector pairs: cosine >= ``_NEAR_DUP_COS`` within a
    blocking key.

    Blocking is the deterministic sign-LSH bucket (``sign_bucket``):
    block cardinality is 2^4 with sizes set by the DATA's sign
    distribution, not by an attribute whose block sizes grow linearly with
    corpus size (an all-pairs join within a label block is quadratic at
    scale). The trade is explicit recall loss — a near-dup pair split across
    buckets is missed; measured recall vs the exact all-pairs ground truth is
    asserted in tests/test_similarity.py.
    """
    e = _with_norm(embeddings).select(
        "vec_id", "_emb", "_nrm", sign_bucket(F.col("embedding")).alias("_blk")
    )
    # explicit-count repartition: the within-block self-join's output is
    # quadratic in block size; AQE coalesces by INPUT bytes and would plan
    # the blow-up onto one task (cf. dedupe.ngram_jaccard_pairs)
    n_parts = int(embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = e.repartition(n_parts, "_blk")
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        rounded_cos("a._emb", "a._nrm", "b._emb", "b._nrm").alias("cos"),
    ).filter(F.col("cos") >= _NEAR_DUP_COS)


def ann_recall_report(embeddings: DataFrame) -> DataFrame:
    """ANN QUALITY EVALUATION harness: per-query recall@k of the sign-LSH
    leg (q20) against the exact brute-force top-k ground truth (q19) —
    the measurement that turns "LSH trades recall for cost" from a
    docstring claim into an ORACLED metric. This is the query a platform
    runs on a sampled slice after every reindex: if recall drifts, the
    bucket geometry no longer fits the embedding distribution.

    Output per query: ``(query_id, n_exact, n_approx, n_hit,
    recall_at_k)`` — ``n_hit`` counts exact-top-k neighbors the approx
    leg also returned; ``recall_at_k = n_hit / k`` (6 dp). A query whose
    bucket holds nothing but itself reports ``n_approx = 0, recall 0``
    — visible, not silently dropped (the exact side is the spine).

    Scale shape: both legs are the existing operators (broadcast query
    side, bucket-restricted candidates); the comparison itself joins two
    (queries × k)-row results — negligible. At 100 TB one runs this on
    a sampled query slice; the slice predicate is the operators'
    ``_QUERIES``.
    """
    exact = ann_topk_bruteforce(embeddings).select("query_id", "neighbor_id")
    approx = ann_topk_lsh(embeddings).select("query_id", "neighbor_id")
    return _recall_vs(exact, approx, _K)


def _recall_vs(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Shared recall@k comparison: per query, how many of the exact top-k
    the approximate leg also returned (factored from ann_recall_report;
    also serves the IVF×PQ composition report)."""
    # both legs are queries×k rows — broadcast the probe sides so the
    # comparison never sorts/shuffles (matters when the harness runs
    # alongside corpus-scale stages that share the session's partitions)
    j = exact.join(
        F.broadcast(approx.withColumn("_hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.col("_hit").isNotNull().cast("long")).alias("n_hit"),
    )
    ap_n = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    return (
        per_q.join(F.broadcast(ap_n), "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).cast("long").alias(
                "n_approx"
            ),
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.lit(float(k)), 6
            ).alias("recall_at_k"),
        )
    )


def near_dup_recall_report(embeddings: DataFrame) -> DataFrame:
    """Pair-level RECALL audit of the sign-LSH near-dup blocking (q21)
    against the exact all-pairs cosine ground truth — the q119 harness's
    sibling for the PAIR problem: q21's docstring prices its bucket
    blocking as "explicit recall loss"; this query puts the measured
    number in an oracled result instead of a unit-test assertion.

    LSH pairs verify with the same cosine+threshold as the exact set, so
    they are a SUBSET (precision 1 by construction — asserted, not
    assumed, by the join below); the one-row report is
    ``(n_exact_pairs, n_lsh_pairs, n_missed, recall)``.

    Scale note: the exact leg is an all-pairs self-join — this is an
    EVALUATION harness to run on a sampled slice (thousands of vectors),
    exactly like ANN recall (q119); the production path stays q21. The
    blocking's miss set is precisely the pairs whose members differ in
    at least one of the ``_LSH_DIMS`` sign bits.
    """
    e = _with_norm(embeddings)
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("_emb").alias("_ea"),
        F.col("_nrm").alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("_emb").alias("_eb"),
        F.col("_nrm").alias("_nb"),
    )
    exact = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", rounded_cos("_ea", "_na", "_eb", "_nb"))
        .filter(F.col("cos") >= _NEAR_DUP_COS)
        .select("vec_a", "vec_b")
    )
    lsh = embedding_near_dup_pairs(embeddings).select(
        "vec_a", "vec_b", F.lit(1).alias("_hit")
    )
    return (
        exact.join(lsh, ["vec_a", "vec_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
            F.sum(F.col("_hit").isNotNull().cast("long")).alias(
                "n_lsh_pairs"
            ),
        )
        .select(
            "n_exact_pairs",
            "n_lsh_pairs",
            (F.col("n_exact_pairs") - F.col("n_lsh_pairs")).alias(
                "n_missed"
            ),
            F.round(
                F.when(
                    F.col("n_exact_pairs") > 0,
                    F.col("n_lsh_pairs").cast("double")
                    / F.col("n_exact_pairs").cast("double"),
                ),
                6,
            ).alias("recall"),
        )
    )


def _subspace(s: int) -> Column:
    """PQ subspace ``s`` of the embedding, as doubles."""
    return F.transform(
        F.slice(F.col("embedding"), s * _SUB + 1, _SUB),
        lambda v: v.cast("double"),
    )


def _pq_lloyd(embeddings: DataFrame) -> list[tuple[DataFrame, DataFrame]]:
    """Per PQ subspace ``s``, the ``(codebook, assigned)`` pair of
    ``_PQ_ITERS`` Lloyd rounds over that slice of ``embeddings``:
    k-means' own loop (``clustering.lloyd``), so the DuckDB oracle unrolls
    the identical iterations per subspace."""
    from java9_gc_log_parser_spark.operators.clustering import lloyd

    return [
        lloyd(embeddings, _subspace(s), _PQ_K_CODES, _PQ_ITERS)
        for s in range(_PQ_M)
    ]


def ann_topk_pq(embeddings: DataFrame) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — the
    compression leg of the real-world IVF-PQ stack (Jégou et al., TPAMI
    2011): each vector is stored as ``m`` = 4 sub-codebook ids (here 4x2 bits
    vs 64 floats — the memory ratio that makes billion-vector indexes
    fit), and query distance is a table lookup per subspace, never a
    full-vector float op against the corpus.

    Training is ``clustering.lloyd`` per subspace slice (same md5 seed
    order, same rounded-6dp expanded-form distances, same struct-min
    argmin as k-means), so the DuckDB oracle unrolls the identical
    iterations per subspace.
    ADC: per (query, subspace, code) the distance term is rounded to 6 dp
    then QUANTIZED to micro-unit BIGINTs before the per-pair sum — the
    m-term accumulation is exact integer arithmetic, immune to
    cross-engine float ordering (the q111 discipline).

    Scale shape (100 TB of vectors): codebooks are m×k_codes (4×4) rows
    (broadcast); the code table is m small ints per vector; the ADC LUT
    is queries×m×k_codes (broadcast). The scored join ships only codes,
    never embeddings. This leg scores the FULL corpus per query (the q19
    brute-force discipline — it is the exactness baseline for the
    compressed representation); production composes it with q34's IVF
    cells to bound candidates, which changes the candidate set, not the
    scoring machinery proven here.

    Output: ``(query_id, neighbor_id, rank, adc_d2)`` — top-5 by
    (adc distance asc, neighbor_id asc), self-matches excluded.
    """
    codes, lut = _pq_codes_and_lut(embeddings)
    return _adc_topk(
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["cluster"]),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2u").alias("du"))
    )


def _pq_codes_and_lut(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The PQ train/encode/LUT stage shared by the PQ and IVF-PQ legs:
    returns ``(codes, lut)`` — ``codes`` is the encoded corpus ``(vec_id,
    s, code)`` (m rows per vector) and ``lut`` the per-query ADC table
    ``(query_id, s, cluster, d2u)`` with micro-unit BIGINT distance
    terms."""
    from java9_gc_log_parser_spark.operators.clustering import _d2, _sq

    trained = _pq_lloyd(embeddings)
    codes = reduce(DataFrame.unionByName, [
        assigned.select(
            "vec_id", F.lit(s).alias("s"), F.col("cluster").alias("code")
        )
        for s, (_, assigned) in enumerate(trained)
    ])
    q = embeddings.filter(_QUERIES)
    lut = reduce(DataFrame.unionByName, [
        q.select(F.col("vec_id").alias("query_id"), _subspace(s).alias("_emb"))
        .withColumn("_esq", _sq("_emb"))
        .join(F.broadcast(cents))
        .select(
            "query_id",
            F.lit(s).alias("s"),
            "cluster",
            F.round(_d2() * 1e6).cast("long").alias("d2u"),
        )
        for s, (cents, _) in enumerate(trained)
    ])
    return codes, lut


def ann_topk_ivf_pq(embeddings: DataFrame) -> DataFrame:
    """IVF × PQ composition — the production ANN stack (Jégou et al.,
    TPAMI 2011, §IV: coarse quantizer bounds the candidate set, product
    codes score it): q34's cell probe picks candidates, q130's PQ-ADC
    scores ONLY those candidates. Neither stage changes — the cell
    geometry is ``_ivf_cells`` verbatim and the codebooks/LUT are
    ``_pq_codes_and_lut`` verbatim — so the q34/q130 oracles keep
    validating the pieces while this operator validates the composition.

    Scale shape (100 TB of vectors): candidates are bounded by the
    ``_IVF_PROBE/_IVF_CELLS`` corpus fraction (a partition-pruned scan once
    cell id is the table's partition key); the scored join ships only
    (query_id, neighbor_id) pairs and m-small-int code rows — never
    embeddings; probes and the ADC LUT are queries-sized broadcasts. The
    per-query cost is O(candidates × m) integer adds, the memory per
    corpus vector is m codes — the ratio that fits billion-vector
    indexes in RAM.

    Output: ``(query_id, neighbor_id, rank, adc_d2)`` — top-5 by
    (ADC distance asc, neighbor_id asc) among CELL-LOCAL candidates
    (4 probed of 16 cells), self-matches excluded."""
    assigned, probes = _ivf_cells(embeddings)
    cand = _probe_join(
        assigned, probes, F.col("cell") == F.col("q_cell")
    ).select("query_id", "neighbor_id")
    codes, lut = _pq_codes_and_lut(embeddings)
    lutq = lut.select(
        F.col("query_id").alias("l_query"), "s", "cluster", "d2u"
    )
    return _adc_topk(
        # cand is queries × _IVF_PROBE × cell-bounded — queries-scale, so
        # it broadcasts against the corpus-scale code table (the corpus
        # never shuffles toward the query side anywhere in this operator)
        codes.join(F.broadcast(cand), cand["neighbor_id"] == codes["vec_id"])
        .join(
            F.broadcast(lutq),
            (F.col("query_id") == F.col("l_query"))
            & (codes["s"] == lutq["s"])
            & (codes["code"] == lutq["cluster"]),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2u").alias("du"))
    )


def ann_ivf_pq_recall_report(embeddings: DataFrame) -> DataFrame:
    """Recall@5 of the IVF×PQ composition against the exact brute-force
    spine — q119's evaluation harness pointed at the composed index, so
    the two approximations' combined quality loss (missed cells × code
    quantization) is an oracled number, not a docstring claim."""
    exact = ann_topk_bruteforce(embeddings).select("query_id", "neighbor_id")
    approx = ann_topk_ivf_pq(embeddings).select("query_id", "neighbor_id")
    return _recall_vs(exact, approx, _K)


def ivfpq_train(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the IVF×PQ index METADATA on a bootstrap corpus and nothing
    else: returns ``(cells, books)`` where ``cells`` is the coarse-cell
    centroid table ``(cid, cent_emb, cent_nrm)`` (``_ivf_seed``: the first
    16 base vec_ids) and ``books`` the per-subspace PQ codebooks ``(s,
    cluster, c_emb, c_sq)`` after 2 deterministic Lloyd rounds
    (``_pq_lloyd``, restricted to the base).

    This is the train/encode SPLIT the streaming maintenance query (q141)
    needs: training sees only the bootstrap slice, so arriving vectors
    can be encoded per micro-batch against FIXED metadata — the online
    regime of a production ANN index, where re-training is a planned
    rebuild, not a per-batch event. Both outputs are tiny
    (16 + 4*4 rows) — collect once, ship to the
    maintenance job, broadcast per batch.
    """
    cells = _ivf_seed(_with_norm(base), _IVF_CELLS)
    books = reduce(DataFrame.unionByName, [
        cents.select(F.lit(s).alias("s"), "cluster", "c_emb", "c_sq")
        for s, (cents, _) in enumerate(_pq_lloyd(base))
    ])
    return cells, books


def ivfpq_encode(
    vectors: DataFrame, cells: DataFrame, books: DataFrame
) -> DataFrame:
    """Encode ``vectors`` into IVF×PQ index rows ``(vec_id, cell, s,
    code)`` against FIXED metadata from :func:`ivfpq_train`.

    Plan shape (the q141 claim, pinned in tests/test_plans.py): the ONLY
    table scanned is ``vectors`` — cells and books join as broadcasts, so
    a micro-batch encode touches batch rows plus a few KB of metadata and
    NEVER re-scans the corpus. Cell assignment is ``_nearest_cell`` (the
    IVF legs' argmax: highest rounded cosine, then lowest cid); PQ codes
    are ``clustering._argmin`` over rounded expanded-form distances
    (k-means' assignment), with the per-row subspace slice driven by the
    broadcast ``s`` column so all ``m`` subspaces encode in ONE pass.
    Per-vector cost: O(_IVF_CELLS + m*k_codes) JVM array ops; the two
    grouped argmins share the one batch-sized shuffle key (vec_id)."""
    from java9_gc_log_parser_spark.operators.clustering import _argmin, _sq

    v = _with_norm(vectors)
    assigned = _nearest_cell(v, cells).select(
        "vec_id", F.col("_best.cid").alias("cell")
    )
    pairs = (
        v.select("vec_id", "_emb")
        .join(F.broadcast(books))
        .withColumn(
            "_emb", F.slice(F.col("_emb"), F.col("s") * _SUB + 1, F.lit(_SUB))
        )
        .withColumn("_esq", _sq("_emb"))
    )
    codes = _argmin(pairs, "vec_id", "s").select(
        "vec_id", "s", F.col("cluster").alias("code")
    )
    return assigned.join(codes, "vec_id").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("s").cast("int").alias("s"),
        F.col("code").cast("int").alias("code"),
    )
