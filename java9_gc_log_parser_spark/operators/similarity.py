"""Similarity search over the `embeddings` table (array<float> vectors).

Two paths:
  * brute-force cosine top-k — the exact baseline; scales as a broadcast of
    the (small) query set against a full scan of the vector table, dot
    products computed JVM-side via zip_with/aggregate (no Python);
  * sign-LSH bucketed top-k — the scale path: vectors are bucketed by the
    sign pattern of selected dimensions (a deterministic random-hyperplane
    LSH with axis-aligned planes); each query probes only its own bucket.
    At 100 TB the bucket id becomes the table's partition key so a query
    touches one partition instead of the whole corpus.

Also: embedding-cosine near-duplicate pairs (blocked by label).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-12
#: the query slice every top-k operator searches for
_QUERIES = "vec_id % 101 = 0"
#: embedding dimensions whose signs form the LSH bucket id (16 buckets)
_LSH_DIMS = (1, 2, 3, 4)
#: PQ: subspaces, codes per subspace, Lloyd rounds, embedding dimension
_PQ_M, _PQ_K_CODES, _PQ_ITERS, _DIM = 4, 4, 2, 64
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


def _with_norm(embeddings: DataFrame) -> DataFrame:
    """Bind the double-cast vector and its L2 norm as real columns so each is
    computed once per row (see dedupe's expression-shape note)."""
    return embeddings.withColumn(
        "_emb", _as_double(F.col("embedding"))
    ).withColumn("_nrm", _norm(F.col("_emb")))


def ann_topk_bruteforce(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos) for the
    queries vec_id % 101 == 0.

    The query side is broadcast; the corpus is scanned once.
    """
    from pyspark.sql import Window

    # norms bound once per ROW (not once per pair): the pair expression is
    # dot/(norm_a*norm_b + EPS) — float-identical to cosine(), but the two
    # O(dim) norm traversals move out of the O(n*q) pair loop.
    e = _with_norm(embeddings)
    q = e.filter(_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("_emb").alias("q_emb"),
        F.col("_nrm").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_emb").alias("c_emb"),
        F.col("_nrm").alias("c_nrm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_nrm") * F.col("c_nrm") + F.lit(EPS)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def sign_bucket(emb: Column) -> Column:
    """Deterministic sign-pattern LSH bucket id (axis-aligned hyperplanes)."""
    bucket = F.lit(0)
    for i, d in enumerate(_LSH_DIMS):
        bucket = bucket + F.when(
            F.element_at(emb, d).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket


def ann_topk_lsh(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Same output shape as the brute-force path; recall trades off against the
    number of hyperplanes (2^4 buckets).
    """
    from pyspark.sql import Window

    withb = _with_norm(embeddings).withColumn(
        "bucket", sign_bucket(F.col("embedding"))
    )
    q = withb.filter(_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("_emb").alias("q_emb"),
        F.col("_nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_emb").alias("c_emb"),
        F.col("_nrm").alias("c_nrm"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_nrm") * F.col("c_nrm") + F.lit(EPS)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ann_topk_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` cells, then search each query against only its
    ``n_probe`` nearest cells.

    The centroid set is deterministic — the ``n_centroids`` lowest-vec_id
    vectors (a training-free coarse quantizer; a real deployment k-means
    refines it offline, which changes the centroid table, not this plan).
    Centroids are tiny and broadcast twice: once to assign every corpus
    vector to its argmax-cosine cell (map-only scan), once to pick each
    query's probe cells. The candidate join then hits ``n_probe/n_centroids``
    of the corpus instead of all of it — at 100 TB the cell id becomes the
    table's partition key, so a probe is a partition-pruned scan, and the
    assignment column is written once at ingest. Output shape matches the
    exact path: (query_id, neighbor_id, rank, cos); recall vs brute force is
    asserted in tests (n_probe = n_centroids degenerates to exact).

    Cell-id tie-break on equal cosine: lowest centroid id, matching the
    oracle's ``row_number() ORDER BY cos DESC, cid``.
    """
    assigned, probes = _ivf_cells(embeddings, n_centroids, n_probe)
    scored = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).withColumn(
        "cos",
        F.round(
            _dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_nrm") * F.col("c_nrm") + F.lit(EPS)),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def _ivf_cells(
    embeddings: DataFrame, n_centroids: int, n_probe: int
) -> tuple[DataFrame, DataFrame]:
    """Shared IVF coarse-quantization stage (factored from ann_topk_ivf so
    the PQ composition reuses the identical cell geometry): returns
    ``(assigned, probes)`` where ``assigned`` is the corpus with its argmax
    cell ``(neighbor_id, c_emb, c_nrm, cell)`` and ``probes`` is the query
    set with its top-``n_probe`` cells ``(query_id, q_emb, q_nrm, q_cell)``
    — one row per probed cell."""
    e = _with_norm(embeddings)
    cent = (
        e.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("_emb").alias("cent_emb"),
            F.col("_nrm").alias("cent_nrm"),
        )
    )
    cent_cos = F.round(
        _dot(F.col("_emb"), F.col("cent_emb"))
        / (F.col("_nrm") * F.col("cent_nrm") + F.lit(EPS)),
        6,
    )
    # corpus cell assignment: argmax over the 16x-exploded (vector, centroid)
    # rows as a map-side-combinable groupBy — each partition folds its 16
    # copies locally, so the shuffle stays ~corpus-sized (a window
    # partitioned by vec_id would shuffle the full explosion). max_by's
    # ordering struct breaks cosine ties toward the lowest centroid id.
    assigned = (
        e.join(F.broadcast(cent))
        .withColumn("_ccos", cent_cos)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "_emb", "_nrm"),
                F.struct(F.col("_ccos"), -F.col("cid")),
            ).alias("_best")
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("_best._emb").alias("c_emb"),
            F.col("_best._nrm").alias("c_nrm"),
            F.col("_best.cid").alias("cell"),
        )
    )
    # probe-cell ranking needs top-n_probe (not argmax); the query set is
    # tiny so this window's shuffle is negligible
    wcell = Window.partitionBy("vec_id").orderBy(
        F.col("_ccos").desc(), F.col("cid")
    )
    probes = (
        e.filter(_QUERIES)
        .join(F.broadcast(cent))
        .withColumn("_ccos", cent_cos)
        .withColumn("_crk", F.row_number().over(wcell))
        .filter(F.col("_crk") <= n_probe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("_emb").alias("q_emb"),
            F.col("_nrm").alias("q_nrm"),
            F.col("cid").alias("q_cell"),
        )
    )
    return assigned, probes


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.92
) -> DataFrame:
    """Near-duplicate vector pairs: cosine >= threshold within a blocking key.

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
    cos = F.round(
        _dot(F.col("a._emb"), F.col("b._emb"))
        / (F.col("a._nrm") * F.col("b._nrm") + F.lit(EPS)),
        6,
    )
    return pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cos.alias("cos"),
    ).filter(F.col("cos") >= threshold)


def ann_recall_report(embeddings: DataFrame, k: int = 5) -> DataFrame:
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
    exact = ann_topk_bruteforce(embeddings, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = ann_topk_lsh(embeddings, k=k).select(
        "query_id", "neighbor_id"
    )
    return _recall_vs(exact, approx, k)


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


def near_dup_recall_report(
    embeddings: DataFrame, threshold: float = 0.30
) -> DataFrame:
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
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb") + F.lit(EPS)),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b")
    )
    lsh = embedding_near_dup_pairs(embeddings, threshold=threshold).select(
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


def ann_topk_pq(embeddings: DataFrame) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — the
    compression leg of the real-world IVF-PQ stack (Jégou et al., TPAMI
    2011): each vector is stored as ``m`` = 4 sub-codebook ids (here 4x2 bits
    vs 64 floats — the memory ratio that makes billion-vector indexes
    fit), and query distance is a table lookup per subspace, never a
    full-vector float op against the corpus.

    Training reuses the deterministic Lloyd's machinery of
    ``clustering.kmeans_assign`` per subspace slice (same md5 seed order,
    same rounded-6dp expanded-form distances, same struct-min argmin), so
    the DuckDB oracle unrolls the identical iterations per subspace.
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

    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["cluster"]),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2u").alias("du"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("du").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round(F.col("du").cast("double") / 1e6, 6).alias("adc_d2"),
        )
    )


def _pq_codes_and_lut(embeddings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared PQ train/encode/LUT stage (factored from ann_topk_pq so the
    IVF composition reuses the identical codebooks): returns ``(codes,
    lut)`` — ``codes`` is the encoded corpus ``(vec_id, s, code)`` (m rows
    per vector) and ``lut`` the per-query ADC table ``(query_id, s,
    cluster, d2u)`` with micro-unit BIGINT distance terms."""
    from java9_gc_log_parser_spark.operators.clustering import (
        _assign,
        _init_centroids,
        _update,
    )

    sub = _DIM // _PQ_M

    def _slice(c: Column, s: int) -> Column:
        return F.transform(
            F.slice(c, s * sub + 1, sub), lambda v: v.cast("double")
        )

    q = embeddings.filter(_QUERIES)
    code_parts, lut_parts = [], []
    for s in range(_PQ_M):
        e_s = embeddings.select(
            "vec_id", _slice(F.col("embedding"), s).alias("_emb")
        ).withColumn("_esq", F.round(_dot(F.col("_emb"), F.col("_emb")), 6))
        cents = _init_centroids(e_s, _PQ_K_CODES)
        assigned = _assign(e_s, cents)
        for _ in range(_PQ_ITERS - 1):
            cents = _update(e_s, assigned)
            assigned = _assign(e_s, cents)
        code_parts.append(
            assigned.select(
                "vec_id",
                F.lit(s).alias("s"),
                F.col("cluster").alias("code"),
            )
        )
        q_s = q.select(
            F.col("vec_id").alias("query_id"),
            _slice(F.col("embedding"), s).alias("q_emb"),
        ).withColumn("q_sq", F.round(_dot(F.col("q_emb"), F.col("q_emb")), 6))
        d2 = F.round(
            F.col("q_sq")
            - 2.0 * _dot(F.col("q_emb"), F.col("c_emb"))
            + F.col("c_sq"),
            6,
        )
        lut_parts.append(
            q_s.join(F.broadcast(cents)).select(
                "query_id",
                F.lit(s).alias("s"),
                "cluster",
                F.round(d2 * 1e6).cast("long").alias("d2u"),
            )
        )
    codes = code_parts[0]
    for p in code_parts[1:]:
        codes = codes.unionByName(p)
    lut = lut_parts[0]
    for p in lut_parts[1:]:
        lut = lut.unionByName(p)
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
    ``n_probe/n_centroids`` corpus fraction (a partition-pruned scan once
    cell id is the table's partition key); the scored join ships only
    (query_id, neighbor_id) pairs and m-small-int code rows — never
    embeddings; probes and the ADC LUT are queries-sized broadcasts. The
    per-query cost is O(candidates × m) integer adds, the memory per
    corpus vector is m codes — the ratio that fits billion-vector
    indexes in RAM.

    Output: ``(query_id, neighbor_id, rank, adc_d2)`` — top-5 by
    (ADC distance asc, neighbor_id asc) among CELL-LOCAL candidates
    (4 probed of 16 cells), self-matches excluded."""
    assigned, probes = _ivf_cells(embeddings, _IVF_CELLS, _IVF_PROBE)
    cand = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select("query_id", "neighbor_id")
    codes, lut = _pq_codes_and_lut(embeddings)
    lutq = lut.select(
        F.col("query_id").alias("l_query"), "s", "cluster", "d2u"
    )
    scored = (
        # cand is queries × n_probe × cell-bounded — queries-scale, so it
        # broadcasts against the corpus-scale code table (the corpus never
        # shuffles toward the query side anywhere in this operator)
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
    w = Window.partitionBy("query_id").orderBy(
        F.col("du").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("du").cast("double") / 1e6, 6).alias("adc_d2"),
        )
    )


def ann_ivf_pq_recall_report(embeddings: DataFrame) -> DataFrame:
    """Recall@5 of the IVF×PQ composition against the exact brute-force
    spine — q119's evaluation harness pointed at the composed index, so
    the two approximations' combined quality loss (missed cells × code
    quantization) is an oracled number, not a docstring claim."""
    exact = ann_topk_bruteforce(embeddings).select("query_id", "neighbor_id")
    approx = ann_topk_ivf_pq(embeddings).select("query_id", "neighbor_id")
    return _recall_vs(exact, approx, 5)


def ivfpq_train(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the IVF×PQ index METADATA on a bootstrap corpus and nothing
    else: returns ``(cells, books)`` where ``cells`` is the coarse-cell
    centroid table ``(cid, cent_emb, cent_nrm)`` (first 16
    base vec_ids — ``_ivf_cells``'s seed rule) and ``books`` the
    per-subspace PQ codebooks ``(s, cluster, c_emb, c_sq)`` after
    2 deterministic Lloyd rounds (``_pq_codes_and_lut``'s
    training verbatim, restricted to the base).

    This is the train/encode SPLIT the streaming maintenance query (q141)
    needs: training sees only the bootstrap slice, so arriving vectors
    can be encoded per micro-batch against FIXED metadata — the online
    regime of a production ANN index, where re-training is a planned
    rebuild, not a per-batch event. Both outputs are tiny
    (16 + 4*4 rows) — collect once, ship to the
    maintenance job, broadcast per batch.
    """
    from java9_gc_log_parser_spark.operators.clustering import (
        _assign,
        _init_centroids,
        _update,
    )

    sub = _DIM // _PQ_M
    b = _with_norm(base)
    cells = (
        b.orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("_emb").alias("cent_emb"),
            F.col("_nrm").alias("cent_nrm"),
        )
    )
    book_parts = []
    for s in range(_PQ_M):
        e_s = base.select(
            "vec_id",
            F.transform(
                F.slice(F.col("embedding"), s * sub + 1, sub),
                lambda v: v.cast("double"),
            ).alias("_emb"),
        ).withColumn("_esq", F.round(_dot(F.col("_emb"), F.col("_emb")), 6))
        cents = _init_centroids(e_s, _PQ_K_CODES)
        assigned = _assign(e_s, cents)
        for _ in range(_PQ_ITERS - 1):
            cents = _update(e_s, assigned)
            assigned = _assign(e_s, cents)
        book_parts.append(cents.select(F.lit(s).alias("s"), "cluster",
                                       "c_emb", "c_sq"))
    books = book_parts[0]
    for p in book_parts[1:]:
        books = books.unionByName(p)
    return cells, books


def ivfpq_encode(
    vectors: DataFrame, cells: DataFrame, books: DataFrame
) -> DataFrame:
    """Encode ``vectors`` into IVF×PQ index rows ``(vec_id, cell, s,
    code)`` against FIXED metadata from :func:`ivfpq_train`.

    Plan shape (the q141 claim, pinned in tests/test_plans.py): the ONLY
    table scanned is ``vectors`` — cells and books join as broadcasts, so
    a micro-batch encode touches batch rows plus a few KB of metadata and
    NEVER re-scans the corpus. Cell assignment is the map-side-combinable
    max_by argmax (``_ivf_cells``'s tie-break: highest rounded cosine,
    then lowest cid); PQ codes are the struct-min argmin over rounded
    expanded-form distances (``clustering._assign``'s contract), with the
    per-row subspace slice driven by the broadcast ``s`` column so all
    ``m`` subspaces encode in ONE pass. Per-vector cost: O(n_centroids +
    m*k_codes) JVM array ops; the two grouped argmins share the one
    batch-sized shuffle key (vec_id)."""
    sub = _DIM // _PQ_M
    v = _with_norm(vectors)
    cent_cos = F.round(
        _dot(F.col("_emb"), F.col("cent_emb"))
        / (F.col("_nrm") * F.col("cent_nrm") + F.lit(EPS)),
        6,
    )
    assigned = (
        v.join(F.broadcast(cells))
        .withColumn("_ccos", cent_cos)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("_ccos"), -F.col("cid"))
            ).alias("cell")
        )
    )
    se = F.slice(F.col("_emb"), F.col("s") * sub + 1, F.lit(sub))
    pairs = (
        v.select("vec_id", "_emb")
        .join(F.broadcast(books))
        .withColumn("_se", se)
        .withColumn("_esq", F.round(_dot(F.col("_se"), F.col("_se")), 6))
    )
    d2 = F.round(
        F.col("_esq") - 2.0 * _dot(F.col("_se"), F.col("c_emb"))
        + F.col("c_sq"),
        6,
    )
    codes = (
        pairs.select(
            "vec_id", "s", F.struct(d2.alias("d2"), "cluster").alias("_t")
        )
        .groupBy("vec_id", "s")
        .agg(F.min("_t").alias("_t"))
        .select("vec_id", "s", F.col("_t.cluster").alias("code"))
    )
    return assigned.join(codes, "vec_id").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.col("s").cast("int").alias("s"),
        F.col("code").cast("int").alias("code"),
    )
