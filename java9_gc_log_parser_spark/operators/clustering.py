"""K-means clustering over the `embeddings` table (array<float> vectors).

The SemDeDup-style pre-step: partition the corpus into k centroid cells so
near-duplicate search / diversity sampling runs within cells instead of
corpus-wide. Implemented as Lloyd's algorithm with a FIXED iteration count
and a fully deterministic seed, so the result is reproducible and
oracle-checkable (the DuckDB oracle unrolls the same iterations).

Determinism / cross-engine parity contract (everything the oracle re-derives
must round-trip bit-stable through a different SQL engine):

  * init: the k vectors with the smallest ``(md5(cast(vec_id as string)),
    vec_id)`` — a deterministic pseudo-random draw both engines compute
    identically; cluster ids 0..k-1 in that order.
  * distance: squared euclidean in the EXPANDED form
    ``dot(e,e) - 2*dot(e,c) + dot(c,c)`` rounded to 6dp — the expanded form
    (not ``sum((x-c)^2)``) because the oracle's list_dot_product can only
    express this shape, and float addition isn't associative across shapes.
  * assignment: argmin over (rounded distance, cluster id) — the rounding
    happens BEFORE the comparison in both engines, so a sub-1e-6 tie breaks
    on cluster id identically everywhere.
  * centroid update: per-dimension mean rounded to 6dp, so summation-order
    ulp drift (Spark partial aggregation vs DuckDB sequential) can't compound
    across iterations. Clusters that lose every member simply drop out
    (inner-join semantics, same in the oracle).

Scale shape per iteration: one broadcast of the k-row centroid table against
a full corpus scan (map-only assignment — dot products via zip_with/
aggregate, JVM-side), then one posexplode + hash agg keyed (cluster, dim)
for the update — k*dim result rows, map-side combinable. No corpus-sized
shuffle anywhere except the final assignment's group-by-vec_id argmin, which
is itself map-side reducible. Iterations are sequential jobs over the same
scan — at 100 TB, materialize the double-cast corpus once (storage seam)
and the per-iteration cost is one columnar scan + one broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.similarity import _as_double, _dot


def _init_centroids(e: DataFrame, k: int) -> DataFrame:
    """(cluster, c_emb, c_sq): k deterministic seeds by md5(vec_id) order."""
    from pyspark.sql import Window

    seeds = (
        e.select(
            "vec_id",
            "_emb",
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    # k rows — the single-partition window is over a k-row dataframe
    w = Window.orderBy("_h", "vec_id")
    return seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("cluster"),
        F.col("_emb").alias("c_emb"),
    ).withColumn("c_sq", F.round(_dot(F.col("c_emb"), F.col("c_emb")), 6))


def _assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cluster, d2): nearest centroid by rounded expanded-form
    squared distance, ties to the smallest cluster id (struct-min argmin)."""
    pairs = e.join(F.broadcast(centroids))
    d2 = F.round(
        F.col("_esq") - 2.0 * _dot(F.col("_emb"), F.col("c_emb")) + F.col("c_sq"),
        6,
    )
    best = (
        pairs.select("vec_id", F.struct(d2.alias("d2"), "cluster").alias("_s"))
        .groupBy("vec_id")
        .agg(F.min("_s").alias("_s"))
    )
    return best.select(
        "vec_id", F.col("_s.cluster").alias("cluster"), F.col("_s.d2").alias("d2")
    )


def _update(e: DataFrame, assigned: DataFrame) -> DataFrame:
    """New centroids: per-dimension mean (rounded 6dp) of each cluster's
    members; empty clusters drop out."""
    member_dims = (
        assigned.select("vec_id", "cluster")
        .join(e.select("vec_id", "_emb"), "vec_id")
        .select("cluster", F.posexplode("_emb").alias("pos", "val"))
    )
    dim_means = member_dims.groupBy("cluster", "pos").agg(
        F.round(F.avg("val"), 6).alias("v")
    )
    cent = dim_means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s["v"]
        ).alias("c_emb")
    )
    return cent.withColumn("c_sq", F.round(_dot(F.col("c_emb"), F.col("c_emb")), 6))


def kmeans_assign(embeddings: DataFrame, k: int = 4, iters: int = 2) -> DataFrame:
    """Final (vec_id, cluster, d2) after ``iters`` Lloyd iterations.

    ``iters`` counts assignment rounds: iters=2 means assign against the
    seeds, update centroids, assign again (the returned assignment).
    """
    e = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("_emb"))
    e = e.withColumn("_esq", F.round(_dot(F.col("_emb"), F.col("_emb")), 6))
    centroids = _init_centroids(e, k)
    assigned = _assign(e, centroids)
    for _ in range(iters - 1):
        centroids = _update(e, assigned)
        assigned = _assign(e, centroids)
    return assigned


def semdedup(embeddings: DataFrame) -> DataFrame:
    """Semantic dedup verdict per vector (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with 4-means (2 Lloyd rounds),
    find near-duplicate pairs (cosine >= 0.3) WITHIN each cluster cell, and keep exactly
    one representative per duplicate relation.

    Keep rule (deterministic, oracle-checkable): in every above-threshold
    pair, the vector with the LARGER ``(d2, vec_id)`` — i.e. the one farther
    from its centroid, ties broken by vec_id — is dropped; a vector is kept
    iff it loses no pair. Returns ``(vec_id, cluster, d2, keep)`` for the
    whole corpus.

    Scale shape: the expensive all-pairs step never runs corpus-wide — only
    within k-means cells, and k grows with the corpus (SemDeDup used 50k
    cells for LAION; cell size, not corpus size, bounds the quadratic term).
    The cosine reuses the rounded-6dp contract from
    ``similarity.embedding_near_dup_pairs``; distances reuse
    ``kmeans_assign``'s rounded expanded form, so the oracle re-derives the
    identical verdict in DuckDB by unrolling the same iterations.
    """
    from java9_gc_log_parser_spark.operators.similarity import EPS, _with_norm

    assigned = kmeans_assign(embeddings, k=4, iters=2)
    e = _with_norm(embeddings).select("vec_id", "_emb", "_nrm")
    m = assigned.join(e, "vec_id")
    # explicit-count repartition: within-cell self-join output is quadratic
    # in cell size; AQE coalesces by input bytes and would plan the blow-up
    # onto one task (cf. similarity.embedding_near_dup_pairs)
    n_parts = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    m = m.repartition(n_parts, "cluster")
    a, b = m.alias("a"), m.alias("b")
    cos = F.round(
        _dot(F.col("a._emb"), F.col("b._emb"))
        / (F.col("a._nrm") * F.col("b._nrm") + F.lit(EPS)),
        6,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.col("a.d2").alias("da"),
            F.col("b.d2").alias("db"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )
    losers = pairs.select(
        F.when(
            F.struct("da", "va") > F.struct("db", "vb"), F.col("va")
        )
        .otherwise(F.col("vb"))
        .alias("vec_id")
    ).distinct()
    return assigned.join(
        losers.withColumn("_drop", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cluster", "d2", F.col("_drop").isNull().alias("keep")
    )
