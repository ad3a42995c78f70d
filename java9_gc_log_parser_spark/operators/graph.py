"""Fixed-point PageRank over a document citation graph.

Beyond-reference operator (SURVEY §2 extension set): the duplicate-cluster
resolution family (operators/dedupe.py q29/q70) already does iterative graph
propagation for connected components; PageRank adds the WEIGHTED-importance
flavor a training-data pipeline uses to prioritize documents by link/citation
authority (e.g. Common-Crawl-style harmonic/PageRank centrality as a quality
prior) — same Pregel-on-DataFrame execution shape, different fixed point.

Determinism contract (cross-engine oracle parity): float PageRank sums are
order-dependent, so ranks live in FIXED-POINT integer space — SCALE = 10^12
micro-units, every step pure BIGINT arithmetic:

    r0      = SCALE div n
    contrib = r div outdeg          (per edge, integer floor)
    r'      = (15 * (SCALE div n) + 85 * SUM(contrib)) div 100

Integer sums are order-independent and exact in both engines, so a DuckDB
oracle can unroll the same ``n_iter`` iterations and match bit-for-bit.
Truncation leaks a few micro-units per step (total rank mass decays by
< n * n_iter micro-units) — a documented property of the contract, not a
bug; relative ordering, which is what a quality prior consumes, is stable.

Scale notes (100 TB):
  * Per iteration: ONE shuffle — the contribution agg on dst (map-side
    combinable BIGINT sum); the rank-update join against the node set is
    keyed the same way and AQE-broadcasts the rank vector when it fits.
  * Edges are scanned once per iteration from a persisted DataFrame —
    persist() the edge set (done by the caller / query); iterating over an
    unpersisted lineage would re-derive it n_iter times.
  * n_iter is fixed (power iteration converges geometrically; 5-10 rounds
    order documents stably) — no driver-side convergence loop is required,
    unlike q29's connected components where exact convergence matters.
  * A hot dst (everyone cites one doc) pre-combines map-side like any
    hash agg; no per-key buffering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_fixed", "synth_citation_edges", "triangle_count"]

SCALE = 1_000_000_000_000


def synth_citation_edges(docs: DataFrame, n_nodes: int) -> DataFrame:
    """Deterministic synthetic citation multigraph (test/bench scaffolding,
    like cdc.synth_mutated_snapshot — NOT a pipeline operator): every doc
    emits 2 out-edges to ``md5(doc_id:edge:j) % n_nodes``. Self-loops
    and parallel edges are kept (constant outdeg 2 — no dangling
    nodes), and the construction is md5-derived so the DuckDB oracle
    rebuilds the identical edge set from the raw documents view.
    """
    edges = None
    for j in range(2):
        dst = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(f":edge:{j}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_nodes
        )
        e = docs.select(F.col("doc_id").alias("src"), dst.alias("dst"))
        edges = e if edges is None else edges.unionByName(e)
    return edges


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes: int,
    outdeg: int,
) -> DataFrame:
    """Five fixed-point PageRank iterations (damping 0.85) over a
    constant-outdegree graph. See the module docstring for the integer
    contract. Returns ``(doc_id, rank_fp, rank)`` — ``rank_fp`` in SCALE
    micro-units (BIGINT, the oracle-compared value), ``rank`` the 9-dp
    human-readable double.
    """
    base = SCALE // n_nodes
    ranks = nodes.select(
        F.col("doc_id").alias("_id"), F.lit(base).cast("long").alias("_r")
    )
    node_ids = nodes.select(F.col("doc_id").alias("_id"))
    for _ in range(5):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["_id"])
            .select(
                F.col("dst").alias("_id"),
                F.expr(f"_r div {int(outdeg)}").alias("_c"),
            )
            .groupBy("_id")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = node_ids.join(contribs, "_id", "left").select(
            "_id",
            (
                F.lit(15 * base).cast("long")
                + F.lit(85).cast("long")
                * F.coalesce(F.col("_s"), F.lit(0).cast("long"))
            ).alias("_num"),
        ).select("_id", F.expr("_num div 100").cast("long").alias("_r"))
    return ranks.select(
        F.col("_id").alias("doc_id"),
        F.col("_r").alias("rank_fp"),
        # plain division of the exact integer — NO final ROUND: Spark
        # rounds doubles through shortest-decimal BigDecimal (sees exact
        # ties, HALF_UP) while DuckDB rounds the binary value, so
        # ROUND(int/1e12, 9) diverged by 1e-9 whenever rank_fp ended in 500
        # (first seen at sf0.1). The quotient of identical integers is the
        # identical IEEE double in both engines.
        (F.col("_r").cast("double") / F.lit(float(SCALE))).alias("rank"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle census over an undirected view of ``edges`` —
    node-iterator++ ("forward") algorithm: orient every canonical edge
    from its lower-(degree, id) endpoint to the higher one, self-join the
    oriented lists on the common source to enumerate wedges, and close
    wedges against the canonical edge set.

    Output (ONE row): ``n_nodes, n_edges, n_wedges`` (open+closed paths of
    length 2, Σ deg·(deg-1)/2), ``triangles``, and the global transitivity
    ``3·triangles / n_wedges`` (6 dp).

    Scale shape (100 TB): degree-ordered orientation bounds every node's
    out-list by O(√m), so wedge generation is O(m^{3/2}) worst-case — the
    best known bound for exact counting — and a celebrity node (degree
    10^8) produces ZERO wedges from its own list: all its edges point
    INTO it, its closure work is distributed across its (low-degree)
    neighbors' joins. The wedge self-join is co-partitioned on ``u`` (one
    shuffle, reused by both sides); closure re-shuffles wedges on the
    canonical (a, b) key against the edge set. Everything is exact BIGINT
    counting — the oracle replays each stage verbatim.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a"
    ).join(
        deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b"
    )
    lower_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_is_a, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_is_a, F.col("b")).otherwise(F.col("a")).alias("w"),
    )
    wedges = (
        oriented.alias("o1")
        .join(oriented.alias("o2"), "u")
        .filter(F.col("o1.w") < F.col("o2.w"))
        .select(F.col("o1.w").alias("a"), F.col("o2.w").alias("b"))
    )
    tri = (
        wedges.join(e, ["a", "b"])
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
        .withColumn("_k", F.lit(1))
    )
    nodes = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        # deg·(deg-1) is even — per-row BIGINT floor-div keeps the sum
        # exact and order-independent (never a float accumulation)
        F.sum(
            F.floor(F.col("deg") * (F.col("deg") - F.lit(1)) / F.lit(2))
            .cast("long")
        ).alias("n_wedges"),
    ).withColumn("_k", F.lit(1))
    edges_n = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).withColumn("_k", F.lit(1))
    return (
        nodes.join(edges_n, "_k")
        .join(tri, "_k")
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "triangles",
            F.round(
                F.lit(3.0) * F.col("triangles").cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ).alias("transitivity"),
        )
    )
