"""Unit tests for operators/graph.py (fixed-point PageRank)."""

from __future__ import annotations

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.graph import (
    SCALE,
    pagerank_fixed,
    synth_citation_edges,
)


def test_pagerank_hub_ranks_highest_and_mass_bounded(spark):
    # star graph: everyone (including the hub) points at node 0 twice
    n = 5
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, 0) for i in range(n) for _ in range(2)], "src long, dst long"
    )
    rows = {r["doc_id"]: r for r in
            pagerank_fixed(nodes, edges, n_nodes=n, outdeg=2).collect()}
    hub = rows[0]["rank_fp"]
    others = [rows[i]["rank_fp"] for i in range(1, n)]
    assert all(hub > o for o in others)
    # non-hub nodes get only the teleport share and are symmetric
    assert len(set(others)) == 1
    # truncation leaks < n micro-units per integer division per iteration
    total = hub + sum(others)
    assert SCALE - 5 * 3 * n <= total <= SCALE
    assert abs(rows[0]["rank"] - hub / SCALE) < 1e-9


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # 2-regular circulant graph: i -> i+1, i -> i+2 (mod n); perfectly
    # symmetric, so every rank must stay exactly the initial value
    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, (i + d) % n) for i in range(n) for d in (1, 2)],
        "src long, dst long",
    )
    ranks = {r["doc_id"]: r["rank_fp"] for r in
             pagerank_fixed(nodes, edges, n_nodes=n, outdeg=2).collect()}
    assert len(set(ranks.values())) == 1


def test_synth_citation_edges_constant_outdeg(spark):
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    e = synth_citation_edges(docs, n_nodes=10)
    per_src = {r["src"]: r["n"] for r in
               e.groupBy("src").agg(F.count("dst").alias("n")).collect()}
    assert all(v == 2 for v in per_src.values()) and len(per_src) == 10
    # dst in range
    assert e.filter("dst < 0 OR dst >= 10").count() == 0


def test_triangle_count_known_graphs(spark):
    from java9_gc_log_parser_spark.operators.graph import triangle_count

    # K4: 4 triangles, 6 edges, 12 wedges, transitivity 1.0 — fed as a
    # noisy directed multigraph (duplicates, both directions, self-loop)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    noisy = k4 + [(0, 1), (2, 2)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    [r] = triangle_count(df).collect()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["triangles"]) == \
        (4, 6, 12, 4)
    assert r["transitivity"] == 1.0


def test_triangle_count_path_graph_has_none(spark):
    from java9_gc_log_parser_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    [r] = triangle_count(df).collect()
    assert r["triangles"] == 0
    assert r["n_wedges"] == 8


def test_triangle_count_celebrity_node_emits_no_wedges(spark):
    """A star center (degree n) plus one rim edge: exactly 1 triangle —
    and the orientation must put the center at the receiving end (its
    out-list stays empty, so the hot node generates no wedge pairs)."""
    from java9_gc_log_parser_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 21)] + [(1, 2)]
    df = spark.createDataFrame(star, "src long, dst long")
    [r] = triangle_count(df).collect()
    assert r["triangles"] == 1
    # wedges: center contributes C(20,2)=190, nodes 1 and 2 one each
    assert r["n_wedges"] == 192
