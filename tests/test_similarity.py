"""Unit tests for operators/similarity.py: known-answer cosine/top-k
fixtures, sign-bucket semantics, and bucket-blocked near-dup recall measured
against the exact all-pairs ground truth."""

from __future__ import annotations

import itertools
import math
import random

from java9_gc_log_parser_spark.operators.similarity import (
    ann_topk_bruteforce,
    ann_topk_lsh,
    embedding_near_dup_pairs,
)


def _embs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    )


def _py_cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb + 1e-12)


def _py_bucket(v, dims=(1, 2, 3, 4)):
    return sum(1 << i for i, d in enumerate(dims) if v[d - 1] > 0)


FIXED = [
    (0, "a", [1.0, 0.0, 0.0, 0.0]),
    (1, "a", [1.0, 0.1, 0.0, 0.0]),  # near 0
    (2, "a", [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
    (3, "b", [-1.0, 0.0, 0.0, 0.0]),  # opposite to 0
    (4, "b", [1.0, 0.05, 0.0, 0.0]),  # nearest to 0
]


def test_bruteforce_topk_known(spark):
    # query set = vec_id % 101 == 0 -> {0}; neighbors ranked by cosine
    rows = ann_topk_bruteforce(_embs(spark, FIXED), k=3).collect()
    got = [(r.query_id, r.neighbor_id, r.rank) for r in rows]
    by_cos = sorted(
        (v for v in FIXED if v[0] != 0),
        key=lambda v: (-_py_cos(FIXED[0][2], v[2]), v[0]),
    )
    want = [(0, v[0], i + 1) for i, v in enumerate(by_cos[:3])]
    assert got == want
    for r in rows:
        vec = next(v[2] for v in FIXED if v[0] == r.neighbor_id)
        assert abs(r.cos - _py_cos(FIXED[0][2], vec)) < 1e-6


def test_lsh_topk_bucket_restricted(spark):
    rows = ann_topk_lsh(_embs(spark, FIXED)).collect()
    qb = _py_bucket(FIXED[0][2])
    want_ids = {
        v[0] for v in FIXED if v[0] != 0 and _py_bucket(v[2]) == qb
    }
    assert {r.neighbor_id for r in rows} == want_ids
    # ranking within the bucket still by cosine desc
    ranked = sorted(rows, key=lambda r: r.rank)
    assert all(
        ranked[i].cos >= ranked[i + 1].cos for i in range(len(ranked) - 1)
    )


def _random_corpus(n=60, dim=128, n_clones=15, seed=7):
    # 128 dims: random pairs sit near cosine 0 (sd ~0.09), so the pairs at
    # or above the 0.30 near-dup cosine are the clones
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append((i, f"l{i % 3}", [rng.gauss(0, 1) for _ in range(dim)]))
    for j in range(n_clones):
        base = rows[j][2]
        clone = [x + rng.gauss(0, 0.05) for x in base]  # cos ~ 0.99
        rows.append((1000 + j, f"l{j % 3}", clone))
    return [(i, lb, [float(x) for x in v]) for i, lb, v in rows]


def test_near_dup_bucket_blocked_precision_and_recall(spark):
    rows = _random_corpus()
    got = {
        (r.vec_a, r.vec_b): r.cos
        for r in embedding_near_dup_pairs(_embs(spark, rows)).collect()
    }
    vecs = {i: v for i, _, v in rows}
    exact = {
        (a, b): _py_cos(vecs[a], vecs[b])
        for a, b in itertools.combinations(sorted(vecs), 2)
        if _py_cos(vecs[a], vecs[b]) >= 0.30
    }
    # precision: every returned pair is a true near-dup pair (same bucket
    # necessarily, and the reported cosine is the true cosine)
    for (a, b), c in got.items():
        assert (a, b) in exact, (a, b)
        assert abs(c - exact[(a, b)]) < 1e-5
        assert _py_bucket(vecs[a]) == _py_bucket(vecs[b])
    # recall: only same-bucket true pairs are reachable by design — assert
    # we find ALL of those, and report-level recall stays useful (>= 0.5):
    # a clone pair disagrees on any sign only if a coordinate sits near 0
    reachable = {
        p for p in exact if _py_bucket(vecs[p[0]]) == _py_bucket(vecs[p[1]])
    }
    assert set(got) == reachable
    assert len(exact) >= 10
    assert len(reachable) / len(exact) >= 0.5, (
        f"bucket recall {len(reachable)}/{len(exact)}"
    )


def test_ivf_full_probe_equals_bruteforce(spark, monkeypatch):
    from java9_gc_log_parser_spark.operators import similarity
    from java9_gc_log_parser_spark.operators.similarity import ann_topk_ivf

    # probing every cell needs as many cells as probes (_IVF_PROBE = 4)
    monkeypatch.setattr(similarity, "_IVF_CELLS", 4)
    random.seed(7)
    rows = [
        (i, "x", [random.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]
    e = _embs(spark, rows)
    exact = ann_topk_bruteforce(e, k=5).collect()
    full = ann_topk_ivf(e).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(((r.query_id, r.rank, r.neighbor_id) for r in full)) == sorted(
        ((r.query_id, r.rank, r.neighbor_id) for r in exact)
    ), (sorted(full, key=key), sorted(exact, key=key))


def test_ivf_partial_probe_recall(spark):
    from java9_gc_log_parser_spark.operators.similarity import ann_topk_ivf

    random.seed(11)
    rows = [
        (i, "x", [random.uniform(-1, 1) for _ in range(8)]) for i in range(240)
    ]
    e = _embs(spark, rows)
    exact = {
        (r.query_id, r.neighbor_id) for r in ann_topk_bruteforce(e, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk_ivf(e).collect()
    }
    recall = len(exact & approx) / len(exact)
    # a quarter of the cells probed; seed-pinned bound
    assert recall >= 0.5, recall


# --------------------------------------------------------- recall harness


def test_ann_recall_perfect_when_lsh_bucket_holds_neighbors(spark):
    from java9_gc_log_parser_spark.operators.similarity import (
        ann_recall_report,
    )

    # two tight clusters in opposite orthants: every query's true top-k
    # lives in its own sign bucket -> recall 1.0
    rows = []
    for i in range(8):
        rows.append((i * 101, [1.0 + i * 0.01, 1.0, 1.0, 1.0], "a"))
        rows.append((i * 101 + 1, [1.0, 1.0 + i * 0.01, 1.0, 1.0], "a"))
        rows.append((i * 101 + 2, [-1.0, -1.0, -1.0 - i * 0.01, -1.0], "b"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = ann_recall_report(df).collect()
    assert out  # queries exist (vec_id % 101 == 0)
    for r in out:
        assert r["recall_at_k"] == 1.0
        assert r["n_hit"] == r["n_exact"] == 5


def test_ann_recall_zero_for_lone_bucket_query(spark):
    from java9_gc_log_parser_spark.operators.similarity import (
        ann_recall_report,
    )

    # query 0 sits alone in its orthant: approx leg finds nothing
    rows = [(0, [1.0, 1.0, 1.0, 1.0], "q")]
    rows += [(i, [-1.0, -1.0, -1.0, -1.0 + i * 0.01], "c") for i in range(1, 7)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    [r] = ann_recall_report(df).collect()
    assert r["n_approx"] == 0
    assert r["recall_at_k"] == 0.0
    assert r["n_exact"] == 5  # ground truth still present (the spine)


def test_near_dup_recall_full_when_single_orthant(spark):
    from java9_gc_log_parser_spark.operators.similarity import (
        near_dup_recall_report,
    )

    # all vectors in one orthant -> one bucket -> recall 1.0
    rows = [(i, [1.0, 1.0, 1.0, 1.0 + i * 0.01], "a") for i in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    [r] = near_dup_recall_report(df).collect()
    assert r["n_exact_pairs"] == 15
    assert r["n_missed"] == 0 and r["recall"] == 1.0


def test_near_dup_recall_counts_cross_bucket_misses(spark):
    from java9_gc_log_parser_spark.operators.similarity import (
        near_dup_recall_report,
    )

    # two similar vectors straddling a sign boundary on dim 1: cosine is
    # high but buckets differ -> the pair is a counted miss
    rows = [(1, [0.01, 1.0, 1.0, 1.0], "a"),
            (2, [-0.01, 1.0, 1.0, 1.0], "a")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    [r] = near_dup_recall_report(df).collect()
    assert r["n_exact_pairs"] == 1
    assert r["n_lsh_pairs"] == 0
    assert r["n_missed"] == 1 and r["recall"] == 0.0


def test_pq_adc_ranks_exact_duplicate_first(spark):
    """A corpus vector byte-identical to the query shares every PQ code,
    so its ADC distance is the query's own quantization distortion — the
    minimum possible — and it must rank 1."""
    import random

    from java9_gc_log_parser_spark.operators.similarity import ann_topk_pq

    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(9)]
    vecs.append(list(vecs[0]))  # vec 9 duplicates vec 0 (the one query)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = sorted(ann_topk_pq(df).collect(), key=lambda r: r["rank"])
    assert [r["query_id"] for r in got] == [0] * 5
    assert got[0]["neighbor_id"] == 9 and got[0]["rank"] == 1
    # ADC distances are non-decreasing in rank and 6dp-rounded
    d = [r["adc_d2"] for r in got]
    assert d == sorted(d)


def test_pq_codes_are_m_per_vector_and_bounded(spark):
    """Every vector gets exactly m codes in [0, k_codes)."""
    import random

    from java9_gc_log_parser_spark.operators.clustering import (
        _assign,
        _init_centroids,
    )
    from java9_gc_log_parser_spark.operators.similarity import _dot
    from pyspark.sql import functions as F

    rng = random.Random(11)
    df = spark.createDataFrame(
        [
            (i, [float(rng.uniform(-1, 1)) for _ in range(8)])
            for i in range(20)
        ],
        "vec_id long, embedding array<float>",
    )
    e = df.select(
        "vec_id",
        F.transform(F.slice("embedding", 1, 4), lambda v: v.cast("double"))
        .alias("_emb"),
    ).withColumn("_esq", F.round(_dot(F.col("_emb"), F.col("_emb")), 6))
    assigned = _assign(e, _init_centroids(e, 3))
    rows = assigned.collect()
    assert len(rows) == 20
    assert all(0 <= r["cluster"] < 3 for r in rows)


def test_ivf_pq_full_probe_equals_full_corpus_pq(spark):
    """q135 composition sanity: probing EVERY cell makes the candidate set
    the whole corpus, so the composed index must rank identically to the
    full-corpus PQ leg (same codebooks, same ADC integers) — the
    composition changes the candidate set, never the scoring."""
    from java9_gc_log_parser_spark.operators.similarity import (
        ann_topk_ivf_pq,
        ann_topk_pq,
    )

    # 4 vectors make 4 cells, so the query probes all of them
    random.seed(21)
    rows = [
        (i, "x", [random.uniform(-1, 1) for _ in range(64)])
        for i in range(4)
    ]
    e = _embs(spark, rows)
    full = ann_topk_pq(e).collect()
    comp = ann_topk_ivf_pq(e).collect()
    assert len(full) == 3  # query 0's three neighbours
    assert sorted((r.query_id, r.rank, r.neighbor_id, r.adc_d2)
                  for r in comp) == sorted(
        (r.query_id, r.rank, r.neighbor_id, r.adc_d2) for r in full
    )


def test_ivf_pq_partial_probe_bounds_candidates(spark):
    """With a partial probe, every returned neighbor must live in one of
    the query's probed cells (candidates are cell-bounded by
    construction, never corpus-wide)."""
    from java9_gc_log_parser_spark.operators.similarity import (
        _ivf_cells,
        ann_topk_ivf_pq,
    )

    random.seed(22)
    rows = [
        (i, "x", [random.uniform(-1, 1) for _ in range(64)])
        for i in range(240)
    ]
    e = _embs(spark, rows)
    got = ann_topk_ivf_pq(e).collect()
    assigned, probes = _ivf_cells(e)
    cells = {
        (r.neighbor_id): r.cell for r in assigned.collect()
    }
    probed = {}
    for r in probes.collect():
        probed.setdefault(r.query_id, set()).add(r.q_cell)
    assert got, "composition returned no rows"
    for r in got:
        assert cells[r.neighbor_id] in probed[r.query_id], (
            r.query_id, r.neighbor_id
        )
