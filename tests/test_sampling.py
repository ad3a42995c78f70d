"""Unit tests for operators/sampling.py: determinism, portability of the
md5-bucket mechanism (recomputed in plain Python), fraction accuracy, and
the nested-subset property."""

from __future__ import annotations

import hashlib

from java9_gc_log_parser_spark.operators.sampling import (
    hash_sample,
    hash_split,
    split_boundaries,
)


def _docs(spark, n=400):
    return spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )


def _py_split(doc_id: int, salt: str = "v1") -> str:
    h = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:4]
    for name, bound in split_boundaries():
        if h < bound:
            return name
    raise AssertionError("unreachable")


def test_hash_split_matches_python_ground_truth(spark):
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(_docs(spark)).select("doc_id", "split").collect()
    }
    assert got == {i: _py_split(i) for i in range(400)}


def test_hash_split_fractions_and_stability(spark):
    df = hash_split(_docs(spark, 2000))
    counts = {r["split"]: r["n"] for r in
              df.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    assert sum(counts.values()) == 2000          # total, every row assigned
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03
    assert abs(counts["test"] / 2000 - 0.1) < 0.03
    # determinism: a second evaluation is identical
    a = sorted(map(tuple, df.select("doc_id", "split").collect()))
    b = sorted(map(tuple, hash_split(_docs(spark, 2000))
                   .select("doc_id", "split").collect()))
    assert a == b


def test_hash_sample_nested_subset(spark):
    docs = _docs(spark, 2000)
    s10 = {r["doc_id"] for r in hash_sample(docs, 0.1).select("doc_id").collect()}
    s20 = {r["doc_id"] for r in hash_sample(docs, 0.2).select("doc_id").collect()}
    assert s10 <= s20
    assert abs(len(s20) / 2000 - 0.2) < 0.04
    # full fraction keeps everything, zero keeps nothing
    assert hash_sample(docs, 1.0).count() == 2000
    assert hash_sample(docs, 0.0).count() == 0


# --- stratified_sample ------------------------------------------------------

def _py_bucket4(doc_id: int, salt: str = "v1") -> str:
    return hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:4]


def _strat_docs(spark, n=300):
    return spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(n)], "doc_id long, source string"
    )


def test_stratified_exact_quota_and_ground_truth(spark):
    from java9_gc_log_parser_spark.operators.sampling import stratified_sample

    got = stratified_sample(_strat_docs(spark)).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert set(by_src) == {"src0", "src1", "src2"}
    for src, ids in by_src.items():
        assert len(ids) == 10
        members = [i for i in range(300) if f"src{i % 3}" == src]
        want = sorted(members, key=lambda i: (_py_bucket4(i), i))[:10]
        assert sorted(ids) == sorted(want)


def test_stratified_quota_exceeding_group_size(spark):
    from java9_gc_log_parser_spark.operators.sampling import stratified_sample

    small = spark.createDataFrame(
        [(1, "only"), (2, "only")], "doc_id long, source string"
    )
    assert stratified_sample(small).count() == 2


def _py_shard(doc_id: int, n: int = 8, salt: str = "shard:v1") -> int:
    h = hashlib.md5(f"{doc_id}:{salt}".encode()).hexdigest()[:4]
    return int(h, 16) % n


def test_shard_assign_matches_python_ground_truth(spark):
    from java9_gc_log_parser_spark.operators.sampling import shard_assign

    got = {
        r["doc_id"]: r["shard"]
        for r in shard_assign(_docs(spark)).collect()
    }
    assert got == {i: _py_shard(i) for i in range(400)}
    assert all(0 <= s < 8 for s in got.values())


def test_shard_manifest_counts_and_ranges(spark):
    from java9_gc_log_parser_spark.operators.sampling import shard_manifest

    rows = {r["shard"]: r for r in shard_manifest(_docs(spark)).collect()}
    by_shard: dict[int, list[int]] = {}
    for i in range(400):
        by_shard.setdefault(_py_shard(i), []).append(i)
    assert set(rows) == set(by_shard)
    for s, ids in by_shard.items():
        assert rows[s]["n_docs"] == len(ids)
        assert rows[s]["min_id"] == min(ids)
        assert rows[s]["max_id"] == max(ids)
        # every synthetic doc is "doc <i>" = 2 whitespace tokens
        assert rows[s]["n_tokens"] == 2 * len(ids)


def test_mixture_sample_matches_python_ground_truth(spark):
    """Keep set re-derived in plain Python: per-source fracs from the
    weight/budget math, membership from the md5 gate."""
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "tok " * (i % 7 + 1)) for i in range(300)],
        "doc_id long, source string, text string",
    )
    w = F.when(F.substring("source", 2, 4).cast("int") == 0, F.lit(3.0)).otherwise(
        F.lit(1.0)
    )
    got = {
        r["doc_id"]: (r["source"], r["n_tokens"])
        for r in mixture_sample(docs, w, token_budget=400.0).collect()
    }

    ntok = {i: i % 7 + 1 for i in range(300)}
    actual = {f"s{k}": sum(n for i, n in ntok.items() if i % 3 == k)
              for k in range(3)}
    weights = {"s0": 3.0, "s1": 1.0, "s2": 1.0}
    wsum = sum(weights.values())
    expected = {}
    for i in range(300):
        src = f"s{i % 3}"
        frac = min(1.0, (400.0 * weights[src] / wsum) / actual[src])
        bound = int(frac * 65536)
        b = int(hashlib.md5(f"{i}:mix:v1".encode()).hexdigest()[:4], 16)
        if b < bound:
            expected[i] = (src, ntok[i])
    assert got == expected
    assert 0 < len(expected) < 300  # non-degenerate: a real subsample


def _ir_docs(spark, n_off=30):
    """Small corpus with a clear target signature: 'tgt' docs repeat the
    phrase 'alpha beta', ``n_off`` off-domain docs use disjoint vocabulary,
    and two raw docs mimic the target phrasing (should receive the top
    weights). At the default size (42 docs) the sample of ``_IR_K`` = 50
    returns every doc."""
    rows = []
    for i in range(10):
        rows.append((i, "alpha beta alpha beta alpha beta gamma", "tgt"))
    for i in range(10, 10 + n_off):
        rows.append((i, f"delta epsilon zeta eta theta iota w{i}", "raw"))
    m = 10 + n_off
    rows.append((m, "alpha beta alpha beta gamma alpha beta", "raw"))
    rows.append((m + 1, "alpha beta gamma alpha beta alpha", "raw"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_importance_resample_deterministic_and_target_seeking(spark):
    from java9_gc_log_parser_spark.operators.sampling import (
        importance_resample,
    )

    # 112 docs, so the sample of 50 is a real selection
    docs = _ir_docs(spark, n_off=100)
    out1 = importance_resample(docs, "tgt").toPandas()
    out2 = importance_resample(docs.repartition(7), "tgt").toPandas()
    # deterministic under repartitioning
    assert sorted(out1.doc_id) == sorted(out2.doc_id)
    assert len(out1) == 50
    # the importance WEIGHTS are target-seeking (selection itself is
    # weight-biased but Gumbel-noisy, so assert on logw, not membership):
    # the two target-mimicking raw docs out-weigh every off-domain raw doc
    full = importance_resample(_ir_docs(spark), "tgt").toPandas()
    assert len(full) == 42
    lw = dict(zip(full.doc_id, full.logw))
    off_domain_max = max(lw[d] for d in range(10, 40))
    assert lw[40] > off_domain_max
    assert lw[41] > off_domain_max


def test_importance_resample_python_ground_truth_key(spark):
    """The Gumbel key's uniform is reproducible outside Spark from
    (doc_id, salt) alone: u = (int(md5(id:dsir)[:6], 16) + 0.5) / 16^6."""
    import math

    from java9_gc_log_parser_spark.operators.sampling import (
        importance_resample,
    )

    docs = _ir_docs(spark)
    out = importance_resample(docs, "tgt").toPandas()
    for _, r in out.iterrows():
        h = hashlib.md5(f"{int(r.doc_id)}:dsir".encode()).hexdigest()[:6]
        u = (int(h, 16) + 0.5) / 16777216.0
        expect = r.logw - math.log(-math.log(u))
        assert abs(r.gumbel_key - round(expect, 6)) < 2e-6


def test_importance_resample_rejects_reserved_columns(spark):
    import pytest as _pytest

    from java9_gc_log_parser_spark.operators.sampling import (
        importance_resample,
    )

    docs = _ir_docs(spark)
    with _pytest.raises(ValueError):
        importance_resample(
            docs.withColumn("_ir_x", docs.doc_id), "tgt"
        )


# ---------------------------------------------------------------- packing

def _ntok(i):
    # 150..900 tokens: every stream runs past several 512-token windows
    return (i % 6 + 1) * 150


def _text_docs(spark):
    # doc 7777 is empty (must be dropped by packing)
    rows = [(i, " ".join(f"w{j}" for j in range(_ntok(i)))) for i in range(40)]
    rows.append((7777, "   "))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_sequences_layout_invariants(spark):
    from java9_gc_log_parser_spark.operators.sampling import pack_sequences

    out = pack_sequences(_text_docs(spark))
    rows = out.collect()
    assert all(r["doc_id"] != 7777 for r in rows)  # empty doc dropped
    by_stream = {}
    for r in rows:
        by_stream.setdefault(r["stream"], []).append(r)
    for stream, docs in by_stream.items():
        docs.sort(key=lambda r: r["start_off"])
        # offsets tile the stream exactly: contiguous, non-overlapping,
        # starting at 0
        pos = 0
        for r in docs:
            assert r["start_off"] == pos
            pos += r["n_tokens"]
            # chunk arithmetic: first/last chunk from offsets
            first = r["start_off"] // 512
            last = (r["start_off"] + r["n_tokens"] - 1) // 512
            assert r["first_chunk"] == first
            assert r["n_chunks"] == last - first + 1
    assert any(r["n_chunks"] > 1 for r in rows)  # docs span windows


def test_pack_sequences_deterministic_and_python_reproducible(spark):
    import hashlib

    from java9_gc_log_parser_spark.operators.sampling import pack_sequences

    docs = _text_docs(spark)
    a = sorted(map(tuple, pack_sequences(docs).collect()))
    b = sorted(map(tuple, pack_sequences(docs).collect()))
    assert a == b
    # the layout is reproducible OUTSIDE Spark from (id, salt) alone
    py = []
    for i in range(40):
        nt = _ntok(i)
        h = hashlib.md5(f"{i}:pack:v1".encode()).hexdigest()
        py.append((int(h[:4], 16) % 8, h, i, nt))
    order = {}
    for stream, h, i, nt in sorted(py):
        start = order.get(stream, 0)
        order[stream] = start + nt
        expect = (i, stream, nt, start, start // 512,
                  (start + nt - 1) // 512 - start // 512 + 1)
        assert tuple(next(r for r in a if r[0] == i)) == expect


# ------------------------------------------------------------ epoch order

def test_epoch_order_is_a_permutation_and_epoch_sensitive(spark):
    from java9_gc_log_parser_spark.operators.sampling import epoch_order

    docs = _text_docs(spark)
    e1 = epoch_order(docs, epoch=1).collect()
    n = len(e1)
    assert sorted(r["global_pos"] for r in e1) == list(range(n))
    # global_pos is consistent with (shard, pos_in_shard) lexicographic order
    lex = sorted(e1, key=lambda r: (r["shard"], r["pos_in_shard"]))
    assert [r["global_pos"] for r in lex] == list(range(n))
    # a different epoch re-permutes (astronomically unlikely to be equal)
    e2 = epoch_order(docs, epoch=2).collect()
    p1 = {r["doc_id"]: r["global_pos"] for r in e1}
    p2 = {r["doc_id"]: r["global_pos"] for r in e2}
    assert p1 != p2
    # same epoch is stable
    e1b = epoch_order(docs, epoch=1).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e1b))


def test_hrw_growth_moves_only_to_new_shards(spark):
    """The HRW theorem, observed: growing 8 -> 10 shards, every moved doc
    lands on shard 8 or 9 (a doc moves iff a NEW shard wins its argmax),
    and unmoved docs keep their shard. Movement fraction is near the
    theoretical k/(n+k) = 0.2."""
    from java9_gc_log_parser_spark.operators.sampling import (
        reshard_movement_matrix,
    )

    docs = spark.range(2000).selectExpr("id AS doc_id")
    rows = reshard_movement_matrix(docs).collect()
    total = sum(r.n_docs for r in rows)
    moved = sum(r.n_docs for r in rows if r.shard_from != r.shard_to)
    assert total == 2000
    for r in rows:
        if r.shard_from != r.shard_to:
            assert r.shard_to >= 8, (r.shard_from, r.shard_to)
    assert 0.12 < moved / total < 0.28  # k/(n+k) = 0.2 +- sampling noise


def test_hrw_shard_balance_and_determinism(spark):
    from java9_gc_log_parser_spark.operators.sampling import rendezvous_shard

    docs = spark.range(4000).selectExpr("id AS doc_id")
    counts = {
        r.shard: r.n
        for r in rendezvous_shard(docs, n_shards=8)
        .groupBy("shard").count().withColumnRenamed("count", "n").collect()
    }
    assert set(counts) == set(range(8))
    assert max(counts.values()) / min(counts.values()) < 1.4
    again = {
        r.doc_id: r.shard
        for r in rendezvous_shard(docs, n_shards=8).collect()
    }
    first = {
        r.doc_id: r.shard
        for r in rendezvous_shard(docs, n_shards=8).collect()
    }
    assert again == first  # pure function of (id, salt, n)


def test_waterfill_allocates_exact_budget_and_caps(spark):
    """q139 solver properties on a skewed supply: allocations sum to
    EXACTLY B, no source exceeds its supply, small sources saturate
    (get everything), big sources sit at a common level +-1."""
    from java9_gc_log_parser_spark.operators.sampling import (
        budget_waterfill,
    )

    rows = []
    did = 0
    for src, n_docs, words in (("tiny", 2, 3), ("small", 5, 10),
                               ("big", 40, 50), ("huge", 80, 50)):
        for _ in range(n_docs):
            rows.append((did, src, "w " * words))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.source: r for r in budget_waterfill(docs).collect()}
    supplies = {s: r.supply_tokens for s, r in got.items()}
    total = sum(supplies.values())
    B = total * 3 // 5
    assert sum(r.allocation_tokens for r in got.values()) == B
    for s, r in got.items():
        assert r.allocation_tokens <= r.supply_tokens
        assert r.saturated == (r.allocation_tokens == r.supply_tokens)
    assert got["tiny"].saturated and got["small"].saturated
    assert not got["huge"].saturated
    unsat = [r.allocation_tokens for r in got.values() if not r.saturated]
    assert max(unsat) - min(unsat) <= 1  # common water level +-1
