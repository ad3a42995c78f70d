from __future__ import annotations

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.runtime_filter import (
    bloom_prune_audit,
    packed_bloom,
)


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "k string")


def _fact(spark, n=500):
    return spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % 50).cast("string")).alias("k")
    )


def test_bloom_no_false_negatives(spark):
    # every true member must pass the bloom: n_bloom_pass == n_exact + n_fp
    keys = _keys(spark, [f"k{i}" for i in range(0, 50, 7)])
    row = bloom_prune_audit(_fact(spark), keys, "k").collect()[0]
    assert row.n_rows == 500
    assert row.n_exact == 80  # 8 member keys x 10 rows each
    assert row.n_bloom_pass == row.n_exact + row.n_false_pos
    assert row.n_false_pos >= 0


def test_bloom_bits_bounded_and_deterministic(spark):
    keys = _keys(spark, [f"k{i}" for i in range(20)])
    a = packed_bloom(keys, "k").collect()[0]
    b = packed_bloom(keys, "k").collect()[0]
    assert a._words == b._words  # pure function of the key set
    assert len(a._words) == 4096 // 64
    assert 1 <= a._n_bits <= min(20 * 4, 4096)
    assert a._n_bits == sum(bin(w & (1 << 64) - 1).count("1")
                            for w in a._words)


def test_bloom_disjoint_keys_rarely_pass(spark):
    # keys entirely outside the fact domain: passes are pure false
    # positives, bounded well below the fact size at this load factor
    keys = _keys(spark, [f"other{i}" for i in range(8)])
    row = bloom_prune_audit(_fact(spark), keys, "k").collect()[0]
    assert row.n_exact == 0
    assert row.n_bloom_pass == row.n_false_pos
    # 8 keys * 4 bits / 4096 -> FPR ~ (32/4096)^4; 50 distinct fact keys
    assert row.n_false_pos <= 50


def test_bloom_prune_plan_shape(spark):
    # the fact side must not sort-merge join: bitmap + membership are
    # broadcast; the only exchanges are the tiny-side distinct and the
    # final single-row aggregate
    keys = _keys(spark, ["k1", "k2"])
    plan = bloom_prune_audit(_fact(spark), keys, "k")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
