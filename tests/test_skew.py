"""Hot-key skew evidence (round-2 verdict item 6).

The synthesized transcripts route ~30% of all turns into the single
``conv-hot`` conversation (sources/transcripts.py:44), and the north rule
names hot conv_id skew explicitly. These tests build a standalone fixture
where ONE conversation holds 10% of all rows and measure that the two
skew-exposed aggregation shapes hold their documented bounds:

  * ``conv_state_final`` (aggregate.py): every merge aggregate is
    algebraic, so map-side partial aggregation bounds the hot key's
    reducer-side work; its result for the hot conversation is cross-checked
    against a direct aggregation.
  * ``sessionize`` (aggregate.py): a window PARTITION BY conv_id cannot be
    salted (session numbering needs the whole conversation in order); the
    documented mitigation is O(1) per-row window state + one shared
    shuffle. Evidenced here: the executed plan carries exactly one Exchange
    (the rollup reuses the window's partitioning), so the hot task's cost
    is one linear pass, never a second shuffle or sort of the hot key.

BASELINE.md records the measured numbers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_ROWS = 100_000
HOT_FRAC = 0.1


def _skewed_assembled(spark):
    """Assembled-pause-shaped rows; conv-hot holds exactly 10% of them."""
    return spark.range(N_ROWS).select(
        F.when(F.col("id") % 10 == 0, "conv-hot")
        .otherwise(F.concat(F.lit("conv-"), (F.col("id") % 97).cast("string")))
        .alias("conv_id"),
        F.col("id").cast("int").alias("event_id"),
        F.when(F.col("id") % 3 == 0, "Young").otherwise("Mixed").alias(
            "pause_type"
        ),
        F.col("id").alias("offset_ms"),
        (F.col("id") % 500).cast("long").alias("heap_after"),
        F.lit(1024).cast("long").alias("heap_total"),
        (F.col("id") % 40).cast("long").alias("eden_after"),
        (F.col("id") % 30).cast("long").alias("survivor_after"),
        (F.col("id") % 20).cast("long").alias("old_after"),
        (F.col("id") % 10).cast("long").alias("humongous_after"),
    )


def test_final_state_correct_under_skew(spark):
    """The hot conv's final state must equal a direct aggregation over its
    rows."""
    from java9_gc_log_parser_spark.operators.aggregate import (
        COUNTERS,
        conv_state_final,
    )

    df = _skewed_assembled(spark)
    [got] = conv_state_final(df).filter(F.col("conv_id") == "conv-hot").collect()
    [want] = (
        df.filter(F.col("conv_id") == "conv-hot")
        .groupBy("conv_id")
        .agg(
            *[
                F.sum((F.col("pause_type") == t).cast("long")).alias(name)
                for name, t in COUNTERS.items()
            ],
            F.max("offset_ms").alias("time_offset_ms"),
            F.max_by("heap_after", "offset_ms").alias("heap_size"),
            F.max_by("heap_total", "offset_ms").alias("heap_total"),
            F.max_by("eden_after", "offset_ms").alias("eden_after"),
            F.max_by("survivor_after", "offset_ms").alias("survivor_after"),
            F.max_by("old_after", "offset_ms").alias("old_after"),
            F.max_by("humongous_after", "offset_ms").alias("humongous_after"),
        )
        .collect()
    )
    assert got.asDict() == want.asDict()


def test_sessionize_single_shuffle_under_skew(spark):
    """Sessionize on a skewed conversation table: the rollup must reuse the
    window's partitioning — exactly one Exchange in the executed plan, so the
    hot conversation costs one linear window pass, not an extra shuffle."""
    from java9_gc_log_parser_spark.operators.aggregate import sessionize

    df = spark.range(N_ROWS).select(
        F.when(F.col("id") % 10 == 0, "conv-hot")
        .otherwise(F.concat(F.lit("conv-"), (F.col("id") % 97).cast("string")))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 10).alias("ts"),
    )
    out = sessionize(df, gap_s=3600)
    n = out.count()  # completes under skew
    assert n >= 97
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# ------------------------------------------------------------ salted join


def test_salted_join_equals_plain_join_and_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.enrich import salted_join

    # hot key 7 holds 80% of fact rows
    fact = spark.createDataFrame(
        [(i, 7 if i % 10 < 8 else i % 10, float(i % 5))
         for i in range(1000)],
        "event_id long, user_id long, value double",
    )
    dim = spark.createDataFrame(
        [(k, f"t{k}") for k in range(10)], "user_id long, tier string"
    )
    salted = salted_join(fact, dim, "user_id", "event_id", n_salts=8)
    plain = fact.join(dim, "user_id")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # the hot key's rows really do carry many distinct salts
    spread = (
        fact.filter(F.col("user_id") == 7)
        .select(
            F.pmod(F.xxhash64(F.col("event_id")), F.lit(8)).alias("s")
        )
        .distinct()
        .count()
    )
    assert spread == 8


def test_salted_join_plan_joins_on_salt(spark):
    from java9_gc_log_parser_spark.operators.enrich import salted_join

    fact = spark.createDataFrame(
        [(1, 1, 1.0)], "event_id long, user_id long, value double"
    )
    dim = spark.createDataFrame([(1, "a")], "user_id long, tier string")
    out = salted_join(fact, dim, "user_id", "event_id", n_salts=4)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "_salt" in plan  # the join really is keyed by (key, salt)
    assert "Generate" in plan  # dim replication via explode, not a UDF
