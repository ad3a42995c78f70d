

# -------------------------------------------------- exact quantile select


def test_exact_quantile_matches_sorted_ground_truth(spark):
    import random

    from java9_gc_log_parser_spark.operators.sketches import (
        exact_quantile_select,
    )

    rng = random.Random(7)
    vals = [round(rng.uniform(0.1, 500.0), 2) for _ in range(2000)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "event_id long, value double"
    )
    out = {r["q"]: r for r in exact_quantile_select(df).collect()}
    centi = sorted(int(v * 100 + 1e-9) for v in vals)
    n = len(centi)
    assert set(out) == {0.5, 0.95, 0.99}
    for q in (0.5, 0.95, 0.99):
        k = int((n - 1) * q)
        assert out[q]["value_centi"] == centi[k], q
        assert out[q]["rank"] == k
        assert out[q]["n"] == n


def test_exact_quantile_duplicate_heavy_bucket(spark):
    from java9_gc_log_parser_spark.operators.sketches import (
        exact_quantile_select,
    )

    # 90% of mass on one value (one hot bucket): selection still exact
    vals = [5.0] * 900 + [float(i) for i in range(1, 101)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "event_id long, value double"
    )
    r = {r["q"]: r for r in exact_quantile_select(df).collect()}[0.5]
    assert r["value_centi"] == 500
    assert r["bucket_rows"] >= 900


# ----------------------------------------------------- sliding HLL WAU


def test_sliding_hll_tracks_exact_within_envelope(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.sketches import (
        sliding_hll_distinct,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # 3 active days, users overlap across days; 7-day window
    rows = []
    eid = 0
    for day, users in ((0, range(0, 300)), (1, range(150, 450)),
                       (10, range(0, 50))):
        for u in users:
            rows.append((eid, u, t0 + datetime.timedelta(days=day)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["bucket_ts"].day: r for r in sliding_hll_distinct(df).collect()}
    # Jan 2 (day 1) window covers days -5..1: exact = |0..449| = 450
    assert out[2]["n_users_exact"] == 450
    assert out[2]["has_activity"]
    # Jan 8 (day 7) covers days 1..7: day 0 has left the window, and the
    # bucket itself had no events
    assert out[8]["n_users_exact"] == 300
    assert not out[8]["has_activity"]
    # Jan 11 (day 10) covers days 4..10: only day 10's users
    assert out[11]["n_users_exact"] == 50
    for r in out.values():
        assert abs(r["rel_error"]) < 0.25  # 256-register envelope


def test_sliding_hll_merge_equals_direct_union_sketch(spark):
    """Merging two days' register tables by max must equal sketching the
    union directly — the mergeability property that makes the fan-out
    legal."""
    import datetime

    from java9_gc_log_parser_spark.operators.sketches import (
        sliding_hll_distinct,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, i % 500, t0 + datetime.timedelta(days=i % 2))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["bucket_ts"].day: r for r in sliding_hll_distinct(df).collect()}
    # Jan 2's window holds days 0 and 1 = all 500 users; the merged
    # estimate must equal the single-bucket estimate of the same set:
    both = spark.createDataFrame(
        [(i, i % 500, t0) for i in range(1000)],
        "event_id long, user_id long, ts timestamp",
    )
    direct = {r["bucket_ts"].day: r for r in
              sliding_hll_distinct(both).collect()}
    assert out[2]["hll_estimate"] == direct[1]["hll_estimate"]


def test_exact_quantile_refinement_under_concentration(spark):
    """Adversarial concentration: 200k rows in one top-level bucket, twice
    the 100k heap budget — refinement must recurse and still return the
    exact order statistic; the all-identical case resolves via the
    width-1 shortcut with no TakeOrdered at all."""
    import math

    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.sketches import (
        exact_quantile_select,
    )

    n = 200_000
    # concentrated: values 1.00..1.99 (all in top bucket 0 at width 256)
    df = spark.range(n).select(
        (F.lit(1.0) + (F.col("id") % 100).cast("double") / F.lit(100.0))
        .alias("value")
    )
    centi = sorted(math.floor((1.0 + (i % 100) / 100.0) * 100) for i in range(n))
    for r in exact_quantile_select(df).collect():
        assert r["value_centi"] == centi[int((n - 1) * r["q"])], r["q"]

    # degenerate: every row identical — width-1 shortcut
    same = spark.range(n).select(F.lit(7.77).alias("value"))
    got = {r["value_centi"] for r in exact_quantile_select(same).collect()}
    assert got == {777}


def test_hll_set_ops_partial_overlap_and_merge_property(spark):
    from java9_gc_log_parser_spark.operators.sketches import hll_set_ops

    # A = 0..199, B = 100..299 (overlap 100), C = A ∪ B as a literal group:
    # the register-merge union estimate for (A, B) must EQUAL C's
    # single-group estimate — merging registers is sketching the union.
    rows = (
        [(i, "A") for i in range(200)]
        + [(i, "B") for i in range(100, 300)]
        + [(i, "C") for i in range(300)]
    )
    df = spark.createDataFrame(rows, ["user_id", "event_type"])
    out = {
        (r["type_a"], r["type_b"]): r for r in hll_set_ops(df).collect()
    }
    ab = out[("A", "B")]
    assert ab["exact_a"] == 200 and ab["exact_b"] == 200
    assert ab["exact_inter"] == 100 and ab["exact_union"] == 300
    # estimates track the truth (256 registers: loose bound, not a vibe)
    assert abs(ab["est_a"] - 200) / 200 < 0.25
    assert abs(ab["est_union"] - 300) / 300 < 0.25
    # merge == direct-union: (A,B) union estimate equals C's single est,
    # which surfaces as est_a/est_b of any pair containing C... compare
    # against the (A, C) pair's est_b — C's single-group estimate.
    assert ab["est_union"] == out[("A", "C")]["est_b"]
    # C contains A entirely: union(A, C) = C, intersection(A, C) = A
    ac = out[("A", "C")]
    assert ac["exact_union"] == 300 and ac["exact_inter"] == 200
    assert ac["est_union"] == ac["est_b"]


# ------------------------------------------------------- grouped HLL


def test_hll_queries_agree_on_one_item_set(spark):
    """All HLL queries share one register table and one estimator, so one
    item set yields the IDENTICAL estimate from each of them: q61's
    report, one group of q100, one bucket of q114, q115's stats report
    and q133's single-group estimate. Items are lower-case alphanumeric,
    so q61's lowercase whitespace tokenization leaves them unchanged."""
    import datetime

    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.profiling import (
        stats_report,
        stats_state,
    )
    from java9_gc_log_parser_spark.operators.sketches import (
        grouped_hll_distinct,
        hll_distinct_report,
        hll_set_ops,
        sliding_hll_distinct,
    )

    items = [f"item{i}" for i in range(300)]
    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, "a", item, t0) for i, item in enumerate(items)]
        + [(len(items), "b", "other", t0)],
        "doc_id long, grp string, item string, ts timestamp",
    )
    one = df.filter(F.col("grp") == "a")

    [report] = hll_distinct_report(
        one.withColumnRenamed("item", "text")
    ).collect()
    assert report["exact_distinct"] == 300
    estimate = report["hll_estimate"]
    assert estimate > 0
    # 300 distinct over 256 registers: a regression tripwire on a fixed
    # fixture, not a statistical claim (HLL-256 has ~6.5% relative sigma)
    assert abs(report["rel_error"]) < 0.25

    [grouped] = grouped_hll_distinct(one, "grp", F.col("item")).collect()
    # all of one day: each of the 7 target days sees the same registers
    buckets = sliding_hll_distinct(
        one.withColumnRenamed("item", "user_id")
    ).collect()
    assert len(buckets) == 7
    assert len({(b["hll_estimate"], b["rel_error"]) for b in buckets}) == 1
    bucket = buckets[0]
    [stats] = stats_report(
        stats_state(one, (("item", F.col("item")),))
    ).collect()
    [pair] = hll_set_ops(
        df.withColumnsRenamed({"grp": "event_type", "item": "user_id"})
    ).collect()

    assert grouped["hll_estimate"] == estimate
    assert grouped["rel_error"] == report["rel_error"]
    assert bucket["hll_estimate"] == estimate
    assert bucket["rel_error"] == report["rel_error"]
    assert stats["ndv_hll"] == estimate
    assert (pair["type_a"], pair["est_a"]) == ("a", estimate)


def test_grouped_hll_groups_are_independent(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.sketches import (
        grouped_hll_distinct,
    )

    # same items in two groups -> identical registers -> identical rows
    rows_in = [("a", f"x{i}") for i in range(50)] + [
        ("b", f"x{i}") for i in range(50)
    ]
    df = spark.createDataFrame(rows_in, "grp string, item string")
    out = {r["grp"]: r for r in
           grouped_hll_distinct(df, "grp", F.col("item")).collect()}
    assert out["a"]["hll_estimate"] == out["b"]["hll_estimate"]
    assert out["a"]["exact_distinct"] == out["b"]["exact_distinct"] == 50
