"""Unit tests for operators/profiling.py (skew report, length gate)."""

from __future__ import annotations

import pytest

from java9_gc_log_parser_spark.operators.profiling import (
    key_skew_report,
    length_outlier_gate,
)


def test_key_skew_report_ranks_and_factors(spark):
    df = spark.createDataFrame(
        [("hot",)] * 8 + [("a",)] * 1 + [("b",)] * 1,
        "k string",
    )
    rows = {r["rank"]: r for r in key_skew_report(df, "k").collect()}
    assert rows[1]["k"] == "hot" and rows[1]["n_rows"] == 8
    assert rows[1]["share"] == 0.8
    # 3 distinct keys, uniform would be 10/3 each: 8 / (10/3) = 2.4
    assert rows[1]["hot_factor"] == 2.4
    assert rows[2]["k"] == "a" and rows[3]["k"] == "b"  # tie: key asc
    assert len(rows) == 3


def test_length_outlier_gate_per_group_bands(spark):
    docs = spark.createDataFrame(
        # group g1: lengths 1..10 -> p05=1.45, p95=9.55 -> keep 2..9
        [(i, "g1", " ".join(["w"] * i)) for i in range(1, 11)]
        # group g2: all length 3 -> band degenerate [3,3] -> all kept
        + [(100 + i, "g2", "x y z") for i in range(4)],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in length_outlier_gate(docs).collect()}
    assert [out[i]["keep"] for i in range(1, 11)] == (
        [False] + [True] * 8 + [False]
    )
    assert out[1]["lo"] == 1.45 and out[1]["hi"] == 9.55
    assert all(out[100 + i]["keep"] for i in range(4))


def test_json_payload_audit_parse_and_drift(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import (
        json_payload_audit,
    )

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            # normal shape
            (1, t0, 1, "click", 0.0, '{"k": 10}'),
            (2, t0, 1, "click", 0.0, '{"k": 20}'),
            # schema drift: extra key -> separate key_sig row
            (3, t0, 1, "click", 0.0, '{"k": 5, "x": 1}'),
            # malformed value: counted as a parse miss, not a job failure
            (4, t0, 1, "click", 0.0, '{"k": "oops"}'),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    rows = {r["key_sig"]: r for r in json_payload_audit(df).collect()}
    k = rows["k"]
    assert (k["n"], k["n_parsed"]) == (3, 2)
    assert k["v_sum"] == 30 and k["v_mean"] == 15.0
    assert abs(k["parse_rate"] - 0.666667) < 1e-9
    kx = rows["k,x"]
    assert (kx["n"], kx["n_parsed"], kx["v_sum"]) == (1, 1, 5)


def test_value_anomaly_profile_integer_thresholds(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        value_anomaly_profile,
    )

    # type A: nine 10.0s and one 20.0 -> the 20 is the outlier:
    # mean 11, std = 3, z(20) = 3.0 exactly -> NOT > 3 sigma (strict),
    # but > 2 and > 1
    df = spark.createDataFrame(
        [(i, "A", 10.0) for i in range(9)] + [(9, "A", 20.0)]
        + [(10, "B", 5.0), (11, "B", 5.0)],  # zero variance
        "event_id long, event_type string, value double",
    )
    rows = {r["event_type"]: r for r in value_anomaly_profile(df).collect()}
    a = rows["A"]
    assert a["n"] == 10 and a["v_mean"] == 11.0 and a["v_std"] == 3.0
    assert a["max_absz"] == 3.0
    assert a["n_over_3s"] == 0  # strict inequality at the boundary
    assert a["n_over_2s"] == 1
    assert a["n_over_1s"] == 1
    b = rows["B"]
    assert b["v_std"] is None and b["max_absz"] is None
    assert (b["n_over_1s"], b["n_over_2s"], b["n_over_3s"]) == (0, 0, 0)


# --------------------------------------------------------------- OLS trend


def test_trend_ols_recovers_exact_line(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import trend_ols

    t0 = datetime.datetime(2024, 1, 1)
    # y = 2.5 + 0.5 * x_hours, exact at centi resolution
    rows = [(i, t0 + datetime.timedelta(hours=h), "m", 2.5 + 0.5 * h)
            for i, h in enumerate([0, 1, 2, 3, 10])]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    [r] = trend_ols(df).collect()
    assert r["n"] == 5 and r["hours_span"] == 10
    assert r["slope_per_hour"] == pytest.approx(0.5, abs=1e-6)
    assert r["intercept"] == pytest.approx(2.5, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)


def test_trend_ols_zero_variance_returns_nulls(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import trend_ols

    t0 = datetime.datetime(2024, 1, 1, 0, 30)  # same hour bucket
    df = spark.createDataFrame(
        [(1, t0, "m", 1.0), (2, t0, "m", 2.0)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    [r] = trend_ols(df).collect()
    assert r["slope_per_hour"] is None and r["r2"] is None


def test_trend_ols_flat_series_slope_zero_r2_null(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import trend_ols

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + datetime.timedelta(hours=i), "m", 7.0) for i in range(4)],
        "event_id long, ts timestamp, event_type string, value double",
    )
    [r] = trend_ols(df).collect()
    assert r["slope_per_hour"] == 0.0
    assert r["r2"] is None  # cyy == 0: no y-variance to explain


# ------------------------------------------------------- source JSD drift


def test_source_divergence_identical_sources_zero(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        source_divergence,
    )

    rows = [(1, "a b c", "s1"), (2, "a b c", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in source_divergence(df).collect()}
    assert out["s1"]["jsd"] == pytest.approx(0.0, abs=1e-6)
    assert out["s2"]["jsd"] == pytest.approx(0.0, abs=1e-6)
    assert out["s1"]["n_tokens"] == 3


def test_source_divergence_disjoint_vocab_near_ln2(spark):
    import math

    from java9_gc_log_parser_spark.operators.profiling import (
        source_divergence,
    )

    # two sources with disjoint tokens: each source's distribution is
    # maximally far from the 50/50 global mix -> JSD touches ln 2 only
    # asymptotically; with equal sizes it is exactly ln 2 - ln... compute:
    # p_s over its own tokens = 1/2 each, global = 1/4 each -> JSD = ln 2 / 2?
    rows = [(1, "aa bb", "s1"), (2, "cc dd", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r["jsd"] for r in source_divergence(df).collect()}
    # hand-computed: per source, 2 own tokens (p_s=.5, p_g=.25) and 2
    # foreign (p_s=0, p_g=.25):
    #   own: .5*.5*ln(.5/.375) + .5*.25*ln(.25/.375)
    #   foreign: .5*.25*ln(.25/.125)
    own = 0.5 * 0.5 * math.log(0.5 / 0.375) + 0.5 * 0.25 * math.log(
        0.25 / 0.375
    )
    foreign = 0.5 * 0.25 * math.log(0.25 / 0.125)
    expect = 2 * own + 2 * foreign
    assert out["s1"] == pytest.approx(expect, abs=1e-6)
    assert out["s2"] == pytest.approx(expect, abs=1e-6)


def test_source_divergence_oov_bucket_carries_tail_mass(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        source_divergence,
    )

    # 50 shared tokens fill the top-50 vocab; the rare ones land in
    # (oov) — the distributions still sum to 1 and a source with MORE
    # tail mass diverges
    common = " ".join(f"c{i:02d}" for i in range(50))
    rows = [(1, common, "s1"), (2, common, "s1"), (3, common + " rare1", "s1"),
            (4, common + " rare2 rare3 rare4 rare5 rare6", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in source_divergence(df).collect()}
    assert out["s1"]["jsd"] > 0
    assert out["s2"]["jsd"] > out["s1"]["jsd"]  # s2 is further from global


# ------------------------------------------------------------ table stats


def test_table_stats_nulls_bounds_and_exact_ndv(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.profiling import table_stats

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "a", 3.5), (4, None, 3.5)],
        "id long, cat string, v double",
    )
    out = {r["column"]: r for r in table_stats(
        df,
        (
            ("id", F.col("id")),
            ("cat", F.col("cat")),
            ("v", F.floor(F.col("v") * 100).cast("long")),
        ),
    ).collect()}
    assert out["id"]["n_rows"] == 4 and out["id"]["n_null"] == 0
    assert out["id"]["ndv_exact"] == 4
    assert out["cat"]["n_null"] == 1 and out["cat"]["ndv_exact"] == 2
    assert out["cat"]["min_key"] == "a" and out["cat"]["max_key"] == "b"
    assert out["v"]["n_null"] == 1 and out["v"]["ndv_exact"] == 2
    # lexicographic KEY bounds, by contract: "100" < "350"
    assert out["v"]["min_key"] == "100" and out["v"]["max_key"] == "350"


def test_table_stats_hll_close_on_wide_column(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.profiling import table_stats

    df = spark.range(0, 3000).select(F.col("id"))
    [r] = table_stats(df, (("id", F.col("id")),)).collect()
    assert r["ndv_exact"] == 3000
    assert abs(r["rel_error"]) < 0.2  # 256-register HLL envelope


# ---------------------------------------------------- incremental stats


def test_stats_merge_is_order_independent_and_equals_direct(spark):
    from pyspark.sql import functions as F

    from java9_gc_log_parser_spark.operators.profiling import (
        merge_stats_state,
        stats_report,
        stats_state,
        table_stats,
    )

    df = spark.createDataFrame(
        [(i, f"u{i % 37}", float(i % 11)) for i in range(300)],
        "id long, cat string, v double",
    )
    specs = (
        ("id", F.col("id")),
        ("cat", F.col("cat")),
        ("v", F.floor(F.col("v") * 100).cast("long")),
    )
    b1 = df.filter(F.col("id") < 100)
    b2 = df.filter((F.col("id") >= 100) & (F.col("id") < 200))
    b3 = df.filter(F.col("id") >= 200)
    s1, s2, s3 = (stats_state(b, specs) for b in (b1, b2, b3))

    def rows(state):
        return sorted(map(tuple, stats_report(state).collect()))

    left = rows(merge_stats_state(merge_stats_state(s1, s2), s3))
    right = rows(merge_stats_state(s1, merge_stats_state(s2, s3)))
    assert left == right  # associativity
    # merged incremental == direct full-table stats (minus exact audit)
    direct = sorted(
        (r["column"], r["n_rows"], r["n_null"], r["min_key"],
         r["max_key"], r["ndv_hll"])
        for r in table_stats(df, specs).collect()
    )
    assert left == direct


# ------------------------------------------------------- seasonal anomaly


def test_seasonal_anomaly_flags_only_the_off_pattern_cell(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import (
        seasonal_anomaly,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # hour 3 baseline: ~10.0 on days 0..9; day 5 spikes to 100.0
    for day in range(10):
        for i in range(5):
            v = 100.0 if day == 5 else 10.0 + (i % 3) * 0.01
            rows.append(
                (eid, "m", t0 + datetime.timedelta(days=day, hours=3,
                                                   minutes=i), v)
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {(r["day"], r["hour"]): r for r in seasonal_anomaly(df).collect()}
    days = sorted(d for d, _ in out)
    spike_day = days[5]
    assert out[(spike_day, 3)]["is_anomaly"] is True
    normal = [r for (d, _), r in out.items() if d != spike_day]
    assert all(r["is_anomaly"] is False for r in normal)
    assert out[(spike_day, 3)]["mean_day"] == 100.0


def test_seasonal_anomaly_degenerate_baseline_is_null(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.profiling import (
        seasonal_anomaly,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # hour 7 exists on one day only: baseline empty -> NULL flag
    df = spark.createDataFrame(
        [(1, "m", t0 + datetime.timedelta(hours=7), 5.0)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    [r] = seasonal_anomaly(df).collect()
    assert r["is_anomaly"] is None


# ----------------------------------------------------- MAD robust outliers


def test_mad_profile_robust_to_extreme_spike(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        mad_outlier_profile,
        value_anomaly_profile,
    )

    # 99 values near 10, one at 10^6: MAD flags exactly the spike; the
    # moment z-score's sigma is so inflated the spike barely clears 3σ
    # elsewhere — the robustness contrast this operator exists for
    vals = [10.0 + (i % 5) * 0.5 for i in range(99)] + [1_000_000.0]
    df = spark.createDataFrame(
        [(i, "m", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    [r] = mad_outlier_profile(df).collect()
    assert r["n_outliers"] == 1
    assert r["med"] == pytest.approx(11.0, abs=0.5)
    assert r["mad"] < 2.0  # tails don't inflate the scale estimate


def test_mad_profile_zero_mad_reports_null_rate(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        mad_outlier_profile,
    )

    # >half identical -> MAD 0 -> modified z undefined, not zero
    df = spark.createDataFrame(
        [(i, "m", 5.0) for i in range(10)] + [(99, "m", 9.0)],
        "event_id long, event_type string, value double",
    )
    [r] = mad_outlier_profile(df).collect()
    assert r["mad"] == 0.0
    assert r["outlier_rate"] is None
    assert r["n_outliers"] == 0


def test_ab_ztest_hand_computed(spark):
    import hashlib
    import math

    from java9_gc_log_parser_spark.operators.profiling import (
        ab_proportion_test,
    )

    users = list(range(40))
    rows = []
    eid = 0
    for u in users:
        for j in range(5):
            # user parity drives the outcome so the cohorts differ
            et = "error" if (u + j) % 3 == 0 else "view"
            rows.append((eid, u, et))
            eid += 1
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type"])
    got = ab_proportion_test(df).collect()[0]

    def is_a(u):
        return hashlib.md5(f"{u}:ab:v1".encode()).hexdigest()[0] < "8"

    n_a = sum(5 for u in users if is_a(u))
    x_a = sum(
        1 for u in users for j in range(5) if is_a(u) and (u + j) % 3 == 0
    )
    n_b = 5 * len(users) - n_a
    x_b = sum(
        1 for u in users for j in range(5) if not is_a(u) and (u + j) % 3 == 0
    )
    assert (got["n_a"], got["x_a"], got["n_b"], got["x_b"]) == (
        n_a, x_a, n_b, x_b,
    )
    pa, pb = x_a / n_a, x_b / n_b
    pool = (x_a + x_b) / (n_a + n_b)
    se = math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))
    assert got["z"] == pytest.approx((pa - pb) / se, abs=1e-6)
    assert got["significant"] == (abs((pa - pb) / se) >= 1.959964)


def test_ab_ztest_degenerate_rates_yield_null(spark):
    from java9_gc_log_parser_spark.operators.profiling import (
        ab_proportion_test,
    )

    df = spark.createDataFrame(
        [(i, i % 10, "view") for i in range(50)],
        ["event_id", "user_id", "event_type"],
    )
    got = ab_proportion_test(df).collect()[0]
    assert got["x_a"] == 0 and got["x_b"] == 0
    assert got["z"] is None and got["significant"] is None
