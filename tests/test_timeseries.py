"""Unit tests for gap-fill/LOCF rollup, sliding-window chunking, and
weighted priority sampling: handcrafted ground truth, pure-Python
recomputation of the deterministic selections, and plan shape."""

from __future__ import annotations

import datetime
import hashlib

import pytest

from java9_gc_log_parser_spark.operators.sampling import (
    chunk_sliding,
    weighted_priority_sample,
)
from java9_gc_log_parser_spark.operators.timeseries import gapfill_locf


def _ts(sec: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=sec)


_6H = 21_600  # gapfill_locf's bucket, in seconds


def _series(spark, rows):
    """rows: (user_id, 6h bucket index, value)."""
    return spark.createDataFrame(
        [(k, _ts(b * _6H), float(v)) for k, b, v in rows],
        "user_id long, ts timestamp, value double",
    )


def _bucket(r) -> int:
    return int((r["bucket_ts"] - _ts(0)).total_seconds()) // _6H


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------- gapfill


def test_gapfill_fills_gaps_with_locf_and_interp(spark):
    # observations at buckets 0 (v=10), 1 (v=16), 4 (v=40)
    df = _series(spark, [(1, 0, 10.0), (1, 1, 16.0), (1, 4, 40.0)])
    out = gapfill_locf(df)
    rows = {(r["user_id"], _bucket(r)): r for r in out.collect()}
    assert sorted(s for _, s in rows) == [0, 1, 2, 3, 4]
    # observed rows: not filled, n_obs=1, locf == interp == value
    for sec, v in [(0, 10.0), (1, 16.0), (4, 40.0)]:
        r = rows[(1, sec)]
        assert (r["filled"], r["n_obs"], r["v_locf"], r["v_interp"]) == (
            False, 1, v, v,
        )
    # gap rows carry LOCF of bucket 1 and interpolate toward bucket 4
    for sec, interp in [(2, 24.0), (3, 32.0)]:
        r = rows[(1, sec)]
        assert r["filled"] and r["n_obs"] == 0
        assert r["v_locf"] == 16.0
        assert r["v_interp"] == pytest.approx(interp)
        assert not r["gap_truncated"]


def test_gapfill_bucket_mean_is_exact_integer_contract(spark):
    # two obs in one bucket: mean via floor(v*1000) sums = (10123+10456)/2000
    df = _series(spark, [(7, 0, 10.1234), (7, 0, 10.4567)])
    r = gapfill_locf(df).collect()[0]
    assert r["n_obs"] == 2
    assert r["v_locf"] == pytest.approx((10123 + 10456) / 1000.0 / 2.0)


def test_gapfill_truncates_wide_gaps(spark):
    df = _series(spark, [(1, 0, 1.0), (1, 20, 21.0)])
    out = gapfill_locf(df).collect()
    buckets = sorted(_bucket(r) for r in out)
    assert buckets == [*range(9), 20]  # 8 fills, then the gap stays open
    first = next(r for r in out if _bucket(r) == 0)
    assert first["gap_truncated"]
    # interp still runs along the true slope (v + (nv-v)*step/gap)
    r3 = next(r for r in out if _bucket(r) == 3)
    assert r3["v_interp"] == pytest.approx(1.0 + 20.0 * 3 / 20)


def test_gapfill_keys_are_independent_and_plan_has_two_exchanges(spark):
    df = _series(spark, [(1, 0, 1.0), (1, 3, 4.0), (2, 5, 9.0)])
    out = gapfill_locf(df)
    plan = _formatted(out)  # pre-execution: AQE hasn't appended a final plan
    assert plan.count("+- Exchange") == 2  # rollup agg + per-key window
    per_key = {k: 0 for k in (1, 2)}
    for r in out.collect():
        per_key[r["user_id"]] += 1
    assert per_key == {1: 4, 2: 1}  # key 2: single obs, no fills


# ------------------------------------------------------------- chunking


def _chunk_docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_chunk_sliding_matches_python_ground_truth(spark):
    toks = [f"t{i}" for i in range(100)]
    df = _chunk_docs(spark, [" ".join(toks)])
    got = sorted(
        map(tuple, chunk_sliding(df).collect())
    )
    exp = []
    for i, start in enumerate([0, 48]):
        sl = toks[start:start + 64]
        exp.append((
            0, i, start, len(sl),
            hashlib.md5(" ".join(sl).encode()).hexdigest(),
        ))
    assert got == sorted(exp)


def test_chunk_sliding_covers_every_token(spark):
    for n in (1, 5, 64, 65, 100, 200, 333):
        df = _chunk_docs(spark, [" ".join(f"t{i}" for i in range(n))])
        spans = [
            (r["start_tok"], r["start_tok"] + r["n_tok"])
            for r in chunk_sliding(df).collect()
        ]
        covered = set()
        for a, b in spans:
            covered.update(range(a, b))
        assert covered == set(range(n)), f"n={n}"


def test_chunk_sliding_drops_empty_docs_and_is_map_only(spark):
    df = _chunk_docs(spark, ["", "   ", "one two"])
    out = chunk_sliding(df)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert "+- Exchange" not in _formatted(out)


# ------------------------------------------------- weighted sampling


def _py_weighted(ids_weights, k, salt="wps:v1"):
    pri = []
    for i, w in ids_weights:
        u32 = int(hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[:8], 16)
        u = (u32 + 0.5) / 4294967296.0
        pri.append((u / w, i, w))
    pri.sort()
    return [(i, w) for _, i, w in pri[:k]]


def test_weighted_sample_matches_python_ground_truth(spark):
    docs = [(i, " ".join(["w"] * (1 + i % 7))) for i in range(1200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["weight"])
        for r in weighted_priority_sample(df).collect()
    )
    exp = sorted(_py_weighted([(i, 1 + i % 7) for i in range(1200)], 200))
    assert got == exp


def test_weighted_sample_biases_toward_heavy_docs(spark):
    docs = [(i, "w") for i in range(400)]
    docs += [(400 + i, " ".join(["w"] * 50)) for i in range(400)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = weighted_priority_sample(df).collect()
    assert len(out) == 200
    heavy = sum(1 for r in out if r["weight"] == 50)
    assert heavy > 140  # 50x weight should dominate the sample


def test_weighted_sample_plans_take_ordered_no_global_sort(spark):
    df = spark.createDataFrame(
        [(i, "a b c") for i in range(1000)], "doc_id long, text string"
    )
    plan = _formatted(weighted_priority_sample(df))
    assert "TakeOrderedAndProject" in plan
    assert "+- Exchange" not in plan


def test_moving_window_range_frame_skips_gaps(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.timeseries import (
        moving_window_stats,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, d, v):
        return (eid, t0 + datetime.timedelta(days=d), 1, "click", v, "{}")

    # days 0, 1, then a gap, then day 9
    df = spark.createDataFrame(
        [ev(1, 0, 1.0), ev(2, 1, 3.0), ev(3, 9, 10.0)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = moving_window_stats(df)
    rows = sorted(out.collect(), key=lambda r: r["bucket_ts"])
    assert [r["n"] for r in rows] == [1, 1, 1]
    # day 1: the 7-day window covers days -5..1 -> both obs
    assert rows[1]["mov_n"] == 2 and rows[1]["mov_avg"] == 2.0
    # day 9: window covers days 3..9 -> ONLY day 9 (RANGE frame skips the
    # gap; a ROWS frame would wrongly include days 0-1)
    assert rows[2]["mov_n"] == 1 and rows[2]["mov_avg"] == 10.0


def test_sliding_distinct_users_dedups_across_window(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.timeseries import (
        sliding_distinct_users,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, d, u):
        return (eid, t0 + datetime.timedelta(days=d), u, "view", 0.0, "{}")

    # u1 active days 0 and 1 (must count ONCE in windows covering both);
    # u2 active day 1; two events same user+day collapse
    df = spark.createDataFrame(
        [ev(1, 0, 1), ev(2, 1, 1), ev(3, 1, 2), ev(4, 1, 2)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = sliding_distinct_users(df)
    rows = {r["bucket_ts"].day: r for r in out.collect()}
    # day 1 window covers days -5..1: users {1, 2}, pairs {(1,0),(1,1),(2,1)}
    assert rows[2]["n_users"] == 2 and rows[2]["n_user_buckets"] == 3
    assert rows[2]["has_activity"]
    # ghost tail: day 3 window covers days -3..3 -> still sees both users,
    # but the bucket itself had no events
    assert rows[4]["n_users"] == 2 and not rows[4]["has_activity"]
    # fan-out bound: 7 target days over 3 distinct pairs -> <= 21 rows
    assert len(rows) <= 21


# ------------------------------------------------------- time-weighted avg


def _tw_series(spark, rows):
    """rows: (user_id, sec, value, event_id)."""
    return spark.createDataFrame(
        [(k, _ts(s), float(v), e) for k, s, v, e in rows],
        "user_id long, ts timestamp, value double, event_id long",
    )


def test_twa_matches_hand_computed_locf_integral(spark):
    from java9_gc_log_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    # one 6h bucket: v=10 holds [0,2), v=20 holds [2,6), v=30 at 6 (no dt)
    df = _tw_series(spark, [(1, 0, 10.0, 1), (1, 2, 20.0, 2),
                            (1, 6, 30.0, 3)])
    out = time_weighted_avg(df)
    [r] = out.collect()
    assert r["n_obs"] == 3
    assert r["span_us"] == 6_000_000
    # integral = 10*2 + 20*4 = 100 value-sec over 6s span
    assert r["v_twa"] == pytest.approx(100.0 / 6.0, abs=1e-6)
    assert r["v_naive"] == pytest.approx(20.0)


def test_twa_single_sample_and_constant_series(spark):
    from java9_gc_log_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    df = _tw_series(spark, [(1, 3, 42.0, 1),                  # singleton
                            (2, 0, 7.0, 2), (2, 1, 7.0, 3),   # constant,
                            (2, 9, 7.0, 4)])                  # irregular
    rows = {r["user_id"]: r
            for r in time_weighted_avg(df).collect()}
    assert rows[1]["span_us"] == 0
    assert rows[1]["v_twa"] == pytest.approx(42.0)
    assert rows[2]["v_twa"] == pytest.approx(7.0)
    assert rows[2]["v_naive"] == pytest.approx(7.0)


def test_twa_discounts_instantaneous_spike_naive_mean_does_not(spark):
    from java9_gc_log_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    # v=10 holds the whole 9s span; the 1000 spike lands at the end with
    # zero holding time — TWA stays 10, the naive mean explodes to 505
    df = _tw_series(spark, [(1, 0, 10.0, 1), (1, 9, 1000.0, 2)])
    [r] = time_weighted_avg(df).collect()
    assert r["v_twa"] == pytest.approx(10.0)
    assert r["v_naive"] == pytest.approx(505.0)


def test_twa_single_shuffle_shared_by_window_and_agg(spark):
    from java9_gc_log_parser_spark.operators.timeseries import (
        time_weighted_avg,
    )

    df = _tw_series(spark, [(1, 0, 1.0, 1), (1, 2, 2.0, 2),
                            (2, 1, 3.0, 3)])
    import re

    plan = _formatted(time_weighted_avg(df))
    # the lead window and the groupBy share the (key, bucket) partitioning:
    # exactly ONE shuffle node in the whole plan (the formatted dump lists
    # each node twice — tree + detail — so count node headers)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
