"""Unit tests for operators/funnel.py (ordered funnel, cohort retention)."""

from __future__ import annotations

import pytest

import datetime

from java9_gc_log_parser_spark.operators.funnel import (
    cohort_retention,
    funnel_conversion,
)

_T0 = datetime.datetime(2024, 1, 1)


def _ev(user, typ, minutes, eid):
    return (eid, _T0 + datetime.timedelta(minutes=minutes), user, typ)


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def _funnel_counts(df):
    return {r["step"]: r["n_users"] for r in df.collect()}


def test_funnel_requires_order(spark):
    # u1 does the full ordered funnel; u2 has all events but purchase comes
    # BEFORE click, so u2 stalls at stage 3.
    rows = [
        _ev(1, "signup", 0, 1),
        _ev(1, "view", 10, 2),
        _ev(1, "click", 20, 3),
        _ev(1, "purchase", 30, 4),
        _ev(2, "signup", 0, 5),
        _ev(2, "view", 10, 6),
        _ev(2, "purchase", 15, 7),
        _ev(2, "click", 20, 8),
    ]
    out = funnel_conversion(_events_df(spark, rows))
    c = _funnel_counts(out)
    assert c == {"signup": 2, "view": 2, "click": 2, "purchase": 1}


def test_funnel_horizon_cuts_late_steps(spark):
    # view happens 20 days after signup: outside the 14-day horizon.
    rows = [
        _ev(1, "signup", 0, 1),
        _ev(1, "view", 20 * 24 * 60, 2),
    ]
    c = _funnel_counts(funnel_conversion(_events_df(spark, rows)))
    assert c["signup"] == 1 and c["view"] == 0


def test_funnel_no_signup_means_no_stages(spark):
    rows = [_ev(1, "view", 0, 1), _ev(1, "click", 5, 2)]
    c = _funnel_counts(funnel_conversion(_events_df(spark, rows)))
    assert c == {"signup": 0, "view": 0, "click": 0, "purchase": 0}


def test_funnel_equal_ts_ordered_by_event_id(spark):
    # signup and view share a timestamp: view counts only if its event_id
    # orders it AFTER the signup ("strictly preceding row" semantics).
    after = [_ev(1, "signup", 0, 1), _ev(1, "view", 0, 2)]
    before = [_ev(1, "signup", 0, 2), _ev(1, "view", 0, 1)]
    assert _funnel_counts(funnel_conversion(_events_df(spark, after)))["view"] == 1
    assert _funnel_counts(funnel_conversion(_events_df(spark, before)))["view"] == 0


def test_funnel_conversion_rates(spark):
    rows = [
        _ev(1, "signup", 0, 1),
        _ev(1, "view", 1, 2),
        _ev(2, "signup", 0, 3),
        _ev(3, "signup", 0, 4),
        _ev(3, "view", 1, 5),
        _ev(3, "click", 2, 6),
        _ev(4, "signup", 0, 7),
    ]
    rows_out = {r["step"]: r for r in funnel_conversion(_events_df(spark, rows)).collect()}
    assert rows_out["signup"]["conv_from_prev"] is None
    assert rows_out["signup"]["conv_from_first"] == 1.0
    assert rows_out["view"]["conv_from_prev"] == 0.5  # 2 of 4
    assert rows_out["click"]["conv_from_prev"] == 0.5  # 1 of 2
    assert rows_out["click"]["conv_from_first"] == 0.25
    # purchase: 0 of 1 -> 0.0 (denominator > 0)
    assert rows_out["purchase"]["conv_from_prev"] == 0.0


def test_cohort_retention_matrix(spark):
    day = 24 * 60
    rows = [
        # u1 first seen week 0, active weeks 0 and 1
        _ev(1, "view", 0, 1),
        _ev(1, "view", 8 * day, 2),
        # u2 first seen week 0, active week 0 only (two events, one bucket)
        _ev(2, "view", 1 * day, 3),
        _ev(2, "click", 2 * day, 4),
        # u3 first seen week 1
        _ev(3, "view", 8 * day, 5),
    ]
    out = cohort_retention(_events_df(spark, rows))
    got = {(r["cohort_bucket"], r["age"]): r for r in out.collect()}
    # cohort buckets are absolute (epoch // 7d); compare relatively
    cohorts = sorted({k[0] for k in got})
    c0, c1 = cohorts[0], cohorts[1]
    assert c1 == c0 + 1
    assert got[(c0, 0)]["n_users"] == 2 and got[(c0, 0)]["cohort_size"] == 2
    assert got[(c0, 1)]["n_users"] == 1
    assert got[(c0, 1)]["retention"] == 0.5
    assert got[(c1, 0)]["n_users"] == 1 and got[(c1, 0)]["retention"] == 1.0
    assert got[(c0, 0)]["cohort_ts"] is not None


# ------------------------------------------------------ transition matrix


def test_transition_matrix_counts_and_true_probabilities(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.funnel import (
        transition_matrix,
    )

    def ts(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)

    # user 1: a->b->a->c ; user 2: a->b  => transitions:
    # a->b:2, b->a:1, a->c:1, b->(none for u2's last);
    # user 3: z->p1->z->p2 ... ->z->p6 => z has 6 next states, each n=1
    rows = [(1, "a", ts(0), 1), (1, "b", ts(1), 2), (1, "a", ts(2), 3),
            (1, "c", ts(3), 4), (2, "a", ts(0), 5), (2, "b", ts(1), 6)]
    for i in range(6):
        rows += [(3, "z", ts(2 * i), 10 + 2 * i),
                 (3, f"p{i + 1}", ts(2 * i + 1), 11 + 2 * i)]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    out = {(r["src_event"], r["dst_event"]): r
           for r in transition_matrix(df).collect()}
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["rk"] == 1
    assert out[("a", "b")]["prob"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[("a", "c")]["rk"] == 2
    # u2's b is terminal — b's only outgoing transition is b->a
    assert out[("b", "a")]["prob"] == pytest.approx(1.0)
    # top-5 of z's 6 next states (ties by dst asc); the denominator keeps
    # the cut one, so each survivor's prob is the true 1/6
    z = sorted((d, r["prob"]) for (s, d), r in out.items() if s == "z")
    assert [d for d, _ in z] == ["p1", "p2", "p3", "p4", "p5"]
    assert all(p == pytest.approx(1 / 6, abs=1e-6) for _, p in z)


def test_transition_matrix_tiebreak_orders_same_timestamp(spark):
    import datetime

    from java9_gc_log_parser_spark.operators.funnel import (
        transition_matrix,
    )

    t0 = datetime.datetime(2024, 1, 1)
    # same ts: event_id orders x(1) -> y(2) deterministically
    df = spark.createDataFrame(
        [(1, "x", t0, 1), (1, "y", t0, 2)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    [r] = transition_matrix(df).collect()
    assert (r["src_event"], r["dst_event"]) == ("x", "y")


# ------------------------------------------------------ touch attribution


def _attr_ev(spark, rows):
    import datetime

    def ts(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)

    return spark.createDataFrame(
        [(e, u, t, ts(s), float(v)) for e, u, t, s, v in rows],
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )


def test_attribution_first_vs_last_touch(spark):
    from java9_gc_log_parser_spark.operators.funnel import (
        touch_attribution,
    )

    # user 1: view@0, click@50, purchase@100 (value 10.0) — inside the 6h
    # horizon: first-touch credits view, last-touch credits click
    df = _attr_ev(spark, [(1, 1, "view", 0, 0), (2, 1, "click", 50, 0),
                     (3, 1, "purchase", 100, 10.0)])
    out = {(r["model"], r["touch_type"]): r
           for r in touch_attribution(df).collect()}
    assert out[("first_touch", "view")]["n_conversions"] == 1
    assert out[("last_touch", "click")]["n_conversions"] == 1
    assert out[("first_touch", "view")]["sum_value_centi"] == 1000


def test_attribution_horizon_excludes_stale_touch(spark):
    from java9_gc_log_parser_spark.operators.funnel import (
        touch_attribution,
    )

    # touch 30000s before conversion, horizon 6h = 21600s -> unattributed
    df = _attr_ev(spark, [(1, 1, "view", 0, 0),
                     (2, 1, "purchase", 30_000, 5.0)])
    out = {(r["model"], r["touch_type"]): r["n_conversions"]
           for r in touch_attribution(df).collect()}
    assert out == {("last_touch", "(none)"): 1,
                   ("first_touch", "(none)"): 1}


def test_attribution_partitions_conversions_per_model(spark):
    from java9_gc_log_parser_spark.operators.funnel import (
        touch_attribution,
    )

    # mixed: one attributed, one orphan, cross-user isolation
    df = _attr_ev(spark, [(1, 1, "view", 0, 0), (2, 1, "purchase", 10, 1.0),
                     (3, 2, "purchase", 10, 2.0),
                     (4, 3, "click", 0, 0)])
    rows = touch_attribution(df).collect()
    for model in ("first_touch", "last_touch"):
        total = sum(r["n_conversions"] for r in rows if r["model"] == model)
        assert total == 2  # every conversion counted exactly once
