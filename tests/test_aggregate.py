"""GcState fold tests, mirroring ``GcStateFlowTest.scala:23-117``.

One scenario per counter, asserting the exact cumulative state; Remark
updates heap but keeps previous generation sizes; Cleanup increments only
when assembled events are fed directly (the full pipeline filters it out —
quirk parity)."""

from __future__ import annotations

import datetime

from pyspark.sql import Row

from java9_gc_log_parser_spark.operators.aggregate import (
    conv_state_final,
    conv_state_scan,
)

TS = datetime.datetime(2024, 1, 1)

SCHEMA = (
    "conv_id string, event_id int, pause_type string, reason string, "
    "offset_ms long, duration_ms double, heap_before long, heap_after long, "
    "heap_total long, eden_after long, survivor_after long, old_after long, "
    "humongous_after long, ts timestamp"
)


def _ev(eid, ptype, off, heap_after, heap_total=256, gens=(1, 2, 3, 4), conv="c1"):
    g = (None, None, None, None) if ptype == "Remark" else gens
    return Row(
        conv_id=conv, event_id=eid, pause_type=ptype, reason=None,
        offset_ms=off, duration_ms=1.0, heap_before=100, heap_after=heap_after,
        heap_total=heap_total, eden_after=g[0], survivor_after=g[1],
        old_after=g[2], humongous_after=g[3], ts=TS,
    )


def _scan(spark, events):
    df = spark.createDataFrame(events, SCHEMA)
    return {r.event_id: r for r in conv_state_scan(df).collect()}


def test_each_counter_increments(spark):
    # GcStateFlowTest: one scenario per pause type
    events = [
        _ev(0, "Young", 10, 50),
        _ev(1, "InitialMark", 20, 60),
        _ev(2, "Full", 30, 70),
        _ev(3, "Mixed", 40, 80),
        _ev(4, "Cleanup", 50, 90),
        _ev(5, "Remark", 60, 95),
    ]
    s = _scan(spark, events)
    assert (s[0].young_gcs, s[0].full_gcs) == (1, 0)
    assert s[1].initial_marks == 1
    assert s[2].full_gcs == 1
    assert s[3].mixed == 1
    assert s[4].cleanups == 1  # direct feed: GcStateFlowTest.scala:86-100
    last = s[5]
    assert (
        last.young_gcs, last.initial_marks, last.full_gcs,
        last.mixed, last.cleanups, last.remarks,
    ) == (1, 1, 1, 1, 1, 1)
    assert last.time_offset_ms == 60
    assert (last.heap_size, last.heap_total) == (95, 256)


def test_remark_keeps_previous_generation_sizes(spark):
    # GcStateFlow.scala:28-29: RemarkPause updates heap, not generations
    events = [
        _ev(0, "Young", 10, 50, gens=(7, 8, 9, 10)),
        _ev(1, "Remark", 20, 60),
    ]
    s = _scan(spark, events)
    r = s[1]
    assert r.heap_size == 60  # heap updated by the remark
    assert (r.eden_after, r.survivor_after, r.old_after, r.humongous_after) == (7, 8, 9, 10)


def test_initial_state_zero_gens_before_any_pause(spark):
    # zero-state parity (GcStateFlow.scala:14): a leading Remark sees gen sizes 0
    events = [_ev(0, "Remark", 10, 60)]
    s = _scan(spark, events)
    assert (s[0].eden_after, s[0].survivor_after) == (0, 0)


def test_final_state_matches_scan_tail(spark):
    events = [
        _ev(0, "Young", 10, 50, gens=(1, 1, 1, 1)),
        _ev(1, "Young", 20, 55, gens=(2, 2, 2, 2)),
        _ev(2, "Remark", 30, 60),
        _ev(3, "Mixed", 40, 65, gens=(3, 3, 3, 3), conv="c2"),
    ]
    df = spark.createDataFrame(events, SCHEMA)
    final = {r.conv_id: r for r in conv_state_final(df).collect()}
    c1 = final["c1"]
    assert (c1.young_gcs, c1.remarks) == (2, 1)
    assert c1.time_offset_ms == 30
    assert c1.heap_size == 60  # remark's heap
    assert c1.eden_after == 2  # last non-remark gens
    c2 = final["c2"]
    assert (c2.mixed, c2.eden_after) == (1, 3)


def test_merge_of_split_partials_equals_final_state(spark):
    """finalize(merge(merge(rows(a)) ∪ merge(rows(b)))) ==
    conv_state_final(a ∪ b)
    when a conversation's latest event is a Remark in one half and its
    latest generation sizes live in the other: the heap crosses the merge
    from one side, the generation sizes from the other."""
    from java9_gc_log_parser_spark.operators.aggregate import (
        gc_state_finalize,
        gc_state_merge,
        gc_state_rows,
    )

    a = [
        _ev(0, "Young", 10, 50, gens=(1, 1, 1, 1)),
        _ev(3, "Remark", 40, 70),  # c1's last event
        _ev(4, "Young", 10, 20, gens=(5, 5, 5, 5), conv="c2"),
    ]
    b = [
        _ev(1, "Young", 20, 55, gens=(2, 2, 2, 2)),
        _ev(2, "Mixed", 30, 60, gens=(3, 3, 3, 3)),
        _ev(5, "Remark", 20, 25, conv="c2"),  # a Remark-only half
        _ev(6, "Full", 10, 30, gens=(6, 6, 6, 6), conv="c3"),
    ]
    da, db = (spark.createDataFrame(h, SCHEMA) for h in (a, b))
    merged = gc_state_finalize(gc_state_merge(
        gc_state_merge(gc_state_rows(da)).unionByName(
            gc_state_merge(gc_state_rows(db)))
    ))
    got = {r.conv_id: r for r in merged.collect()}
    want = {r.conv_id: r for r in conv_state_final(da.unionByName(db)).collect()}
    assert got == want
    c1, c2 = got["c1"], got["c2"]
    assert (c1.young_gcs, c1.mixed, c1.remarks) == (2, 1, 1)
    assert (c1.time_offset_ms, c1.heap_size) == (40, 70)  # heap from a
    assert (c1.eden_after, c1.humongous_after) == (3, 3)  # gens from b
    assert (c2.heap_size, c2.eden_after) == (25, 5)


def test_scan_is_per_conversation(spark):
    events = [_ev(0, "Young", 10, 50), _ev(1, "Young", 20, 55, conv="c2")]
    s = _scan(spark, events)
    assert s[0].young_gcs == 1 and s[1].young_gcs == 1  # independent convs


def test_conv_state_json_reference_shape(spark):
    """Exact spray-json byte shape of the reference's GcState
    (GcStateJson.scala:7-12, GcStateModel.scala:8-27)."""
    from java9_gc_log_parser_spark.operators.aggregate import conv_state_json

    state = spark.createDataFrame(
        [("c1", 1, 2, 3, 4, 5, 0, 170, 100, 200, 10, 11, 12, 13)],
        "conv_id string, full_gcs long, young_gcs long, initial_marks long, "
        "remarks long, mixed long, cleanups long, time_offset_ms long, "
        "heap_size long, heap_total long, eden_after long, survivor_after "
        "long, old_after long, humongous_after long",
    )
    [r] = conv_state_json(state).collect()
    assert r.state_json == (
        '{"timeOffset":{"millis":170},"fullGcs":1,"youngGcs":2,'
        '"initialMarks":3,"remarks":4,"mixed":5,"cleanups":0,'
        '"heapSize":{"size":100,"total":200},'
        '"generationSizes":{"eden":10,"survivor":11,"old":12,"humongous":13}}'
    )


# --- sessionize -------------------------------------------------------------

def test_sessionize_splits_on_gap(spark):
    from java9_gc_log_parser_spark.operators.aggregate import sessionize

    def t(s):
        return TS + datetime.timedelta(seconds=s)

    rows = [
        # conv A: 3 turns, gap of 2h between turn 1 and 2 -> two sessions
        ("A", 0, "user", "hi", None, t(0)),
        ("A", 1, "assistant", "yo", None, t(100)),
        ("A", 2, "user", "back", None, t(100 + 7200)),
        # conv B: single session
        ("B", 0, "user", "one", None, t(0)),
        ("B", 1, "user", "two", None, t(3600)),  # exactly the gap: no split
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r.conv_id, r.session_idx): r
        for r in sessionize(df, gap_s=3600).collect()
    }
    assert set(got) == {("A", 0), ("A", 1), ("B", 0)}
    assert got[("A", 0)].n_turns == 2
    assert got[("A", 0)].duration_s == 100
    assert got[("A", 1)].n_turns == 1
    assert got[("A", 1)].duration_s == 0
    assert got[("B", 0)].n_turns == 2
    assert got[("B", 0)].duration_s == 3600
