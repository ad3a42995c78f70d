"""Assembler behavior tests, mirroring ``CollectPauseLinesTest.scala:19-164``.

Each scenario feeds literal log lines (as transcript turns) through
parse -> supported filter -> assembly and asserts the reference semantics:
emit only on PauseEnd, per-event state reset, the two error routes with
byte-identical messages, Remark needing no regions, and silent discard of
dangling (end-less) state.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from java9_gc_log_parser_spark.functions.parse import parse_lines
from java9_gc_log_parser_spark.operators.assemble import (
    assemble_groups,
    assembled_pauses_from_groups,
    assembly_dead_letters_from_groups,
)
from java9_gc_log_parser_spark.operators.route import supported_types_filter

TS = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _df(spark, lines, conv="c1"):
    rows = [
        Row(conv_id=conv, turn_idx=i, role="assistant", text=t, tool=None,
            ts=TS + datetime.timedelta(seconds=i))
        for i, t in enumerate(lines)
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def _run(spark, lines):
    filtered = supported_types_filter(parse_lines(_df(spark, lines)))
    return (
        assembled_pauses_from_groups(assemble_groups(filtered)).collect(),
        assembly_dead_letters_from_groups(assemble_groups(filtered)).collect(),
    )


FULL_EVENT = [
    "[8.994s][info][gc,start     ] GC(0) Pause Young (G1 Evacuation Pause)",
    "[8.999s][info][gc,heap      ] GC(0) Eden regions: 25->0(21)",
    "[8.999s][info][gc,heap      ] GC(0) Survivor regions: 0->4(21)",
    "[8.999s][info][gc,heap      ] GC(0) Old regions: 0->2",
    "[8.999s][info][gc,heap      ] GC(0) Humongous regions: 1->1",
    "[8.999s][info][gc           ] GC(0) Pause Young (G1 Evacuation Pause) 24M->8M(256M) 6.545ms",
]


def test_emits_nothing_until_end(spark):
    # CollectPauseLinesTest.scala:28-59 — start + regions, no end => no event
    assembled, dead = _run(spark, FULL_EVENT[:-1])
    assert assembled == []
    assert dead == []  # dangling state is silently discarded, not an error


def test_full_event_assembles(spark):
    assembled, dead = _run(spark, FULL_EVENT)
    assert dead == []
    [e] = assembled
    assert e.event_id == 0
    assert e.pause_type == "Young"
    assert e.reason == "Evacuation"
    assert e.offset_ms == 8999  # end line's offset (CollectPauseLines.scala:46)
    assert e.duration_ms == pytest.approx(6.545)
    assert (e.heap_before, e.heap_after, e.heap_total) == (24, 8, 256)
    # generation sizes are the *after* counts (CollectPauseLines.scala:50-55)
    assert (e.eden_after, e.survivor_after, e.old_after, e.humongous_after) == (0, 4, 2, 1)


def test_multi_event_state_reset(spark):
    # CollectPauseLinesTest.scala:61-106 — two complete events, independent
    second = [l.replace("GC(0)", "GC(1)").replace("24M->8M", "30M->9M") for l in FULL_EVENT]
    assembled, dead = _run(spark, FULL_EVENT + second)
    assert dead == []
    by_id = {e.event_id: e for e in assembled}
    assert set(by_id) == {0, 1}
    assert by_id[0].heap_before == 24 and by_id[1].heap_before == 30


def test_missing_regions_dead_letter(spark):
    # CollectPauseLinesTest.scala:108-119 — end without all 4 regions
    lines = [FULL_EVENT[0], FULL_EVENT[1], FULL_EVENT[2], FULL_EVENT[-1]]
    assembled, dead = _run(spark, lines)
    assert assembled == []
    [d] = dead
    assert d.error_code == "missing_regions"
    assert d.error_message == (
        "Received PauseEnd without receiving region information. Either a bug "
        "or invalid GC log. Regions: {Eden,Survivor}. EventId: 0"
    )


def test_end_before_start_dead_letter(spark):
    # CollectPauseLinesTest.scala:121-146
    assembled, dead = _run(spark, [FULL_EVENT[-1]])
    assert assembled == []
    [d] = dead
    assert d.error_code == "end_before_start"
    assert d.error_message == (
        "Received PauseEnd before PauseStart. Either a bug or invalid GC log. "
        "EventId: 0"
    )


def test_remark_needs_no_regions(spark):
    # CollectPauseLinesTest.scala:148-163
    lines = [
        "[613.102s][info][gc,start     ] GC(15) Pause Remark",
        "[613.102s][info][gc           ] GC(15) Pause Remark 149M->148M(256M) 1.381ms",
    ]
    assembled, dead = _run(spark, lines)
    assert dead == []
    [e] = assembled
    assert e.pause_type == "Remark"
    assert (e.heap_before, e.heap_after, e.heap_total) == (149, 148, 256)
    # RemarkPause carries no generation sizes (GcStateModel.scala:24)
    assert e.eden_after is None and e.humongous_after is None


def test_remark_end_before_start_also_errors(spark):
    # the start==null check precedes the Remark branch
    # (CollectPauseLines.scala:31-34)
    assembled, dead = _run(
        spark, ["[613.102s][info][gc] GC(15) Pause Remark 149M->148M(256M) 1.381ms"]
    )
    assert assembled == []
    assert dead[0].error_code == "end_before_start"


def test_no_event_id_lines_do_not_assemble(spark):
    # lines without GC(n) => NotInteresting (CollectPauseLines.scala:21-22);
    # they carry no state into assembly
    lines = ["[0.010s][info][gc] Using G1"] + FULL_EVENT
    assembled, dead = _run(spark, lines)
    assert len(assembled) == 1 and dead == []


def test_last_write_wins_duplicate_regions(spark):
    # reference's mutable map overwrites per region (CollectPauseLines.scala:27-29)
    lines = (
        FULL_EVENT[:-1]
        + ["[8.999s][info][gc,heap      ] GC(0) Eden regions: 25->7(21)"]
        + [FULL_EVENT[-1]]
    )
    assembled, _ = _run(spark, lines)
    assert assembled[0].eden_after == 7


def test_cleanup_never_assembles_via_pipeline(spark):
    # supported-types filter drops Cleanup (GcLogStream.scala:21 quirk)
    lines = [
        "[513.0s][info][gc,start] GC(9) Pause Cleanup",
        "[513.4s][info][gc] GC(9) Pause Cleanup 202M->39M(312M) 0.369ms",
    ]
    assembled, dead = _run(spark, lines)
    assert assembled == [] and dead == []


def test_assembly_merge_of_split_partials_equals_groups(spark):
    """finalize(merge(rows(a) ∪ merge(rows(b)))) == assemble_groups(a ∪ b):
    GC(0) has an Eden line in each half (the higher turn, in b, wins), GC(1)
    has an end-only half, and the Remark GC(15) is split start | end."""
    from java9_gc_log_parser_spark.operators.assemble import (
        assembly_finalize,
        assembly_merge,
        assembly_rows,
    )

    gc1 = [line.replace("GC(0)", "GC(1)") for line in FULL_EVENT]
    lines = [
        *FULL_EVENT[:-1],                                        # a: 0-4
        "[8.999s][info][gc,heap      ] GC(0) Eden regions: 25->7(21)",  # b: 5
        FULL_EVENT[-1],                                          # b: 6
        *gc1[:-1],                                               # a: 7-11
        gc1[-1],                                                 # b: 12
        "[613.102s][info][gc,start     ] GC(15) Pause Remark",   # a: 13
        "[613.102s][info][gc           ] GC(15) Pause Remark "
        "149M->148M(256M) 1.381ms",                              # b: 14
    ]
    filtered = supported_types_filter(parse_lines(_df(spark, lines)))
    in_b = "turn_idx IN (5, 6, 12, 14)"
    a, b = filtered.filter(f"NOT ({in_b})"), filtered.filter(in_b)
    merged = assembly_finalize(assembly_merge(
        assembly_rows(a).unionByName(assembly_merge(assembly_rows(b)))
    ))

    def by_group(df):
        return {(r.conv_id, r.event_id): r.asDict() for r in df.collect()}

    got, want = by_group(merged), by_group(assemble_groups(filtered))
    assert got == want
    assert {k[1]: v["verdict"] for k, v in got.items()} == {
        0: "ok", 1: "ok", 15: "ok"}
    assert got[("c1", 0)]["eden_after"] == 7
