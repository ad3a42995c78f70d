"""The streaming assembler's per-group fold, without a Spark session.

``_make_assemble_fn`` is called directly, the way the Python state worker
calls it: input frames shaped like the narrow hand-off ``stream_assembled``
projects (built through Arrow, as Spark's serializer builds them) and a
``GroupState`` constructed in-process. State is carried between calls in
the internal form of ``STATE_SCHEMA`` and pickled, as Spark stores it, and
every emitted frame is converted to ``OUTPUT_SCHEMA`` through Arrow.
"""

from __future__ import annotations

import datetime as dt
import json
import pickle

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import _make_type_verifier

from java9_gc_log_parser_spark.functions.grammar import (
    ERR_END_BEFORE_START,
    ERR_MISSING_REGIONS,
)
from java9_gc_log_parser_spark.streaming.assembler import (
    _END,
    _END_FIELDS,
    _REGIONS,
    _START,
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _make_assemble_fn,
)

KEY = ("c1", 7)
T0 = dt.datetime(2024, 1, 1)
T0_MS = 1_704_067_200_000  # T0 as epoch milliseconds

HANDOFF = pa.schema([
    ("conv_id", pa.string()),
    ("event_id", pa.int32()),
    ("turn_idx", pa.int32()),
    ("line", pa.int8()),
    ("region_after", pa.int64()),
    ("end", pa.string()),
    ("ts", pa.timestamp("us")),
])

YOUNG = dict(pause_type="Young", reason="Evacuation", offset_ms=1500,
             duration_ms=2.0, heap_before=10, heap_after=5, heap_total=64)
REMARK = dict(pause_type="Remark", reason=None, offset_ms=2100,
              duration_ms=1.0, heap_before=11, heap_after=10, heap_total=64)
NO_REGIONS = dict.fromkeys(
    ("eden_after", "survivor_after", "old_after", "humongous_after"))


def start(turn, ts=T0):
    return (turn, _START, None, None, ts)


def region(turn, name, after, ts=T0):
    return (turn, 1 + _REGIONS.index(name), after, None, ts)


def end(turn, ts=T0, **fields):
    # to_json leaves null fields out of the payload
    payload = {k: v for k, v in {**YOUNG, **fields}.items() if v is not None}
    return (turn, _END, None, json.dumps(payload), ts)


def frame(*lines, with_ts=False):
    turn, line, after, payload, ts = zip(*lines)
    cols = dict(conv_id=[KEY[0]] * len(lines), event_id=[KEY[1]] * len(lines),
                turn_idx=turn, line=line, region_after=after, end=payload)
    schema = HANDOFF
    if with_ts:
        cols["ts"] = ts
    else:
        schema = pa.schema(list(HANDOFF)[:-1])
    return pa.Table.from_pydict(cols, schema).to_pandas()


def group_state(value=None, timeout=GroupStateTimeout.NoTimeout,
                timed_out=False, watermark_ms=GroupState.NO_TIMESTAMP):
    return GroupState(
        optionalValue=value, batchProcessingTimeMs=1_000,
        eventTimeWatermarkMs=watermark_ms, timeoutConf=timeout,
        hasTimedOut=timed_out,
        watermarkPresent=watermark_ms != GroupState.NO_TIMESTAMP,
        defined=value is not None, updated=False, removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP, keyAsUnsafe=b"",
        valueSchema=STATE_SCHEMA,
    )


def carry(state):
    """The state value as the next call for the same key receives it."""
    assert state.exists
    _make_type_verifier(STATE_SCHEMA)(tuple(state.get))
    return pickle.loads(pickle.dumps(STATE_SCHEMA.toInternal(state._value)))


def timeout_at(state):
    return json.loads(state.json())["timeoutTimestamp"]


def call(fn, state, *frames):
    out = []
    for pdf in fn(KEY, iter(frames), state):
        out += pa.Table.from_pandas(
            pdf, schema=to_arrow_schema(OUTPUT_SCHEMA), preserve_index=False
        ).to_pylist()
    return out


def ok_row(end_fields, **regions):
    return {"conv_id": "c1", "event_id": 7, "verdict": "ok", **end_fields,
            **NO_REGIONS, **regions, "error_message": None}


def dead_row(verdict, message):
    return {"conv_id": "c1", "event_id": 7, "verdict": verdict,
            **dict.fromkeys(_END_FIELDS), **NO_REGIONS,
            "error_message": message}


FULL_REGIONS = dict(eden_after=0, survivor_after=4, old_after=3,
                    humongous_after=1)


def all_regions(first_turn):
    return [region(first_turn + i, name, after)
            for i, (name, after) in enumerate(zip(_REGIONS, (0, 4, 3, 1)))]


def test_ok_young_in_one_call():
    st = group_state()
    got = call(_make_assemble_fn(None), st,
               frame(start(0), *all_regions(1), end(5)))
    assert got == [ok_row(YOUNG, **FULL_REGIONS)]
    assert not st.exists


def test_ok_remark_has_null_generations():
    """Remark completes on start + end alone; even a region line in the
    group leaves its generations null, as in the batch assembler."""
    st = group_state()
    got = call(_make_assemble_fn(None), st,
               frame(start(0), region(1, "Eden", 9), end(2, **REMARK)))
    assert got == [ok_row(REMARK)]
    assert got[0]["reason"] is None
    assert not st.exists


# Expected strings spelled out, so a template edit cannot pass unnoticed.
END_BEFORE_START_MSG = (
    "Received PauseEnd before PauseStart. Either a bug or invalid GC log. "
    "EventId: 7"
)
MISSING_REGIONS_MSG = (
    "Received PauseEnd without receiving region information. Either a bug "
    "or invalid GC log. Regions: {Eden,Old}. EventId: 7"
)
STRAGGLERS = {
    "end_before_start": (
        [end(3)], END_BEFORE_START_MSG,
        ERR_END_BEFORE_START.format(event_id=7)),
    "missing_regions": (
        [start(0), region(1, "Eden", 0), region(2, "Old", 3), end(3)],
        MISSING_REGIONS_MSG,
        ERR_MISSING_REGIONS.format(regions="Eden,Old", event_id=7)),
}


@pytest.mark.parametrize("verdict", sorted(STRAGGLERS))
def test_straggler_on_processing_time_timeout(verdict):
    lines, message, template = STRAGGLERS[verdict]
    assert message == template
    fn = _make_assemble_fn(3000)
    timeout = GroupStateTimeout.ProcessingTimeTimeout
    st = group_state(timeout=timeout)
    assert call(fn, st, frame(*lines)) == []
    assert timeout_at(st) == 1_000 + 3000  # batch time + timeout_ms

    fired = group_state(carry(st), timeout=timeout, timed_out=True)
    assert call(fn, fired) == [dead_row(verdict, message)]
    assert not fired.exists


@pytest.mark.parametrize("verdict", sorted(STRAGGLERS))
def test_straggler_on_event_time_timeout(verdict):
    lines, message, _ = STRAGGLERS[verdict]
    fn = _make_assemble_fn(None, lateness_ms=5000)
    timeout = GroupStateTimeout.EventTimeTimeout
    st = group_state(timeout=timeout, watermark_ms=0)
    assert call(fn, st, frame(*lines, with_ts=True)) == []
    assert timeout_at(st) == T0_MS + 5000  # newest event + lateness

    fired = group_state(carry(st), timeout=timeout, timed_out=True,
                        watermark_ms=T0_MS + 6000)
    assert call(fn, fired) == [dead_row(verdict, message)]
    assert not fired.exists


def test_group_split_across_calls():
    """End and two regions arrive first, start and the rest one trigger
    later; the state written between them must fit STATE_SCHEMA."""
    fn = _make_assemble_fn(None)
    first = group_state()
    assert call(fn, first, frame(end(5), region(2, "Survivor", 4),
                                 region(1, "Eden", 0))) == []
    assert first.exists

    second = group_state(carry(first))
    got = call(fn, second, frame(region(4, "Humongous", 1), start(0),
                                 region(3, "Old", 3)))
    assert got == [ok_row(YOUNG, **FULL_REGIONS)]
    assert not second.exists


def test_dangling_group_parks_without_timeout():
    """A group with no PauseEnd never gets a timer: it can only complete."""
    fn = _make_assemble_fn(None, lateness_ms=5000)
    st = group_state(timeout=GroupStateTimeout.EventTimeTimeout,
                     watermark_ms=0)
    assert call(fn, st, frame(start(0), *all_regions(1), with_ts=True)) == []
    assert st.exists
    assert timeout_at(st) == GroupState.NO_TIMESTAMP


def test_last_line_in_turn_order_wins():
    """Lines arrive out of turn order, regions and the end repeat, and the
    group's lines come in two frames: the last line in turn order wins for
    every region and for the end."""
    got = call(
        _make_assemble_fn(None), group_state(),
        frame(region(9, "Eden", 7), end(12, duration_ms=3.5),
              region(3, "Old", 99), start(0)),
        frame(region(2, "Eden", 55), end(10, duration_ms=9.0),
              region(4, "Old", 3), region(5, "Survivor", 4),
              region(6, "Humongous", 1)),
    )
    assert got == [ok_row(dict(YOUNG, duration_ms=3.5), **dict(
        FULL_REGIONS, eden_after=7))]


def test_event_time_deadline_has_watermark_floor():
    """Under lateness_ms the timer is the group's newest event + lateness,
    carried across calls; a group first seen behind the watermark gets
    wm + 1, the earliest timer Spark accepts."""
    fn = _make_assemble_fn(None, lateness_ms=5000)
    timeout = GroupStateTimeout.EventTimeTimeout
    first = group_state(timeout=timeout, watermark_ms=0)
    later = T0 + dt.timedelta(seconds=2)
    call(fn, first, frame(end(5, ts=later), with_ts=True))
    assert timeout_at(first) == T0_MS + 2000 + 5000

    # an older line in the next call keeps the newest event time
    second = group_state(carry(first), timeout=timeout, watermark_ms=0)
    call(fn, second, frame(region(1, "Eden", 0), with_ts=True))
    assert timeout_at(second) == T0_MS + 2000 + 5000

    wm = T0_MS + 60_000
    behind = group_state(timeout=timeout, watermark_ms=wm)
    call(fn, behind, frame(end(5), with_ts=True))
    assert timeout_at(behind) == wm + 1
