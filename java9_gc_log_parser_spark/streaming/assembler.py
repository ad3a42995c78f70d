"""Structured Streaming variant of the pipeline (SURVEY §2.9).

The reference's live mode tails a file every second
(``GcLogStream.scala:45-51``) through a strictly order-dependent assembler.
A distributed stream cannot assume order — lines of one GC event may arrive
across micro-batches, in any order. The streaming assembler is therefore an
``applyInPandasWithState`` operator keyed by (conv_id, event_id) that
**buffers until the event is complete** (start + end + regions, or start+end
for Remark), emits exactly one ok row, and clears state. Groups that received
their PauseEnd but stay incomplete are stragglers, dead-lettered with the
same verdicts AND byte-identical error messages as the batch assembler
(end_before_start / missing_regions), mirroring the batch operator's
order-free group semantics (operators/assemble.py) — a group errors iff it
has an end but no start / not all regions, ever.

The hand-off to the Python state worker is deliberately narrow. Spark
converts every handed-off column from Arrow to pandas once per group, and
groups are small (~6 lines), so the number of columns handed off — not the
fold — sets the per-group cost. The JVM side therefore projects only the
keys, ``turn_idx``, one small-int line code (start, a region, or end), the
region's after-count, and the PauseEnd payload as one JSON string set only
on end lines; ``ts`` rides along only when the event-time watermark needs it
at the operator. The Python side folds those arrays in one plain-Python pass
in turn order (last line wins) and decodes the end payload once per group.

Two lateness disciplines (SURVEY §2.9 ST2):

  * **event-time watermark** (``lateness_ms``, the primary path): the parsed
    stream carries ``withWatermark("ts", lateness)`` and incomplete
    end-bearing groups set an EventTimeTimeout at
    ``max(group's max event ts) + lateness``. A straggler is declared dead
    only when the *data itself* has moved ``lateness`` past it — wall-clock
    stalls, backlogs and replays cannot mis-fire it, and the decision is
    deterministic given the event times (oracle-checked end to end by
    q49_stream_late_dead_letter against the batch assembler's verdicts).
    The watermark is DRIVEN BY SUPPORTED EVENT LINES: the watermark node is
    declared after parse, but Catalyst's predicate pushdown moves the
    class/event-id filter below it (the predicates don't reference ``ts``),
    so free-text/unmatched rows do not advance event time — only GC event
    lines do, which is the meaningful clock here (measured: an unmatched
    row leaves the progress eventTime stats empty). To advance the
    watermark without affecting assembly, feed a parseable line of a fresh
    (conv, event) group with no PauseEnd — it parks as dangling state,
    which both engines silently discard.
  * **processing-time timeout** (``timeout_ms``, kept as the ops fallback):
    dead-letters on wall clock; appropriate only when event time is absent
    or untrusted.

Dangling groups (no PauseEnd, ever) time out under NEITHER discipline — the
batch assembler silently discards them at end of input and the reference
drops unfinished buffers at stream end; a timer would invent a dead letter
the batch semantics don't have.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from operator import itemgetter
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.grammar import ERR_END_BEFORE_START, ERR_MISSING_REGIONS
from ..functions.parse import parse_lines
from ..operators.route import supported_types_filter

if TYPE_CHECKING:
    import pandas as pd

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("event_id", T.IntegerType()),
        T.StructField("verdict", T.StringType()),
        T.StructField("pause_type", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("offset_ms", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("heap_before", T.LongType()),
        T.StructField("heap_after", T.LongType()),
        T.StructField("heap_total", T.LongType()),
        T.StructField("eden_after", T.LongType()),
        T.StructField("survivor_after", T.LongType()),
        T.StructField("old_after", T.LongType()),
        T.StructField("humongous_after", T.LongType()),
        T.StructField("error_message", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("has_start", T.BooleanType()),
        T.StructField("eden", T.LongType()),
        T.StructField("survivor", T.LongType()),
        T.StructField("old", T.LongType()),
        T.StructField("humongous", T.LongType()),
        T.StructField("has_end", T.BooleanType()),
        T.StructField("pause_type", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("offset_ms", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("heap_before", T.LongType()),
        T.StructField("heap_after", T.LongType()),
        T.StructField("heap_total", T.LongType()),
        T.StructField("max_ts_ms", T.LongType()),
    ]
)

_REGIONS = ("Eden", "Survivor", "Old", "Humongous")

# Line codes of the narrow hand-off: start, one per region in _REGIONS order
# (so a region's index in the fold's region list is its code - 1), end.
_START, _END = 0, len(_REGIONS) + 1

_END_FIELDS = ("pause_type", "reason", "offset_ms", "duration_ms",
               "heap_before", "heap_after", "heap_total")
_OUTPUT_COLUMNS = OUTPUT_SCHEMA.fieldNames()


def _make_assemble_fn(timeout_ms: int | None, lateness_ms: int | None = None):
    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        conv_id, event_id = key
        event_id = int(event_id)

        if state.exists:
            st = list(state.get)
        else:
            st = [False, None, None, None, None, False,
                  None, None, None, None, None, None, None, None]
        has_start, regions, has_end = st[0], st[1:5], st[5]
        end_values, max_ts_ms = st[6:13], st[13]

        def emit(verdict: str) -> "pd.DataFrame":
            err = None
            if verdict == "end_before_start":
                err = ERR_END_BEFORE_START.format(event_id=event_id)
            elif verdict == "missing_regions":
                present = ",".join(
                    r for r, v in zip(_REGIONS, regions) if v is not None
                )
                err = ERR_MISSING_REGIONS.format(
                    regions=present, event_id=event_id
                )
            ok = verdict == "ok"
            values = end_values if ok else [None] * len(_END_FIELDS)
            after = (regions if ok and end_values[0] != "Remark"
                     else [None] * len(_REGIONS))
            return pd.DataFrame.from_records(
                [(conv_id, event_id, verdict, *values, *after, err)],
                columns=_OUTPUT_COLUMNS,
            )

        if state.hasTimedOut:
            # straggler dead-letter: end arrived, completion never did
            verdict = "end_before_start" if not has_start else "missing_regions"
            state.remove()
            yield emit(verdict)
            return

        # Plain-Python fold: per line class, the last line in turn order
        # wins. The per-group cost is set by the number of columns handed
        # off (each is converted from Arrow to pandas per group), not by
        # this loop, which is why the end payload arrives as one string.
        lines = []
        for pdf in pdfs:
            lines.extend(zip(pdf["turn_idx"].to_numpy(),
                             pdf["line"].to_numpy(),
                             pdf["region_after"].to_numpy(),
                             pdf["end"].to_numpy()))
            if lateness_ms is not None and len(pdf):
                batch_max = pdf["ts"].max()
                if pd.notna(batch_max):
                    bm_ms = int(batch_max.value // 1_000_000)
                    max_ts_ms = bm_ms if max_ts_ms is None else max(
                        max_ts_ms, bm_ms
                    )
        lines.sort(key=itemgetter(0))
        end = None
        for _, code, region_after, payload in lines:
            if code == _START:
                has_start = True
            elif code == _END:
                end = payload
            else:
                regions[code - 1] = int(region_after)
        if end is not None:
            has_end = True
            end_values = list(map(json.loads(end).get, _END_FIELDS))

        complete = (
            has_end
            and has_start
            and (end_values[0] == "Remark"
                 or all(v is not None for v in regions))
        )
        if complete:
            state.remove()
            yield emit("ok")
            return

        state.update((has_start, *regions, has_end, *end_values, max_ts_ms))
        # only end-bearing groups can become dead letters; end-less
        # dangling groups are silently discarded, like batch
        if has_end:
            if lateness_ms is not None:
                # event-time expiry: the group is a straggler once the
                # watermark moves `lateness` past its newest event. A group
                # first seen when the watermark already passed its deadline
                # must still get a FUTURE timestamp (Spark rejects timers at
                # or behind the watermark), hence the wm+1 floor — it fires
                # at the next watermark advance.
                wm = state.getCurrentWatermarkMs()
                deadline = (max_ts_ms or 0) + lateness_ms
                state.setTimeoutTimestamp(max(deadline, wm + 1))
            elif timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    return fn


def stream_assembled(
    spark,
    source_path: str,
    input_schema: T.StructType | str,
    timeout_ms: int | None = None,
    lateness_ms: int | None = None,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """readStream over the transcripts dir -> parse -> filter -> stateful
    assembly.

    ``lateness_ms`` enables EVENT-TIME straggler dead-lettering: a watermark
    of that delay on the parsed stream's ``ts`` plus an EventTimeTimeout per
    incomplete end-bearing group (fires when the watermark passes the group's
    newest event + lateness). ``timeout_ms`` is the processing-time fallback
    (requires a continuous trigger to actually fire); the two are mutually
    exclusive."""
    if timeout_ms is not None and lateness_ms is not None:
        raise ValueError("pass either lateness_ms (event time) or "
                         "timeout_ms (processing time), not both")
    stream = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )
    parsed = parse_lines(stream)
    if lateness_ms is not None:
        # watermark BEFORE the supported-types filter: every observed input
        # row advances event time, exactly like a file tail's read position
        parsed = parsed.withWatermark("ts", f"{int(lateness_ms)} milliseconds")
    filtered = supported_types_filter(parsed).filter(
        F.col("event_id").isNotNull()
    )
    if lateness_ms is not None:
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    elif timeout_ms is not None:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.NoTimeout
    ec = F.col("event_class")
    line = F.when(ec == "pause_start", _START).when(ec == "pause_end", _END)
    for code, region in enumerate(_REGIONS, start=1):
        line = line.when(F.col("region") == region, code)
    end = F.when(ec == "pause_end", F.to_json(F.struct(*_END_FIELDS)))
    handoff = [
        "conv_id", "event_id", "turn_idx",
        line.cast("tinyint").alias("line"), "region_after", end.alias("end"),
    ]
    if lateness_ms is not None:
        # EventTimeTimeout needs the watermarked column at the operator
        handoff.append("ts")
    return (
        filtered.select(*handoff)
        .groupBy("conv_id", "event_id")
        .applyInPandasWithState(
            _make_assemble_fn(timeout_ms, lateness_ms),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            timeout_conf,
        )
    )
