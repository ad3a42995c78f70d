"""Supported-types filter + event-class fan-out routing (SURVEY §2.3).

F1: the reference keeps only PauseStart/PauseEnd whose type is in
{Full, Young, InitialMark, Remark, Mixed} plus all NrRegions lines
(``GcLogStream.scala:21-27``). **Cleanup is deliberately absent** — `Pause
Cleanup` lines are parsed but silently dropped, so the `cleanups` counter can
never increment through the full pipeline (quirk parity; tested).

F2: the implicit dead-letter of the reference becomes explicit fan-out: one
filtered projection per sink from a single materialized parsed DataFrame, so
the parse stage executes once for all sinks (SURVEY §4 "one-pass fan-out").
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.grammar import SUPPORTED_PAUSE_TYPES, sql_str
from .enrich import enrich

SINKS = ("pause_events", "tool_calls", "unmatched")

_SUPPORTED = (
    "event_class = 'nr_regions' OR (event_class IN ('pause_start', 'pause_end')"
    f" AND pause_type IN ({', '.join(map(sql_str, SUPPORTED_PAUSE_TYPES))}))"
)


def supported_types_filter(parsed: DataFrame) -> DataFrame:
    """Replicates GcLogStream.supportedTypesFilter (Cleanup excluded)."""
    return parsed.filter(_SUPPORTED)


def route(parsed: DataFrame) -> dict[str, DataFrame]:
    """Fan out one parsed DataFrame into the three sink DataFrames.

    Caller is responsible for materializing `parsed` before writing more
    than one sink (plans/pipeline.py does; verified by explain in tests).
    """
    pause_events = enrich(supported_types_filter(parsed)).selectExpr(
        "conv_id",
        "turn_idx",
        "event_id",
        "event_class",
        "pause_type",
        "reason",
        "offset_ms",
        "heap_before",
        "heap_after",
        "heap_total",
        "duration_ms",
        "region",
        "region_before",
        "region_after",
        "role_group",
        "tool_family",
        "ts",
    )

    tool_calls = enrich(
        parsed.filter("tool IS NOT NULL"), with_role=False
    ).selectExpr("conv_id", "turn_idx", "tool", "tool_family",
                 "is_side_effecting", "ts")

    unmatched = parsed.filter("event_class = 'unmatched'").selectExpr(
        "conv_id", "turn_idx", "text", "reason_code", "ts"
    )

    return {
        "pause_events": pause_events,
        "tool_calls": tool_calls,
        "unmatched": unmatched,
    }
