"""Stateful multi-line event assembly as a grouped aggregation (SURVEY §2.4 A1).

The reference stitches the lines of one GC event with a single-threaded
mutable fold (``CollectPauseLines.scala:13-70``): buffer PauseStart,
accumulate NrRegions (last write per region wins), emit on PauseEnd, throwing
on (a) end-before-start and (b) non-Remark end with missing regions.

Spark-first re-expression: a hash aggregation keyed by ``(conv_id, event_id)``
— strictly stronger than the reference's global mutable state (which relies on
strict file order and corrupts on interleaved events; keying by the GC(n)
correlation id makes assembly order-free and shuffle-parallel; documented
divergence, SURVEY §7). The two reference exceptions become *validity
predicates* that route bad groups to the dead-letter sink with byte-identical
error messages instead of fail-stopping the job.

Per-field "last write wins" is reproduced with ``max_by(value, turn_idx)``
under a class/region predicate, so duplicate lines resolve exactly like the
reference's mutable overwrite under stable (conv_id, turn_idx) order.

Groups that never see a PauseEnd are dangling state at stream end: the
reference silently discards them; so do we (tested).

Scale note: ``max_by`` over a *string* column has an immutable aggregation
buffer, which knocks the entire groupBy off HashAggregate onto
SortAggregate (a full per-partition sort of the biggest table in the
pipeline). The closed ``pause_type``/``reason`` vocabularies are therefore
dictionary-encoded to int codes before the agg and decoded after, keeping
every buffer field primitive so Catalyst plans a hash aggregation
(asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.grammar import (
    ERR_END_BEFORE_START,
    ERR_MISSING_REGIONS,
    PAUSE_TYPES,
    REASONS,
    REGIONS,
    sql_str,
)

ASSEMBLED_COLUMNS = [
    "conv_id",
    "event_id",
    "pause_type",
    "reason",
    "offset_ms",
    "duration_ms",
    "heap_before",
    "heap_after",
    "heap_total",
    "eden_after",
    "survivor_after",
    "old_after",
    "humongous_after",
    "ts",
]

#: the parse columns ``assemble_groups`` reads
LINE_COLUMNS = [
    "conv_id", "event_id", "turn_idx", "ts", "event_class", "region",
    "region_after", "pause_type", "reason", "offset_ms", "duration_ms",
    "heap_before", "heap_after", "heap_total",
]


def _last(value: str, cond: str) -> str:
    """Last-write-wins under ``cond``, ordered by turn_idx (null keys ignored)."""
    return f"max_by({value}, CASE WHEN {cond} THEN turn_idx END)"


#: closed vocabularies dictionary-encoded for the hash-aggregable assembly
PAUSE_TYPE_CODES = {t: i for i, t in enumerate(sorted(set(PAUSE_TYPES.values())))}
REASON_CODES = {r: i for i, r in enumerate(sorted(set(REASONS.values())))}


def _encode(col: str, codes: dict[str, int]) -> str:
    whens = " ".join(f"WHEN {col} = {sql_str(t)} THEN {c}" for t, c in codes.items())
    return f"CASE {whens} END"


def _decode(col: str, codes: dict[str, int]) -> str:
    whens = " ".join(f"WHEN {col} = {c} THEN {sql_str(t)}" for t, c in codes.items())
    return f"CASE {whens} END"


_IS_END = "event_class = 'pause_end'"


def _region_line(r: str) -> str:
    return f"(event_class = 'nr_regions' AND region = {sql_str(r)})"


#: the per-group aggregates, in output order
_AGGS = {
    "has_start": "max(event_class = 'pause_start')",
    "has_end": f"max({_IS_END})",
    "_pt_code": _last("_pt_code", _IS_END),
    "_rs_code": _last("_rs_code", _IS_END),
    **{c: _last(c, _IS_END) for c in (
        "offset_ms", "duration_ms", "heap_before", "heap_after", "heap_total",
        "ts")},
    **{name: sql for r in REGIONS for name, sql in (
        (f"{r.lower()}_after", _last("region_after", _region_line(r))),
        (f"has_{r.lower()}", f"max(CAST({_region_line(r)} AS BOOLEAN))"),
    )},
}

_DECODED = [
    "conv_id", "event_id", *(c for c in _AGGS if c not in ("_pt_code", "_rs_code")),
    f"{_decode('_pt_code', PAUSE_TYPE_CODES)} AS pause_type",
    f"{_decode('_rs_code', REASON_CODES)} AS reason",
]
_VERDICT = (
    "CASE WHEN NOT has_end THEN 'dangling'"  # silent discard (stream-end state)
    " WHEN NOT has_start THEN 'end_before_start'"
    " WHEN NOT (pause_type = 'Remark') AND NOT ("
    + " AND ".join(f"has_{r.lower()}" for r in REGIONS)
    + ") THEN 'missing_regions'"
    " ELSE 'ok' END"
)
#: RemarkPause carries no generation sizes: its region columns are nulled
_PAUSE_COLUMNS = [
    f"CASE WHEN NOT (pause_type = 'Remark') THEN {c} END AS {c}"
    if c in {f"{r.lower()}_after" for r in REGIONS} else c
    for c in ASSEMBLED_COLUMNS
]
_PRESENT = "concat_ws(',', " + ", ".join(
    f"CASE WHEN has_{r.lower()} THEN {sql_str(r)} END" for r in REGIONS
) + ")"
_MESSAGE = (
    "CASE WHEN verdict = 'end_before_start' THEN format_string("
    f"{sql_str(ERR_END_BEFORE_START.format(event_id='%s'))}, "
    "CAST(event_id AS STRING)) ELSE format_string("
    f"{sql_str(ERR_MISSING_REGIONS.format(regions='%s', event_id='%s'))}, "
    f"{_PRESENT}, CAST(event_id AS STRING)) END"
)
_DEAD_LETTER_COLUMNS = [
    "conv_id", "event_id", "verdict AS error_code",
    f"{_MESSAGE} AS error_message", "ts",
]


def assemble_groups(filtered: DataFrame) -> DataFrame:
    """One row per (conv_id, event_id) group with validity verdict attached.

    Input: the supported-types-filtered parse output. Lines without an
    eventId map to the reference's NotInteresting marker
    (``CollectPauseLines.scala:21-22``) and take no part in assembly.
    """
    return (
        filtered.filter("event_id IS NOT NULL")
        .selectExpr(
            "*",
            f"{_encode('pause_type', PAUSE_TYPE_CODES)} AS _pt_code",
            f"{_encode('reason', REASON_CODES)} AS _rs_code",
        )
        .groupBy("conv_id", "event_id")
        .agg(*[F.expr(f"{sql} AS {name}") for name, sql in _AGGS.items()])
        .selectExpr(*_DECODED)
        .selectExpr("*", f"{_VERDICT} AS verdict")
    )


def assembled_pauses_from_groups(groups: DataFrame) -> DataFrame:
    """The Pause/RemarkPause event table (reference L2 layer) from an
    ``assemble_groups`` output.

    RemarkPause carries no generation sizes (``CollectPauseLines.scala:34-40``)
    -> region columns are nulled even if region lines appeared in the group.

    The split lets the pipeline compute the assembly shuffle ONCE, persist it
    through the storage seam, and derive both the pause table and the
    dead-letter table (plus every downstream rollup) from the materialized
    groups — at 10^12-turn scale the assembly output is an Iceberg
    intermediate, never recomputed per rollup.
    """
    return groups.filter("verdict = 'ok'").selectExpr(*_PAUSE_COLUMNS)


def assembly_dead_letters_from_groups(groups: DataFrame) -> DataFrame:
    """Invalid groups of an ``assemble_groups`` output -> dead-letter rows
    with reference-parity messages (``CollectPauseLines.scala:31-32,42-43``)."""
    return groups.filter(
        "verdict IN ('end_before_start', 'missing_regions')"
    ).selectExpr(*_DEAD_LETTER_COLUMNS)
