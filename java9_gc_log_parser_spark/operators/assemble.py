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

The assembly is a mergeable partial aggregate, like the GcState aggregate in
``operators/aggregate.py``: ``assemble_groups = assembly_finalize ∘
assembly_merge ∘ assembly_rows``.

* ``assembly_rows``: each line as a one-line partial group. Every
  last-write-wins value sits next to its ``turn_idx`` key (``_end_turn`` for
  the PauseEnd fields, ``_<region>_turn`` per region; null where the line
  does not write it), beside the ``has_*`` flags and the line's event time
  as the group's newest (``_newest_ms``).
* ``assembly_merge``: partial ⊕ partial per ``(conv_id, event_id)``: ``max``
  of the flags and keys, ``max_by(value, key)`` for the values. It is
  associative, so merging a group's partials in any split gives the group.
* ``assembly_finalize``: decodes, attaches the verdict and drops the keys.

The stream (``streaming/assembler.py``) keeps each open group as its merged
partial row across triggers. In the batch plan, Catalyst prunes the key and
``_newest_ms`` aggregates that the finalize drops, so the assembly stays one
18-function hash aggregation.

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


def _key(cond: str) -> str:
    """The line's last-write-wins key under ``cond`` (null: no write)."""
    return f"CASE WHEN {cond} THEN turn_idx END"


#: the values the PauseEnd line writes, keyed by ``_end_turn``
_END_VALUES = ["_pt_code", "_rs_code", "offset_ms", "duration_ms",
               "heap_before", "heap_after", "heap_total", "ts"]

#: one line as a one-line partial group
_ROW = [
    "conv_id", "event_id",
    "event_class = 'pause_start' AS has_start",
    f"{_IS_END} AS has_end",
    f"{_key(_IS_END)} AS _end_turn",
    f"{_encode('pause_type', PAUSE_TYPE_CODES)} AS _pt_code",
    f"{_encode('reason', REASON_CODES)} AS _rs_code",
    *_END_VALUES[2:],
    *(c for r in REGIONS for c in (
        f"region_after AS {r.lower()}_after",
        f"{_key(_region_line(r))} AS _{r.lower()}_turn",
        f"CAST({_region_line(r)} AS BOOLEAN) AS has_{r.lower()}",
    )),
    "unix_millis(CAST(ts AS TIMESTAMP)) AS _newest_ms",
]

#: partial ⊕ partial, in the partial's column order
_MERGE = {
    "has_start": "max(has_start)",
    "has_end": "max(has_end)",
    "_end_turn": "max(_end_turn)",
    **{v: f"max_by({v}, _end_turn)" for v in _END_VALUES},
    **{name: sql for r in (r.lower() for r in REGIONS) for name, sql in (
        (f"{r}_after", f"max_by({r}_after, _{r}_turn)"),
        (f"_{r}_turn", f"max(_{r}_turn)"),
        (f"has_{r}", f"max(has_{r})"),
    )},
    "_newest_ms": "max(_newest_ms)",
}

_VERDICT = (
    "CASE WHEN NOT has_end THEN 'dangling'"  # silent discard (stream-end state)
    " WHEN NOT has_start THEN 'end_before_start'"
    f" WHEN NOT (_pt_code = {PAUSE_TYPE_CODES['Remark']}) AND NOT ("
    + " AND ".join(f"has_{r.lower()}" for r in REGIONS)
    + ") THEN 'missing_regions'"
    " ELSE 'ok' END"
)
_FINAL = [
    "conv_id", "event_id", *(c for c in _MERGE if not c.startswith("_")),
    f"{_decode('_pt_code', PAUSE_TYPE_CODES)} AS pause_type",
    f"{_decode('_rs_code', REASON_CODES)} AS reason",
    f"{_VERDICT} AS verdict",
]
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


def assembly_rows(filtered: DataFrame) -> DataFrame:
    """Each line as a one-line partial group (see the module docstring).

    Input: the supported-types-filtered parse output. Lines without an
    eventId map to the reference's NotInteresting marker
    (``CollectPauseLines.scala:21-22``) and take no part in assembly.
    """
    return filtered.filter("event_id IS NOT NULL").selectExpr(*_ROW)


def assembly_merge(partials: DataFrame) -> DataFrame:
    """One partial row per ``(conv_id, event_id)``: flags and keys by
    ``max``, each value by ``max_by`` of its key (a null key never wins), so
    the higher ``turn_idx`` wins whichever partial carried it."""
    return partials.groupBy("conv_id", "event_id").agg(
        *[F.expr(f"{sql} AS {name}") for name, sql in _MERGE.items()]
    )


def assembly_verdict(merged: DataFrame) -> DataFrame:
    """``merged`` with each group's ``verdict`` attached; its partial
    columns are kept."""
    return merged.selectExpr("*", f"{_VERDICT} AS verdict")


def assembly_finalize(merged: DataFrame) -> DataFrame:
    """Merged partials -> ``assemble_groups``' shape: codes decoded, verdict
    attached, keys and ``_newest_ms`` dropped."""
    return merged.selectExpr(*_FINAL)


def assemble_groups(filtered: DataFrame) -> DataFrame:
    """One row per (conv_id, event_id) group with validity verdict attached:
    ``assembly_finalize(assembly_merge(assembly_rows(filtered)))``."""
    return assembly_finalize(assembly_merge(assembly_rows(filtered)))


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
