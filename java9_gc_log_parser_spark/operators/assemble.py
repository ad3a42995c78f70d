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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.grammar import (
    ERR_END_BEFORE_START,
    ERR_MISSING_REGIONS,
    PAUSE_TYPES,
    REASONS,
    REGIONS,
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


def _last(value: Column, cond: Column) -> Column:
    """Last-write-wins under ``cond``, ordered by turn_idx (null keys ignored)."""
    return F.max_by(value, F.when(cond, F.col("turn_idx")))


#: closed vocabularies dictionary-encoded for the hash-aggregable assembly
PAUSE_TYPE_CODES = {t: i for i, t in enumerate(sorted(set(PAUSE_TYPES.values())))}
REASON_CODES = {r: i for i, r in enumerate(sorted(set(REASONS.values())))}


def _encode(col: Column, codes: dict[str, int]) -> Column:
    out = F.lit(None).cast("int")
    for token, code in codes.items():
        out = F.when(col == token, code).otherwise(out)
    return out


def _decode(col: Column, codes: dict[str, int]) -> Column:
    out = F.lit(None).cast("string")
    for token, code in codes.items():
        out = F.when(col == code, token).otherwise(out)
    return out


def assemble_groups(filtered: DataFrame) -> DataFrame:
    """One row per (conv_id, event_id) group with validity verdict attached.

    Input: the supported-types-filtered parse output. Lines without an
    eventId map to the reference's NotInteresting marker
    (``CollectPauseLines.scala:21-22``) and take no part in assembly.
    """
    ec = F.col("event_class")
    is_start = ec == "pause_start"
    is_end = ec == "pause_end"

    region_aggs = {}
    for r in REGIONS:
        cond = (ec == "nr_regions") & (F.col("region") == r)
        region_aggs[f"{r.lower()}_after"] = _last(F.col("region_after"), cond).alias(
            f"{r.lower()}_after"
        )
        region_aggs[f"has_{r.lower()}"] = F.max(cond.cast("boolean")).alias(
            f"has_{r.lower()}"
        )

    g = (
        filtered.filter(F.col("event_id").isNotNull())
        .withColumn("_pt_code", _encode(F.col("pause_type"), PAUSE_TYPE_CODES))
        .withColumn("_rs_code", _encode(F.col("reason"), REASON_CODES))
        .groupBy("conv_id", "event_id")
        .agg(
            F.max(is_start).alias("has_start"),
            F.max(is_end).alias("has_end"),
            _last(F.col("_pt_code"), is_end).alias("_pt_code"),
            _last(F.col("_rs_code"), is_end).alias("_rs_code"),
            _last(F.col("offset_ms"), is_end).alias("offset_ms"),
            _last(F.col("duration_ms"), is_end).alias("duration_ms"),
            _last(F.col("heap_before"), is_end).alias("heap_before"),
            _last(F.col("heap_after"), is_end).alias("heap_after"),
            _last(F.col("heap_total"), is_end).alias("heap_total"),
            _last(F.col("ts"), is_end).alias("ts"),
            *region_aggs.values(),
        )
        .withColumn("pause_type", _decode(F.col("_pt_code"), PAUSE_TYPE_CODES))
        .withColumn("reason", _decode(F.col("_rs_code"), REASON_CODES))
        .drop("_pt_code", "_rs_code")
    )

    is_remark = F.col("pause_type") == "Remark"
    all_regions = F.col("has_eden") & F.col("has_survivor") & F.col("has_old") & F.col(
        "has_humongous"
    )
    verdict = (
        F.when(~F.col("has_end"), "dangling")  # silent discard (stream-end state)
        .when(~F.col("has_start"), "end_before_start")
        .when(~is_remark & ~all_regions, "missing_regions")
        .otherwise("ok")
    )
    return g.withColumn("verdict", verdict)


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
    g = groups.filter(F.col("verdict") == "ok")
    is_remark = F.col("pause_type") == "Remark"
    for r in REGIONS:
        c = f"{r.lower()}_after"
        g = g.withColumn(c, F.when(~is_remark, F.col(c)))
    return g.select(*ASSEMBLED_COLUMNS)


def assembly_dead_letters_from_groups(groups: DataFrame) -> DataFrame:
    """Invalid groups of an ``assemble_groups`` output -> dead-letter rows
    with reference-parity messages (``CollectPauseLines.scala:31-32,42-43``)."""
    g = groups.filter(
        F.col("verdict").isin("end_before_start", "missing_regions")
    )
    present = F.concat_ws(
        ",",
        *[
            F.when(F.col(f"has_{r.lower()}"), F.lit(r))
            for r in REGIONS
        ],
    )
    msg = F.when(
        F.col("verdict") == "end_before_start",
        F.format_string(
            ERR_END_BEFORE_START.format(event_id="%s"),
            F.col("event_id").cast("string"),
        ),
    ).otherwise(
        F.format_string(
            ERR_MISSING_REGIONS.format(regions="%s", event_id="%s"),
            present,
            F.col("event_id").cast("string"),
        )
    )
    return g.select(
        "conv_id",
        "event_id",
        F.col("verdict").alias("error_code"),
        msg.alias("error_message"),
        "ts",
    )
