"""End-to-end pipeline composition (reference E1 lifecycle, SURVEY §3).

parse -> supported-types filter -> enrich -> route (3 sinks) -> assemble ->
aggregate. The parse and the assembly groups are each materialized once
before fan-out, so neither stage re-runs per sink (SURVEY §4: one-pass
fan-out — without it, Spark would re-run the scan+parse per sink action).

Both are staged through the storage seam (parquet here, Iceberg on a real
cluster): ``build`` writes the parsed table and its ``__groups`` sibling,
then every sink reads them back. The writes are embarrassingly parallel
encodes, the tables need no cluster memory at 10^12 turns, and every sink
reads only the columns it needs (columnar pruning — e.g. the wide ``text``
column is read ONLY by the dead-letter sink).
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parse import parse_lines
from ..storage import TableRef, read_table, write_table
from ..operators.assemble import (
    assemble_groups,
    assembled_pauses_from_groups,
    assembly_dead_letters_from_groups,
)
from ..operators.aggregate import (
    bucket_pause_stats,
    bucket_turn_counts,
    conv_state_final,
    conv_state_scan,
    duration_histogram,
)
from ..operators.route import route, supported_types_filter


def _sibling(table: TableRef | str, suffix: str) -> TableRef | str:
    """Derive a sibling storage location (e.g. the assembled-groups table)."""
    if isinstance(table, TableRef):
        return TableRef(table.location.rstrip("/") + suffix, table.format)
    return table.rstrip("/") + suffix


def _stage(df: DataFrame, table: TableRef | str) -> DataFrame:
    """Write ``df`` to ``table`` and read it back with ``df``'s schema, so
    the read runs no schema-inference job."""
    write_table(df, table)
    ref = table if isinstance(table, TableRef) else TableRef(table)
    return read_table(df.sparkSession, replace(ref, schema=df.schema))


def build(
    transcripts: DataFrame, materialize_table: TableRef | str
) -> dict[str, DataFrame]:
    """Compose every stage; returns the named DataFrames.

    Keys: parsed, pause_events, tool_calls, unmatched, dead_letter (grammar
    unmatched + assembly errors unified), assembled, conv_state,
    conv_state_scan, bucket_turns, bucket_pauses, dur_histogram.

    EAGERLY writes the parse output to ``materialize_table`` (a storage-seam
    TableRef or path) and the assembly groups to its ``__groups`` sibling,
    overwriting both; the returned sinks are lazy plans over the two staged
    tables.
    """
    parsed = parse_lines(transcripts)
    # The stored parsed table keeps raw `text` ONLY for dead-letter rows:
    # the reference retains the raw line solely in UnknownLine
    # (GcLineParser.scala:116-118), and the unmatched sink is the only
    # consumer of `text` downstream (route.py). Nulling it for matched
    # rows cuts the widest column's write+read bytes — at 10^12 turns
    # the parsed Iceberg table would otherwise duplicate the whole
    # transcript corpus.
    parsed = _stage(
        parsed.withColumn("text", F.expr(
            "CASE WHEN event_class = 'unmatched' THEN text END")),
        materialize_table,
    )
    # materialize the assembly output too: six sinks (pause table,
    # dead letter, conv-state final/scan, bucket pauses, histogram)
    # otherwise each re-run the scan+filter+assembly shuffle — at
    # 10^12 turns the assembled groups are an Iceberg intermediate
    # written once (and ~100x smaller than the parsed table)
    groups = _stage(assemble_groups(supported_types_filter(parsed)),
                    _sibling(materialize_table, "__groups"))

    sinks = route(parsed)
    assembled = assembled_pauses_from_groups(groups)
    dead = assembly_dead_letters_from_groups(groups)

    # unified dead-letter sink: grammar-unmatched rows + assembly-error groups
    # (FIXTURES.md §3 unmatched sink definition)
    dead_letter = sinks["unmatched"].unionByName(
        dead.selectExpr(
            "conv_id",
            "CAST(NULL AS INT) AS turn_idx",
            "error_message AS text",
            "error_code AS reason_code",
            "ts",
        )
    )

    return {
        "parsed": parsed,
        "pause_events": sinks["pause_events"],
        "tool_calls": sinks["tool_calls"],
        "unmatched": sinks["unmatched"],
        "assembly_errors": dead,
        "dead_letter": dead_letter,
        "assembled": assembled,
        "conv_state": conv_state_final(assembled),
        "conv_state_scan": conv_state_scan(assembled),
        "bucket_turns": bucket_turn_counts(parsed),
        "bucket_pauses": bucket_pause_stats(assembled),
        "dur_histogram": duration_histogram(assembled),
    }
