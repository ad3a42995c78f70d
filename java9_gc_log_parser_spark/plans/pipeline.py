"""End-to-end pipeline composition (reference E1 lifecycle, SURVEY §3).

parse -> supported-types filter -> enrich -> route (3 sinks) -> assemble ->
aggregate. The parsed DataFrame is materialized once before fan-out so the
parse stage executes exactly once for all sinks (SURVEY §4: one-pass
fan-out — without it, Spark would re-run the scan+parse per sink action).

Two materialization strategies:

* ``persist=True`` — in-memory columnar cache (MEMORY_AND_DISK). Right for
  interactive/small inputs, but the cache's unified-memory dynamics
  (unroll, borrow, evict, spill) make large-input wall time depend on the
  JVM's memory-manager history, and at 10^12-turn scale the parsed table
  cannot live in cluster memory at all.
* ``materialize_table=`` — write the parsed DataFrame through the storage
  seam (parquet here, Iceberg on a real cluster) and re-read it for the
  fan-out. This is the at-scale design: the write is an embarrassingly
  parallel encode, and every sink then reads only the columns it needs
  (columnar pruning — e.g. the wide ``text`` column is read ONLY by the
  dead-letter sink), so the fan-out costs far less I/O than one full cache
  scan per sink. bench.py and perfbench's ``batch_full`` workload use this
  mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

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


def build(
    transcripts: DataFrame,
    persist: bool = True,
    materialize_table: TableRef | str | None = None,
) -> dict[str, DataFrame]:
    """Compose every stage; returns the named DataFrames (lazily planned).

    Keys: parsed, pause_events, tool_calls, unmatched, dead_letter (grammar
    unmatched + assembly errors unified), assembled, conv_state,
    conv_state_scan, bucket_turns, bucket_pauses, dur_histogram.

    ``materialize_table`` (a storage-seam TableRef or path) switches the
    fan-out from the in-memory cache to a storage-backed parsed table (see
    module docstring); it EAGERLY writes the parse output there, then the
    returned sinks read it column-pruned. Mutually exclusive intent with
    ``persist`` — when given, ``persist`` is ignored.
    """
    parsed = parse_lines(transcripts)
    groups = None
    if materialize_table is not None:
        spark = transcripts.sparkSession
        # The stored parsed table keeps raw `text` ONLY for dead-letter rows:
        # the reference retains the raw line solely in UnknownLine
        # (GcLineParser.scala:116-118), and the unmatched sink is the only
        # consumer of `text` downstream (route.py). Nulling it for matched
        # rows cuts the widest column's write+read bytes — at 10^12 turns
        # the parsed Iceberg table would otherwise duplicate the whole
        # transcript corpus.
        write_table(
            parsed.withColumn(
                "text",
                F.when(F.col("event_class") == "unmatched", F.col("text")),
            ),
            materialize_table,
        )
        parsed = read_table(spark, materialize_table)
        # materialize the assembly output too: six sinks (pause table,
        # dead letter, conv-state final/scan, bucket pauses, histogram)
        # otherwise each re-run the scan+filter+assembly shuffle — at
        # 10^12 turns the assembled groups are an Iceberg intermediate
        # written once (and ~100x smaller than the parsed table)
        gref = _sibling(materialize_table, "__groups")
        write_table(assemble_groups(supported_types_filter(parsed)), gref)
        groups = read_table(spark, gref)
    elif persist:
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)

    sinks = route(parsed)
    if groups is None:
        groups = assemble_groups(supported_types_filter(parsed))
    assembled = assembled_pauses_from_groups(groups)
    dead = assembly_dead_letters_from_groups(groups)

    # unified dead-letter sink: grammar-unmatched rows + assembly-error groups
    # (FIXTURES.md §3 unmatched sink definition)
    dead_letter = sinks["unmatched"].unionByName(
        dead.select(
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.col("error_message").alias("text"),
            F.col("error_code").alias("reason_code"),
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
        "bucket_turns": bucket_turn_counts(transcripts),
        "bucket_pauses": bucket_pause_stats(assembled),
        "dur_histogram": duration_histogram(assembled),
    }
