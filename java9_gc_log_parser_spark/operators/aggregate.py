"""Cumulative state + rollup aggregations (SURVEY §2.5 G1/G2/G3).

G1 ``conv_state_scan``: the reference's running fold ``GcStateFlow``
(``GcStateFlow.scala:13-37``) emits one cumulative GcState per event — a
prefix scan, not a grouped agg. Spark-first: a window over
``(conv_id ORDER BY offset_ms, event_id)`` with per-type running counters and
``last(..., ignorenulls)`` carry-forward. RemarkPause updates the heap but
*keeps previous generation sizes* (``GcStateFlow.scala:28-29``) — reproduced
by feeding nulls for Remark rows into the carry-forward.

G2 ``conv_state_final``: the final snapshot per conversation = grouped
counters + last sizes, built from the one GcState aggregate that the
snapshot stream (``streaming/state_stream.py``) shares. It is a
partial/merge/finalize triple: ``gc_state_rows`` turns each assembled pause
into a one-event partial, ``gc_state_merge`` merges partials per
``conv_id`` (the counters add, the heap and the generation sizes follow
their newest offset) and ``gc_state_finalize`` exposes the GcState. The
batch final state runs the same three calls as each stream generation.
Every merge aggregate is algebraic (``sum``, ``max``, ``max_by``), so
Spark's map-side partial aggregation already bounds the hot
conversation's work: one shuffle on ``conv_id``, no salt.

G3 rollups (target-only): per-time-bucket turn counts, pause-duration
histograms, exact p99 latency.

The ``cleanups`` counter exists for parity with GcState
(``GcStateModel.scala:8-17``) but can never increment through the full
pipeline because the supported-types filter drops Cleanup pauses
(quirk, ``GcLogStream.scala:21``); feeding assembled Cleanup events directly
does increment it (tested, mirroring ``GcStateFlowTest.scala:86-100``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.grammar import sql_str

#: GcState counter -> pause type (GcStateFlow.scala:18-29)
COUNTERS = {
    "full_gcs": "Full",
    "young_gcs": "Young",
    "initial_marks": "InitialMark",
    "remarks": "Remark",
    "mixed": "Mixed",
    "cleanups": "Cleanup",
}

GEN_COLS = ["eden_after", "survivor_after", "old_after", "humongous_after"]


def _unless_remark(value: str) -> str:
    """Remark updates the heap but keeps the generation sizes."""
    return f"CASE WHEN pause_type != 'Remark' THEN {value} END"


_RUNNING = ("OVER (PARTITION BY conv_id ORDER BY offset_ms, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
_SCAN = [
    "conv_id",
    "event_id",
    "offset_ms AS time_offset_ms",
    *[f"sum(CAST(pause_type = '{t}' AS BIGINT)) {_RUNNING} AS {name}"
      for name, t in COUNTERS.items()],
    "heap_after AS heap_size",
    "heap_total",
    *[f"coalesce(last({_unless_remark(c)}, true) {_RUNNING}, 0) AS {c}"
      for c in GEN_COLS],
]
#: one assembled pause as a one-event partial GcState
_ROW = [
    *[f"CAST(pause_type = '{t}' AS BIGINT) AS {name}"
      for name, t in COUNTERS.items()],
    "offset_ms AS time_offset_ms",
    "heap_after AS heap_size",
    "heap_total",
    *GEN_COLS,
    f"{_unless_remark('offset_ms')} AS _max_nr_off",
]
_MERGE = [
    *[f"sum({name}) AS {name}" for name in COUNTERS],
    "max(time_offset_ms) AS time_offset_ms",
    "max_by(heap_size, time_offset_ms) AS heap_size",
    "max_by(heap_total, time_offset_ms) AS heap_total",
    *[f"max_by({c}, _max_nr_off) AS {c}" for c in GEN_COLS],
    "max(_max_nr_off) AS _max_nr_off",
]
_FINAL = [
    "conv_id", *COUNTERS, "time_offset_ms", "heap_size", "heap_total",
    *[f"coalesce({c}, 0) AS {c}" for c in GEN_COLS],
]


def conv_state_scan(assembled: DataFrame) -> DataFrame:
    """G1: one cumulative GcState row per assembled event (prefix scan)."""
    return assembled.selectExpr(*_SCAN)


def gc_state_rows(assembled: DataFrame) -> DataFrame:
    """Each assembled pause as a one-event partial GcState keyed by
    ``conv_id``: its counter, its offset as ``time_offset_ms``, its heap, its
    generation sizes and, unless it is a Remark, its offset again as
    ``_max_nr_off`` — Remark updates the heap but keeps the generation sizes
    (``GcStateFlow.scala:28-29``)."""
    return assembled.selectExpr("conv_id", *_ROW)


def gc_state_merge(partials: DataFrame) -> DataFrame:
    """partial ⊕ partial per ``conv_id``: counters add; heap follows max
    ``time_offset_ms``; generation sizes follow max ``_max_nr_off`` (a
    Remark-only partial's null key never wins)."""
    return partials.groupBy("conv_id").agg(*map(F.expr, _MERGE))


def gc_state_finalize(state: DataFrame) -> DataFrame:
    """The exposed GcState: ``_max_nr_off`` dropped, generation sizes
    zero-filled like ``GcState``'s zero-initialised ones."""
    return state.selectExpr(*_FINAL)


def conv_state_final(assembled: DataFrame) -> DataFrame:
    """G2: final GcState per conversation, finalize ∘ merge ∘ rows."""
    return gc_state_finalize(gc_state_merge(gc_state_rows(assembled)))


def conv_state_json(conv_state: DataFrame) -> DataFrame:
    """GcState JSON serialization parity (``GcStateJson.scala:7-12``): the
    reference pushes each cumulative GcState over SSE as spray-json of the
    case classes (``GcStateModel.scala:8-27``), whose field names and nesting
    this struct mirrors exactly — {"timeOffset":{"millis":..},counters..,
    "heapSize":{"size","total"},"generationSizes":{"eden","survivor","old",
    "humongous"}}. ``to_json`` runs JVM-side (codegen, no Python)."""
    st = F.struct(
        F.struct(
            F.col("time_offset_ms").cast("long").alias("millis")
        ).alias("timeOffset"),
        F.col("full_gcs").alias("fullGcs"),
        F.col("young_gcs").alias("youngGcs"),
        F.col("initial_marks").alias("initialMarks"),
        F.col("remarks").alias("remarks"),
        F.col("mixed").alias("mixed"),
        F.col("cleanups").alias("cleanups"),
        F.struct(
            F.col("heap_size").cast("long").alias("size"),
            F.col("heap_total").cast("long").alias("total"),
        ).alias("heapSize"),
        F.struct(
            F.col("eden_after").cast("long").alias("eden"),
            F.col("survivor_after").cast("long").alias("survivor"),
            F.col("old_after").cast("long").alias("old"),
            F.col("humongous_after").cast("long").alias("humongous"),
        ).alias("generationSizes"),
    )
    return conv_state.select("conv_id", F.to_json(st).alias("state_json"))


def bucket_turn_counts(transcripts: DataFrame, bucket: str = "hour") -> DataFrame:
    """G3a: turns per time bucket (map-side combinable; AQE handles skew)."""
    return transcripts.groupBy(
        F.expr(f"date_trunc({sql_str(bucket)}, ts) AS bucket")
    ).agg(F.expr("count(1) AS turn_count"))


def bucket_pause_stats(assembled: DataFrame, bucket: str = "hour") -> DataFrame:
    """G3b: per-bucket pause count, mean and exact p99 duration.

    Exactness contract: durations carry exactly 3 decimals, so the mean
    is SUM(exact milli BIGINT) / (1000 * count) — a deterministic double
    from identical integers in both engines, with NO final ROUND
    (AVG(double) sums in partition order, and F.round's shortest-decimal
    tie handling diverged from DuckDB's binary ROUND at sf0.1). The p99
    is the exact interpolating percentile over the SAME milli integers
    (the q73 bit-equality contract with quantile_cont), divided once at
    the boundary, also un-rounded.
    """
    return (
        assembled.selectExpr(
            "*", "CAST(round(duration_ms * 1000) AS BIGINT) AS _milli"
        )
        .groupBy(F.expr(f"date_trunc({sql_str(bucket)}, ts) AS bucket"))
        .agg(
            F.expr("count(1) AS pause_count"),
            F.expr("CAST(sum(_milli) AS DOUBLE) "
                   "/ CAST(count(1) * 1000 AS DOUBLE) AS mean_ms"),
            F.expr("percentile(_milli, 0.99D, 1) / 1000.0D AS p99_ms"),
        )
    )


def sessionize(transcripts: DataFrame, gap_s: int = 3600) -> DataFrame:
    """Gap-based sessionization: split each conversation into sessions
    wherever the inter-turn idle time exceeds ``gap_s`` seconds, and roll up
    one row per session.

    The classic log-pipeline operator the reference's single-file model never
    needed (one JVM = one "session"), but which any multi-tenant transcript
    store does. Two windows over the same ``(conv_id ORDER BY turn_idx)``
    partitioning — lag to mark boundaries, running sum to number sessions —
    so Spark plans ONE shuffle + ONE sort and both windows reuse it; the
    final rollup groups by (conv_id, session_idx), a superset key of the
    window partition, so AQE keeps it co-partitioned. Hot conversations skew
    a window partition, but per-row window state is O(1) here and the
    downstream agg is algebraic (map-side combinable).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap > gap_s, F.lit(1)).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = transcripts.select(
        "conv_id",
        "ts",
        F.sum(is_new).over(wrun).cast("int").alias("session_idx"),
    )
    return sess.groupBy("conv_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_s"),
    )


def duration_histogram(assembled: DataFrame, bin_ms: float = 10.0) -> DataFrame:
    """G3c: pause-duration histogram (fixed-width bins)."""
    return assembled.groupBy(
        F.expr(f"CAST(floor(duration_ms / {float(bin_ms)!r}D) AS BIGINT) "
               "AS dur_bucket")
    ).agg(F.expr("count(1) AS pause_count"))
