"""Per-micro-batch cumulative GcState snapshots + metrics (SURVEY §2.1 K2).

The reference pushes one cumulative ``GcState`` JSON per event over a
Server-Sent-Events socket with a heartbeat (``HttpFrontEnd.scala:24-37``).
The capability — *push incremental aggregate snapshots as data arrives* —
maps to Structured Streaming ``foreachBatch``: in the callback of the stream's
assembly fold (``assembler.assemble_stream``), each micro-batch of assembled
pause events folds into a running per-conversation state table, every batch
writes its state generation (the snapshot, the SSE "event") and commits a
metrics record (the "heartbeat": batch id, event-time high-water mark,
events, convs, wall seconds) to a JSONL feed, which is the fold's commit log
(``commit_log``).

The running state is a *mergeable partial aggregate*: alongside the GcState
counters it carries the two argmax keys (``_max_off`` for heap,
``_max_nr_off`` for generation sizes — Remark updates heap but not
generations, ``GcStateFlow.scala:28-29``), so state(prev) ⊕ state(batch) is
itself a groupBy — the same shape Spark uses for partial/final aggregation,
applied across micro-batches. After any prefix of batches the exposed state
equals ``operators.aggregate.conv_state_final`` over the same events
(asserted in tests).

Batch sizing note: micro-batches are bounded (maxFilesPerTrigger), so the
per-batch groupBy needs no salting; the *merge* groupBy touches one row per
conv per side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import commit_log
from ..operators.aggregate import COUNTERS, GEN_COLS
from ..operators.assemble import assembled_pauses_from_groups
from .assembler import assemble_stream, log_path

#: exposed snapshot schema == conv_state_final's schema
STATE_COLS = (
    ["conv_id"]
    + list(COUNTERS)
    + ["time_offset_ms", "heap_size", "heap_total"]
    + GEN_COLS
)
_MERGE_COLS = STATE_COLS + ["_max_nr_off"]


def batch_state(assembled_ok: DataFrame) -> DataFrame:
    """Mergeable per-conv partial state from one batch of ok pause events."""
    pt = F.col("pause_type")
    nr_key = F.when(pt != "Remark", F.col("offset_ms"))
    return assembled_ok.groupBy("conv_id").agg(
        *[
            F.sum((pt == t).cast("long")).alias(name)
            for name, t in COUNTERS.items()
        ],
        F.max("offset_ms").alias("time_offset_ms"),
        F.max_by("heap_after", "offset_ms").alias("heap_size"),
        F.max_by("heap_total", "offset_ms").alias("heap_total"),
        *[F.max_by(F.col(c), nr_key).alias(c) for c in GEN_COLS],
        F.max(nr_key).alias("_max_nr_off"),
    )


def merge_states(prev: DataFrame, batch: DataFrame) -> DataFrame:
    """state ⊕ state: counters add; heap follows max time_offset_ms;
    generation sizes follow max _max_nr_off (null-keyed rows never win)."""
    both = prev.select(*_MERGE_COLS).unionByName(batch.select(*_MERGE_COLS))
    return both.groupBy("conv_id").agg(
        *[F.sum(name).alias(name) for name in COUNTERS],
        F.max("time_offset_ms").alias("time_offset_ms"),
        F.max_by("heap_size", "time_offset_ms").alias("heap_size"),
        F.max_by("heap_total", "time_offset_ms").alias("heap_total"),
        *[F.max_by(F.col(c), F.col("_max_nr_off")).alias(c) for c in GEN_COLS],
        F.max("_max_nr_off").alias("_max_nr_off"),
    )


def _gen_dir(out_root: str, batch_id: int) -> str:
    return os.path.join(out_root, "state_gens", f"batch={batch_id}")


def current_state(spark: SparkSession, out_root: str) -> DataFrame | None:
    """The cumulative state as of the last applied batch (None before any)."""
    bid = commit_log.last_batch(log_path(out_root))
    if bid is None:
        return None
    return spark.read.parquet(_gen_dir(out_root, bid))


def final_state(spark: SparkSession, out_root: str) -> DataFrame:
    """The exposed cumulative state (merge internals dropped, nulls zeroed
    like ``GcState``'s zero-initialised generation sizes)."""
    df = current_state(spark, out_root)
    if df is None:
        raise FileNotFoundError(f"no applied state under {out_root}")
    return df.select(
        "conv_id",
        *COUNTERS,
        "time_offset_ms",
        "heap_size",
        "heap_total",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in GEN_COLS],
    )


def stream_conv_state(
    spark: SparkSession,
    source_path: str,
    input_schema,
    out_root: str,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Start the snapshot stream; returns the StreamingQuery.

    The ok groups of each trigger of ``assembler.assemble_stream`` fold into
    the state in the same ``foreachBatch`` callback. Layout under
    ``out_root`` (besides the fold's ``ckpt/`` and ``carry/``):
      state_gens/batch=N/    cumulative state generation after batch N: the
                             state as of batch N (the SSE "event" feed)
      metrics.jsonl          the commit log (``commit_log``): one heartbeat
                             record per applied batch (batch id, event-time
                             high-water mark, events, convs, wall seconds)
    """

    def emit(closed: DataFrame, batch_id: int, last: int | None) -> dict:
        ok = assembled_pauses_from_groups(closed)
        b = batch_state(ok)
        if last is not None:
            merged = merge_states(spark.read.parquet(_gen_dir(out_root, last)), b)
        else:
            merged = b
        gen = _gen_dir(out_root, batch_id)
        merged.coalesce(1).write.mode("overwrite").parquet(gen)
        return {"events": ok.count(), "convs": spark.read.parquet(gen).count()}

    return assemble_stream(
        spark, source_path, input_schema, out_root, emit,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )
