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

The running state is the mergeable partial of the one GcState aggregate in
``operators/aggregate.py`` (``gc_state_rows``, ``gc_state_merge``,
``gc_state_finalize``), so each generation is
``gc_state_merge(prev ∪ gc_state_rows(batch))``: one shuffle merges the
previous generation with the batch's events, each a one-event partial — the
same shape Spark uses for partial/final aggregation, applied across
micro-batches — and ``final_state`` finalizes the last one. After any
prefix of batches the exposed state equals
``operators.aggregate.conv_state_final`` over the same events (asserted in
tests).

The heartbeat's ``convs`` and ``events`` come from one Observation on the
merged generation, so they ride on the generation write and cost no extra
action: ``convs`` is its row count, and ``events`` is the growth of its
counters' total over the committed heartbeats (each ok event bumps exactly
one counter).

Batch sizing note: micro-batches are bounded (maxFilesPerTrigger); the
merge touches one row per conv of the previous generation and one per ok
event of the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import commit_log
from ..operators.aggregate import (
    COUNTERS,
    gc_state_finalize,
    gc_state_merge,
    gc_state_rows,
)
from ..operators.assemble import assembled_pauses_from_groups
from .assembler import assemble_stream, log_path


def _gen_dir(out_root: str, batch_id: int) -> str:
    return os.path.join(out_root, "state_gens", f"batch={batch_id}")


def final_state(spark: SparkSession, out_root: str) -> DataFrame:
    """The exposed cumulative state as of the last applied batch."""
    bid = commit_log.last_batch(log_path(out_root))
    if bid is None:
        raise FileNotFoundError(f"no applied state under {out_root}")
    return gc_state_finalize(spark.read.parquet(_gen_dir(out_root, bid)))


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

    log = log_path(out_root)
    row_events = sum(F.col(name) for name in COUNTERS)

    def emit(closed: DataFrame, batch_id: int, last: int | None) -> dict:
        part = gc_state_rows(assembled_pauses_from_groups(closed))
        if last is not None:
            part = part.unionByName(spark.read.schema(part.schema).parquet(
                _gen_dir(out_root, last)))
        # observed on the merged generation, above its last shuffle: an
        # observation of the batch's events below it is lost when a trigger
        # closes no group, because AQE replaces the empty stage that held it
        obs = Observation()
        gc_state_merge(part).observe(
            obs,
            F.count(F.lit(1)).alias("convs"),
            F.coalesce(F.sum(row_events), F.lit(0)).alias("events"),
        ).coalesce(1).write.mode("overwrite").parquet(
            _gen_dir(out_root, batch_id))
        # every ok event bumps one counter, so the batch's events are the
        # growth of the counters' total over the committed heartbeats
        seen = sum(r["events"] for r in commit_log.records(log))
        return {"events": obs.get["events"] - seen, "convs": obs.get["convs"]}

    return assemble_stream(
        spark, source_path, input_schema, out_root, emit,
        max_files_per_trigger=max_files_per_trigger,
        available_now=available_now,
    )
