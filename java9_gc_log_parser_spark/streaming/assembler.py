"""Streaming assembly: the batch assembler folded over triggers (SURVEY §2.9).

The reference's live mode tails a file every second
(``GcLogStream.scala:45-51``) through an order-dependent assembler; a
distributed stream cannot assume order, so the lines of one GC event may
arrive across micro-batches. Like the reference's assembler
(``CollectPauseLines.scala:13-70``), which keeps one small state entry per
open event, the fold keeps each open group as one row: its merged partial of
the batch assembly (``operators/assemble.py``). ``assemble_stream`` runs it
in ``foreachBatch`` under ``commit_log.once_per_batch``:

1. merge the trigger's supported, event-id-bearing lines
   (``assembly_rows``) with the carry in one ``assembly_merge``, so stream
   and batch share one verdict and one last-line-wins rule (the higher
   ``turn_idx`` wins, whichever trigger delivered it). The carry is the
   groups the last committed batch left open: its stored groups that its
   ``hwm_ms`` and ``lateness_ms`` do not close;
2. write the merged groups, one row each, under ``carry/batch=N``; an
   Observation on this write reads the high-water mark of their newest
   ``ts``;
3. read them back and hand ``emit`` the closed ones in ``assemble_groups``'
   shape: every ``ok`` group and, under ``lateness_ms``, every expired
   end-bearing incomplete group;
4. commit ``{batch_id, hwm_ms, lateness_ms, **emit(...), wall_s}``,
   ``hwm_ms`` being the high-water mark of the supported lines' ``ts``. The
   next batch re-derives its carry from the stored groups with this
   record's ``hwm_ms`` and ``lateness_ms``, so a resume under another
   lateness carries exactly the groups the last batch left open.

A trigger runs no Spark action besides the groups write and ``emit``'s
writes, and persists nothing: the stored groups serve both the closed
groups of this batch and the carry of the next.

Dangling groups (no PauseEnd) never close: the batch assembler discards them
at end of input, so an expiry would invent a dead letter.

Event time (``lateness_ms``), with the watermark ``hwm_ms - lateness``: a new
line at or behind the watermark of earlier batches is dropped before the
fold; at the end of a batch, with ``hwm_ms`` including it, an end-bearing
incomplete group expires when its newest ``ts`` + lateness is strictly behind
the watermark, and ``assembly_dead_letters_from_groups`` gives it the batch's
verdict and byte-identical message. Only supported lines move ``hwm_ms``; a
PauseStart of a fresh group advances it and parks in the carry, changing no
output. This is the event-time timeout of the Spark stateful operator the
fold replaced, decided at the end of the batch rather than in a no-data
micro-batch, with two measured divergences:
  * a group whose lines span more than ``lateness``, and whose completing
    line arrives after it qualified for expiry, now dead-letters instead of
    completing;
  * Spark dropped late rows against the previous batch's watermark, so with
    back-to-back data batches it kept a line late by less than the last
    batch's advance; the fold drops it.

Layout under ``root``: ``ckpt/`` (the stream checkpoint), ``carry/batch=N/``
(the merged partial row of every group batch N carried in or touched: the
ones its ``hwm_ms`` leaves open are the next batch's carry) and
``metrics.jsonl`` (the commit log, one record per batch). A carry written
before it held merged groups holds lines; such a store and its checkpoint
are discarded together.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import commit_log
from ..functions.parse import parse_lines
from ..operators.assemble import (
    assembly_finalize,
    assembly_merge,
    assembly_rows,
    assembly_verdict,
)
from ..operators.route import supported_types_filter


def log_path(root: str) -> str:
    return os.path.join(root, "metrics.jsonl")


def _carry(root: str, batch_id: int) -> str:
    return os.path.join(root, "carry", f"batch={batch_id}")


def _closed(hwm: int | None, lateness_ms: int | None) -> str:
    """The groups a batch with high-water mark ``hwm`` closes: every ok
    group and, under ``lateness_ms``, every expired end-bearing one."""
    if lateness_ms is None or hwm is None:
        return "verdict = 'ok'"
    return (f"verdict = 'ok' OR coalesce(verdict <> 'dangling' AND "
            f"_newest_ms + {lateness_ms} < {hwm - lateness_ms}, false)")


def assemble_stream(
    spark: SparkSession,
    source_path: str,
    input_schema,
    root: str,
    emit: Callable[[DataFrame, int, int | None], dict],
    lateness_ms: int | None = None,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the carry-over fold over the transcripts dir; returns the
    StreamingQuery.

    ``emit(closed, batch_id, last)`` gets each trigger's closed groups in
    ``assemble_groups``' shape (``last`` is the previous committed batch id,
    or ``None``), writes what it derives from them, and returns the fields
    it adds to the batch's commit record. ``available_now`` drains the
    backlog and stops; otherwise the stream runs on a 1 s processing-time
    trigger."""
    log = log_path(root)
    lines = supported_types_filter(parse_lines(
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    ))

    def apply(new: DataFrame, batch_id: int, last: int | None) -> dict:
        t0 = time.perf_counter()
        hwm = None
        if last is not None:
            prev = max(commit_log.records(log), key=lambda r: r["batch_id"])
            hwm = prev["hwm_ms"]
            if lateness_ms is not None and hwm is not None:
                # the source's ts may be NTZ
                new = new.filter(
                    "ts IS NULL OR CAST(ts AS TIMESTAMP) > "
                    f"timestamp_millis({hwm - lateness_ms})")
        read = new.sparkSession.read
        parts = assembly_rows(new)
        if last is not None:
            # the groups the last batch left open, under the lateness it
            # ran with: a resume under another one keeps them
            carried = read.schema(parts.schema).parquet(_carry(root, last))
            parts = parts.unionByName(assembly_verdict(carried).filter(
                f"NOT ({_closed(hwm, prev['lateness_ms'])})").drop("verdict"))
        # observed above the merge's shuffle, so AQE cannot drop it with an
        # empty stage
        obs = Observation()
        assembly_merge(parts).observe(
            obs, F.max("_newest_ms").alias("top")
        ).write.mode("overwrite").parquet(_carry(root, batch_id))
        hwm = max((h for h in (hwm, obs.get["top"]) if h is not None),
                  default=None)
        groups = read.schema(parts.schema).parquet(_carry(root, batch_id))
        out = emit(assembly_finalize(assembly_verdict(groups).filter(
            _closed(hwm, lateness_ms))), batch_id, last)
        return {"batch_id": batch_id, "hwm_ms": hwm,
                "lateness_ms": lateness_ms, **out,
                "wall_s": round(time.perf_counter() - t0, 3)}

    writer = lines.writeStream.foreachBatch(
        commit_log.once_per_batch(log, apply)
    ).option("checkpointLocation", os.path.join(root, "ckpt"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()
