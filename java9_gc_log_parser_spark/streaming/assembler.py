"""Streaming assembly: the batch assembler folded over triggers (SURVEY §2.9).

The reference's live mode tails a file every second
(``GcLogStream.scala:45-51``) through an order-dependent assembler; a
distributed stream cannot assume order, so the lines of one GC event may
arrive across micro-batches. ``assemble_stream`` therefore runs the batch
``assemble_groups`` in ``foreachBatch`` under ``commit_log.once_per_batch``:

1. union the trigger's supported, event-id-bearing lines with the carry (the
   lines of the groups still open after the last committed batch);
2. decide every group's verdict with ``assemble_groups``, so stream and batch
   share one verdict and one last-line-wins rule (the higher ``turn_idx``
   wins, whichever trigger delivered it);
3. hand ``emit`` the closed groups: every ``ok`` group and, under
   ``lateness_ms``, every expired end-bearing incomplete group;
4. write the lines of every other group as the next carry;
5. commit ``{batch_id, hwm_ms, **emit(...), wall_s}``, ``hwm_ms`` being the
   high-water mark of the supported lines' ``ts``.

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
(the open groups' lines after batch N) and ``metrics.jsonl`` (the commit log,
one record per batch).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import commit_log
from ..functions.parse import parse_lines
from ..operators.assemble import LINE_COLUMNS, assemble_groups
from ..operators.route import supported_types_filter

_KEYS = ["conv_id", "event_id"]


def log_path(root: str) -> str:
    return os.path.join(root, "metrics.jsonl")


def _carry(root: str, batch_id: int) -> str:
    return os.path.join(root, "carry", f"batch={batch_id}")


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
    lines = (
        supported_types_filter(
            parse_lines(
                spark.readStream.schema(input_schema)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(source_path)
            )
        )
        .filter(F.col("event_id").isNotNull())
        .select(*LINE_COLUMNS)
    )

    def apply(new: DataFrame, batch_id: int, last: int | None) -> dict:
        t0 = time.perf_counter()
        ts = F.col("ts").cast("timestamp")  # the source's ts may be NTZ
        hwm = None
        if last is not None:
            hwm = max(commit_log.records(log),
                      key=lambda r: r["batch_id"])["hwm_ms"]
            if lateness_ms is not None and hwm is not None:
                wm = F.timestamp_millis(F.lit(hwm - lateness_ms))
                new = new.filter(ts.isNull() | (ts > wm))
            new = new.unionByName(
                new.sparkSession.read.schema(new.schema).parquet(
                    _carry(root, last))
            )
        new.persist()
        top = new.agg(F.max(F.unix_millis(ts))).first()[0]
        hwm = max((h for h in (hwm, top) if h is not None), default=None)

        groups = assemble_groups(new)
        closed = F.col("verdict") == "ok"
        if lateness_ms is not None and hwm is not None:
            newest = new.groupBy(*_KEYS).agg(
                F.max(F.unix_millis(ts)).alias("_newest_ms")
            )
            expired = (F.col("verdict") != "dangling") & (
                F.col("_newest_ms") + lateness_ms < hwm - lateness_ms
            )
            closed = closed | F.coalesce(expired, F.lit(False))
            groups = groups.join(newest, _KEYS)
        groups = groups.withColumn("_closed", closed).persist()

        still_open = groups.filter(~F.col("_closed")).select(*_KEYS)
        new.join(still_open, _KEYS, "left_semi").write.mode(
            "overwrite"
        ).parquet(_carry(root, batch_id))
        out = emit(
            groups.filter(F.col("_closed")).drop("_closed", "_newest_ms"),
            batch_id, last,
        )
        groups.unpersist()
        new.unpersist()
        return {"batch_id": batch_id, "hwm_ms": hwm, **out,
                "wall_s": round(time.perf_counter() - t0, 3)}

    writer = lines.writeStream.foreachBatch(
        commit_log.once_per_batch(log, apply)
    ).option("checkpointLocation", os.path.join(root, "ckpt"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()
