"""The commit log shared by every at-least-once writer.

The reference has no fault tolerance: an exception kills the stream
(``GcService.scala:35-38``). Every resumable writer here (the checkpointed
micro-batch runner, the conv-state snapshot stream, the streaming index and
q67's sketch stream) commits through this module, under one contract:

* A commit log is one JSONL file holding one record per committed batch id.
  A record's presence *is* the commit; there is no separate pointer file.
  A writer writes a batch's data first and commits its record last, so a
  crash in between leaves the batch uncommitted, and the re-run overwrites
  the partial data.
* ``commit`` rewrites the whole log to ``<log>.tmp`` and renames it over the
  log. A re-commit of an id replaces its record, and a crash mid-write leaves
  the previous log intact (a stale ``.tmp`` is never read and is overwritten
  by the next commit).
* ``once_per_batch`` is the ``foreachBatch`` callback. ``foreachBatch`` is
  at-least-once: after recovery Spark replays the in-flight batch id, which
  is at most the last one committed here (Spark never re-runs a batch its
  checkpoint has committed). That replay (``batch_id == last_batch``) is
  drained with ``count()``, because Spark requires every partition of the
  batch to be processed, and writes nothing.
* A ``batch_id`` below the last committed one means the stream checkpoint
  was lost while the store survived: the new run numbers its batches from 0
  again. ``once_per_batch`` raises, naming both ids, before anything is
  written; the checkpoint and the store must be kept or discarded together.
  Still undetectable: a checkpoint lost when the last committed id is 0,
  whose new batch 0 drains as a replay.
* The rename is atomic on local disk and HDFS, not on S3. On an object store
  the table format (Iceberg, Delta) must be the commit.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

__all__ = ["records", "last_batch", "commit", "once_per_batch"]


def records(log: str) -> list[dict]:
    """Every committed record, in commit order; ``[]`` before any commit."""
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [json.loads(line) for line in f if line.strip()]


def last_batch(log: str) -> int | None:
    """The highest committed batch id, or ``None`` before any commit."""
    return max((r["batch_id"] for r in records(log)), default=None)


def commit(log: str, record: dict) -> None:
    """Commit ``record`` atomically, replacing any earlier record with the
    same ``batch_id``."""
    kept = [r for r in records(log) if r["batch_id"] != record["batch_id"]]
    tmp = log + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in kept + [record])
    os.replace(tmp, log)


def once_per_batch(log: str, apply: Callable) -> Callable:
    """The ``foreachBatch`` callback: drain a replay of the last committed
    batch id and refuse an earlier id (a lost stream checkpoint); otherwise
    call ``apply(batch_df, batch_id, last)``, ``last`` being the previous
    committed id or ``None``, and commit the record it returns."""

    def on_batch(batch_df, batch_id: int) -> None:
        last = last_batch(log)
        if last is not None and batch_id < last:
            raise RuntimeError(
                f"batch {batch_id} arrived after batch {last} was committed "
                f"to {log}: the stream checkpoint was lost while the store "
                "survived; restore the checkpoint or discard the store")
        if batch_id == last:
            batch_df.count()
            return
        commit(log, apply(batch_df, batch_id, last))

    return on_batch
