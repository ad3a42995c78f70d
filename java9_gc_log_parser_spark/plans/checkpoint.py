"""Checkpointed micro-batch runner: resumable, idempotent, metric-emitting.

The reference has NO fault tolerance — an exception kills the Akka stream
(``GcService.scala:35-38``). The north rule requires the opposite: process the
table in partition-range micro-batches, checkpoint a manifest with
per-partition lineage + per-batch metrics, and resume idempotently.

Design:
  * batch key = a hash of ``conv_id`` modulo ``n_batches`` — conversations
    stay whole within a batch (assembly needs every line of a
    (conv_id, event_id) group), and hashing spreads hot convs' *neighbors*
    evenly even though a single hot conv is indivisible.
  * the batch key is written as a PARTITION COLUMN at source-preparation time
    (``prepare_source``, the only source layout ``run`` accepts): each
    micro-batch then reads ``batch_bucket=b/`` only — scan bytes ∝
    1/n_batches — instead of filtering a full scan of
    the table per batch (n_batches full scans of 100 TB). The manifest
    records the pruned scan's file count + bytes as evidence. Every batch
    reads through the storage seam, so parquet and Iceberg sources share one
    read path; a source without the ``batch_bucket`` column is refused.
  * a run's ``n_batches`` must exceed the source's largest ``batch_bucket``
    and, on a resume, equal the count its committed batches ran under;
    ``run`` refuses any other count, which would lose or duplicate
    conversations.
  * each sink writes to ``{root}/{sink}/batch={id}/`` with overwrite — a
    re-run of a half-finished batch replaces its output exactly (idempotent).
  * the batch's parse and assembly groups are staged under ``{root}/stage/``
    (``pipeline.build``); every batch and every re-run overwrites them.
  * ``manifest.jsonl`` is the commit log (``commit_log``): a batch's record
    is committed after every one of its sinks has been written.
  * lineage per batch records the source path + the exact filter predicate;
    metrics record rows in/out per sink and wall seconds, each counted by an
    Observation on the write that moves those rows.

On a real cluster the same loop runs over Iceberg snapshot ranges; the batch
predicate becomes a snapshot/partition range and the sinks become Iceberg
appends with overwrite-by-filter.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import commit_log
from ..storage import (
    TableRef,
    _as_ref,
    current_snapshot_id,
    read_table,
    table_scan_stats,
    write_table,
)
from .pipeline import build

SINKS = ("pause_events", "tool_calls", "dead_letter", "assembled", "conv_state")


@dataclass
class BatchResult:
    batch_id: int
    rows_in: int
    sink_rows: dict
    wall_s: float


def _manifest_path(root: str) -> str:
    return os.path.join(root, "manifest.jsonl")


def completed_batches(root: str) -> set[int]:
    return {r["batch_id"] for r in commit_log.records(_manifest_path(root))}


def prepare_source(
    spark: SparkSession,
    transcripts: DataFrame,
    dest: TableRef | str,
    n_batches: int,
) -> TableRef:
    """Write the transcripts bucketed by ``batch_bucket`` as the table's
    partition layout (partition dirs on parquet, partition spec on Iceberg).

    One full pass over the input; every subsequent micro-batch (and any
    re-run/resume) scans exactly one partition — partition-dir pruning on
    parquet, manifest-level partition pruning on Iceberg.
    """
    ref = _as_ref(dest)
    ref = TableRef(ref.location, format=ref.format,
                   partition_by=("batch_bucket",))
    bucketed = transcripts.withColumn(
        "batch_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_batches)).cast("int"),
    ).repartition("batch_bucket")
    write_table(bucketed, ref)
    return ref


def write_sinks(
    dfs: dict[str, DataFrame], dirs: dict[str, str]
) -> dict[str, int]:
    """Write each ``dfs[sink]`` to ``dirs[sink]``; return ``{sink: rows}``.

    The row metric is collected DURING the write (an Observation piggybacks
    on the write job) — re-reading the committed files to count them is one
    extra scan of the entire output per sink, which at 100 TB means
    re-reading everything you just wrote."""
    rows = {}
    for sink, out in dirs.items():
        obs = Observation(f"sink_rows_{sink}")
        write_table(dfs[sink].observe(obs, F.count(F.lit(1)).alias("rows")), out)
        rows[sink] = int(obs.get["rows"])
    return rows


def run_batch(
    spark: SparkSession,
    source_path: TableRef | str,
    root: str,
    batch_id: int,
    n_batches: int,
) -> BatchResult:
    """Process one micro-batch: read its ``batch_bucket`` partition, write
    every sink, commit the manifest record."""
    src = _as_ref(source_path)
    source = read_table(spark, src)
    if "batch_bucket" not in source.columns:
        raise ValueError(
            f"checkpoint source {src.location!r} has no batch_bucket column: "
            "write it with prepare_source first"
        )
    predicate = f"batch_bucket = {batch_id}"
    # the batch's row count rides build's parsed-table write
    rows = Observation("rows_in")
    transcripts = (
        source.filter(F.col("batch_bucket") == batch_id).drop("batch_bucket")
        .observe(rows, F.count(F.lit(1)).alias("rows"))
    )
    scan_files, scan_bytes = table_scan_stats(
        spark, src, partition=("batch_bucket", batch_id)
    )
    snapshot = current_snapshot_id(spark, src)
    t0 = time.perf_counter()
    dfs = build(transcripts, os.path.join(root, "stage", "parsed"))
    rows_in = int(rows.get["rows"])
    sink_rows = write_sinks(
        dfs, {s: os.path.join(root, s, f"batch={batch_id}") for s in SINKS}
    )
    wall = time.perf_counter() - t0
    rec = {
        "batch_id": batch_id,
        "status": "ok",
        "rows_in": rows_in,
        "sink_rows": sink_rows,
        "wall_s": round(wall, 3),
        "lineage": {
            "source": src.location,
            "format": src.format,
            "predicate": predicate,
            "scan_files": scan_files,
            "scan_bytes": scan_bytes,
            # Iceberg: the snapshot this batch read — the next incremental
            # run reads TableRef(start_snapshot_id=<this>) to scan only
            # rows committed since (storage.current_snapshot_id docstring)
            "snapshot_id": snapshot,
        },
        "n_batches": n_batches,
    }
    os.makedirs(root, exist_ok=True)
    commit_log.commit(_manifest_path(root), rec)
    return BatchResult(batch_id, rows_in, sink_rows, wall)


def _source_buckets(spark: SparkSession, source: TableRef | str) -> set[int]:
    """The ``batch_bucket`` values of the source's files, from their
    partition paths (a listing, no job)."""
    return {
        int(m.group(1))
        for f in read_table(spark, source).inputFiles()
        if (m := re.search(r"/batch_bucket=(\d+)/", f))
    }


def run(
    spark: SparkSession,
    source_path: TableRef | str,
    root: str,
    n_batches: int,
    stop_after: int | None = None,
) -> list[BatchResult]:
    """Run all pending micro-batches (resuming past completed ones).

    ``stop_after`` processes at most that many pending batches — the test
    hook for simulating a mid-run crash. Raises ``ValueError``, before any
    batch runs, when a committed batch was run under a different
    ``n_batches`` or when the source holds a ``batch_bucket`` that no batch
    under this ``n_batches`` would read.
    """
    committed = commit_log.records(_manifest_path(root))
    other = sorted({r["n_batches"] for r in committed} - {n_batches})
    if other:
        raise ValueError(
            f"{root} holds batches committed under n_batches={other}; "
            f"resuming with n_batches={n_batches} would lose or duplicate "
            "conversations"
        )
    unread = sorted(b for b in _source_buckets(spark, source_path)
                    if b >= n_batches)
    if unread:
        raise ValueError(
            f"source holds batch_bucket {unread}, prepared under a larger "
            f"n_batches; running with n_batches={n_batches} would never read "
            "them"
        )
    done = {r["batch_id"] for r in committed}
    results = []
    for b in range(n_batches):
        if b in done:
            continue
        results.append(run_batch(spark, source_path, root, b, n_batches))
        if stop_after is not None and len(results) >= stop_after:
            break
    return results


def read_sink(spark: SparkSession, root: str, sink: str) -> DataFrame:
    return read_table(spark, os.path.join(root, sink))
