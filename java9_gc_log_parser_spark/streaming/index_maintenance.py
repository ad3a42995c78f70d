"""Streaming IVF×PQ index maintenance (q141's engine, factored out so the
crash/resume path is testable in isolation).

The maintained index is a generation store under ``out_root``:

    base/cell=K/        batch-encoded bootstrap generation (written once,
                        before the stream starts — the planned-rebuild
                        artifact)
    batch=N/cell=K/     per-micro-batch appends: the vectors of batch N
                        encoded against the FIXED index metadata
    commits.jsonl       the commit log (``commit_log``): one record per
                        committed generation

Scale shape (100 TB/day of arriving vectors): per-batch cost is batch
rows × a few KB of broadcast metadata (``ivfpq_encode``'s plan is
corpus-scan-free, pinned in tests/test_plans.py); the corpus is never
re-read, the index grows append-only and partition-pruned by cell, and
codebooks never move — re-training is a planned base rebuild, after
which this store starts a new lineage.

Reference parity: GcService.scala:35-38 has NO fault tolerance (stream
dies on exception); this module is the resumable replacement the north
rule requires.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from java9_gc_log_parser_spark import commit_log
from java9_gc_log_parser_spark.operators.similarity import ivfpq_encode

__all__ = [
    "write_base_generation",
    "apply_generation",
    "maintain_index",
    "read_index",
]


def _log(out_root: str) -> str:
    return os.path.join(out_root, "commits.jsonl")


def write_base_generation(
    base: DataFrame, cells: DataFrame, books: DataFrame, out_root: str
) -> None:
    """Encode the bootstrap corpus once and lay it down as the base
    generation, partitioned by cell (the index's prune key)."""
    ivfpq_encode(base, cells, books).write.partitionBy("cell").parquet(
        f"{out_root}/base"
    )


def apply_generation(enc: DataFrame, out_root: str, batch_id: int) -> dict:
    """Write batch ``batch_id``'s encoded vectors as its generation and
    return its commit record (``maintain_index`` commits it). An empty batch
    leaves a generation dir holding only ``_SUCCESS``, which ``read_index``
    reads as zero rows."""
    enc.write.partitionBy("cell").mode("overwrite").parquet(
        f"{out_root}/batch={batch_id}"
    )
    return {"batch_id": batch_id}


def maintain_index(
    spark: SparkSession,
    source_path: str,
    input_schema,
    out_root: str,
    cells_rows,
    cells_schema,
    books_rows,
    books_schema,
    max_files_per_trigger: int = 2,
    timeout_s: int = 600,
) -> None:
    """Drain the vector stream, appending one encoded generation per
    micro-batch; blocks until the availableNow backlog is done.

    Metadata arrives as COLLECTED rows + schema (not DataFrames): that is
    what pins the no-corpus-lineage property — the per-batch encode plan
    physically cannot re-scan the corpus because nothing in scope refers
    to it.
    """
    os.makedirs(out_root, exist_ok=True)

    def _apply(batch_df: DataFrame, batch_id: int, last: int | None) -> dict:
        enc = ivfpq_encode(
            batch_df,
            spark.createDataFrame(cells_rows, cells_schema),
            spark.createDataFrame(books_rows, books_schema),
        )
        return apply_generation(enc, out_root, batch_id)

    q = (
        spark.readStream.schema(input_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
        .writeStream.foreachBatch(
            commit_log.once_per_batch(_log(out_root), _apply)
        )
        .option("checkpointLocation", f"{out_root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"index stream did not drain within {timeout_s}s")


def read_index(spark: SparkSession, out_root: str) -> DataFrame:
    """The maintained index: base generation plus every committed append.

    Each generation dir is read on its own (recovering its ``cell=K``
    partition dirs); a wholesale read of ``out_root`` would misparse the
    ``batch=N`` dir names as a partition column. Appends are read with the
    base generation's schema, so nothing is inferred from their files: the
    generation of an empty micro-batch holds no part files and reads as
    zero rows."""
    final = commit_log.last_batch(_log(out_root))
    batches = range(final + 1) if final is not None else []
    idx = spark.read.parquet(f"{out_root}/base")
    reader = spark.read.schema(idx.schema)
    for i in batches:
        idx = idx.unionByName(reader.parquet(f"{out_root}/batch={i}"))
    return idx
