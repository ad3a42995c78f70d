"""The streaming harness: the one file-stream source, the one commit-logged
start and the one drain check that every stream of the package and the
driver is built from.

The reference's live mode tails a log file, folds it and pushes snapshots
(``GcLogStream.scala:45-51``). Here a stream reads a directory of parquet
files a bounded number per trigger (``file_stream``); a stateful writer
applies each micro-batch in ``foreachBatch`` under ``commit_log``'s
once-per-batch contract (``start_commit_logged``); and a caller that drains
a backlog blocks until the query stops (``await_drained``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import commit_log

#: seconds ``await_drained`` waits for a backlog to drain
DRAIN_TIMEOUT_S = 600


def file_stream(spark: SparkSession, path: str, schema,
                files_per_trigger: int) -> DataFrame:
    """The parquet files under ``path`` as a stream, at most
    ``files_per_trigger`` new files per micro-batch."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", files_per_trigger).parquet(path))


def start_commit_logged(sdf: DataFrame, log: str, apply: Callable,
                        checkpoint: str,
                        available_now: bool = True) -> StreamingQuery:
    """Start ``sdf`` with ``commit_log.once_per_batch(log, apply)`` as its
    ``foreachBatch`` callback and its stream checkpoint under
    ``checkpoint``. ``available_now`` drains the backlog and stops;
    otherwise the stream runs on a 1 s processing-time trigger."""
    writer = sdf.writeStream.foreachBatch(
        commit_log.once_per_batch(log, apply)
    ).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="1 second")
    return writer.start()


def await_drained(q: StreamingQuery) -> None:
    """Block until ``q`` stops, at most ``DRAIN_TIMEOUT_S``. On timeout stop
    it and raise ``TimeoutError``: a caller that fell through would read a
    partial output as if it were complete. A query that failed raises its
    ``StreamingQueryException``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream did not drain within {DRAIN_TIMEOUT_S}s")
