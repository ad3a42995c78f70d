"""Right-to-be-forgotten (GDPR/CCPA) delete propagation with a written-state
audit.

A training-data platform must be able to purge every derived artifact of a
conversation on request: not just the raw transcripts but every fan-out sink
the pipeline materialized from them (pause-events, tool-calls, dead-letter).
The reference pipeline has no notion of deletion; at 100 TB it becomes a
first-class operator because a delete that only filters the *next* read is
not compliance — the persisted tables must provably no longer contain the
keys.

Scale shape (100 TB): the delete-request registry is tiny (user requests —
thousands of keys vs billions of rows), so every purge is a BROADCAST
anti-join: one map-only pass per sink, no shuffle of sink data. The audit
re-reads the WRITTEN table (the same discipline as the q77 zone-map audit:
what's checked is the storage state, not the in-flight DataFrame) and counts
residual matches — the number that must be 0 in front of a regulator. All
audit counters flow through ONE tagged union + map-combinable groupBy, so
the audit itself never shuffles sink-sized data either.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RTBF_SALT = "rtbf:v1"
#: the key a delete request names
KEY = "conv_id"


def rtbf_deny_list(df: DataFrame) -> DataFrame:
    """Deterministic synthetic delete-request registry: keys whose
    ``md5(key ++ ':rtbf:v1')`` first hex nibble is ``'0'`` (~1/16 of the key
    space). A real pipeline reads this from a tiny request table; deriving
    it from a pure hash predicate keeps it engine-replayable (the DuckDB
    oracle applies the same predicate) while preserving the operator's
    shape: O(requests) rows, always broadcastable.
    """
    key = KEY
    return (
        df.select(F.col(key).cast("string").alias(key))
        .where(
            F.substring(
                F.md5(F.concat(F.col(key), F.lit(":" + RTBF_SALT))), 1, 1
            )
            == "0"
        )
        .distinct()
    )


def rtbf_purge_audit(
    sinks: dict[str, DataFrame],
    deny: DataFrame,
    base_path: str,
) -> DataFrame:
    """Purge ``deny`` keys from every sink, persist the purged sinks, and
    prove the deletion from the written state.

    Per sink: (1) flag rows via a broadcast left join against the deny
    registry; (2) write the kept rows through the storage seam (overwrite —
    idempotent re-run); (3) read the table BACK and re-flag. The audit row
    per sink reports ``n_before`` / ``n_deleted`` (pre-write pass) and
    ``n_after`` / ``n_residual`` (post-write pass, from disk). A correct
    purge has ``n_after == n_before - n_deleted`` and ``n_residual == 0`` —
    and because the post-write leg scans the committed files, a silently
    dropped write or a missed partition shows up here, unlike an audit on
    the in-flight DataFrame.

    All four counters for all sinks flow through one tagged union +
    ``groupBy(sink)``: partial aggregation collapses each scan partition to
    ≤ sinks×1 rows before the only (tiny) exchange.
    """
    from java9_gc_log_parser_spark.storage import read_table, write_table

    key = KEY

    marked = F.broadcast(deny.withColumn("_deny", F.lit(1)))
    tagged = []
    for name in sorted(sinks):
        df = sinks[name]
        spark = df.sparkSession
        flagged = df.withColumn(key, F.col(key).cast("string")).join(
            marked, key, "left"
        )
        kept = flagged.filter(F.col("_deny").isNull()).drop("_deny")
        path = f"{base_path}/{name}"
        shutil.rmtree(path, ignore_errors=True)
        write_table(kept, path)
        back = read_table(spark, path).join(marked, key, "left")
        for stage, src in (("pre", flagged), ("post", back)):
            tagged.append(
                src.select(
                    F.lit(name).alias("sink"),
                    F.lit(stage).alias("stage"),
                    F.col("_deny"),
                )
            )
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t)
    is_pre = F.col("stage") == "pre"
    denied = F.col("_deny").isNotNull()
    return union.groupBy("sink").agg(
        F.sum(is_pre.cast("long")).alias("n_before"),
        F.sum((is_pre & denied).cast("long")).alias("n_deleted"),
        F.sum((~is_pre).cast("long")).alias("n_after"),
        F.sum((~is_pre & denied).cast("long")).alias("n_residual"),
    )
