"""As-of join and bounded range join — the two time-series joins Spark's
built-in operators don't ship (Flink/kdb/DuckDB have them native).

Both are implemented as COMPOSITIONS of existing DataFrame ops (no UDF, no
pair blow-up) — the recommended path for custom operators before reaching
for Pandas UDFs:

- :func:`asof_join` is the union-and-carry trick: tag both sides, sort each
  key's merged timeline once, and carry the last right-side payload forward
  with ``last(ignorenulls=True)`` over a running frame. ONE shuffle
  (hash-partition by key), one in-partition sort, O(1) state per row — the
  relational analogue of the streaming assembler's per-conv state scan.
  There is never a join node at all, so there is nothing to blow up: cost
  is |left| + |right| regardless of how many left rows each right row
  serves.

- :func:`range_join` ("every right event within [t, t+window) of a left
  anchor") is bucketized: both sides get a time bucket of exactly the
  window width, candidates come from TWO equi-joins (same bucket, next
  bucket — a half-open window of width W can only span two W-buckets), and
  the exact range predicate filters candidates. The plan is equi-joins
  only (plan-asserted: no CartesianProduct / BroadcastNestedLoopJoin,
  which is what a naive ``ON l.ts <= r.ts AND r.ts < l.ts + W`` degenerates
  to). Output work is bounded by true matches + same-bucket near misses,
  never |L|x|R|.

Oracle story: DuckDB has NATIVE ``ASOF JOIN`` and runs inequality joins
directly at test scale, so the cross-engine check exercises a genuinely
independent implementation of the same semantics — stronger than an
oracle that mirrors the trick.

Determinism contract: the as-of right side must be unique per (key, ts) —
otherwise "the" latest match is undefined in every engine; callers dedupe
first (q62 keeps the max event_id per timestamp, a max_by).

Scale notes (100 TB): both ops shuffle each side once, on (key) resp.
(key, bucket) — the same partitioning a repeated analysis would persist
via ``storage.TableRef(bucket_by=...)`` to amortize. Skew: a hot key's
timeline is still one linear pass in asof_join (running frame, no
buffering); in range_join a hot (key, bucket) cell is bounded by the
window width times that key's event rate — shrink the window or salt the
anchor side if a single key floods one window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: tuple[str, ...],
) -> DataFrame:
    """For every left row, attach the latest right row with the same key
    and ``right.ts <= left.ts`` (inclusive). Left rows with no prior right
    row keep nulls (left-outer semantics). Each of ``right_cols`` comes
    back as ``asof_<col>``.

    Right must be unique per (key, ts); see the module contract.
    """
    lpay = list(left.columns)
    l_side = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lpay).alias("_l"),
    )
    r_side = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
    )
    merged = l_side.unionByName(r_side, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal ts -> inclusive <=
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select(
            *[F.col("_l")[c].alias(c) for c in lpay],
            *[F.col("_match")[c].alias(f"asof_{c}") for c in right_cols],
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    window_us: int,
    left_cols: tuple[str, ...],
    right_cols: tuple[str, ...],
) -> DataFrame:
    """All (left, right) pairs with the same key and
    ``right.ts in [left.ts, left.ts + window_us)`` — two bucketized
    EQUI-joins + exact filter, never an inequality-join node.

    Timestamps compare in integer microseconds (``unix_micros`` /
    DuckDB ``epoch_us`` — exact in both engines, no float epoch). Output
    columns are ``l_<col>``/``r_<col>`` plus ``delta_us``.
    """
    if window_us < 1:
        raise ValueError(f"window_us must be >= 1, got {window_us}")
    # events carry TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The cast
    # interprets the wall-clock in the session timezone, which this repo
    # pins to UTC — the same micros DuckDB's epoch_us reads off the naive
    # value, so the integer comparisons agree across engines.
    l_us = F.unix_micros(F.col(ts).cast("timestamp"))
    r_us = F.unix_micros(F.col(ts).cast("timestamp"))
    # bucket = integer division (SQL `div`), NOT floor(float /): at exact
    # window boundaries a float quotient can land one ulp low and put the
    # row in the wrong bucket, silently dropping a true boundary match
    base_l = left.select(
        *[F.col(c).alias(f"l_{c}") for c in left_cols],
        F.col(key).alias("_lk"),
        l_us.alias("_lts"),
    ).withColumn("_lb", F.expr(f"_lts div {int(window_us)}L"))
    base_r = right.select(
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
        F.col(key).alias("_rk"),
        r_us.alias("_rts"),
    ).withColumn("_rb", F.expr(f"_rts div {int(window_us)}L"))
    # fresh aliases per branch: left/right often derive from the SAME
    # source DataFrame (q63 is a self range-join) and unaliased column
    # refs would be ambiguous
    cand = None
    for shift in (0, 1):
        lj = base_l.withColumn("_jb", F.col("_lb") + shift).alias(
            f"L{shift}"
        )
        rj = base_r.alias(f"R{shift}")
        c = lj.join(
            rj,
            (F.col(f"L{shift}._lk") == F.col(f"R{shift}._rk"))
            & (F.col(f"L{shift}._jb") == F.col(f"R{shift}._rb")),
        )
        cand = c if cand is None else cand.unionByName(c)
    return (
        cand.filter(
            (F.col("_rts") >= F.col("_lts"))
            & (F.col("_rts") < F.col("_lts") + window_us)
        )
        .select(
            *[f"l_{c}" for c in left_cols],
            *[f"r_{c}" for c in right_cols],
            (F.col("_rts") - F.col("_lts")).cast("long").alias("delta_us"),
        )
    )
