"""Hypertable-style time-series rollup: bucketed gap-fill + LOCF/interp.

Reference parity note: beyond-reference operator (SURVEY §2 extension set).
The reference's closest shape is its per-bucket rollups (counts / pause
stats over coarse time buckets); this adds the TimescaleDB-style
``time_bucket_gapfill + locf + interpolate`` continuous-rollup surface a
monitoring consumer of the reference's SSE feed would build next: a dense,
regular time grid per key even where the raw stream has holes.

Scale shape (100 TB):

* Stage 1 is a plain ``groupBy(key, bucket)`` — map-side partial
  aggregation compresses the raw stream to one row per (key, bucket)
  BEFORE the shuffle, so the exchange moves rollups, not events.
* Stage 2 is one window pass per key over the rolled-up rows (ordered by
  bucket, ``lead`` only — O(1) state per row, a single sort of the already
  tiny per-key series). This is a second, much smaller exchange: shuffling
  raw events once on ``key`` alone to save it would move orders of
  magnitude more bytes than the rollup exchange costs.
* Densification happens INSIDE the row stream (``sequence`` + ``explode``
  of each gap run) — the dense grid is never materialized as a join side,
  so there is no grid×fact join and no third shuffle. ``max_fill`` bounds
  the blow-up per gap (a key that goes dark for a month must not emit an
  unbounded run of synthetic rows); beyond it the gap is left open and the
  row is flagged via ``gap_truncated``.

Float contract (cross-engine oracle parity): per-bucket means are derived
from an ORDER-INDEPENDENT exact-integer sum (``SUM(FLOOR(value*1000))`` as
BIGINT) divided in a fixed operation order, so Spark and DuckDB produce
bit-identical doubles; the interpolation arithmetic uses the same explicit
op tree on both engines and rounds to 6 dp only at the output boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: one day and six hours, in microseconds: the rollups' bucket widths
_DAY_US = 86_400_000_000
_6H_US = 21_600_000_000


def gapfill_locf(events: DataFrame) -> DataFrame:
    """Bucketed rollup of ``value`` per (``user_id``, 6h bucket), densified
    with up to ``max_fill`` = 8 synthetic rows per gap, each carrying the
    last-observation value (``v_locf``) and the linear interpolation toward
    the next observation (``v_interp``).

    Output: user_id, ``bucket_ts`` (bucket start), ``filled`` (synthetic
    row?), ``gap_truncated`` (gap wider than max_fill — grid intentionally
    left open), ``n_obs`` (0 on filled rows), ``v_locf``, ``v_interp``.
    """
    key, bucket_us, max_fill = "user_id", _6H_US, 8
    # parquet timestamps arrive as TIMESTAMP_NTZ; unix_micros needs
    # TIMESTAMP (session tz is pinned UTC, so the cast is micro-identity)
    bucket = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(bucket_us)
    ).cast("long")
    rolled = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.col(key), bucket.alias("_gf_b"))
        .agg(
            F.count(F.lit(1)).alias("_gf_n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("_gf_vmil"),
        )
        .withColumn(
            "_gf_v",
            F.col("_gf_vmil").cast("double") / F.lit(1000.0)
            / F.col("_gf_n").cast("double"),
        )
    )
    w = Window.partitionBy(key).orderBy("_gf_b")
    run = rolled.select(
        key,
        "_gf_b",
        "_gf_n",
        "_gf_v",
        F.lead("_gf_b").over(w).alias("_gf_nb"),
        F.lead("_gf_v").over(w).alias("_gf_nv"),
    )
    gap = F.col("_gf_nb") - F.col("_gf_b")
    n_fill = F.when(
        F.col("_gf_nb").isNull(), F.lit(0).cast("long")
    ).otherwise(F.least(gap - 1, F.lit(max_fill).cast("long")))
    step = F.col("_gf_step")
    interp = F.when(F.col("_gf_nb").isNull(), F.col("_gf_v")).otherwise(
        F.col("_gf_v")
        + ((F.col("_gf_nv") - F.col("_gf_v")) * step.cast("double"))
        / gap.cast("double")
    )
    return (
        run.withColumn(
            "_gf_step", F.explode(F.sequence(F.lit(0).cast("long"), n_fill))
        )
        .select(
            key,
            F.timestamp_micros((F.col("_gf_b") + step) * F.lit(bucket_us))
            .cast("timestamp_ntz")
            .alias("bucket_ts"),
            (step > 0).alias("filled"),
            (
                F.col("_gf_nb").isNotNull() & (gap - 1 > F.lit(max_fill))
            ).alias("gap_truncated"),
            F.when(step == 0, F.col("_gf_n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_obs"),
            # plain doubles, NO final ROUND: both values come from a
            # fixed op tree over exact integers, bit-identical across
            # engines — while F.round's shortest-decimal tie handling
            # diverged from DuckDB's binary ROUND at sf0.1.
            F.col("_gf_v").alias("v_locf"),
            interp.alias("v_interp"),
        )
    )


def moving_window_stats(events: DataFrame) -> DataFrame:
    """Time-correct trailing moving average per ``event_type``: bucket the
    stream by day,
    then a RANGE-frame window over the integer bucket index so GAPS count
    as empty buckets (a ROWS frame would silently stretch the window over
    dark periods — the classic moving-average bug).

    Output, one row per observed (event_type, day):
    ``(event_type, bucket_ts, n, v_avg, mov_n, mov_avg)`` — ``mov_*`` cover
    the trailing 7-day window ENDING at the bucket. Means derive
    from order-independent exact-integer millisums (same float contract as
    :func:`gapfill_locf`), rounded to 6 dp at the boundary.

    Scale notes (100 TB): stage 1 is a map-combinable hash agg (events
    compress to one row per (key, bucket) before the shuffle); stage 2 is
    one window pass over the tiny rollup with an O(7) RANGE frame.
    The raw stream is never window-scanned.
    """
    bucket = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(_DAY_US)
    ).cast("long")
    rolled = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type"), bucket.alias("_mw_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("_mw_vmil"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("_mw_b").rangeBetween(-6, 0)
    return rolled.select(
        "event_type",
        F.timestamp_micros(F.col("_mw_b") * F.lit(_DAY_US))
        .cast("timestamp_ntz")
        .alias("bucket_ts"),
        "n",
        F.round(
            F.col("_mw_vmil").cast("double") / F.lit(1000.0)
            / F.col("n").cast("double"),
            6,
        ).alias("v_avg"),
        F.sum("n").over(w).cast("long").alias("mov_n"),
        F.round(
            F.sum("_mw_vmil").over(w).cast("double") / F.lit(1000.0)
            / F.sum("n").over(w).cast("double"),
            6,
        ).alias("mov_avg"),
    )


def sliding_distinct_users(events: DataFrame) -> DataFrame:
    """Trailing 7-day DISTINCT-user count per day (rolling WAU): sliding
    distinct cannot ride a window frame (COUNT DISTINCT
    isn't subtractable), so each distinct (user, bucket) pair is exploded
    into the 7 buckets it contributes to — a BOUNDED fan-out of
    the deduplicated pair set, never of the raw stream — and re-counted
    distinct per target bucket.

    Output: ``(bucket_ts, n_users, n_user_buckets, has_activity)`` — one
    row per target bucket with >=1 contribution (so up to 6
    trailing buckets past the last active one), ``has_activity`` false on
    those ghost tails. ``n_user_buckets`` counts (user, bucket) activity
    pairs in the window (engagement mass); ``n_users`` deduplicates.

    Scale notes (100 TB): dedup agg compresses the stream to (user, bucket)
    pairs map-side; the explode multiplies PAIRS by 7 (bounded), and the final distinct agg is Spark's standard two-phase
    partial-distinct expansion. No self-join of bucket grids, no holistic
    buffering.
    """
    bucket = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(_DAY_US)
    ).cast("long")
    pairs = (
        events.select(F.col("user_id").alias("_u"), bucket.alias("_b"))
        .groupBy("_u", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    fanned = pairs.select(
        "_u",
        "_b",
        F.explode(
            F.sequence(F.col("_b"), F.col("_b") + F.lit(6))
        ).alias("_t"),
    )
    return (
        fanned.groupBy("_t")
        .agg(
            F.countDistinct("_u").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_user_buckets"),
            F.max((F.col("_b") == F.col("_t")).cast("int")).alias("_act"),
        )
        .select(
            F.timestamp_micros(F.col("_t") * F.lit(_DAY_US))
            .cast("timestamp_ntz")
            .alias("bucket_ts"),
            "n_users",
            "n_user_buckets",
            (F.col("_act") == 1).alias("has_activity"),
        )
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Per-(``user_id``, 6h bucket) TIME-weighted average of an irregularly sampled
    series — TimescaleDB's ``time_weight('locf')`` rollup shape, the
    correct aggregate where a plain AVG over-weights chatty periods (a
    sensor that reports every second while alarming and hourly while
    healthy makes the naive mean an alarm-duty-cycle artifact).

    LOCF step integral WITHIN the bucket: each sample's value holds until
    the next sample's timestamp; the integral runs first→last observation
    and divides by that span. Buckets whose span is zero (single sample,
    or all samples on one timestamp) fall back to the plain exact-integer
    mean of the instantaneous values. No carry-in/extrapolation across
    buckets — compose with :func:`gapfill_locf` when dark buckets need
    synthetic rows.

    Output: ``(user_id, bucket_ts, n_obs, span_us, v_twa, v_naive)`` —
    ``v_naive`` is the plain mean of the same samples, kept side-by-side
    so the duty-cycle bias is visible in the result itself.

    Determinism contract (cross-engine oracle parity): samples are totally
    ordered by (ts, event_id); values quantize to exact
    centi-units (BIGINT), the step integral is an order-independent BIGINT
    sum of ``v_centi * dt_us``, and each mean is derived by a fixed
    float-division op tree rounded to 6 dp only at the boundary — Spark
    and DuckDB produce bit-identical doubles.

    Scale shape (100 TB): ONE shuffle on (key, bucket) serves both the
    ``lead`` window pass and the final aggregation (same partitioning
    keys, no second exchange); state per row is O(1). Max BIGINT term is
    |v_centi| * 6h ≈ 1e6 * 2e10 = 2e16 per pair — no overflow
    headroom issues at any real bucket width.
    """
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    proj = events.filter(F.col("value").isNotNull()).select(
        F.col("user_id"),
        ts_us.alias("_tw_us"),
        (ts_us / F.lit(_6H_US)).cast("long").alias("_tw_b"),
        F.floor(F.col("value") * 100).cast("long").alias("_tw_vc"),
        F.col("event_id").alias("_tw_tb"),
    )
    w = Window.partitionBy("user_id", "_tw_b").orderBy("_tw_us", "_tw_tb")
    stepped = proj.withColumn(
        "_tw_dt", F.lead("_tw_us").over(w) - F.col("_tw_us")
    )
    return (
        stepped.groupBy(F.col("user_id"), F.col("_tw_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            (F.max("_tw_us") - F.min("_tw_us")).alias("span_us"),
            F.sum(F.col("_tw_vc") * F.col("_tw_dt")).alias("_tw_int"),
            F.sum("_tw_vc").alias("_tw_sum"),
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("_tw_b") * F.lit(_6H_US))
            .cast("timestamp_ntz")
            .alias("bucket_ts"),
            "n_obs",
            "span_us",
            F.round(
                F.when(
                    F.col("span_us") > 0,
                    F.col("_tw_int").cast("double")
                    / F.col("span_us").cast("double")
                    / F.lit(100.0),
                ).otherwise(
                    F.col("_tw_sum").cast("double")
                    / F.col("n_obs").cast("double")
                    / F.lit(100.0)
                ),
                6,
            ).alias("v_twa"),
            F.round(
                F.col("_tw_sum").cast("double")
                / F.col("n_obs").cast("double")
                / F.lit(100.0),
                6,
            ).alias("v_naive"),
        )
    )
