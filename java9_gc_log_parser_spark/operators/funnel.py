"""Ordered-sequence funnel and cohort-retention rollups over event telemetry.

The reference aggregates one JVM's pause events into rollups
(GcState.scala:21-47 keeps cumulative pause state per run); a transcript /
telemetry store wants the *behavioral* rollups on top of the same event
stream: "of the users who signed up, how many went on to view → click →
purchase, in order, within a horizon?" (funnel) and "of the users first seen
in week W, how many were still active k weeks later?" (cohort retention).
Both are standard log-pipeline analytics the reference's single-process model
never needed, restated here as shuffle-minimal DataFrame plans.

Scale notes (100 TB):
  * funnel_conversion does ONE shuffle: events are hash-partitioned and
    sorted by (user, ts, event_id) once, and every funnel stage is a window
    pass over that same sort — Catalyst reuses the single Exchange+Sort for
    all k stages AND for the final per-user groupBy (same partitioning), so
    stage count never multiplies shuffles. No per-step self-join of the
    event table (the naive k-way join shape shuffles the corpus k times).
  * The per-user stage timestamps pre-combine in the window pass; the final
    per-step rollup is a map-combinable agg to k rows. A hot user (bot
    traffic) concentrates in one task only for its own sorted run — the
    window frame is cumulative min/max, O(1) state per row, no buffering of
    the user's whole history.
  * cohort_retention is two hash aggs sharing the user_id partitioning (the
    first-seen agg and the distinct (user, week) activity agg) plus one
    co-partitioned join — again one logical shuffle of the big table — and a
    final tiny (cohort, age) agg. The retention denominator is a window over
    the already-tiny rollup.
  * Timestamps compare as integer microseconds (epoch_us) throughout —
    engine-exact, no float time arithmetic.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["cohort_retention", "funnel_conversion"]

_US_PER_DAY = 86_400_000_000


def funnel_conversion(events: DataFrame) -> DataFrame:
    """Ordered funnel over ``steps`` (signup → view → click → purchase): a
    user reaches stage i when an event of type ``steps[i]`` occurs
    at-or-after their stage-(i-1) reach time and within 14 days of their
    stage-1 time.

    Semantics (deterministic, engine-replayable): events are ordered by
    ``(ts, event_id)`` per user; "after" means strictly later in that total
    order (an equal-timestamp pair is ordered by ``event_id``), and stage
    reach time is the EARLIEST qualifying event. Output, one row per step:
    ``(step_idx, step, n_users, conv_from_prev, conv_from_first)`` with
    conversions rounded to 6 dp (NULL when the denominator is 0).
    """
    steps = ("signup", "view", "click", "purchase")
    # parquet timestamps arrive as TIMESTAMP_NTZ; unix_micros needs
    # TIMESTAMP (session tz is pinned UTC, so the cast is micro-identity)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    horizon_us = 14 * _US_PER_DAY

    base = events.select(
        F.col("user_id").alias("_u"),
        F.col("event_type").alias("_t"),
        us.alias("_ts"),
        F.col("event_id").alias("_o"),
    )
    # One partitioning + sort, reused by every stage's window pass.
    w_prev = (
        Window.partitionBy("_u")
        .orderBy("_ts", "_o")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Stage 1: earliest step-1 event seen strictly BEFORE the current row
    # (cumulative min over the preceding frame), and per-row stage-1 time.
    df = base.withColumn(
        "_r1_prev", F.min(F.when(F.col("_t") == steps[0], F.col("_ts"))).over(w_prev)
    )
    for i, step in enumerate(steps[1:], start=2):
        prev = f"_r{i - 1}_prev"
        # The current row reaches stage i if it is the right type, some
        # preceding row already reached stage i-1, and it falls within the
        # horizon of the user's earliest step-1 time (_r1_prev — guaranteed
        # non-null whenever the stage-(i-1) chain is, by transitivity).
        cand = (
            (F.col("_t") == step)
            & F.col(prev).isNotNull()
            & (F.col("_ts") <= F.col("_r1_prev") + F.lit(horizon_us))
        )
        df = df.withColumn(
            f"_c{i}", F.when(cand, F.col("_ts"))
        ).withColumn(
            f"_r{i}_prev", F.min(F.col(f"_c{i}")).over(w_prev)
        )
    # Per-user reach flags: stage 1 reached iff any step-1 event exists;
    # stage i reached iff any qualifying candidate row exists. Same user_id
    # partitioning as the windows — no extra shuffle.
    aggs = [
        F.max(F.when(F.col("_t") == steps[0], F.lit(1)).otherwise(F.lit(0))).alias(
            "_s1"
        )
    ]
    for i in range(2, len(steps) + 1):
        aggs.append(
            F.max(
                F.when(F.col(f"_c{i}").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"_s{i}")
        )
    per_user = df.groupBy("_u").agg(*aggs)
    totals = per_user.agg(
        *[F.sum(f"_s{i}").cast("long").alias(f"_n{i}") for i in range(1, len(steps) + 1)]
    )
    # Unpivot the k counts into k rows: tiny (single-row) input, map-only.
    rows = []
    for i, step in enumerate(steps, start=1):
        n = F.col(f"_n{i}")
        prev_n = F.col(f"_n{i - 1}") if i > 1 else None
        rows.append(
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(step).alias("step"),
                n.alias("n_users"),
                (
                    F.lit(None).cast("double")
                    if i == 1
                    else F.round(
                        F.when(prev_n > 0, n.cast("double") / prev_n.cast("double")),
                        6,
                    )
                ).alias("conv_from_prev"),
                F.round(
                    F.when(
                        F.col("_n1") > 0, n.cast("double") / F.col("_n1").cast("double")
                    ),
                    6,
                ).alias("conv_from_first"),
            )
        )
    return totals.select(
        F.explode(F.array(*rows)).alias("_r")
    ).select("_r.*")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort-retention matrix: users grouped by first-seen 7-day bucket
    (cohort), counted distinct per ``age = activity_bucket - cohort_bucket``.

    Output, one row per observed (cohort, age):
    ``(cohort_bucket, cohort_ts, age, n_users, cohort_size, retention)`` —
    retention = n_users / cohort_size (age-0 count, which by construction
    equals the cohort's distinct-user total) rounded to 6 dp. Buckets are
    integer floor-divisions of epoch microseconds (engine-exact).
    """
    bucket_us = 7 * _US_PER_DAY
    b = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(bucket_us)
    ).cast("long")
    base = events.select(F.col("user_id").alias("_u"), b.alias("_b"))
    # Distinct (user, bucket) activity and per-user first bucket share the
    # user_id hash partitioning; the join is co-partitioned.
    activity = base.groupBy("_u", "_b").agg(F.count(F.lit(1)).alias("_dummy")).drop(
        "_dummy"
    )
    first = base.groupBy("_u").agg(F.min("_b").alias("_cohort"))
    joined = activity.join(first, "_u")
    matrix = joined.groupBy(
        F.col("_cohort").alias("cohort_bucket"),
        (F.col("_b") - F.col("_cohort")).cast("int").alias("age"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    # Denominator: the cohort's age-0 row (every user is active in their own
    # first bucket, so age-0 count == cohort size). Window over the tiny
    # rollup, not the corpus.
    w = Window.partitionBy("cohort_bucket")
    return matrix.select(
        "cohort_bucket",
        F.timestamp_micros(F.col("cohort_bucket") * F.lit(bucket_us))
        .cast("timestamp_ntz")
        .alias("cohort_ts"),
        "age",
        "n_users",
        F.max(F.when(F.col("age") == 0, F.col("n_users"))).over(w).alias(
            "cohort_size"
        ),
    ).withColumn(
        "retention",
        F.round(F.col("n_users").cast("double") / F.col("cohort_size").cast("double"), 6),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every observed state, the ``top_k`` = 5 next states by
    transition count with the exact transition probability — the "what do
    users do after X" path-analysis rollup (and the empirical transition
    model a session-simulator or next-event prior trains on).

    Output: ``(src_event, dst_event, n, rk, prob)`` — ``rk`` the dense
    1..top_k rank by (count desc, dst asc), ``prob`` = n / Σ n over the
    src's FULL outgoing row (denominator includes transitions beyond the
    top_k cut, so probabilities are true probabilities, not
    renormalized-over-survivors).

    Determinism contract: sequences are totally ordered by (ts integer
    micros, event_id); probability is one BIGINT/BIGINT division
    rounded to 6 dp at the boundary.

    Scale shape (100 TB): ONE corpus shuffle — the lead window partitions
    by actor; the (src, dst) count agg that follows is map-combinable, so
    the second exchange moves one row per observed (src, dst) pair (state
    vocabulary squared, not events). Per-src totals and the top-k are a
    window + WindowGroupLimit over that tiny matrix. A bot actor with
    10^8 events costs one linear window run — O(1) state per row.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    pairs = (
        events.select(
            F.col("user_id"),
            F.col("event_type").alias("src_event"),
            F.col("ts"),
            F.col("event_id"),
        )
        .withColumn("dst_event", F.lead("src_event").over(w))
        .filter(F.col("dst_event").isNotNull())
    )
    counts = pairs.groupBy("src_event", "dst_event").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("src_event")
    rk = Window.partitionBy("src_event").orderBy(
        F.col("n").desc(), F.col("dst_event").asc()
    )
    return (
        counts.withColumn("_tot", F.sum("n").over(tot))
        .withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 5)
        .select(
            "src_event",
            "dst_event",
            "n",
            "rk",
            F.round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("prob"),
        )
    )


def touch_attribution(events: DataFrame) -> DataFrame:
    """First-touch / last-touch conversion attribution: every conversion
    is credited to the earliest (first-touch) and latest (last-touch)
    qualifying touch event (view, click or signup) by the same user within
    6 hours BEFORE
    (or at) the conversion — the standard marketing-attribution rollup,
    restated as a composition of this repo's bounded range join (q63
    machinery: window-width bucket equi-joins, never an inequality-join
    node) + an exact argmin/argmax per conversion.

    Output: ``(model, touch_type, n_conversions, sum_value_centi)`` —
    one row per (attribution model, credited touch type); conversions
    with NO qualifying touch appear under ``touch_type='(none)'`` so the
    rollup is a complete partition of conversions (Σ n over either model
    equals the conversion count). Conversion values quantize to exact
    centi-units (BIGINT floor) so sums are order-independent.

    Determinism contract: credit ties (two touches at the same delta) go
    to the smallest touch event_id for last-touch and the largest for
    first-touch — encoded as one lexicographic struct MIN/MAX, replayed
    by the oracle as a ROW_NUMBER over the same sort.

    Scale shape (100 TB): touches and conversions are each filtered
    map-side before any shuffle; the pair space is bounded by the range
    join's per-(user, bucket) co-partitioning; the per-conversion credit
    is a map-combinable struct min/max agg keyed by conversion id; the
    final rollup is a tiny (model × touch-vocabulary) table. A bot user
    generates pairs only within its own horizon buckets — never a
    corpus-wide inequality join.
    """
    from java9_gc_log_parser_spark.operators.asof import range_join

    conv = events.filter(F.col("event_type") == "purchase")
    touch = events.filter(F.col("event_type").isin("view", "click", "signup"))
    pairs = range_join(
        touch,
        conv,
        key="user_id",
        ts="ts",
        window_us=21_600_000_000,
        left_cols=("event_id", "event_type"),
        right_cols=("event_id", "value"),
    )
    credited = pairs.groupBy("r_event_id").agg(
        F.min(
            F.struct("delta_us", "l_event_id", "l_event_type")
        ).alias("_last"),
        F.max(
            F.struct("delta_us", "l_event_id", "l_event_type")
        ).alias("_first"),
        F.first("r_value").alias("_v"),
    )
    legs = []
    for model, pick in (("last_touch", "_last"), ("first_touch", "_first")):
        legs.append(
            credited.select(
                F.lit(model).alias("model"),
                F.col(f"{pick}.l_event_type").alias("touch_type"),
                F.floor(F.col("_v") * 100).cast("long").alias("_vc"),
            )
        )
    attributed = legs[0].unionAll(legs[1])
    orphan = (
        conv.join(
            pairs.select(F.col("r_event_id").alias("event_id")).distinct(),
            "event_id",
            "left_anti",
        )
        .select(F.floor(F.col("value") * 100).cast("long").alias("_vc"))
    )
    orphan_legs = [
        orphan.select(
            F.lit(model).alias("model"),
            F.lit("(none)").alias("touch_type"),
            "_vc",
        )
        for model in ("last_touch", "first_touch")
    ]
    return (
        attributed.unionAll(orphan_legs[0])
        .unionAll(orphan_legs[1])
        .groupBy("model", "touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum("_vc").alias("sum_value_centi"),
        )
    )
