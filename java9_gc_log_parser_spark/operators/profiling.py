"""Corpus/key profiling operators: the diagnostics a 100-TB pipeline runs
BEFORE committing to a partitioning or filtering strategy.

Two operators:

  * :func:`key_skew_report` — hot-key diagnostics for any prospective
    shuffle key. The reference never needed this (one JVM log = one key);
    a transcript store does: a runaway agent conversation ("conv-hot" in
    the synth data) can own a double-digit share of all turns, and every
    groupBy/join keyed on conv_id inherits that skew. This report is what
    justifies the salted two-phase aggregation (operators/aggregate.py G2)
    and AQE skew-join settings — measured, not guessed.
  * :func:`length_outlier_gate` — per-source dynamic length filtering:
    instead of one global min/max token gate (wrong for code vs chat vs web
    prose), compute per-source percentile thresholds and gate against them.

Scale notes (100 TB):
  * key_skew_report is a map-combinable count + top-k
    (TakeOrderedAndProject): partial aggregation absorbs the skew it is
    measuring — the hot key's billions of rows pre-combine to one partial
    per map task, so the report itself never suffers the skew it reports.
  * length_outlier_gate uses EXACT per-group percentiles (holistic: buffers
    the group's values) so the DuckDB oracle can replay it bit-for-bit;
    sources are few, but at extreme per-source cardinality switch to
    approx_percentile (documented error) or the q65 mergeable histogram
    sketch — the gate's join side stays a handful of rows either way and
    broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import lower_tokens, token_count

__all__ = [
    "json_payload_audit",
    "key_skew_report",
    "length_outlier_gate",
    "value_anomaly_profile",
]

_US_PER_DAY = 86_400_000_000


def json_payload_audit(events: DataFrame) -> DataFrame:
    """Semi-structured payload audit: parse the JSON ``props``, extract
    its integer field ``k``, and report per (event_type, key-signature, 7-day bucket)
    the parse coverage and the field's exact-integer stats — the drift gate
    a log pipeline runs on free-form telemetry payloads before trusting a
    downstream extraction (the reference's analogue is its closed tag/level
    vocabulary check, GcLineParser.scala's alternation order: anything
    outside the expected shape must surface as a counted miss, not vanish).

    ``key_sig`` is the sorted comma-joined JSON key set (schema drift shows
    up as a NEW key_sig row, never as silently ignored fields); extraction
    uses try-cast semantics so a malformed value degrades to a counted
    parse miss under ANSI mode instead of fail-stopping the job.

    Output: ``(event_type, key_sig, bucket_ts, n, n_parsed, parse_rate,
    v_min, v_max, v_sum, v_mean)`` — min/max/sum are exact BIGINTs, the two
    ratios are 6-dp-rounded doubles (NULL mean when nothing parsed).

    Scale notes (100 TB): map-only JSON work (JVM ``get_json_object`` /
    ``json_object_keys`` inside codegen — no Python) feeding one
    map-combinable hash agg; output cardinality is (types x signatures x
    buckets), tiny. Hot payload shapes pre-combine map-side.
    """
    bucket_us = 7 * _US_PER_DAY
    b = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(bucket_us)
    ).cast("long")
    v = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    key_sig = F.array_join(F.array_sort(F.json_object_keys(F.col("props"))), ",")
    base = events.select(
        "event_type",
        F.coalesce(key_sig, F.lit("<invalid>")).alias("key_sig"),
        b.alias("_b"),
        v.alias("_v"),
    )
    return (
        base.groupBy("event_type", "key_sig", "_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("_v").cast("long").alias("n_parsed"),
            F.min("_v").alias("v_min"),
            F.max("_v").alias("v_max"),
            F.sum("_v").alias("v_sum"),
        )
        .select(
            "event_type",
            "key_sig",
            F.timestamp_micros(F.col("_b") * F.lit(bucket_us))
            .cast("timestamp_ntz")
            .alias("bucket_ts"),
            "n",
            "n_parsed",
            F.round(
                F.col("n_parsed").cast("double") / F.col("n").cast("double"), 6
            ).alias("parse_rate"),
            "v_min",
            "v_max",
            "v_sum",
            F.round(
                F.when(
                    F.col("n_parsed") > 0,
                    F.col("v_sum").cast("double") / F.col("n_parsed").cast("double"),
                ),
                6,
            ).alias("v_mean"),
        )
    )


def value_anomaly_profile(events: DataFrame) -> DataFrame:
    """Per-key z-score anomaly profile over a numeric telemetry column:
    how many observations sit beyond 1/2/3 population standard deviations,
    plus the max |z| — the sanity gate a pipeline runs before trusting a
    metric column (the reference's analogue: its duration fields feed p99
    rollups that a single corrupted value would poison).

    Determinism contract: values quantize to exact centi-units (BIGINT);
    with S = Σv, Q = Σv² (both exact), z² = (v·n − S)² / (n·Q − S²), so
    every threshold test is a pure-integer comparison
    ``(v·n − S)² > k²·(n·Q − S²)`` — no float accumulation anywhere, and
    max|z| is a float only at the final single sqrt of exact integers.
    Validity bound: products must fit int64 — n·Q < 2^63, i.e. roughly
    n·(100·v_max)² · n < 9.2e18 (documented; at petabyte-scale n switch the
    comparison to DOUBLE of the exact integer subterms — identical
    rounding both engines — or DECIMAL).

    Output, one row per key: ``(event_type, n, v_mean, v_std, max_absz,
    n_over_1s, n_over_2s, n_over_3s)`` — mean/std/max_absz 6-dp, NULL
    std/z when the key's variance is 0 or n < 2.

    Scale notes (100 TB): two map-combinable hash aggs over the stream
    (moments, then exceedance counts) with the tiny per-key moment table
    broadcast back between them — no window, no sort, no holistic state.
    """
    key, value = "event_type", "value"
    centi = F.floor(F.col(value) * 100).cast("long")
    base = events.filter(F.col(value).isNotNull()).select(
        F.col(key), centi.alias("_v")
    )
    stats = base.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_q"),
    )
    joined = base.join(F.broadcast(stats), key).select(
        F.col(key),
        "_n",
        "_s",
        "_q",
        (F.col("_v") * F.col("_n") - F.col("_s")).alias("_dev"),
        (F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")).alias("_var_n2"),
    )
    dev2 = F.col("_dev") * F.col("_dev")
    over = lambda k2: F.sum(  # noqa: E731
        F.when(dev2 > F.lit(k2) * F.col("_var_n2"), F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    absz = F.when(
        F.col("_var_n2") > 0,
        F.abs(F.col("_dev")).cast("double")
        / F.sqrt(F.col("_var_n2").cast("double")),
    )
    return joined.groupBy(key).agg(
        F.first("_n").alias("n"),
        F.round(
            F.first("_s").cast("double") / F.lit(100.0)
            / F.first("_n").cast("double"),
            6,
        ).alias("v_mean"),
        F.round(
            F.when(
                F.first("_var_n2") > 0,
                F.sqrt(F.first("_var_n2").cast("double"))
                / F.first("_n").cast("double")
                / F.lit(100.0),
            ),
            6,
        ).alias("v_std"),
        F.round(F.max(absz), 6).alias("max_absz"),
        over(1).alias("n_over_1s"),
        over(4).alias("n_over_2s"),
        over(9).alias("n_over_3s"),
    )


def key_skew_report(df: DataFrame, key: str) -> DataFrame:
    """Top-10 hottest values of ``key`` with share and hot-factor.

    Output: ``(rank, <key>, n_rows, share, hot_factor)`` where share is the
    value's fraction of all rows and hot_factor is its count relative to a
    perfectly uniform key (count * n_distinct / n_total — 1.0 means no
    skew). Deterministic: ties rank by key value ascending.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").cast("double").alias("_total"),
        F.count(F.lit(1)).cast("double").alias("_k"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col(key).asc()).limit(10)
    # rank within the already-limited top-10: a single tiny partition
    w = F.row_number().over(
        Window.orderBy(F.col("n_rows").desc(), F.col(key).asc())
    )
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            w.alias("rank"),
            F.col(key),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(F.col("n_rows") * F.col("_k") / F.col("_total"), 6).alias(
                "hot_factor"
            ),
        )
    )


def length_outlier_gate(docs: DataFrame) -> DataFrame:
    """Per-group dynamic length gate: keep docs whose token count lies
    within its ``source``'s [p5, p95] exact percentile band.

    Output, one row per doc:
    ``(doc_id, source, n_tokens, lo, hi, keep)`` — lo/hi are the
    group's interpolated percentile thresholds (6 dp), keep compares the
    integer token count against the UNROUNDED thresholds (an integer can
    only tie a threshold when the percentile lands exactly on a rank, where
    interpolation is exact in both engines, so the comparison is
    engine-stable).
    """
    group_col, lo_q, hi_q = "source", 0.05, 0.95
    with_n = docs.select(
        "doc_id",
        F.col(group_col),
        token_count().cast("long").alias("n_tokens"),
    )
    bands = with_n.groupBy(group_col).agg(
        F.percentile("n_tokens", F.lit(lo_q)).alias("_lo"),
        F.percentile("n_tokens", F.lit(hi_q)).alias("_hi"),
    )
    return with_n.join(F.broadcast(bands), group_col).select(
        "doc_id",
        group_col,
        "n_tokens",
        F.round("_lo", 6).alias("lo"),
        F.round("_hi", 6).alias("hi"),
        (
            (F.col("n_tokens") >= F.col("_lo"))
            & (F.col("n_tokens") <= F.col("_hi"))
        ).alias("keep"),
    )


def trend_ols(events: DataFrame) -> DataFrame:
    """Per-key ordinary-least-squares trend line of ``value`` over time —
    the closed-form slope/intercept/R² from five map-combinable moment
    sums (n, Σx, Σy, Σxy, Σx², Σy²): the per-metric drift detector that
    answers "is this telemetry channel trending, and how fast" in ONE
    hash aggregation over the corpus, no iteration, no sampling.

    Determinism contract: x = hours since 2024-01-01T00:00Z (exact BIGINT
    from integer division of epoch micros), y = exact centi-units; all
    six moments are order-independent BIGINT sums, and the slope /
    intercept / R² derive from them by a fixed float op tree rounded to
    6 dp at the boundary — DuckDB replays bit-for-bit.

    Overflow envelope: with |x| ≤ 2^20 hours (~120 years) and |y| ≤ 2^25
    centi-units, BIGINT moment sums are exact up to ~2^18 rows per group
    BEFORE the n·Σ products; the recorded fixtures sit >10× inside that.
    Under Spark's ANSI mode an envelope breach FAIL-STOPS (no silent
    wrap); the cluster-scale upgrade path is casting the six moments to
    DECIMAL(38,0) before the products — same plan shape, one line.
    Cross-term squares (S_xy², S_xx·S_yy) exceed any integer width, so R²
    is computed from the three BIGINT-exact centered sums cast to double
    — both engines' casts and IEEE ops are correctly rounded, so the
    doubles stay bit-identical.

    Output: ``(event_type, n, hours_span, slope_per_hour, intercept, r2)`` —
    slope/intercept in VALUE units (centi scaling divided back out);
    groups with zero x-variance return NULL slope/intercept/r2.
    """
    key, ts, value = "event_type", "ts", "value"
    origin_hours = 473_352  # 2024-01-01T00:00Z in epoch hours
    x = (
        F.unix_micros(F.col(ts).cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("long") - F.lit(origin_hours)
    y = F.floor(F.col(value) * 100).cast("long")
    m = (
        events.filter(F.col(value).isNotNull())
        .select(F.col(key), x.alias("_x"), y.alias("_y"))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_x").alias("sx"),
            F.sum("_y").alias("sy"),
            F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
            F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
            F.sum(F.col("_y") * F.col("_y")).alias("syy"),
            (F.max("_x") - F.min("_x")).alias("hours_span"),
        )
    )
    # centered sums, still exact BIGINT (ANSI fail-stop guards overflow)
    m = m.withColumns(
        {
            "_cxy": F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
            "_cxx": F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
            "_cyy": F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"),
        }
    )
    slope_c = F.col("_cxy").cast("double") / F.col("_cxx").cast("double")
    has_var = F.col("_cxx") > 0
    return m.select(
        key,
        "n",
        "hours_span",
        F.round(F.when(has_var, slope_c / F.lit(100.0)), 6).alias(
            "slope_per_hour"
        ),
        F.round(
            F.when(
                has_var,
                (
                    F.col("sy").cast("double") / F.col("n").cast("double")
                    / F.lit(100.0)
                )
                - (slope_c / F.lit(100.0))
                * (
                    F.col("sx").cast("double") / F.col("n").cast("double")
                ),
            ),
            6,
        ).alias("intercept"),
        F.round(
            F.when(
                has_var & (F.col("_cyy") > 0),
                (F.col("_cxy").cast("double") * F.col("_cxy").cast("double"))
                / (
                    F.col("_cxx").cast("double")
                    * F.col("_cyy").cast("double")
                ),
            ),
            6,
        ).alias("r2"),
    )


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source token-distribution drift: Jensen-Shannon divergence of
    each source's token distribution (over the global top-50
    vocabulary plus one ``(oov)`` mass bucket, so distributions always
    sum to 1) against the corpus-wide distribution — the "which feed
    changed" screen that catches a scraper regression or an upstream
    format shift as a distribution move, before any downstream metric
    notices.

    Determinism contract (cross-engine): every per-term JSD contribution
    is computed by one fixed float op tree from exact BIGINT count ratios
    and then QUANTIZED to nano-units (ROUND(term·1e9) as BIGINT) before
    summation — the per-source sum is an order-independent integer sum,
    immune to float accumulation-order differences between engines; the
    final divide+round happens once at the boundary. Terms with zero
    source mass use the 0·ln(0) := 0 convention.

    Scale shape (100 TB): the corpus-sized work is ONE token explode +
    two map-combinable hash aggs (per-(source, vtok) and the vocab cut);
    everything after operates on the (sources × vocab+1) spine — a few
    hundred rows built by joining two broadcast-scale dims, never a
    corpus shuffle. The dense spine (cross of two tiny dims) is what
    makes missing (source, token) cells contribute their 0.5·p_g·ln 2
    mass instead of silently vanishing.

    Output: ``(source, n_tokens, jsd)`` — jsd in [0, ln 2], 6 dp.
    """
    stream = docs.select(
        F.col("source").alias("src"), F.explode(lower_tokens()).alias("tok")
    )
    gcount = stream.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    vocab = gcount.orderBy(
        F.col("n_g").desc(), F.col("tok").asc()
    ).limit(50)
    tagged = stream.join(
        F.broadcast(vocab.select("tok", F.lit(True).alias("_in"))),
        "tok",
        "left",
    ).select(
        "src",
        F.when(F.col("_in"), F.col("tok"))
        .otherwise(F.lit("(oov)"))
        .alias("vtok"),
    )
    sv = tagged.groupBy("src", "vtok").agg(
        F.count(F.lit(1)).cast("long").alias("n_sv")
    )
    stot = sv.groupBy("src").agg(F.sum("n_sv").alias("n_s"))
    gv = sv.groupBy("vtok").agg(F.sum("n_sv").alias("n_gv"))
    gtot = gv.agg(F.sum("n_gv").alias("n_gt")).withColumn("_k", F.lit(1))
    spine = (
        stot.withColumn("_k", F.lit(1))
        .join(gv.withColumn("_k", F.lit(1)), "_k")
        .join(F.broadcast(gtot), "_k")
        .join(sv, ["src", "vtok"], "left")
        .withColumn("n_sv", F.coalesce(F.col("n_sv"), F.lit(0)))
    )
    p_s = F.col("n_sv").cast("double") / F.col("n_s").cast("double")
    p_g = F.col("n_gv").cast("double") / F.col("n_gt").cast("double")
    mid = (p_s + p_g) / F.lit(2.0)
    term = (
        F.when(
            F.col("n_sv") > 0, F.lit(0.5) * p_s * F.log(p_s / mid)
        ).otherwise(F.lit(0.0))
        + F.lit(0.5) * p_g * F.log(p_g / mid)
    )
    return (
        spine.withColumn(
            "_tn", F.round(term * F.lit(1e9)).cast("long")
        )
        .groupBy("src")
        .agg(
            F.first("n_s").alias("n_tokens"),
            F.sum("_tn").alias("_jn"),
        )
        .select(
            F.col("src").alias("source"),
            F.col("n_tokens"),
            F.round(F.col("_jn").cast("double") / F.lit(1e9), 6).alias(
                "jsd"
            ),
        )
    )


def _stats_melt(
    df: DataFrame, specs: tuple[tuple[str, Column], ...]
) -> tuple[DataFrame, DataFrame]:
    """The stats melt shared by :func:`table_stats` and :func:`stats_state`:
    ``(melted, basics)`` — one ``(column, key)`` row per spec per input row
    (a map-only explode of a fixed |specs|-slot struct array), and its
    map-combinable ``(column, n_rows, n_null, min_key, max_key)`` rollup.
    """
    if not specs:
        raise ValueError("need at least one column spec")
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column"),
                        key.cast("string").alias("key"),
                    )
                    for name, key in specs
                ]
            )
        ).alias("kv")
    ).select("kv.column", "kv.key")
    basics = melted.groupBy("column").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("key").isNull().cast("long")).alias("n_null"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )
    return melted, basics


def table_stats(
    df: DataFrame,
    specs: tuple[tuple[str, Column], ...],
) -> DataFrame:
    """ANALYZE-style per-column statistics in one melt of the table — the
    stats a cost-based optimizer (join reordering, broadcast decisions)
    or a data-contract monitor consumes: row count, null count, key-space
    min/max, and NDV as a mergeable HLL estimate audited against the
    exact distinct.

    ``specs`` maps each reported column to its CANONICAL KEY expression
    (a string Column): the caller fixes the engine-portable rendering —
    integers as decimal strings, timestamps as epoch-micros strings,
    doubles centi-quantized — so the oracle replays NDV/min/max on
    byte-identical keys (raw double/timestamp→string formatting differs
    between engines; the key contract removes that seam). ``min_key`` /
    ``max_key`` are LEXICOGRAPHIC bounds of the key space — what a
    string-keyed zone map stores — not numeric bounds.

    Scale shape (100 TB): one map-only melt (:func:`_stats_melt`) feeds
    both aggs: the per-column null/count/min/max rollup is map-combinable
    to |specs| rows; NDV reuses :func:`~.sketches.grouped_hll_distinct` —
    shards sketch independently, registers merge by max, 256 small ints
    per column.
    The exact-distinct leg exists for the audit; at cluster scale only
    the sketch side runs.

    Output: one row per column ``(column, n_rows, n_null, min_key,
    max_key, ndv_hll, ndv_exact, rel_error)``.
    """
    from java9_gc_log_parser_spark.operators.sketches import (
        grouped_hll_distinct,
    )

    melted, basics = _stats_melt(df, specs)
    ndv = grouped_hll_distinct(
        melted.filter(F.col("key").isNotNull()), "column", F.col("key")
    )
    return basics.join(ndv, "column").select(
        "column",
        "n_rows",
        "n_null",
        "min_key",
        "max_key",
        F.col("hll_estimate").alias("ndv_hll"),
        F.col("exact_distinct").alias("ndv_exact"),
        "rel_error",
    )


def stats_state(
    df: DataFrame, specs: tuple[tuple[str, Column], ...]
) -> tuple[DataFrame, DataFrame]:
    """MERGEABLE form of :func:`table_stats`: returns ``(basics,
    registers)`` state tables — basics ``(column, n_rows, n_null,
    min_key, max_key)`` and the HLL register table ``(column, register,
    max_rank)``. Persist both per ingest batch; history never re-scans.
    """
    from java9_gc_log_parser_spark.operators.sketches import (
        hll_register_table,
    )

    melted, basics = _stats_melt(df, specs)
    regs = hll_register_table(
        melted.filter(F.col("key").isNotNull()), ("column",), F.col("key")
    )
    return basics, regs


def merge_stats_state(
    a: tuple[DataFrame, DataFrame], b: tuple[DataFrame, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Merge two stats states — the incremental-ANALYZE step: counts
    ADD, bounds LEAST/GREATEST, registers MAX. Associative and
    commutative, so a 10-year history folds batch by batch; a full
    re-scan is never needed (and the q115 oracle proves merge == direct
    by computing the direct stats independently)."""
    ab, ar = a
    bb, br = b
    basics = (
        ab.unionByName(bb)
        .groupBy("column")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_null").cast("long").alias("n_null"),
            F.min("min_key").alias("min_key"),
            F.max("max_key").alias("max_key"),
        )
    )
    regs = (
        ar.unionByName(br)
        .groupBy("column", "register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    return basics, regs


def stats_report(
    state: tuple[DataFrame, DataFrame]
) -> DataFrame:
    """Final report from a (possibly merged) stats state: ``(column,
    n_rows, n_null, min_key, max_key, ndv_hll)`` — the q113 report minus
    the exact-audit leg, which needs raw rows and exists only at test
    scale (q115's oracle supplies it from the full table instead)."""
    from java9_gc_log_parser_spark.operators.sketches import (
        hll_estimate_from_registers,
    )

    basics, regs = state
    est = hll_estimate_from_registers(regs, ("column",))
    return basics.join(est, "column").select(
        "column",
        "n_rows",
        "n_null",
        "min_key",
        "max_key",
        F.col("hll_estimate").alias("ndv_hll"),
    )


def seasonal_anomaly(events: DataFrame) -> DataFrame:
    """Seasonality-aware anomaly screen: each (key, DAY, hour-of-day)
    cell's mean is tested against the LEAVE-ONE-OUT baseline of the same
    (key, hour-of-day) across all OTHER days — "is tonight's 3am error
    rate anomalous FOR 3am", the comparison q98's global z-score cannot
    make (a nightly batch spike is normal at 03:00 and an incident at
    15:00). Flag: |mean_day − mean_baseline| > 2·σ_baseline.

    Determinism contract: all moments (n, Σcenti, Σcenti²) are exact
    BIGINT sums per (key, day, hour); the leave-one-out baseline is pure
    integer subtraction of the day's own moments from the (key, hour)
    totals — no day leaks into its own baseline. The 2σ comparison and
    the reported means are computed from those integers by one fixed
    float op tree (products exceed BIGINT range at corpus scale, and
    identical IEEE inputs+ops give identical doubles in both engines);
    rounding to 6 dp happens only at the output boundary.

    Scale shape (100 TB): ONE map-combinable hash agg to the (key × days
    × 24)-row cell table; the (key, hour) totals and the LOO subtraction
    are a second agg + join over that tiny rollup — the corpus is
    touched once. Cells with a degenerate baseline (< 2 other-day rows
    or zero variance) report NULL flag rather than a fake verdict.

    Output: ``(event_type, day, hour, n_day, mean_day, mean_base,
    is_anomaly)`` per observed cell.
    """
    key, ts, value = "event_type", "ts", "value"
    cells = (
        events.filter(F.col(value).isNotNull())
        .select(
            F.col(key),
            F.expr(
                f"unix_micros(cast({ts} as timestamp))"
                " div 86400000000"
            ).alias("day"),
            F.expr(
                f"(unix_micros(cast({ts} as timestamp))"
                " div 3600000000) % 24"
            ).cast("int").alias("hour"),
            F.floor(F.col(value) * 100).cast("long").alias("_vc"),
        )
        .groupBy(key, "day", "hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_d"),
            F.sum("_vc").alias("s_d"),
            F.sum(F.col("_vc") * F.col("_vc")).alias("q_d"),
        )
    )
    totals = cells.groupBy(key, "hour").agg(
        F.sum("n_d").alias("n_t"),
        F.sum("s_d").alias("s_t"),
        F.sum("q_d").alias("q_t"),
    )
    j = cells.join(totals, [key, "hour"])
    n_b = F.col("n_t") - F.col("n_d")
    s_b = F.col("s_t") - F.col("s_d")
    q_b = F.col("q_t") - F.col("q_d")
    # fixed float op tree from exact integers (see docstring); the n_b
    # guards are explicit — under ANSI a double division by zero
    # fail-stops rather than yielding NaN, and the empty-baseline cell
    # must report NULL, not crash
    mean_d = F.col("s_d").cast("double") / F.col("n_d").cast("double")
    mean_b = F.when(
        n_b > 0, s_b.cast("double") / n_b.cast("double")
    )
    var_b = F.when(
        n_b >= 2,
        (
            n_b.cast("double") * q_b.cast("double")
            - s_b.cast("double") * s_b.cast("double")
        )
        / (n_b.cast("double") * (n_b.cast("double") - F.lit(1.0))),
    )
    diff = mean_d - mean_b
    flag = F.when(
        (n_b >= 2) & (var_b > 0), diff * diff > F.lit(4.0) * var_b
    ).otherwise(F.lit(None).cast("boolean"))
    return j.select(
        key,
        "day",
        "hour",
        F.col("n_d").alias("n_day"),
        # plain division, NO final ROUND: the op tree from exact integer
        # sums is bit-identical across engines, but ROUND(x, 6) is not —
        # Spark rounds via shortest-decimal BigDecimal (exact-tie HALF_UP),
        # DuckDB rounds the binary double, and at sf0.1 two cells landed
        # exactly on the .5 boundary and diverged by 1e-6.
        (mean_d / F.lit(100.0)).alias("mean_day"),
        (mean_b / F.lit(100.0)).alias("mean_base"),
        flag.alias("is_anomaly"),
    )


def mad_outlier_profile(events: DataFrame) -> DataFrame:
    """Robust (median/MAD) outlier profile per key — the
    breakdown-point-0.5 complement to the two moment-based screens:
    q98's global z-score and q118's seasonal z both use mean/variance,
    which the outliers themselves inflate (one 10^6× spike can mask
    every other anomaly by blowing up σ). The modified z-score
    0.6745·|v − median| / MAD (Iglewicz–Hoaglin) is immune to that:
    median and MAD ignore the magnitude of the tails entirely.

    Determinism contract: values quantize to exact centi BIGINTs; the
    median is Spark's exact interpolating `percentile`, which q73
    already pins as bit-equal to DuckDB's `quantile_cont`; the absolute
    deviations feed a second exact percentile; the flag compares one
    fixed float op tree (0.6745·|v−med| > 3.5·MAD) on doubles both
    engines derive identically. Keys where MAD = 0 (>half the values
    identical) report NULL rate — the modified z is undefined there,
    not zero.

    Scale note: exact `percentile` is holistic — O(group) buffer per
    key, the q73 trade — appropriate for per-KEY profiles where key
    cardinality is the small dimension; for corpus-wide exact order
    statistics use q112's two-pass selection instead.

    Output: one row per key ``(event_type, n, med, mad, n_outliers,
    outlier_rate)`` — med/mad reported in value units (6 dp).
    """
    key, value = "event_type", "value"
    base = events.filter(F.col(value).isNotNull()).select(
        F.col(key), F.floor(F.col(value) * 100).cast("long").alias("_vc")
    )
    med = base.groupBy(key).agg(
        F.percentile("_vc", F.lit(0.5)).alias("_med")
    )
    dev = base.join(F.broadcast(med), key).withColumn(
        "_ad", F.abs(F.col("_vc").cast("double") - F.col("_med"))
    )
    mad = dev.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.first("_med").alias("_med2"),
        F.percentile("_ad", F.lit(0.5)).alias("_mad"),
    )
    flagged = (
        dev.join(
            F.broadcast(mad.select(key, "_mad")), key
        )
        .withColumn(
            "_out",
            F.when(
                F.col("_mad") > 0,
                (F.lit(0.6745) * F.col("_ad")
                 > F.lit(3.5) * F.col("_mad")).cast("long"),
            ),
        )
        .groupBy(key)
        .agg(F.sum("_out").alias("_n_out"))
    )
    return mad.join(flagged, key).select(
        key,
        "n",
        F.round(F.col("_med2") / F.lit(100.0), 6).alias("med"),
        F.round(F.col("_mad") / F.lit(100.0), 6).alias("mad"),
        F.coalesce(F.col("_n_out"), F.lit(0)).cast("long").alias(
            "n_outliers"
        ),
        F.round(
            F.when(
                F.col("_mad") > 0,
                F.coalesce(F.col("_n_out"), F.lit(0)).cast("double")
                / F.col("n").cast("double"),
            ),
            6,
        ).alias("outlier_rate"),
    )


AB_SALT = "ab:v1"


def ab_proportion_test(events: DataFrame) -> DataFrame:
    """Two-proportion z-test between hash-assigned cohorts — the A/B
    readout every event pipeline ends in: is the outcome rate (here the
    ``error`` share of events) different between cohort A and B?

    Cohorts are deterministic md5 halves of the user-id space (first hex
    nibble 0-7 → A), so assignment is reproducible anywhere, survives
    re-ingestion, and is replayed verbatim by the oracle — the q30
    hash-split discipline applied to experimentation. z uses the pooled-
    variance form z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)); all
    counts are exact BIGINTs from ONE map-combinable agg (the whole test
    is a single corpus pass collapsing to one row), the float op tree is
    fixed, outputs rounded to 6 dp, and significance is decided on the
    UNROUNDED statistic (|z| ≥ 1.959964, α=0.05 two-sided). Degenerate
    pooled rates (p̂ ∈ {0,1}) yield NULL z / NULL significance rather
    than a division by zero.
    """
    is_a = (
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":" + AB_SALT))),
            1,
            1,
        )
        < F.lit("8")
    )
    hit = F.col("event_type") == "error"
    agg = events.agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum((is_a & hit).cast("long")).alias("x_a"),
        F.sum((~is_a).cast("long")).alias("n_b"),
        F.sum((~is_a & hit).cast("long")).alias("x_b"),
    )
    n_a, x_a = F.col("n_a").cast("double"), F.col("x_a").cast("double")
    n_b, x_b = F.col("n_b").cast("double"), F.col("x_b").cast("double")
    p_a, p_b = x_a / n_a, x_b / n_b
    pool = (x_a + x_b) / (n_a + n_b)
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / n_a + 1.0 / n_b))
    z = (p_a - p_b) / se
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0.0)
    return agg.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok, F.abs(z) >= 1.959964).alias("significant"),
    )
