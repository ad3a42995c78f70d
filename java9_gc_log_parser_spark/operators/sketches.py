"""Fixed-size mergeable sketches: count-min heavy hitters + HLL-style
distinct estimation.

At 10^12 rows the exact per-key aggregate behind "which tokens are hot" /
"how many distinct tokens" is a vocabulary-sized shuffle. The classic scale
answer is a FIXED-SIZE mergeable summary: every partition folds its rows
into a d×w counter grid (count-min, Cormode & Muthukrishnan 2005) or an
m-register max grid (HyperLogLog-shaped, Flajolet et al. 2007), the grids
merge associatively (elementwise + / elementwise max — exactly Spark's
partial/final aggregation contract), and the driver-side artifact is a few
KB regardless of corpus size. These operators make that pattern first-class
and — because every hash is md5-derived — byte-reproducible in any engine,
so the DuckDB oracle replays sketch construction and estimation exactly
(no property-test seam like xxhash64 would need).

Reference parity note: beyond-reference training-data operators (SURVEY §2
extension set); the reference's rollups (`GcStateFlow.scala`) are exact and
conversation-scoped — these are the corpus-scoped summaries a 100 TB
curation run needs where exact per-key state no longer fits.

Scale shape shared by both:
- ONE map-side-combinable hash agg over the exploded tokens reduces the
  corpus to its distinct-key table (the same reduction q43/q46 already
  pay); sketch arithmetic then runs on that table, which is equivalent to
  streaming construction because the cells are associative in occurrence
  counts (CMS) and max-based (HLL) — folding a key's total in one step
  equals folding its occurrences one by one.
- the sketch itself is <= d*w (resp. m) rows: a second tiny hash agg, then
  a BROADCAST back for estimation. The corpus never shuffles on a sketch
  key.
- skew: sketch cells are md5-uniform; a hot token concentrates count in 4
  cells but the *shuffle* key space stays uniform.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_analysis import term_counts, terms

#: count-min geometry: 4 independent rows x 1024 buckets (err <= 2e/w * N
#: with prob 1 - (1/2)^d — at d=4, w=1024 the overcount is bounded by
#: ~0.5% of total occurrences with prob 15/16 per query)
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(term: Column, row: int) -> Column:
    """Row-r bucket of a term: 3 md5 hex chars (0..4095) % width.

    String-built, integer-folded — the exact expression the oracle redoes
    with ('0x' || substr(md5(...), 1, 3))::INTEGER % 1024.
    """
    return (
        F.conv(
            F.substring(F.md5(F.concat(term, F.lit(f":cms:{row}"))), 1, 3),
            16,
            10,
        ).cast("int")
        % CMS_WIDTH
    )


def cms_sketch(docs: DataFrame) -> DataFrame:
    """The d×w count-min grid as a DataFrame: (row, bucket, total).

    Cells are sums of occurrence counts whose term hashes into them —
    associative, so per-partition partial grids merge by elementwise add
    (Spark's partial aggregation does exactly this here). Absent cells mean
    zero. <= CMS_DEPTH * CMS_WIDTH rows regardless of corpus size.
    """
    tc = term_counts(docs)
    per_row = [
        tc.select(
            F.lit(r).alias("row"),
            _cms_bucket(F.col("term"), r).alias("bucket"),
            F.col("cnt"),
        )
        for r in range(CMS_DEPTH)
    ]
    grid = per_row[0]
    for p in per_row[1:]:
        grid = grid.unionByName(p)
    return grid.groupBy("row", "bucket").agg(
        F.sum("cnt").cast("long").alias("total")
    )


#: cms_heavy_hitters' candidate heap size
_CMS_TOP = 20


def cms_heavy_hitters(docs: DataFrame) -> DataFrame:
    """Top-``_CMS_TOP`` tokens by exact count, each with its count-min
    estimate and overcount — the audit query that validates the sketch
    against ground truth at test scale (at 100 TB one keeps only the sketch
    and a candidate heap; the exact side here doubles as the oracle
    anchor).

    est(term) = min over rows r of grid[r][bucket_r(term)]; CMS guarantees
    est >= cnt (overcount >= 0, never under).

    Plan: exact top-k via TakeOrderedAndProject (per-partition heap, never
    a global sort); the k candidate terms then join the <=4096-row grid by
    BROADCAST — the corpus-sized side is long gone by then.
    """
    tc = term_counts(docs)
    top = tc.orderBy(F.col("cnt").desc(), F.col("term")).limit(_CMS_TOP)
    grid = cms_sketch(docs)
    for r in range(CMS_DEPTH):
        g = grid.filter(F.col("row") == r).select(
            F.col("bucket").alias(f"_b{r}"), F.col("total").alias(f"_t{r}")
        )
        top = top.withColumn(f"_b{r}", _cms_bucket(F.col("term"), r)).join(
            F.broadcast(g), f"_b{r}"
        )
    w = F.least(*[F.col(f"_t{r}") for r in range(CMS_DEPTH)])
    return (
        top.withColumn("est", w.cast("long"))
        .select(
            "term",
            F.col("cnt").cast("long").alias("cnt"),
            "est",
            (F.col("est") - F.col("cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("cnt").desc(), F.col("term"))
    )


#: HLL geometry: 256 registers (first 2 md5 hex chars), rank from the next
#: 12 hex chars (48 bits — far beyond any realistic leading-zero run)
HLL_REGISTERS = 256
_HLL_RANK_BITS = 48


def hll_register_table(
    df: DataFrame, group_cols: tuple[str, ...], item: Column
) -> DataFrame:
    """The one HLL register construction: ``(group..., register,
    max_rank)`` rows from the distinct items per group, <= 256 rows per
    group. Every HLL query builds its registers here, and callers may
    PERSIST the table and merge later batches by elementwise max instead
    of re-scanning history (see profiling.merge_stats_state / q115).

    register = first 2 md5 hex chars of the item; rank = 1 + number of
    leading zero bits in the next 48 hash bits. The leading-zero count
    is computed entirely in STRING space (4 bits per leading '0' hex
    char + the leading zeros inside the first non-zero hex digit), never
    by a float log2, which has cross-engine boundary risk at exact
    powers of two — so the DuckDB oracle rebuilds the same registers
    bit for bit.
    """
    pairs = df.select(
        *group_cols, item.cast("string").alias("_item")
    ).distinct()
    h = F.md5(F.col("_item"))
    hx = F.substring(h, 3, 12)
    z = F.length(F.regexp_extract(hx, "^(0*)", 1))
    first = F.substring(hx, z + 1, 1)  # '' iff all 12 chars are zero
    digit_lz = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = F.when(z == 12, F.lit(_HLL_RANK_BITS + 1)).otherwise(
        z * 4 + digit_lz + 1
    )
    return (
        pairs.select(
            *group_cols,
            F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
            .alias("register"),
            rank.cast("int").alias("rank"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: tuple[str, ...]
) -> DataFrame:
    """The one HLL estimator, per group of a ``(group..., register,
    max_rank)`` table from :func:`hll_register_table`.

    Standard estimator with the small-range (linear counting)
    correction: E = a_m * m^2 / sum(2^-M_j) over all m registers (absent
    registers count as 2^0 = 1); if E <= 5/2 m and any register is empty,
    E = m * ln(m / V) with V = number of empty registers, and a_m the
    large-m bias constant of Flajolet et al. (2007).

    Float contract: sum(2^-rank) must be ORDER-INDEPENDENT (float sums
    aren't, and Spark folds partitions in nondeterministic order), so it
    is scaled by 2^49: every term 2^(49-rank) is an exact integer (rank
    <= 49 -> term <= 2^48; 256 terms -> sum <= 2^56, inside BIGINT),
    summed exactly as longs, and divided back by 2^49 in double — ONE
    deterministic rounding. Both engines then compute the identical
    double expression and round it to 6dp, so the rows hash-match.

    Output: ``(group..., hll_estimate, _est6)`` — ``_est6`` is that
    6-dp double, which audits compute ``rel_error`` from;
    ``hll_estimate`` is its floor as a long.
    """
    m = float(HLL_REGISTERS)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(1L, {_HLL_RANK_BITS + 1} - max_rank)")
        ).alias("_s_int"),
        F.count(F.lit(1)).alias("_nz"),
    )
    zeros = F.lit(m) - F.col("_nz")
    raw = F.lit(alpha * m * m) / (
        F.col("_s_int").cast("double") / F.lit(float(2 ** 49)) + zeros
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(m) * F.log(F.lit(m) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 6).alias("_est6")).select(
        *group_cols,
        F.floor("_est6").cast("long").alias("hll_estimate"),
        "_est6",
    )


def _rel_error(exact: str) -> Column:
    """Audit column: the 6-dp estimate's relative error against ``exact``."""
    return F.round(
        (F.col("_est6") - F.col(exact)) / F.col(exact), 6
    ).alias("rel_error")


def hll_registers(docs: DataFrame) -> DataFrame:
    """:func:`hll_register_table` over the distinct lowercase tokens:
    ``(register, max_rank)``, <= 256 rows."""
    return hll_register_table(terms(docs), (), F.col("term"))


def hll_distinct_report(docs: DataFrame) -> DataFrame:
    """One-row audit: HLL estimate of the distinct lowercase tokens vs
    the exact count, with the relative error. Registers and estimate are
    :func:`hll_register_table` and :func:`hll_estimate_from_registers`.
    """
    exact = terms(docs).agg(F.countDistinct("term").alias("exact_distinct"))
    return (
        hll_estimate_from_registers(hll_registers(docs), ())
        .join(exact)
        .select(
            "hll_estimate",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            _rel_error("exact_distinct"),
        )
    )


def histogram_quantile(df: DataFrame, col: str) -> DataFrame:
    """Mergeable power-of-two histogram quantile: estimate the q = 0.99
    quantile of a non-negative integer column from <= 64 bin counts, and
    report it next
    to the exact quantile with the relative error — the audit query that
    bounds the sketch against ground truth at test scale (at 100 TB only
    the sketch side runs; exact needs a full distribution pass).

    bin(v) = bit_length(v) (0 for v <= 0) — computed as the LENGTH of the
    base-2 string (Spark ``conv(v,10,2)`` / DuckDB ``bin(v)``), never a
    float log2 (cross-engine boundary flips at exact powers of two). Bin
    counts merge by add (partial aggregation native); the estimate is the
    upper edge 2^bin - 1 of the first bin whose running count reaches
    q * N, so est >= exact always and est/exact < 2 by construction
    (one-sided, factor-2-bounded — the trade for 64 mergeable cells).
    """
    q = 0.99
    v = F.col(col)
    bin_id = F.when(v <= 0, F.lit(0)).otherwise(
        F.length(F.conv(v.cast("string"), 10, 2))
    )
    grid = df.select(bin_id.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = grid.withColumn("cum", F.sum("cnt").over(w)).join(
        F.broadcast(grid.agg(F.sum("cnt").alias("n")))
    )
    hit = (
        ranked.filter(F.col("cum") >= F.lit(q) * F.col("n"))
        .orderBy("bin")
        .limit(1)
        .select(
            F.col("n").cast("long").alias("n_rows"),
            F.expr("shiftleft(1L, bin) - 1L").alias("est_q"),
        )
    )
    exact = df.agg(
        F.round(F.percentile(v, q), 6).alias("exact_q")
    )
    # exact == 0 (degenerate all-zero column) would divide by zero under
    # ANSI mode; define rel_error as 0 there (est is 0 too by construction)
    rel = F.when(
        F.col("exact_q") != 0.0,
        F.round((F.col("est_q") - F.col("exact_q")) / F.col("exact_q"), 6),
    ).otherwise(F.lit(0.0))
    return hit.join(exact).select(
        "n_rows", "est_q", "exact_q", rel.alias("rel_error")
    )


def grouped_hll_distinct(
    df: DataFrame, group_col: str, item: Column
) -> DataFrame:
    """Per-GROUP mergeable HLL distinct estimate with exact audit — the
    scale pattern for "distinct users per dimension value" where an exact
    two-phase distinct would shuffle every (group, item) pair: each shard
    sketches independently, registers merge by elementwise max per group,
    and the estimate reads 256 small integers per group.

    Registers and estimate are :func:`hll_register_table` and
    :func:`hll_estimate_from_registers`, so the DuckDB oracle replays
    every group's registers exactly.

    Output, one row per group: ``(<group_col>, hll_estimate,
    exact_distinct, rel_error)``. (The exact leg exists for the audit; at
    100 TB only the sketch side runs.)
    """
    pairs = df.select(
        F.col(group_col), item.cast("string").alias("_item")
    ).distinct()
    regs = hll_register_table(pairs, (group_col,), F.col("_item"))
    exact = pairs.groupBy(group_col).agg(
        F.countDistinct("_item").alias("exact_distinct")
    )
    return (
        hll_estimate_from_registers(regs, (group_col,))
        .join(exact, group_col)
        .select(
            group_col,
            "hll_estimate",
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            _rel_error("exact_distinct"),
        )
    )


def exact_quantile_select(events: DataFrame) -> DataFrame:
    """EXACT p50/p95/p99 of ``value`` over the whole corpus without a global sort
    and without per-group holistic buffers — the distributed-selection
    counterpart to the mergeable q65 histogram sketch (factor-2 bound)
    and the q73 per-group exact percentile (O(group) buffer): two passes,
    both bounded.

    Pass 1: a map-combinable histogram over fixed-width (256) centi-unit
    buckets (corpus → ≤ range/width rows). The driver cumsums that tiny
    histogram to locate, for each requested quantile, the bucket holding
    the target rank and the residual rank within it. Pass 2 (per
    quantile): filter to THAT bucket (a pushdown-able range predicate —
    at 10^12 rows the scan prunes on zone maps / q77 range clustering)
    and take the residual-rank-th smallest via TakeOrdered(k') + max —
    one row returns to the driver, never the bucket.

    Rank contract (engine-replayable, no dependence on any built-in
    quantile's interpolation flavor): zero-based rank k = floor((n-1)·q),
    the LOWER order statistic of the centi-quantized values; the oracle
    replays it as ROW_NUMBER() = k+1 over the sorted column.

    Cost/skew envelope: pass 2's heap size is the residual rank k' ≤
    bucket population. An adversarial distribution that concentrates the
    corpus into one bucket is handled by RECURSIVE REFINEMENT: while the
    target bucket holds more than ``max_heap_rows`` (100,000) rows and is wider
    than one centi-unit, it is re-histogrammed at width/16 and the walk
    repeats inside it — each round is one more tiny histogram, and a
    width-1 bucket IS its value (every row identical), so the degenerate
    all-one-value corpus resolves with zero TakeOrdered work. The heap
    never exceeds max(max_heap_rows, residual rank in a width-1 bucket's
    sibling) and the driver materializes only histograms and scalars.

    Output: one row per quantile ``(q, n, rank, bucket, bucket_rows,
    value_centi, value)`` — bucket/bucket_rows always refer to the
    TOP-LEVEL histogram (the refinement is internal), so the oracle's
    replay is independent of how many rounds ran.
    """
    bucket_width, max_heap_rows = 256, 100_000
    vc = F.floor(F.col("value") * 100).cast("long")
    base = (
        events.filter(F.col("value").isNotNull())
        .select(vc.alias("_vc"))
        # SQL `div` (integer floor-division), not float `/` + floor — at
        # bucket boundaries a float quotient can land one ulp low
        .withColumn("_b", F.expr(f"_vc div {int(bucket_width)}L"))
    )
    hist = (
        base.groupBy("_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .orderBy("_b")
        .collect()
    )
    n = sum(r["_n"] for r in hist)
    rows = []
    spark = events.sparkSession
    for q in (0.5, 0.95, 0.99):
        if n == 0:
            rows.append((float(q), 0, None, None, None, None, None))
            continue
        k = int((n - 1) * q)  # zero-based lower order statistic
        cum = 0
        target_b, before, brows = None, 0, 0
        for r in hist:
            if cum + r["_n"] > k:
                target_b, before, brows = r["_b"], cum, r["_n"]
                break
            cum += r["_n"]
        kp = k - before + 1  # 1-based residual rank inside the bucket
        # recursive refinement: narrow [lo, hi) until the residual work
        # fits the heap budget or a width-1 bucket pins the value
        lo = target_b * bucket_width
        hi = lo + bucket_width
        width = bucket_width
        sub_rows = brows
        while sub_rows > max_heap_rows and width > 1:
            width = max(1, width // 16)
            sub = (
                base.filter(
                    (F.col("_vc") >= lo) & (F.col("_vc") < hi)
                )
                .withColumn("_sb", F.expr(f"_vc div {int(width)}L"))
                .groupBy("_sb")
                .agg(F.count(F.lit(1)).cast("long").alias("_n"))
                .orderBy("_sb")
                .collect()
            )
            cum2 = 0
            for r in sub:
                if cum2 + r["_n"] > kp - 1:
                    lo = r["_sb"] * width
                    hi = lo + width
                    kp = kp - cum2
                    sub_rows = r["_n"]
                    break
                cum2 += r["_n"]
        if hi - lo == 1:
            v_centi = int(lo)  # a width-1 bucket IS its value
        else:
            got = (
                base.filter(
                    (F.col("_vc") >= lo) & (F.col("_vc") < hi)
                )
                .orderBy("_vc")
                .limit(kp)
                .agg(F.max("_vc").alias("_v"))
                .first()
            )
            v_centi = int(got["_v"])
        rows.append(
            (
                float(q),
                int(n),
                int(k),
                int(target_b),
                int(brows),
                v_centi,
                round(v_centi / 100.0, 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "q double, n long, rank long, bucket long, bucket_rows long,"
        " value_centi long, value double",
    )


def sliding_hll_distinct(events: DataFrame) -> DataFrame:
    """Rolling 7-day distinct ``user_id`` by MERGED HLL registers
    — the sketch-scale restatement of q93's exact rolling WAU. The exact
    version must fan the deduplicated (user, bucket) PAIR SET into every
    target bucket (corpus-proportional explode) because COUNT DISTINCT
    is not frame-subtractable; the sketch version sketches each bucket
    once and fans only the REGISTER TABLE (buckets × 256 small rows)
    into its targets, merging by elementwise max — the fan-out no longer
    scales with users at all. At 10^12 turns that is the difference
    between re-shuffling the active-user corpus ×7 and window-
    maxing a few-thousand-row rollup.

    Registers and estimate are :func:`hll_register_table` and
    :func:`hll_estimate_from_registers` (the oracle replays every
    register exactly). Exact distinct kept per row as the audit; at
    cluster scale only the sketch side runs.

    Output: one row per TARGET bucket covered by any activity:
    ``(bucket_ts, has_activity, n_users_exact, hll_estimate,
    rel_error)``.
    """
    day_us = 86_400_000_000
    pairs = events.select(
        (
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(day_us)
        ).cast("long").alias("_b"),
        F.col("user_id").cast("string").alias("_u"),
    ).distinct()
    fan = F.explode(F.sequence(F.col("_b"), F.col("_b") + F.lit(6))).alias("_t")
    # fan the TINY register rollup (not the user corpus) into its
    # 7 target buckets, then merge by max — register-table merge
    merged = (
        hll_register_table(pairs, ("_b",), F.col("_u"))
        .select(fan, "register", "max_rank")
        .groupBy("_t", "register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    # exact audit leg (test scale only): q93's fan-out of the pair set
    exact = (
        pairs.select(fan, "_b", "_u")
        .groupBy("_t")
        .agg(
            F.countDistinct("_u").cast("long").alias("n_users_exact"),
            F.max(F.col("_b") == F.col("_t")).alias("has_activity"),
        )
    )
    return (
        hll_estimate_from_registers(merged, ("_t",))
        .join(exact, "_t")
        .select(
            F.timestamp_micros(F.col("_t") * F.lit(day_us))
            .cast("timestamp_ntz")
            .alias("bucket_ts"),
            "has_activity",
            "n_users_exact",
            "hll_estimate",
            _rel_error("n_users_exact"),
        )
    )


def hll_set_ops(df: DataFrame) -> DataFrame:
    """HLL set algebra across ``event_type`` groups of ``user_id`` — union
    by register merge,
    intersection by inclusion–exclusion — with the exact answer audited
    in the same row. The question "how many users do segments A and B
    share" at 100 TB: exact needs a (user, segment) shuffle join; the
    sketch needs 256 small ints per segment, and the UNION estimate is
    exactly the elementwise register max (the property that makes HLL
    mergeable makes it a set algebra), with |A∩B| = |A| + |B| − |A∪B|
    clamped at 0 (inclusion–exclusion on estimates can go negative; the
    clamp is part of the contract).

    Registers and estimates are :func:`hll_register_table` and
    :func:`hll_estimate_from_registers`, so the oracle replays every
    single-group AND merged-pair register table exactly. The exact legs
    are the audit; at scale only the sketch side runs.

    Output per unordered group pair: ``(type_a, type_b, est_a, est_b,
    est_union, est_inter, exact_a, exact_b, exact_union, exact_inter)``.
    """
    pairs = df.select(
        F.col("event_type").alias("g"), F.col("user_id").cast("string").alias("_item")
    ).distinct()
    regs = hll_register_table(pairs, ("g",), F.col("_item"))

    groups = pairs.select("g").distinct()
    combos = (
        groups.alias("a")
        .join(groups.alias("b"), F.col("a.g") < F.col("b.g"))
        .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    )
    members = combos.select(
        "ga", "gb", F.explode(F.array("ga", "gb")).alias("g")
    )
    merged = (
        members.join(regs, "g")
        .groupBy("ga", "gb", "register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    singles = hll_estimate_from_registers(regs, ("g",)).withColumnRenamed(
        "hll_estimate", "est"
    )
    unions = hll_estimate_from_registers(merged, ("ga", "gb")).select(
        "ga", "gb", F.col("hll_estimate").alias("est_union")
    )
    ex_g = pairs.groupBy("g").agg(
        F.countDistinct("_item").cast("long").alias("exact")
    )
    ex_inter = (
        pairs.alias("x")
        .join(
            pairs.alias("y"),
            (F.col("x._item") == F.col("y._item"))
            & (F.col("x.g") < F.col("y.g")),
        )
        .groupBy(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    out = (
        combos.join(
            singles.select(
                F.col("g").alias("ga"), F.col("est").alias("est_a")
            ),
            "ga",
        )
        .join(
            singles.select(
                F.col("g").alias("gb"), F.col("est").alias("est_b")
            ),
            "gb",
        )
        .join(unions, ["ga", "gb"])
        .join(
            ex_g.select(F.col("g").alias("ga"), F.col("exact").alias("exact_a")),
            "ga",
        )
        .join(
            ex_g.select(F.col("g").alias("gb"), F.col("exact").alias("exact_b")),
            "gb",
        )
        .join(ex_inter, ["ga", "gb"], "left")
    )
    exact_inter = F.coalesce(F.col("exact_inter"), F.lit(0)).cast("long")
    return out.select(
        F.col("ga").alias("type_a"),
        F.col("gb").alias("type_b"),
        "est_a",
        "est_b",
        "est_union",
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long"),
        ).alias("est_inter"),
        "exact_a",
        "exact_b",
        (F.col("exact_a") + F.col("exact_b") - exact_inter).alias("exact_union"),
        exact_inter.alias("exact_inter"),
    )
