"""Deterministic corpus splitting / sampling for training pipelines.

A training-data pipeline needs train/val/test assignment that is (a) stable
across runs, re-shards, and engine versions — `rand()`-based splits change
membership whenever partitioning changes; (b) derivable from the record
itself so any system (Spark, DuckDB, a Python loader) reproduces it; and
(c) cheap at 10^12 rows — a map-only expression, no shuffle, no state.

The mechanism: bucket = the first 4 hex chars of md5(id || ":" || salt).
md5 of an identical string is identical everywhere, and comparing the
lowercase-hex *string* against precomputed hex boundaries avoids any
hex->int conversion portability trap (the oracle does the same string
comparison). 4 hex chars = 65,536 buckets, so requested fractions are
honored to ~1.5e-5. Salting the hash decouples this split from any other
md5-derived artifact (e.g. the q17 fingerprint) and lets a pipeline keep
several independent splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
#: the salt of the doc_id hash every split and sample buckets on
SPLIT_SALT = "v1"


def split_boundaries() -> list[tuple[str, str]]:
    """[(name, exclusive upper hex bound), ...] with the last bound 'ffff'+.

    Cumulative fractions are mapped to floor(f * 65536) and rendered as
    4-char lowercase hex, the exact strings the oracle SQL compares against.
    """
    out, acc = [], 0.0
    for name, frac in SPLITS:
        acc += frac
        out.append((name, format(min(65536, int(acc * 65536)), "04x")))
    # make the last bucket inclusive of every hash value
    out[-1] = (out[-1][0], "g")  # 'g' > 'f' in ASCII: catches 'ffff'
    return out


def _bucket(id_col: Column, salt: str) -> Column:
    return F.substring(
        F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt))), 1, 4
    )


def hash_split(df: DataFrame) -> DataFrame:
    """Append a deterministic train/val/test ``split`` column.

    Pure map-side expression — no shuffle, survives repartitioning and
    re-ingestion unchanged, reproducible outside Spark from (doc_id, "v1").
    """
    return df.withColumn("split", split_col(F.col("doc_id")))


def split_col(id_col: Column) -> Column:
    """The split assignment as a bare COLUMN expression (factored from
    hash_split): because membership is a pure function of (id, salt), any
    operator can classify an id WITHOUT joining the corpus — e.g. the
    q140 leakage audit labels both ends of a near-dup pair map-side."""
    b = _bucket(id_col, SPLIT_SALT)
    expr = None
    for name, bound in split_boundaries():
        cond = b < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return expr


def stratified_sample(df: DataFrame) -> DataFrame:
    """Deterministic exact-quota sample: the 10 records of each ``source``
    with the smallest (hash bucket, doc_id) — stable across runs and
    re-shards like :func:`hash_split`, but with an exact per-stratum count
    (corpus-mixing quotas need exact counts, not expected fractions).

    Implemented as a per-group top-N window: Spark's WindowGroupLimit
    pushes the rank filter below the sort, so each map task keeps only its
    local top-N per group before the shuffle — the shuffle carries
    O(groups x N x tasks), not the corpus.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        _bucket(F.col("doc_id"), SPLIT_SALT), F.col("doc_id")
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 10)
        .drop("_rk")
    )


def hash_sample(df: DataFrame, fraction: float) -> DataFrame:
    """Deterministic ``fraction`` subsample by the same stable hash.

    Unlike ``DataFrame.sample`` the kept set is a pure function of
    (doc_id, "v1"): stable across runs/partitionings, and nested samples
    are subsets of each other (fraction 0.1 ⊂ fraction 0.2).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    bound = "g" if fraction >= 1.0 else format(int(fraction * 65536), "04x")
    return df.filter(_bucket(F.col("doc_id"), SPLIT_SALT) < F.lit(bound))


def shard_assign(df: DataFrame) -> DataFrame:
    """Append a deterministic ``shard`` column in [0, 8) for training
    export: a 10^12-row corpus is written as 8 independent file sets that
    any loader can re-derive membership for from (doc_id, "shard:v1") alone.

    shard = int(first 4 hex chars of md5(id || ':' || salt), 16) % 8 —
    hash-based (not id % n) so clustered/sequential id ranges still balance.
    Map-only, no shuffle; at write time ``df.repartition(n, 'shard')``
    co-locates each shard's rows (one shuffle, the export's only one).

    Balance bound: the modulo folds a 65,536-value bucket space, so shards
    receive either floor(65536/n) or ceil(65536/n) buckets — a relative
    imbalance of at most n/65536; power-of-2 counts such as 8 are exactly
    even.
    """
    h = _bucket(F.col("doc_id"), "shard:v1")
    return df.withColumn("shard", (F.conv(h, 16, 10).cast("int") % 8).cast("int"))


def shard_manifest(docs: DataFrame) -> DataFrame:
    """Per-shard export manifest: doc count, whitespace-token sum, id range.

    The rollup a shard writer emits next to its files so downstream loaders
    can size readers and verify completeness. One map-side-combinable hash
    agg over the shard assignment — 8 result rows.
    """
    from java9_gc_log_parser_spark.operators.text_analysis import token_count

    return (
        shard_assign(docs).groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count()).alias("n_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .select(
            "shard",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("min_id").cast("long").alias("min_id"),
            F.col("max_id").cast("long").alias("max_id"),
        )
    )


def mixture_sample(
    docs: DataFrame,
    weight_expr: Column,
    token_budget: float,
) -> DataFrame:
    """Deterministic token-budget data mixing: subsample each source so its
    share of the kept tokens tracks ``weight_expr`` (a per-row column giving
    the source's relative weight — constant within a source), with
    ``token_budget`` total tokens targeted across the corpus.

    For source s: target_s = budget * w_s / Σw, frac_s = min(1,
    target_s / actual_s), and a doc is kept iff its stable md5 bucket
    (int of the first 4 hex chars, same mechanism as :func:`hash_split`)
    is < floor(frac_s * 65536). Keep decisions are therefore a pure
    function of (doc_id, "mix:v1", per-source token totals) — stable across runs,
    partitionings, and engines, and nested under a larger budget (a doc
    kept at budget B stays kept at B' > B).

    Scale shape: one map-side-combinable hash agg for per-source token
    totals (a source-count dim, tiny), one broadcast of that dim plus the
    single-row weight-sum scalar back onto the corpus scan, and a map-only
    filter. No corpus-sized shuffle; expected (not exact) per-source token
    counts — exact quotas need the top-N variant
    (:func:`stratified_sample`).
    """
    from java9_gc_log_parser_spark.operators.text_analysis import token_count

    base = docs.withColumn("_nt", token_count()).withColumn("_w", weight_expr)
    per_src = base.groupBy("source").agg(
        F.sum("_nt").cast("double").alias("_actual"),
        F.first("_w").cast("double").alias("_sw"),
    )
    wsum = per_src.agg(F.sum("_sw").alias("_wsum"))
    frac = F.least(
        F.lit(1.0),
        (F.lit(float(token_budget)) * F.col("_sw") / F.col("_wsum"))
        / F.col("_actual"),
    )
    gates = per_src.join(F.broadcast(wsum)).select(
        "source",
        F.floor(frac * 65536).cast("int").alias("_bound"),
    )
    bucket = F.conv(_bucket(F.col("doc_id"), "mix:v1"), 16, 10).cast("int")
    return (
        base.join(F.broadcast(gates), "source")
        .filter(bucket < F.col("_bound"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("_nt").cast("long").alias("n_tokens"),
        )
    )


#: importance_resample's sample size
_IR_K = 50


def importance_resample(docs: DataFrame, target_source: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): select the ``_IR_K``
    raw-corpus documents whose hashed-n-gram feature distribution most
    resembles a target domain, by Gumbel-top-k over importance log-weights.

    Reference parity note: the reference engine has no learned selection —
    this is one of the beyond-reference training-data operators (SURVEY §2
    extension set), composing the hashed-feature machinery of
    :func:`text_analysis.bigram_logprob` with the deterministic md5-derived
    randomness of :func:`hash_split`.

    Mechanism (every step engine-portable and seed-free):

    - features: word bigrams hashed into 4096 buckets via the first
      3 hex chars of md5(bigram) — a *string* bucket key, no hex->int
      conversion anywhere on the feature path.
    - two add-one-smoothed bag-of-buckets models: target = docs from
      ``target_source``, raw = the whole corpus.  log-ratio per bucket
      lr(f) = ln((t_f+1)/(T+B)) - ln((r_f+1)/(R+B)), rounded 6dp so both
      engines carry identical per-bucket constants into the doc sum.
    - per-doc log-weight logw(d) = sum_f c_d(f) * lr(f), rounded 6dp.
    - Gumbel key: u(d) = (hex6(md5(id||":dsir")) + 0.5) / 16^6 — exactly
      representable in binary (v + 0.5 over a power of two), so Spark's
      single conv()/divide and the oracle's per-digit sum of 2^-4i terms
      produce bit-identical doubles; key = logw + (-ln(-ln(u))).  Top-k by
      key is sampling-without-replacement proportional to exp(logw)
      (Gumbel-max), yet fully deterministic and reproducible outside Spark.

    Scale shape (100 TB): the per-doc feature table is one map-side
    combinable hash agg on (doc_id, bucket); both models reduce that table
    to <= 4096 rows, so the log-ratio dim and the two totals join back
    by BROADCAST — the corpus-sized side never shuffles on the feature key.
    The final top-k is a TakeOrderedAndProject (per-partition heap + driver
    merge of k rows), never a global sort.  Skew: bucket keys are md5-uniform
    by construction; the only hot key is the broadcast dim itself.
    """
    from java9_gc_log_parser_spark.operators.text_analysis import (
        bigram_slots,
        lower_tokens,
    )

    clash = [c for c in docs.columns if c.startswith("_ir_")]
    if clash:
        raise ValueError(
            f"input carries reserved staging column(s) {clash}; rename them"
        )
    b = 4096.0
    base = docs.select("doc_id", "source", lower_tokens().alias("_ir_lt"))
    # bucket key: 3 hex chars of md5(bigram) — 4096 buckets as a string
    # prefix, conversion-free
    docf = (
        base.select(
            "doc_id",
            "source",
            F.explode(bigram_slots(F.col("_ir_lt"))).alias("_ir_z"),
        )
        .select(
            "doc_id",
            "source",
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ", F.col("_ir_z.w1"), F.col("_ir_z.w2")
                    )
                ),
                1,
                3,
            ).alias("f"),
        )
        .groupBy("doc_id", "source", "f")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    raw = docf.groupBy("f").agg(F.sum("c").alias("rc"))
    tgt = (
        docf.filter(F.col("source") == target_source)
        .groupBy("f")
        .agg(F.sum("c").alias("tc"))
    )
    tots = raw.agg(F.sum("rc").alias("tr")).join(
        tgt.agg(F.coalesce(F.sum("tc"), F.lit(0.0)).alias("tt"))
    )
    ratio = (
        raw.join(tgt, "f", "left")
        .join(F.broadcast(tots))
        .select(
            "f",
            F.round(
                F.log(
                    (F.coalesce(F.col("tc"), F.lit(0.0)) + 1.0)
                    / (F.col("tt") + F.lit(b))
                )
                - F.log((F.col("rc") + 1.0) / (F.col("tr") + F.lit(b))),
                6,
            ).alias("lr"),
        )
    )
    lw = (
        docf.join(F.broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"),
        )
    )
    # deterministic uniform in (0,1): 6 hex chars -> v, u = (v + .5)/16^6
    v = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":dsir")
                )
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("double")
    u = (v + F.lit(0.5)) / F.lit(16777216.0)
    keyed = (
        docs.select("doc_id", "source")
        .join(lw, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias(
                "n_feats"
            ),
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
            (
                F.coalesce(F.col("logw"), F.lit(0.0))
                - F.log(-F.log(u))
            ).alias("_ir_key"),
        )
    )
    return (
        keyed.orderBy(F.col("_ir_key").desc(), F.col("doc_id"))
        .limit(_IR_K)
        .select(
            "doc_id",
            "source",
            "n_feats",
            "logw",
            F.round(F.col("_ir_key"), 6).alias("gumbel_key"),
        )
    )


#: pack_sequences' training window, in tokens, and its packing streams
_PACK_CONTEXT = 512
_PACK_STREAMS = 8


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the corpus out as a stream of
    tokens and cut it into fixed ``_PACK_CONTEXT`` training windows (the
    GPT-style packing where documents may span chunk boundaries), emitting
    each document's position in that layout.

    Reference parity note: beyond-reference training-data operator (SURVEY
    §2 extension set) — the step after :func:`shard_assign` that turns a
    curated corpus into fixed-length training sequences.

    Determinism: the layout must be a pure function of the corpus, not of
    Spark's partitioning. Each doc hashes once (md5(id || ':pack:v1'));
    the first 4 hex chars assign it to one of ``_PACK_STREAMS`` independent
    packing streams and the full 32-hex digest is its order key within the
    stream (total order: (digest, id) — ids break the astronomically
    unlikely digest tie). Offsets are then a running token sum in that
    order, and chunk ids are integer division by ``_PACK_CONTEXT``. Any
    engine reproduces byte-identical layout from the ids alone.

    Scale shape (100 TB): ONE shuffle — hash-partition by stream — and one
    in-partition (spillable) sort per stream; the running sum is a single
    forward pass (``ROWS UNBOUNDED PRECEDING`` running frame, O(1) state
    per row, never a re-scan). There is deliberately NO global order: a
    single global token stream would serialize the sort on one task, so the
    unit of sequentiality is the stream, exactly as a multi-worker loader
    consumes one shard-stream per reader. ``_PACK_STREAMS`` must grow with
    the corpus (corpus_tokens / streams ≈ tokens a single sort task should
    own, e.g. 1e5 streams at 1e12 docs); it is the write-side analogue of
    :func:`shard_assign`'s n_shards. Empty docs are dropped (they occupy
    zero tokens and would otherwise make ordering ties semantic).

    Output per kept doc: stream, token offsets [start_off, start_off +
    n_tokens), the first chunk id it lands in, and how many chunks it spans
    — everything a loader needs to materialize chunk k of stream s without
    scanning its neighbours.
    """
    from pyspark.sql import Window

    from java9_gc_log_parser_spark.operators.text_analysis import token_count

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pack:v1")))
    base = docs.select(
        F.col("doc_id"),
        h.alias("_pk_h"),
        token_count().cast("long").alias("_pk_nt"),
    ).filter(F.col("_pk_nt") > 0)
    stream = (
        F.conv(F.substring("_pk_h", 1, 4), 16, 10).cast("int")
        % _PACK_STREAMS
    ).cast("int")
    w = (
        Window.partitionBy("stream")
        .orderBy(F.col("_pk_h"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum("_pk_nt").over(w)
    L = float(_PACK_CONTEXT)
    return (
        base.withColumn("stream", stream)
        .withColumn("_pk_end", end)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "stream",
            F.col("_pk_nt").alias("n_tokens"),
            (F.col("_pk_end") - F.col("_pk_nt")).alias("start_off"),
            F.floor((F.col("_pk_end") - F.col("_pk_nt")) / L)
            .cast("long")
            .alias("first_chunk"),
            (
                F.floor((F.col("_pk_end") - 1) / L)
                - F.floor((F.col("_pk_end") - F.col("_pk_nt")) / L)
                + 1
            )
            .cast("int")
            .alias("n_chunks"),
        )
    )


#: epoch_order's shard count
_EPOCH_SHARDS = 8


def epoch_order(docs: DataFrame, epoch: int) -> DataFrame:
    """Deterministic per-epoch global training order WITHOUT a global sort.

    Training jobs need a reproducible shuffle of the corpus per epoch —
    resumable mid-epoch, identical across re-runs and engines, different
    across epochs. ``rand()`` gives none of that. Here each doc's order
    key is md5(id || ':order:v1:' || epoch): changing ``epoch``
    re-permutes everything, while a fixed epoch is stable forever.

    The global order is DEFINED as (shard, key, id) where shard = first 4
    hex chars of the key modulo ``_EPOCH_SHARDS`` — so the global position
    decomposes into (a) a rank within the shard and (b) the total size of
    all earlier shards. That decomposition is the whole trick:

    - rank within shard: one hash-partition shuffle + in-partition sort
      (row_number over PARTITION BY shard), the same single-shuffle shape
      as :func:`pack_sequences`;
    - earlier-shard offsets: a shard-count dim of ``_EPOCH_SHARDS`` rows
      (one map-side-combinable hash agg), turned into exclusive prefix sums
      by a window over the TINY dim and broadcast back.

    No task ever sees a global ORDER BY; at 10^12 rows the plan is two hash
    aggs over the corpus scan + one broadcast join, and a consumer reads
    shard s's files in rank order to walk the global permutation.
    Skew: shards are md5-uniform; ``_EPOCH_SHARDS`` scales like
    :func:`shard_assign`'s (capped 4096, bias <= n/65536).
    """
    from pyspark.sql import Window

    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":order:v1:{int(epoch)}"))
    )
    base = docs.select(F.col("doc_id"), key.alias("_eo_k")).withColumn(
        "shard",
        (
            F.conv(F.substring("_eo_k", 1, 4), 16, 10).cast("int")
            % _EPOCH_SHARDS
        ).cast("int"),
    )
    w_rank = Window.partitionBy("shard").orderBy(F.col("_eo_k"), F.col("doc_id"))
    ranked = base.withColumn(
        "pos_in_shard", F.row_number().over(w_rank).cast("long")
    )
    sizes = base.groupBy("shard").agg(F.count(F.lit(1)).alias("_eo_n"))
    w_off = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = sizes.select(
        "shard",
        (F.sum("_eo_n").over(w_off) - F.col("_eo_n")).alias("_eo_off"),
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(int(epoch)).cast("int").alias("epoch"),
        "shard",
        "pos_in_shard",
        (F.col("_eo_off") + F.col("pos_in_shard") - 1)
        .cast("long")
        .alias("global_pos"),
    )


#: chunk_sliding's window and stride, in tokens (overlap 16)
_CHUNK_WINDOW = 64
_CHUNK_STRIDE = 48


def chunk_sliding(docs: DataFrame) -> DataFrame:
    """Sliding-window token chunking with overlap: cut every document into
    fixed-size token windows of ``window`` = 64 tokens advancing by
    ``stride`` = 48 (overlap = window - stride), the long-document complement of
    :func:`pack_sequences` — packing concatenates SHORT docs into fixed
    contexts, chunking splits LONG docs into overlapping ones (the standard
    RAG / pretraining long-doc treatment so no token is lost at a hard
    truncation boundary).

    Chunk count for an n-token doc: 1 if n <= window, else
    ``floor((n - window + stride - 1) / stride) + 1`` — the last chunk may
    be short but every token lands in at least one chunk. Emitted per
    chunk: start offset, token count, and md5 of the space-joined token
    slice (a portable content id any engine reproduces from the text).

    Scale shape (100 TB): map-only — tokenize, ``sequence`` + ``explode``
    per doc, ``slice`` the token array; no shuffle, no state, output
    partitioning inherits the scan. The explode fan-out is bounded by
    n/stride per doc (~2% row blow-up per 1/stride), and the token array is
    built once per doc inside the same projection (never re-derived per
    chunk — the q41-style CollapseProject re-inlining trap is avoided by
    exploding only the small index sequence, not a per-chunk HOF column).
    """
    from java9_gc_log_parser_spark.operators.text_analysis import tokens_col

    window, stride = _CHUNK_WINDOW, _CHUNK_STRIDE
    base = docs.select(
        F.col("doc_id"), tokens_col(F.col("text")).alias("_ck_toks")
    ).withColumn("_ck_n", F.size("_ck_toks").cast("long"))
    n = F.col("_ck_n")
    n_chunks = F.when(n <= window, F.lit(1).cast("long")).otherwise(
        F.floor((n - window + (stride - 1)) / F.lit(stride)) + 1
    )
    start = F.col("_ck_i") * stride
    return (
        base.filter(n > 0)
        .withColumn(
            "_ck_i",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
        )
        .select(
            F.col("doc_id"),
            F.col("_ck_i").cast("int").alias("chunk_idx"),
            start.cast("long").alias("start_tok"),
            F.least(F.lit(window).cast("long"), n - start).alias("n_tok"),
            F.md5(
                F.array_join(
                    F.slice(F.col("_ck_toks"), start.cast("int") + 1, window),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


#: weighted_priority_sample's sample size
_WPS_K = 200


def weighted_priority_sample(docs: DataFrame) -> DataFrame:
    """Deterministic weight-biased priority sampling: draw ``_WPS_K``
    documents with inclusion probability increasing in document weight
    (token count), reproducibly — the same corpus selects the same k docs
    on any engine, any partitioning, any run.

    Mechanism (priority-sampling family, Efraimidis–Spirakis shape): each
    doc gets a deterministic uniform u in (0,1) from md5(id || ':wps:v1')
    (8 hex chars -> 32-bit int, u = (i + 0.5) / 2^32) and priority
    ``u / w``; the k smallest priorities win. Every arithmetic step (add,
    divide-by-2^32, divide-by-w) is a correctly-rounded IEEE op on exact
    inputs, so Spark and DuckDB compute bit-identical priorities — the
    textbook u^(1/w) key is deliberately NOT used because pow() is not
    correctly rounded and may differ across libm builds; u/w keeps
    selection monotone in w (heavier docs get proportionally smaller
    priorities) while staying engine-exact. Ties (identical u AND w) break
    on id, making the selected set a total-order prefix.

    Scale shape (100 TB): map-only priority computation, then global top-k
    via ``ORDER BY ... LIMIT k`` — Spark plans TakeOrderedAndProject
    (per-partition k-heap, driver merges P*k candidate rows, NO global
    sort/shuffle of the corpus). For k large enough that P*k strains the
    driver, switch to the two-pass quantile-threshold variant (approx
    k/N-quantile of the priority, filter, exact top-k on the survivors).
    """
    from java9_gc_log_parser_spark.operators.text_analysis import token_count

    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wps:v1")))
    u32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    u = (u32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.greatest(F.lit(1).cast("long"), token_count().cast("long"))
    base = docs.select(
        F.col("doc_id"),
        w.alias("weight"),
        (u / w.cast("double")).alias("_wp_pri"),
    )
    return (
        base.orderBy(F.col("_wp_pri"), F.col("doc_id"))
        .limit(_WPS_K)
        .select(
            F.col("doc_id"),
            "weight",
            F.floor(F.col("_wp_pri") * F.lit(1e12)).cast("long").alias("pri_e12"),
        )
    )


def rendezvous_shard(
    df: DataFrame,
    n_shards: int = 8,
    out: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: shard =
    argmax over s of ``md5(doc_id || ':hrw:v1:' || s)``.

    The property ``shard_assign``'s modulo hashing cannot give: when the
    shard count grows n → n+k, a row moves IFF one of the k NEW shards
    wins its argmax — expected movement k/(n+k) of rows, and every move
    lands on a new shard (Thaler & Ravishankar 1996, the HRW theorem).
    Modulo resharding relocates ~1 - 1/lcm(n, n+k) of rows — at 100 TB
    the difference is re-copying ~17 TB vs ~96 TB when going 8 → 10.

    Map-only: the per-row score array is a ``transform(sequence(...))``
    over ``n_shards`` struct literals folded by ``array_max`` (struct
    ordering = score desc via max, shard desc on the astronomically
    unlikely hex tie — the oracle replays ORDER BY score DESC, s DESC).
    Cost is O(n_shards) md5 calls per row, so the same 4096 cap as
    ``shard_assign``; for >4096 shards compose two HRW levels.
    """
    if not 1 <= n_shards <= 4096:
        raise ValueError(f"n_shards must be in [1, 4096], got {n_shards}")
    scores = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.struct(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":hrw:v1:"),
                    s.cast("string"),
                )
            ).alias("score"),
            s.cast("int").alias("shard"),
        ),
    )
    return df.withColumn(out, F.array_max(scores)["shard"])


def reshard_movement_matrix(df: DataFrame) -> DataFrame:
    """Movement matrix for an HRW reshard 8 → 10: one row per
    (shard_from, shard_to) with its doc count — the audit a platform
    reads BEFORE executing a corpus re-layout, since off-diagonal mass
    is exactly the bytes that will be copied.

    Under HRW growth every off-diagonal row must have shard_to >= 8
    (moves go only TO new shards) — asserted in tests, visible
    in the oracled matrix. Cost: two map-only assignments + ONE
    shuffle of <= 8 × 10 tiny groups (map-side combined).
    """
    a = rendezvous_shard(df, 8, out="shard_from")
    b = rendezvous_shard(a, 10, out="shard_to")
    return b.groupBy("shard_from", "shard_to").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def budget_waterfill(docs: DataFrame) -> DataFrame:
    """Max-min fair token-budget allocation across sources (water-filling):
    given budget B = total_tokens * 3 / 5, allocate
    ``a_s = min(supply_s, lambda)`` with ``sum(a_s) = B`` — the solver a
    mixture designer runs to split a training budget across corpora
    without starving small sources (the q47 mixture sampler then
    materializes the allocation).

    Exact-integer contract: sources sort by (supply asc, source asc);
    source s is SATURATED iff funding everyone at least its supply is
    affordable (prefix(s) + (n - rank_s)·supply_s <= B — the standard
    water-level test); the unsaturated remainder splits as
    base = (B - sat_sum) div n_unsat with the first (B - sat_sum) mod
    n_unsat sources (same order) getting +1 — largest-remainder, all
    BIGINT, so the oracle replays allocation-for-allocation with zero
    float anywhere. sum(allocation) == B by construction.

    Scale shape: ONE corpus token-count agg (map-side combinable); the
    solver itself runs on the O(sources)-row table via windows — no
    driver loop, no collect.

    Output: (source, supply_tokens, allocation_tokens, saturated).
    """
    from java9_gc_log_parser_spark.operators.text_analysis import token_count

    sup = (
        docs.select("source", token_count().alias("_nt"))
        .groupBy("source")
        .agg(F.sum("_nt").cast("long").alias("supply_tokens"))
    )
    w = Window.orderBy("supply_tokens", "source")
    wall = Window.partitionBy(F.lit(1))
    t = (
        sup.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "_prefix",
            F.sum("supply_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("_total", F.sum("supply_tokens").over(wall))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .withColumn(
            "_B",
            F.expr("_total * 3 div 5").cast("long"),
        )
        .withColumn(
            "saturated",
            F.col("_prefix")
            + (F.col("_n") - F.col("_rk")) * F.col("supply_tokens")
            <= F.col("_B"),
        )
    )
    t = (
        t.withColumn(
            "_sat_sum",
            F.sum(
                F.when(F.col("saturated"), F.col("supply_tokens")).otherwise(
                    F.lit(0)
                )
            ).over(wall),
        )
        .withColumn(
            "_n_unsat",
            F.sum((~F.col("saturated")).cast("long")).over(wall),
        )
        .withColumn(
            "_unsat_idx",
            F.sum((~F.col("saturated")).cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    base = F.expr("(_B - _sat_sum) div _n_unsat").cast("long")
    rem = F.expr("(_B - _sat_sum) % _n_unsat").cast("long")
    alloc = F.when(F.col("saturated"), F.col("supply_tokens")).otherwise(
        base + F.when(F.col("_unsat_idx") <= rem, F.lit(1)).otherwise(F.lit(0))
    )
    return t.select(
        "source",
        "supply_tokens",
        alloc.cast("long").alias("allocation_tokens"),
        "saturated",
    )
