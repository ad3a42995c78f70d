"""Deduplication operators for training-data pipelines over `documents`.

Four families, all Spark-first (built-in functions only — shingling, hashing,
banding and bucket joins are pure JVM columnar; no Python UDFs):

  * exact       -- hash-groupBy (text_analysis.dedup_exact)
  * n-gram Jaccard -- exact pairwise similarity within blocking keys
  * MinHash+LSH -- shingle -> k minhashes -> band -> bucket-join candidates
                   -> exact-verify survivors
  * SimHash     -- 64-bit sign-of-sum signature + banded Hamming candidates

Scale design (the 100 TB story):
  - shingling/hashing is embarrassingly parallel (map-only, codegen);
  - LSH candidate generation shuffles only (band_id, band_hash) keys; bucket
    sizes are capped (`_MAX_BUCKET`) so a degenerate value (empty docs, boiler-
    plate) cannot quadratically explode a reducer — dropped buckets are
    reported, not silently ignored (returned by lsh_buckets);
  - exact verification runs only on candidate pairs, never all-pairs;
  - the exact n-gram variant requires a blocking key (e.g. source/length
    bucket) precisely because unblocked all-pairs does not exist at scale.

Expression-shape note (measured 20-60x): expensive array expressions
(tokenize, shingle, signature) are bound to real columns with ``withColumn``
before being referenced more than once. Catalyst's CollapseProject inlines a
projection into every downstream reference unless the producer is non-cheap
and multiply-referenced; an inlined ``split()`` inside a per-position
``transform`` lambda re-tokenizes the document once per shingle position
(O(len^2)), and higher-order-function lambdas are interpreted (no codegen
subexpression elimination to save you). Signatures are likewise computed in
ONE array traversal (``aggregate`` + ``zip_with``) instead of one traversal
per hash/bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from itertools import count

from .text_analysis import tokens_col

_LONG_MAX = (1 << 63) - 1
_obs_ids = count()


def assert_no_staging(df: DataFrame, *names: str) -> None:
    """Refuse inputs that already carry a reserved staging column: the staged
    expression-binding pattern would silently overwrite and destroy it."""
    clash = [c for c in df.columns if c in names]
    if clash:
        raise ValueError(
            f"input carries reserved staging column(s) {clash}; rename them"
        )


#: MinHash signature length, LSH bands and shingle size shared by the LSH
#: pair join and the persisted signature store
_MH_K, _MH_BANDS, _MH_SHINGLE_N = 32, 8, 3
#: LSH buckets larger than this (degenerate content) are dropped
_MAX_BUCKET = 1000


def with_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Add a distinct word-n-gram shingle column ``sh`` (tokens bound first
    so the tokenizer runs once per row, not once per shingle position).

    len(tokens) < n -> the full token string as a single shingle (so short
    docs still dedupe).
    """
    assert_no_staging(docs, "_toks", "sh")
    toks = F.col("_toks")
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # Optimizer barrier (same pattern as functions/parse.py): a downstream
    # explode(sh) makes InferFiltersFromGenerate add `size(sh)>0 AND
    # isnotnull(sh)`, and predicate pushdown then re-inlines the whole
    # tokenize+shingle expression into the scan filter — ~3 evaluations per
    # row (filter twice + project once). PushDownPredicates does not cross
    # CollectMetrics, so the inferred filter stays above the bound column
    # and shingling runs exactly once; column pruning still reaches the scan.
    return (
        docs.withColumn("_toks", tokens_col(F.lower(F.col("text"))))
        .withColumn(
            "sh",
            F.array_distinct(
                F.when(k >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
            ),
        )
        .drop("_toks")
        .observe(f"shingle_obs_{next(_obs_ids)}", F.count(F.lit(1)).alias("rows"))
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing a blocking key.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    Blocking is the compound key ``(source, log2-size-bucket)`` — NOT
    source alone. The size-ratio prune already implies a passing pair's
    shingle-set sizes differ by at most 1/threshold, so bucketing on
    floor(log2(|sh|)) and probing only buckets within
    w = ceil(log2(1/threshold)) of a doc's own bucket is *exact-preserving*
    while bounding block cardinality by the length distribution instead of
    the corpus size: with source alone the within-block self-join is
    O(B^2) with B growing linearly in data volume. The bucket is computed
    from the integer bit length (``conv`` base 2), not float ``log2``, so
    boundary rounding can never move a doc across a bucket edge.

    One equi-join on (block, bucket) keys: the probe side keeps its own
    bucket; the build side is exploded to buckets [b-w, b+w] (2w+1 rows,
    w=1 at the default threshold 0.5) so every passing pair meets on exactly
    one key regardless of doc_id order.

    Both sides are repartitioned on their join key with an EXPLICIT count
    (REPARTITION_BY_NUM): a pair-generating join's output is quadratically
    larger than its input, but AQE coalesces partitions by INPUT bytes — on
    a small-bytes corpus it would plan the whole blow-up onto one task (a
    measured 20.9 s -> 2.8 s at sf0.1). The explicit exchange also
    materializes the shingle arrays before the join, so codegen cannot defer
    re-tokenization into the join's match loop.
    """
    import math

    n, threshold = 1, 0.5
    w = 0 if threshold >= 1.0 else max(1, math.ceil(math.log2(1.0 / threshold)))
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = with_shingles(docs, n).select(
        "doc_id", F.col("source").alias("_blk"), "sh", F.size("sh").alias("sz")
    ).withColumn(
        # floor(log2(sz)) as an exact integer: bit_length - 1 (sz >= 1 always)
        "_lb",
        (F.length(F.conv(F.col("sz").cast("string"), 10, 2)) - 1).cast("int"),
    )
    a = sh.repartition(n_parts, "_blk", "_lb").alias("a")
    b = sh.select(
        "doc_id", "_blk", "sh", "sz",
        F.explode(F.sequence(F.col("_lb") - w, F.col("_lb") + w)).alias("_key"),
    ).repartition(n_parts, "_blk", "_key").alias("b")
    # size-bound prune (exact-preserving): jaccard = |inter|/|union| <=
    # min(|A|,|B|)/max(|A|,|B|), so any pair failing the size ratio cannot
    # reach `threshold` — prune before the O(|A|+|B|) array_intersect runs.
    size_ok = F.least(F.col("a.sz"), F.col("b.sz")) >= (
        F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    )
    pairs = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col("a._lb") == F.col("b._key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_ok,
    )
    # one array traversal per pair: |A u B| = |A| + |B| - |A n B| since the
    # shingle arrays are distinct; _inter bound so intersect runs once
    scored = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.sz").alias("_sza"),
        F.col("b.sz").alias("_szb"),
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))).alias("_inter"),
    )
    union = F.col("_sza") + F.col("_szb") - F.col("_inter")
    jac = F.when(union > 0, F.col("_inter").cast("double") / union).otherwise(
        F.lit(0.0)
    )
    return (
        scored.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, k: int = 32) -> Column:
    """k minhashes in ONE shingle-array traversal; hash_j(s) = xxhash64(s, j).

    acc starts at [Long.Max]*k and folds elementwise-min of the per-shingle
    hash vector. Empty shingle set -> [Long.Max]*k (never occurs via
    with_shingles, which emits >=1 shingle).
    """
    zero = F.array(*[F.lit(_LONG_MAX).cast("long") for _ in range(k)])
    return F.aggregate(
        shingles,
        zero,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(j)) for j in range(k)]),
            lambda a, h: F.least(a, h),
        ),
    )


def lsh_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per band per doc.

    band_hash = xxhash64 of the band's signature slice (hashing the array
    value directly; no per-element re-reference of the signature column).
    """
    bands = _MH_BANDS
    r = _MH_K // bands
    sig = with_shingles(docs, _MH_SHINGLE_N).withColumn(
        "_sig", minhash_signature(F.col("sh"), _MH_K)
    )
    band_rows = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(F.slice("_sig", b * r + 1, r)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    )
    return band_rows.select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs from LSH buckets, exact-verified at `threshold`.

    Buckets larger than 1000 rows (degenerate content) are dropped to bound
    the quadratic pair blow-up; at scale, report them via lsh_buckets stats.

    ``buckets`` optionally injects a precomputed ``lsh_buckets`` table
    (materialize the banding once — also lets an external oracle re-verify
    the banding logic from the artifact); the shingle pipeline then runs
    exactly once for the whole query. When None, AQE's runtime exchange
    reuse (asserted in tests/test_plans.py) shares (a) the band-key shuffle
    across the candidate self-join's two sides and (b) the hash(doc_id)
    exchange across both verification joins, so shingling runs twice (band
    subtree carries the signature; the verification subtree is pruned to
    (sh, sz)) — never once per consumer.
    """
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bands = _MH_BANDS
    sig = (
        with_shingles(docs, _MH_SHINGLE_N)
        .select("doc_id", "sh", F.size("sh").alias("sz"))
        .withColumn("_sig", minhash_signature(F.col("sh"), _MH_K))
        .repartition(n_parts, "doc_id")
    )
    if buckets is None:
        rr = _MH_K // bands
        buckets = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bd).alias("band_id"),
                            F.xxhash64(F.slice("_sig", bd * rr + 1, rr)).alias(
                                "band_hash"
                            ),
                        )
                        for bd in range(bands)
                    ]
                )
            ).alias("band"),
        ).select("doc_id", "band.band_id", "band.band_hash")
    # explicit count: the bucket self-join's output is quadratic in bucket
    # size — AQE's input-bytes coalescing must not squeeze it onto one task
    b = buckets.repartition(n_parts, "band_id", "band_hash")
    sized = b.withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_hash")),
    ).filter((F.col("bucket_n") > 1) & (F.col("bucket_n") <= _MAX_BUCKET))
    l, rt = sized.alias("l"), sized.alias("r")
    cand = (
        l.join(
            rt,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sig.select("doc_id", "sh", "sz")
    verified = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sh_a"),
                F.col("sz").alias("_sza"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sh_b"),
                F.col("sz").alias("_szb"),
            ),
            "doc_b",
        )
        # size-bound prune (exact-preserving, cf. ngram_jaccard_pairs):
        # jaccard <= min/max sizes, so pairs failing the ratio cannot verify
        .filter(
            F.least("_sza", "_szb")
            >= F.lit(threshold) * F.greatest("_sza", "_szb")
        )
        .withColumn(
            "_inter", F.size(F.array_intersect("sh_a", "sh_b"))
        )
    )
    union = F.col("_sza") + F.col("_szb") - F.col("_inter")
    jac = F.when(union > 0, F.col("_inter").cast("double") / union).otherwise(
        F.lit(0.0)
    )
    return verified.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(hashes: Column) -> Column:
    """64-bit SimHash from a bound token-hash array column, in ONE traversal:
    fold a 64-wide bit-count vector (+1/-1 per token per bit via getbit),
    then weight positive counts by their bit value. ``hashes`` must be a real
    column (see module expression-shape note)."""
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    zero = F.array(*[F.lit(0).cast("long") for _ in range(64)])
    weights = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")  # bit 63 = sign
            for b in range(64)
        ]
    )
    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc, bit_idx, lambda a, b: a + F.when(F.getbit(h, b) == 1, 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def with_simhash(docs: DataFrame) -> DataFrame:
    """Add the 64-bit SimHash column ``sim`` (tokens + hashes bound once
    per row)."""
    assert_no_staging(docs, "_toks", "_hashes", "sim")
    return (
        docs.withColumn("_toks", F.array_distinct(tokens_col(F.lower(F.col("text")))))
        .withColumn("_hashes", F.transform(F.col("_toks"), lambda t: F.xxhash64(t)))
        .withColumn("sim", simhash64(F.col("_hashes")))
        .drop("_toks", "_hashes")
    )


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 8, sig: DataFrame | None = None
) -> DataFrame:
    """Near-dup candidates by banded SimHash: 4 bands of 16 bits; a pair
    sharing any band is a candidate; verified by exact Hamming distance.
    Bands are repartitioned on the join key so the self-join reuses one
    shuffle instead of recomputing signatures per side.

    ``sig`` optionally injects a precomputed (doc_id, sim) signature table
    (e.g. materialized to parquet so an external oracle can re-verify the
    banding + Hamming logic over the exact signatures used here)."""
    if sig is None:
        sig = with_simhash(docs).select("doc_id", "sim")
    bands = sig.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftrightunsigned("sim", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sim", "b.band_id", "b.band_val").repartition(
        int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "band_id",
        "band_val",
    )
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.sim").alias("sim_a"),
            F.col("r.sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int")
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components + canonical pick)
# ---------------------------------------------------------------------------

def _min_nbr(edges: DataFrame) -> DataFrame:
    """(u, m): the minimum over u's neighborhood INCLUDING u itself."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every neighbor LARGER than u re-points to min(Γ(u)∪{u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return (
        sym.join(_min_nbr(sym), "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient each edge large->small, then every smaller
    neighbor (and u itself) re-points to the minimum."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    j = o.join(_min_nbr(o), "u")
    out = j.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        j.select("u", F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def star_contract(
    pairs: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star/small-star contraction
    (Kiveris et al., *Connected Components in MapReduce and Beyond*, SoCC'14
    — public algorithm, re-derived here as DataFrame ops).

    Input: undirected near-dup pairs ``(doc_a, doc_b)``. Output: a
    ``(id, label)`` DataFrame mapping every paired node to its component
    minimum, plus the round count actually used.

    Min-label propagation would need rounds = component DIAMETER: O(n) for
    a chain-shaped duplicate graph (iteratively edited boilerplate where
    version i only resembles version i±1). The alternating contraction
    halves tree heights each round: O(log n) rounds on a path graph
    (property-tested on a 1,000-node path).

    Per-round shape: each star op is one hash agg (min per node) + one
    equi-join on u, over an edge set that only shrinks (star ops never add
    edges beyond the node count).
    Rounds are localCheckpoint()ed for lineage truncation; convergence is
    detected by an (edge-count, hash-sum) signature of the checkpointed edge
    set — one tiny agg job per round, no exceptAll shuffle. (A 64-bit
    hash-sum tie at equal counts on *different* edge sets is a ~2^-64
    event; the signature is over already-materialized data.)

    Raises ``RuntimeError`` when ``max_iter`` rounds pass without
    convergence, rather than returning labels that are not yet component
    minima.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(e: DataFrame) -> tuple[int, int]:
        # decimal(38,0) sum: a plain long sum of 64-bit hashes overflows
        # (ANSI mode fail-stops on it); decimal is exact to 10^38
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(row["n"] or 0), int(row["h"] or 0)

    prev = _sig(edges)
    rounds = 0
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
        cur = _sig(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} rounds"
        )
    # converged star forest: edges point child -> component root
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    return labels.unionByName(roots).distinct(), rounds


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Resolve near-dup *pairs* into duplicate *clusters* and a keep-list.

    Pair emitters (ngram_jaccard_pairs / minhash_lsh_pairs / simhash_pairs)
    find edges; a training pipeline needs the transitive closure: if A~B and
    B~C, all three are one duplicate group even when A~C was never emitted.
    Output, one row per document: ``(doc_id, cluster_id, keep)`` where
    cluster_id is the smallest doc id in the document's connected component
    (its own id for singletons) and ``keep`` marks the canonical
    representative — ``filter(keep)`` IS the deduplicated corpus.

    Components come from the alternating large-star/small-star contraction
    (:func:`star_contract`): O(log n) rounds even on chain-shaped duplicate
    graphs.

    Scale notes (100 TB): the edge set is tiny relative to the corpus (only
    docs with a near-dup appear), and iteration state is one edge per
    *paired* doc — the full corpus joins in exactly once, at the end.
    Each round's result is localCheckpoint()ed: without lineage truncation
    round i replans rounds 0..i-1 (quadratic driver/optimizer work and a
    re-execution cliff on any retry); on a multi-tenant cluster prefer
    reliable checkpoint(dir) for executor-loss resilience.
    """
    labels, _rounds = star_contract(pairs)
    out = docs.select("doc_id").join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    )
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    return out.select(
        F.col("doc_id"),
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature store
# ---------------------------------------------------------------------------

def signature_table(docs: DataFrame) -> DataFrame:
    """Compact per-doc near-dup signature rows for a PERSISTED store:
    one row per (doc, band) carrying the band's LSH bucket hash plus the
    full MinHash signature.

    This is the artifact a continuously-ingesting corpus keeps instead of
    its text: at 100 TB you never re-shingle the base corpus to dedup a
    daily batch — you join the batch's signatures against this store
    (bands*~300 bytes per doc, ~0.01% of the text volume) and append the
    batch's own rows afterwards. Schema: (doc_id, band_id, band_hash, sig).
    """
    bands = _MH_BANDS
    r = _MH_K // bands
    sig = with_shingles(docs, _MH_SHINGLE_N).withColumn(
        "_sig", minhash_signature(F.col("sh"), _MH_K)
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(F.slice("_sig", b * r + 1, r)).alias(
                            "band_hash"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
        F.col("_sig").alias("sig"),
    ).select("doc_id", "band.band_id", "band.band_hash", "sig")


def incremental_dedup(new_sig: DataFrame, store_sig: DataFrame) -> DataFrame:
    """Dedup a NEW batch against a persisted signature store — pure
    signature-space, the base corpus text is never read.

    Both inputs are :func:`signature_table` outputs. Verification is the
    MinHash Jaccard ESTIMATE — the fraction of agreeing signature positions
    (k=32 a power of two, so est = matches/k is exact in binary and
    engine-portable) — because at incremental scale the whole point is to
    decide from the compact store alone; the estimator's variance vs exact
    shingle Jaccard is the documented trade (stderr ~ sqrt(J(1-J)/k), ~0.09
    at J=0.4/k=32; raise k to tighten).

    A new doc is a duplicate when that estimate is >= 0.4.

    Per new doc the verdict is:

    - ``dup_of_base``  — best store match with est >= 0.4 (max est,
      then min store doc_id); base matches take priority over batch ones
      so existing corpus membership stays canonical.
    - ``dup_in_batch`` — else, best match among EARLIER batch docs
      (partner doc_id < own doc_id): the smaller id is the batch-local
      canonical, mirroring exact dedup's min-id rule.
    - ``unique``       — otherwise (match_id and est_jaccard NULL).

    Scale shape: bucket hygiene first — bucket sizes counted over the
    UNION of both sides and degenerate buckets (> 1000 rows) dropped
    before any pair is generated, so the candidate join's output stays
    bounded exactly as in :func:`minhash_lsh_pairs`. A daily batch is
    orders of magnitude smaller than the store, so the batch's bucket rows
    broadcast and the store-side scan never shuffles on the bucket key; the
    only corpus-sized movement is a key-lookup join back to the store's
    signature rows for the candidates that survive. The per-doc best-match
    window partitions by new doc_id — millions of tiny partitions, no
    global sort (same shape as the tf-idf top-k).
    """
    buckets_new = new_sig.select("doc_id", "band_id", "band_hash").alias("n")
    buckets_store = store_sig.select(
        "doc_id", "band_id", "band_hash"
    ).alias("s")
    union = buckets_new.withColumn("side", F.lit("new")).unionByName(
        buckets_store.withColumn("side", F.lit("store"))
    )
    sizes = (
        union.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") <= _MAX_BUCKET)
        .select("band_id", "band_hash")
    )
    bn = buckets_new.join(sizes, ["band_id", "band_hash"])
    bs = buckets_store.join(sizes, ["band_id", "band_hash"])
    cand_base = (
        F.broadcast(bn).join(bs, ["band_id", "band_hash"])
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("s.doc_id").alias("match_id"),
            F.lit(1).alias("is_base"),
        )
        .distinct()
    )
    bna, bnb = bn.alias("a"), bn.alias("b")
    cand_batch = (
        bna.join(
            bnb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("b.doc_id") < F.col("a.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("match_id"),
            F.lit(0).alias("is_base"),
        )
        .distinct()
    )
    sig_new = new_sig.select("doc_id", "sig").distinct()
    sig_store = store_sig.select("doc_id", "sig").distinct()
    cand = cand_base.unionByName(cand_batch)
    matched = (
        cand.join(
            sig_new.select(
                F.col("doc_id").alias("new_id"), F.col("sig").alias("_sa")
            ),
            "new_id",
        )
        .join(
            sig_new.unionByName(sig_store)
            .distinct()
            .select(
                F.col("doc_id").alias("match_id"), F.col("sig").alias("_sb")
            ),
            "match_id",
        )
        .withColumn(
            "est",
            F.aggregate(
                F.zip_with(
                    F.col("_sa"),
                    F.col("_sb"),
                    lambda a, b: F.when(a == b, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.lit(float(_MH_K)),
        )
        .filter(F.col("est") >= 0.4)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("is_base").desc(), F.col("est").desc(), F.col("match_id").asc()
    )
    best = (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("new_id", "match_id", "is_base", "est")
    )
    all_new = sig_new.select(F.col("doc_id").alias("new_id"))
    return all_new.join(best, "new_id", "left").select(
        F.col("new_id").cast("long").alias("doc_id"),
        F.when(F.col("match_id").isNull(), "unique")
        .when(F.col("is_base") == 1, "dup_of_base")
        .otherwise("dup_in_batch")
        .alias("verdict"),
        F.col("match_id").cast("long").alias("match_id"),
        F.round(F.col("est"), 6).alias("est_jaccard"),
    )


def dup_ngram_gate(docs: DataFrame) -> DataFrame:
    """Cross-document duplicated-n-gram fraction gate (the RefinedWeb /
    Gopher-style "fraction of the document that also appears elsewhere"
    quality filter): for each doc, the share of its word-n-gram
    OCCURRENCES whose gram appears in at least one other document. High
    shares mark boilerplate / templated text that survives whole-doc and
    near-dup screens because the rest of the doc differs.

    Distinct from the neighbours it composes with: q18/q22 score *pairs* of
    similar docs; q36 (repetition) is *intra*-doc only; this is a per-doc
    *corpus-wide* statistic with no pair generation at all.

    Semantics: shingles are the multiset of n-grams over lowercase
    whitespace tokens (same tokenizer as :func:`with_shingles`, but NOT
    array_distinct — a doc repeating a shared gram 5 times has 5 duplicated
    occurrences); docs shorter than n tokens contribute their full token
    string as one gram, so short docs still participate. A gram is
    "duplicated" iff >= 2 distinct docs contain it.

    Scale shape (100 TB): three hash-partitioned shuffles, no joins wider
    than the gram table and NO pair blow-up anywhere — (1) explode ->
    groupBy (doc, gram) with map-side combine (bounds the gram table by
    distinct grams per doc, not occurrences), (2) a count over PARTITION BY
    gram (window on the already-reduced table — cheaper than the
    gram->doc-count self-join and immune to the AMBIGUOUS_REFERENCE
    self-join trap), (3) groupBy doc for the final ratio. Grams travel as
    raw strings here so the DuckDB oracle re-derives them exactly; at
    10^12 docs the shuffle key would be xxhash64(gram) (8 bytes vs ~n
    words), the q22 signature-table trick — the counts are identical
    because md5/xxhash collisions only ever *merge* gram groups, which the
    docstring of :func:`minhash_signature` quantifies. Skew: stopword-heavy
    grams are hot keys in shuffle (2); the window's per-key state is a
    single running count (no buffering), so a hot gram costs one linear
    pass, the same argument as sessionize's hot conv_id.
    """
    n, max_dup_frac = 3, 0.3
    assert_no_staging(docs, "_toks", "_dg_sh", "_dg_g")
    toks = F.col("_toks")
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    sh = (
        docs.withColumn("_toks", tokens_col(F.lower(F.col("text"))))
        .withColumn(
            "_dg_sh",
            F.when(k >= n, grams).otherwise(
                F.array(F.array_join(toks, " "))
            ),
        )
        .drop("_toks")
        # same optimizer barrier as with_shingles: keep the tokenize+
        # shingle chain from being re-inlined below the explode
        .observe(
            f"dupgate_obs_{next(_obs_ids)}", F.count(F.lit(1)).alias("rows")
        )
        .select("doc_id", F.explode("_dg_sh").alias("_dg_g"))
    )
    per_doc_gram = sh.groupBy("doc_id", "_dg_g").agg(
        F.count(F.lit(1)).alias("_dg_m")
    )
    n_docs_w = F.count(F.lit(1)).over(Window.partitionBy("_dg_g"))
    scored = per_doc_gram.withColumn("_dg_nd", n_docs_w)
    dup = F.sum(F.when(F.col("_dg_nd") >= 2, F.col("_dg_m")).otherwise(0))
    tot = F.sum("_dg_m")
    frac = F.round(dup.cast("double") / tot, 6)
    return (
        scored.groupBy("doc_id")
        .agg(
            tot.cast("long").alias("n_shingles"),
            dup.cast("long").alias("dup_shingles"),
            frac.alias("dup_frac"),
            (frac <= max_dup_frac).alias("keep"),
        )
    )


def canonical_select(clusters: DataFrame, scored: DataFrame) -> DataFrame:
    """Pick the best document per duplicate cluster by a quality score.

    :func:`dedup_clusters` keeps the *smallest doc id* per component — fine
    for exact dups, wasteful for near-dups where variants differ in quality
    (truncation, boilerplate, OCR noise). This operator re-selects the
    canonical representative as the cluster member with the highest
    ``quality_score`` (ties broken by smallest id, so selection is total and
    deterministic). Output: one row per doc —
    ``(doc_id, cluster_id, quality_score, is_canonical)``;
    ``filter(is_canonical)`` is the quality-aware deduplicated corpus.

    Scale notes (100 TB): one equi-join on the doc id (clusters ⋈ scores —
    both sides one row/doc, co-partitionable) + one window partitioned by
    cluster_id. Cluster cardinality ~= corpus (singletons keep their own
    id), but per-partition state is a single running max (rank==1 over a
    bounded-size frame), the same millions-of-tiny-partitions shape as the
    q43 per-doc top-k — no global sort, no skew beyond the largest duplicate
    cluster, which near-dup blocking already bounds. The score must be
    rounded to a fixed precision BEFORE ordering (quality_score is 6 dp)
    so rank ties are broken identically across engines/retries.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.select("doc_id", "cluster_id")
        .join(scored.select("doc_id", "quality_score"), "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "quality_score",
            (F.col("_rk") == 1).alias("is_canonical"),
        )
    )


def dup_span_scrub(docs: DataFrame) -> DataFrame:
    """ExactSubstr-style duplicated-SPAN removal: scrub every token covered
    by a word n-gram that occurs in >= ``min_docs`` distinct documents,
    keeping the rest of the document intact.

    Doc-level dedup (q13/q18/q22) drops whole documents; the long tail of
    contamination is boilerplate SPANS inside otherwise-unique documents
    (headers, license blocks, templated paragraphs — the motivation for
    suffix-array ExactSubstr dedup in "Deduplicating Training Data Makes
    Language Models Better"). This is the bounded-context Spark restatement:
    positional n-gram occurrences instead of a suffix array, so overlapping
    duplicated grams merge naturally into maximal scrubbed spans. Matching
    and reassembly are over lowercased whitespace tokens (the corpus-wide
    dedup token contract, tokens_col).

    Output, one row per input doc:
    ``(doc_id, n_tokens, n_removed, clean_text)`` — clean_text is the
    kept tokens rejoined with single spaces ('' if everything was scrubbed).

    Scale notes (100 TB): the dominant cost is the gram-keyed
    count-distinct + join-back — a map-combinable aggregation plus one
    shuffle join, both on the gram key; no pairwise doc join ever forms
    (contrast a suffix-array build, which needs a global sort). Coverage
    explode is bounded by n x duplicated-gram occurrences, not corpus size.
    In production shrink the shuffle by joining on xxhash64(gram) instead
    of the gram string (64-bit keys, collision-safe at corpus scale); the
    string key is kept here so the DuckDB oracle can replay the join
    exactly. Reassembly state is one (pos, tok) list per doc — bounded by
    document length, never by corpus.
    """
    n, min_docs = 5, 2
    assert_no_staging(docs, "_lt", "_ga")
    k = F.size("_lt")
    grams_arr = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.array_join(F.slice(F.col("_lt"), i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = (
        docs.withColumn("_lt", tokens_col(F.lower(F.col("text"))))
        .withColumn("_ga", grams_arr)
        # same CollectMetrics optimizer barrier as with_shingles: keep the
        # tokenize+gram chain from re-inlining below the explodes
        .observe(
            f"spanscrub_obs_{next(_obs_ids)}", F.count(F.lit(1)).alias("rows")
        )
    ).persist()
    # (doc, gpos, gram): gpos is 1-based (slice semantics), gram covers
    # token positions [gpos, gpos + n - 1]
    grams = base.select(
        "doc_id", F.posexplode("_ga").alias("_gp0", "gram")
    ).select("doc_id", (F.col("_gp0") + 1).alias("gpos"), "gram")
    dupg = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    cov = (
        grams.join(dupg, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("gpos"), F.col("gpos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = base.select(
        "doc_id", F.posexplode("_lt").alias("_p0", "tok")
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "tok")
    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    scrubbed = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("_clean"),
    )
    out = (
        base.select("doc_id", k.cast("long").alias("n_tokens"))
        .join(scrubbed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
        )
    )
    return out


def containment_pairs(docs: DataFrame) -> DataFrame:
    """Asymmetric near-duplicate detection by Jaccard CONTAINMENT
    (Broder's c(A,B) = |A∩B| / |A|): a short document embedded inside a
    longer one scores ~1.0 here while symmetric Jaccard — what
    :func:`ngram_jaccard_pairs`/MinHash estimate — stays LOW (|A|/|B|), so
    quote-and-extend duplication (boilerplate wrappers, doc+appendix,
    quoted replies) is invisible to the q18/q22 screens and caught by this
    one.

    Blocking must change too: the size-ratio prune that makes q18 exact is
    WRONG for containment (the interesting pairs have very different
    sizes). Instead candidates are pairs sharing a RARE shingle — document
    frequency in [2, df_max]. Rare-shingle blocking is exact for any pair
    that shares at least one discriminative shingle, and it is the
    *frequent* shingles (stopword runs, boilerplate) that would make a
    naive shingle self-join quadratic: dropping grams with df > df_max
    bounds every gram's pair fan-out by df_max^2 while losing only pairs
    whose ENTIRE overlap is corpus-common boilerplate — exactly the pairs
    a containment dedup must not act on anyway (q58's duplicated-n-gram
    gate owns that signal).

    Output, one row per detected pair: ``(doc_small, doc_big, n_small,
    n_big, inter, containment)`` — smaller-shingle-set side first (ties by
    id), containment = inter / n_small rounded 6 dp, kept iff >= threshold.

    Scale notes (100 TB):
      * posting-list df is one map-combinable hash agg; the candidate
        self-join runs ONLY on rare postings (df <= df_max), so pair
        generation is bounded by sum_g df(g)^2 <= df_max * |rare postings|
        — never corpus-quadratic, no skew from hot grams (they are gone).
      * intersection counting joins the candidate pairs back to the FULL
        posting lists — cost |candidates| * avg shingles, hash joins
        keyed (doc, gram), all shuffle keys md5-uniform-ish word strings.
      * fully engine-replayable (no hash seam): DuckDB re-derives
        candidates and containment from raw text.
    """
    n, df_max, threshold = 3, 5, 0.6
    sh = with_shingles(docs, n)
    post = sh.select("doc_id", F.explode("sh").alias("g"))
    sizes = sh.select("doc_id", F.size("sh").cast("long").alias("n_sh"))
    rare = (
        post.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_max))
        .select("g")
    )
    rp = post.join(rare, "g")
    cand = (
        rp.select(F.col("doc_id").alias("id_a"), "g")
        .join(rp.select(F.col("doc_id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    inter = (
        cand.join(post.select(F.col("doc_id").alias("id_a"), "g"), "id_a")
        .join(post.select(F.col("doc_id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .withColumn("_a_small", F.col("n_a") <= F.col("n_b"))
    )
    return (
        scored.select(
            F.when(F.col("_a_small"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_small"),
            F.when(F.col("_a_small"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("doc_big"),
            F.least("n_a", "n_b").alias("n_small"),
            F.greatest("n_a", "n_b").alias("n_big"),
            "inter",
            F.round(F.col("inter") / F.least("n_a", "n_b"), 6).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def corpus_overlap_minhash(docs: DataFrame) -> DataFrame:
    """Pairwise corpus-overlap matrix: for every pair of sources, the
    Jaccard similarity of their trigram-shingle SETS — estimated from a
    k-slot minhash signature per source, with the exact Jaccard computed
    alongside as the audit column (the judge of the sketch, not part of
    the scale path).

    Reference parity note: beyond-reference corpus-level operator — the
    pre-ingestion question a training-data pipeline asks BEFORE doc-level
    dedup (q18/q22/q78): which corpora substantially duplicate each other
    and in what proportion, cheap enough to run on every candidate corpus.

    Sketch mechanism: slot hash h_j(gram) = first 16 hex of
    md5(gram || ':' || j); a source's signature slot j is the MIN over its
    gram set. est_jaccard(a, b) = (#slots equal) / k — the classic minhash
    collision estimator, here md5-derived so DuckDB replays it
    bit-identically (same trade as the repo's other fully-oracled hash
    ops; a production build would swap in xxhash64(gram, j) — ~10x cheaper
    per gram — at the cost of the q22-style materialized-signature oracle
    seam instead of a closed-form one).

    Scale shape (100 TB):

    * The signature is MERGEABLE: per-doc partial signatures fold k
      elementwise string-mins in ONE traversal of the doc's shingle array
      (``F.aggregate`` + ``zip_with``/``least``), and the per-source fold
      is a plain map-combinable ``groupBy(source).agg(k mins)`` — each
      partition contributes k values per source, so the shuffle is
      O(sources x k) regardless of corpus size, and signatures from
      separately-processed shards merge by taking mins again.
    * The pair matrix is sources^2 x k on rows of k columns — driver-trivial
      for any real source count; joined via broadcast.
    * The EXACT leg (distinct-gram self-join) is the quadratic audit the
      sketch exists to replace; it rides along here because at test scale
      it is free and it turns the estimator's accuracy into an asserted,
      hash-checked fact. At 100 TB run the sketch leg alone.

    The ``.observe`` barrier after the per-doc signature pins the
    64-reference ``_sig`` column (q41 lesson: CollapseProject re-inlines a
    once-projected HOF column into every consumer, re-deriving the whole
    shingle fold per slot reference).
    """
    from functools import reduce as _reduce
    from operator import add as _add

    k, shingle_n = 64, 3
    sh = with_shingles(docs, shingle_n)

    def slot_hashes(s):
        return F.array(
            *[
                F.substring(F.md5(F.concat(s, F.lit(f":{j}"))), 1, 16)
                for j in range(k)
            ]
        )

    neutral = F.array(*[F.lit("g") for _ in range(k)])  # > any md5 hex char
    doc_sig = sh.select(
        "source",
        F.aggregate(
            "sh",
            neutral,
            lambda acc, s: F.zip_with(
                acc, slot_hashes(s), lambda a, h: F.least(a, h)
            ),
        ).alias("_sig"),
    ).observe(f"corpus_sig_obs_{next(_obs_ids)}", F.count(F.lit(1)).alias("rows"))
    src_sig = doc_sig.groupBy("source").agg(
        *[F.min(F.col("_sig")[j]).alias(f"_m{j}") for j in range(k)]
    )

    a, b = src_sig.alias("a"), src_sig.alias("b")
    n_match = _reduce(
        _add,
        [
            (F.col(f"a._m{j}") == F.col(f"b._m{j}")).cast("int")
            for j in range(k)
        ],
    ).cast("long")
    est = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        n_match.alias("n_match"),
    )

    grams = sh.select(
        F.col("source"), F.explode("sh").alias("gram")
    ).distinct()
    cnt = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    gx, gy = grams.alias("x"), grams.alias("y")
    common = (
        gx.join(gy, F.col("x.gram") == F.col("y.gram"))
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )

    ca = cnt.withColumnRenamed("source", "source_a").withColumnRenamed("n", "n_grams_a")
    cb = cnt.withColumnRenamed("source", "source_b").withColumnRenamed("n", "n_grams_b")
    out = (
        est.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .join(F.broadcast(common), ["source_a", "source_b"], "left")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)).cast("long"))
    )
    union = (
        F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_common")
    ).cast("double")
    return out.select(
        "source_a",
        "source_b",
        "n_grams_a",
        "n_grams_b",
        "n_common",
        "n_match",
        F.round(F.col("n_match").cast("double") / F.lit(float(k)), 6).alias(
            "est_jaccard"
        ),
        F.round(F.col("n_common").cast("double") / union, 6).alias(
            "exact_jaccard"
        ),
    )


def ppjoin_pairs(docs: DataFrame) -> DataFrame:
    """GLOBALLY exact all-pairs Jaccard join by prefix filtering
    (AllPairs/PPJoin, Bayardo et al. WWW'07) — the missing guarantee in
    the dedup family: q18 is exact only WITHIN a (source, size-bucket)
    block, q22/q23 are probabilistic, q78 is capped-recall containment.
    This finds EVERY pair with shingle-Jaccard >= t across the whole
    corpus, with candidates generated only through each document's
    RAREST shingles.

    Prefix-filter theorem: order every doc's shingle set by one global
    (df asc, shingle asc) total order; with prefix length
    p = |x| - ceil(t·|x|) + 1, any two sets with J >= t must share a
    shingle inside BOTH prefixes (else, taking the order-smallest common
    shingle c: all common shingles lie in one side's suffix, so the
    overlap < ceil(t·|size|) <= the overlap J >= t forces — a
    contradiction). Candidates are therefore an equi-join of prefix
    postings; everything else is suffix and never generates a pair.

    EXACT-INTEGER threshold contract: t = 3/5 as
    a fraction; ceil(t·s) computes as (num·s + den - 1) div den and the
    verify is ``inter · den >= num · union`` — no float ceil/compare
    anywhere, so a boundary-size prefix can never shrink by a ulp (float
    0.6·5 = 3.0000000000000004 would ceil to 4 and BREAK completeness).

    Scale shape (100 TB): df ranking makes every prefix shingle globally
    rare by construction — the posting lists the candidate join touches
    are the SHORT tail of the df distribution, while boilerplate grams
    (df 10^8) sit in suffixes and generate zero pairs; no cap needed, so
    unlike q78 nothing is dropped. Corpus-sized stages: shingle explode,
    df agg, one sort_array per doc, prefix explode (p ≤ |x| rows/doc).
    The exact-preserving size prune ``num·max(sz) <= den·min(sz)``
    bounds candidates further. The oracle brute-forces all pairs with
    DuckDB's own list_intersect — independently proving completeness AND
    soundness, like q104.

    Output: ``(doc_a, doc_b, inter, uni, jaccard)``, doc_a < doc_b.
    """
    num, den = 3, 5  # the Jaccard threshold t = 3/5
    sh = with_shingles(docs, 3).select(
        "doc_id", "sh", F.size("sh").alias("sz")
    )
    posts = sh.select("doc_id", F.explode("sh").alias("g"))
    dfreq = posts.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    ordered = (
        posts.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "g"))).alias("og")
        )
    )
    pref = (
        ordered.join(sh.select("doc_id", "sz"), "doc_id")
        .withColumn(
            "p",
            F.col("sz")
            - F.expr(f"(({num}L * sz) + {den - 1}L) div {den}L")
            + F.lit(1),
        )
        .select(
            "doc_id",
            "sz",
            F.explode(
                F.slice(F.col("og"), F.lit(1), F.col("p"))
            ).alias("pg"),
        )
        .select("doc_id", "sz", F.col("pg.g").alias("g"))
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # exact-preserving size prune: J >= num/den forces
            # num * max(size) <= den * min(size)
            & (
                F.lit(num)
                * F.greatest(F.col("a.sz"), F.col("b.sz"))
                <= F.lit(den) * F.least(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("_sa"),
        F.col("sz").alias("_za"),
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("_sb"),
        F.col("sz").alias("_zb"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "inter",
            F.size(F.array_intersect("_sa", "_sb")).cast("long"),
        )
        .withColumn(
            "uni", (F.col("_za") + F.col("_zb") - F.col("inter")).cast("long")
        )
        .filter(F.col("inter") * F.lit(den) >= F.lit(num) * F.col("uni"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "uni",
            F.round(
                F.col("inter").cast("double") / F.col("uni").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def split_leakage_report(pairs: DataFrame) -> DataFrame:
    """Train/val/test LEAKAGE audit over a near-dup pair set: how many
    near-duplicate pairs STRADDLE a split boundary — the contamination
    the n-gram/semantic decontam screens (q32/q54) don't cover, because
    a near-dup of a training doc sitting in val inflates eval scores
    without any eval-benchmark overlap.

    Takes the q22 MinHash pair set (any (doc_a, doc_b, jaccard) frame
    works) and classifies BOTH ends map-side via the q30 split
    expression — split membership is a pure function of the id, so
    there is NO join against the corpus: the report is one tiny
    aggregation over the pair set. Output one row per unordered split
    pair: ``(split_a, split_b, cross_split, n_pairs, max_jaccard)`` —
    max_jaccard is the worst leak's severity, the number a release gate
    thresholds on.

    Scale shape: pairs ≪ corpus (LSH-bounded); the audit adds a map-only
    projection + one combinable groupBy over ≤ |splits|² groups.
    """
    from java9_gc_log_parser_spark.operators.sampling import split_col

    sa = split_col(F.col("doc_a"))
    sb = split_col(F.col("doc_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
            "jaccard",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .withColumn("cross_split", F.col("split_a") != F.col("split_b"))
        .select("split_a", "split_b", "cross_split", "n_pairs",
                "max_jaccard")
    )
