"""Write-side layout control: deterministic range clustering + zone-map
audit — the file-layout lever that makes every LATER scan cheap.

At 100 TB the dominant cost of most queries is the scan, and the scan's
cost is decided at WRITE time: if files are range-clustered on the common
predicate column (almost always event time), parquet row-group min/max
stats ("zone maps") let readers skip all but the matching files —
`WHERE ts BETWEEN x AND y` touches 1/n of the data instead of all of it.

Spark's own `repartitionByRange` samples the data to pick boundaries, so
two runs (or two engines) produce different layouts. Here the boundaries
are EXACT percentiles of the cluster key, which makes the layout a pure
function of the data: reproducible across runs, engines, and re-ingestions,
and replayable row-for-row by the DuckDB oracle (quantile_cont — the
established q73 exact-percentile pair).

Scale notes (100 TB):
  * boundary computation is ONE holistic percentile agg producing
    n_clusters-1 numbers — at extreme row counts switch to
    approx_percentile or the q65 mergeable histogram sketch (documented
    error bound); the assignment side is unchanged either way.
  * assignment is map-only: broadcast the boundary array, cluster =
    #{b in boundaries : v > b} via a codegen'd array filter — no shuffle
    beyond the final clustered write's repartition(cluster).
  * the write shuffles each row ONCE on its cluster id and sorts within
    partitions on the key, so row groups inside every file are also
    key-ordered — min/max stats stay tight at file AND row-group grain.
  * the zone-map audit (per-cluster min/max/count + pairwise disjointness)
    is a tiny n_clusters-row agg over the written table — the invariant
    that makes skipping sound is ASSERTED, not assumed.

Reference parity: beyond-reference operator (SURVEY §2 extension set); the
reference streams one log file — a corpus store must decide physical
layout, and time-clustering is the canonical choice for event data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "compaction_plan",
    "micro_file_stats",
    "range_boundaries",
    "range_cluster",
    "zone_map",
    "morton_sql",
    "zorder_cluster",
    "zorder_zone_map",
]


def range_boundaries(df: DataFrame, col: str, n_clusters: int) -> DataFrame:
    """One row ``(_bs: array<double>)`` — the n_clusters-1 exact
    interpolated percentile boundaries of ``col`` at i/n_clusters."""
    if n_clusters < 2:
        raise ValueError(f"n_clusters must be >= 2, got {n_clusters}")
    qs = [i / n_clusters for i in range(1, n_clusters)]
    return df.agg(
        F.percentile(F.col(col).cast("double"), F.array(*[F.lit(q) for q in qs])).alias(
            "_bs"
        )
    )


def range_cluster(df: DataFrame, col: str, n_clusters: int = 8) -> DataFrame:
    """Append a deterministic ``cluster`` id: #{boundary < value}.

    A value exactly ON a boundary goes to the LOWER cluster (strict >);
    boundary/data ties only occur where the percentile lands on an exact
    rank, where interpolation is exact in both engines (the q73 argument),
    so the assignment is engine-stable.
    """
    bs = range_boundaries(df, col, n_clusters)
    v = F.col(col).cast("double")
    return (
        df.crossJoin(F.broadcast(bs))
        .withColumn(
            "cluster",
            F.size(F.filter(F.col("_bs"), lambda b: v > b)).cast("int"),
        )
        .drop("_bs")
    )


def zone_map(clustered: DataFrame, col: str) -> DataFrame:
    """Per-cluster zone-map stats + the disjointness proof.

    Output (n_clusters rows): ``(cluster, n_rows, min_v, max_v, disjoint)``
    where disjoint asserts this cluster's min exceeds the previous
    cluster's max — the invariant that makes min/max file skipping sound.
    min/max are the raw key values cast to long (the key is integral here:
    epoch micros).
    """
    stats = clustered.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(F.col(col).cast("long")).alias("min_v"),
        F.max(F.col(col).cast("long")).alias("max_v"),
    )
    w = Window.orderBy("cluster")
    return stats.select(
        "cluster",
        "n_rows",
        "min_v",
        "max_v",
        F.coalesce(
            F.col("min_v") > F.lag("max_v").over(w), F.lit(True)
        ).alias("disjoint"),
    )


def morton_sql(col_a: str, col_b: str, bits: int) -> str:
    """SQL text for the Morton (Z-order) interleave of two integer dims in
    ``[0, 2**bits)`` — dim a takes the odd bit positions (more significant
    within each pair), dim b the even ones.

    Deliberately ONE generated expression string evaluated verbatim by BOTH
    Spark (`F.expr`) and the DuckDB oracle: pure `>> & <<  |` integer ops,
    so the code is bit-identical across engines by construction. The
    expression is a flat OR-tree of 2*bits terms — comfortably inside
    whole-stage codegen (no interpreted lambda, no UDF).
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    terms = []
    for i in range(bits):
        terms.append(
            f"((({col_a} >> {i}) & CAST(1 AS BIGINT)) << {2 * i + 1})"
        )
        terms.append(f"((({col_b} >> {i}) & CAST(1 AS BIGINT)) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def zorder_cluster(
    df: DataFrame, col_a: str, col_b: str, bits: int = 10,
    cluster_bits: int = 4,
) -> DataFrame:
    """Append ``zval`` (the 2*bits-bit Morton code of the two dim columns)
    and ``cluster`` (its top ``cluster_bits`` bits).

    Why the top-bit prefix is the cluster id: a Morton prefix of 2k bits is
    exactly (k MSBs of dim a) x (k MSBs of dim b) — every cluster is an
    axis-aligned RECTANGLE in (a, b) space. So each written file has a
    bounded min/max range on BOTH dims and parquet zone maps prune on a
    predicate over EITHER column — the property single-dim range clustering
    (`range_cluster`) cannot give: clustering on time makes `user` scans
    full-table, and vice versa. This is the explicit, engine-replayable
    form of Delta/Iceberg `OPTIMIZE ZORDER BY (a, b)`.

    Scale notes (100 TB): the code is map-only codegen arithmetic; the only
    shuffle is the final clustered write's repartition on ``cluster``
    (same as `range_cluster`). `cluster_bits` picks file count per
    partition grain — at petabyte scale raise it so each z-cluster is a
    few GB; the rectangles just get finer. Dims must be pre-scaled to
    [0, 2**bits) integers (caller does the scaling so it stays an exact
    integer contract both engines replay).
    """
    if not 1 <= cluster_bits <= 2 * bits:
        raise ValueError(
            f"cluster_bits must be in [1, {2 * bits}], got {cluster_bits}"
        )
    z = F.expr(morton_sql(col_a, col_b, bits)).cast("long")
    return df.withColumn("zval", z).withColumn(
        "cluster",
        F.shiftright(F.col("zval"), 2 * bits - cluster_bits).cast("int"),
    )


def zorder_zone_map(
    clustered: DataFrame, col_a: str, col_b: str,
    probe_a: tuple[int, int], probe_b: tuple[int, int],
) -> DataFrame:
    """Per-z-cluster zone-map stats over BOTH dims + pruning proof.

    Output (one row per cluster):
      ``(cluster, n_rows, min_a, max_a, min_b, max_b, hit_a, hit_b)``
    where ``hit_a`` is true iff the cluster's [min_a, max_a] intersects the
    closed probe range ``probe_a`` (ditto b) — i.e. whether a zone-map
    reader would have to touch this cluster for a predicate on that dim
    alone. The audited claim: BOTH probe columns prune to a strict subset
    of clusters under one layout. The audit itself is a tiny
    2**cluster_bits-row agg.
    """
    alo, ahi = probe_a
    blo, bhi = probe_b
    return (
        clustered.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(col_a).cast("long").alias("min_a"),
            F.max(col_a).cast("long").alias("max_a"),
            F.min(col_b).cast("long").alias("min_b"),
            F.max(col_b).cast("long").alias("max_b"),
        )
        .select(
            "cluster", "n_rows", "min_a", "max_a", "min_b", "max_b",
            ((F.col("min_a") <= F.lit(ahi)) & (F.col("max_a") >= F.lit(alo)))
            .alias("hit_a"),
            ((F.col("min_b") <= F.lit(bhi)) & (F.col("max_b") >= F.lit(blo)))
            .alias("hit_b"),
        )
    )


def micro_file_stats(docs: DataFrame, files_per_source: int = 32) -> DataFrame:
    """Synthetic per-file metadata table (test/bench scaffolding for
    :func:`compaction_plan`, like cdc.synth_mutated_snapshot — NOT a
    pipeline operator): docs are md5-bucketed into ``files_per_source``
    micro-files per source, mimicking the small-file litter a streaming
    ingest leaves behind. md5-derived so the DuckDB oracle rebuilds the
    identical table from the raw documents view.

    Output: ``(source, file_id, n_docs, bytes)``.
    """
    fid = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":file:v1"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % files_per_source
    ).cast("int")
    return docs.groupBy(F.col("source"), fid.alias("file_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("bytes"),
    )


def compaction_plan(file_stats: DataFrame, target_bytes: int) -> DataFrame:
    """Small-file compaction plan: within each partition, pack files (in
    deterministic ``file_id`` order) into sequential bins of
    ``>= target_bytes`` — ``bin = exclusive_prefix_sum(bytes) //
    target_bytes``, the same sequential-coalesce rule Spark's own file-scan
    packing and Iceberg's binpack rewrite use. The plan is the INPUT to a
    rewrite job (read each bin, write one file); planning itself touches
    only file METADATA.

    Output, one row per (partition, bin): ``(source, bin,
    n_files, total_bytes, first_file, last_file, over_target)`` —
    ``over_target`` marks bins a straddling large file pushed past 2x the
    target (the rewrite should split those instead of concatenating).

    Scale notes (100 TB): at ~128 MB files a 100-TB table is ~10^6
    metadata rows — the window pass and rollup run on metadata, never on
    data. One shuffle on the partition key; the running sum is an O(1)
    frame. The rewrite this plan drives is embarrassingly parallel per bin.
    """
    if target_bytes < 1:
        raise ValueError(f"target_bytes must be >= 1, got {target_bytes}")
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = file_stats.withColumn(
        "_prefix", F.coalesce(F.sum("bytes").over(w), F.lit(0).cast("long"))
    ).withColumn("bin", F.expr(f"_prefix div {int(target_bytes)}").cast("int"))
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
        (F.sum("bytes") > 2 * int(target_bytes)).alias("over_target"),
    )


def compaction_apply(
    docs: DataFrame,
    base_path: str,
    target_bytes: int = 2048,
    files_per_source: int = 32,
) -> DataFrame:
    """Execute the q94 binpack plan and prove it from the written state —
    the rewrite job `compaction_plan` only plans: write the micro-file
    layout (one parquet file per (source, file_id) — streaming-ingest
    litter), rewrite each plan bin into one file partitioned by
    (source, bin), then audit BOTH committed tables.

    Every audit column is independently replayable by the oracle:
    physical file counts are deterministic because a keyed
    ``repartition(partition cols)`` maps each key wholly to one task, so
    each partition dir holds exactly one file — files_before = distinct
    md5 file buckets per source, files_after = plan bins per source; rows
    and the order-insensitive content checksum (sum of md5-prefix ints)
    come from re-reading the after table, catching a rewrite that
    dropped/duplicated rows, not just one that miscounted files.

    Scale shape (100 TB): the rewrite reads each bin's files once and
    writes once, embarrassingly parallel per bin; the bin map is plan
    METADATA (broadcast). Physical file counts come from
    ``_metadata.file_path``, not a driver filesystem walk.
    """
    import shutil

    from java9_gc_log_parser_spark.storage import (
        TableRef,
        read_table,
        write_table,
    )

    spark = docs.sparkSession
    fid = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":file:v1"))
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % files_per_source
    ).cast("int")

    before_path = f"{base_path}/before"
    after_path = f"{base_path}/after"
    shutil.rmtree(base_path, ignore_errors=True)
    before = docs.withColumn("file_id", fid).repartition("source", "file_id")
    write_table(
        before,
        TableRef(before_path, partition_by=("source", "file_id")),
    )

    stats = micro_file_stats(docs, files_per_source=files_per_source)
    plan = compaction_plan(stats, target_bytes=target_bytes)
    bin_map = plan.select(
        "source",
        F.explode(
            F.sequence(F.col("first_file"), F.col("last_file"))
        ).alias("file_id"),
        "bin",
    )
    loaded = read_table(spark, before_path).withColumn(
        "file_id", F.col("file_id").cast("int")
    )
    after = (
        loaded.join(F.broadcast(bin_map), ["source", "file_id"])
        .repartition("source", "bin")
    )
    write_table(after, TableRef(after_path, partition_by=("source", "bin")))

    def _audit(path: str, tag: str) -> DataFrame:
        t = read_table(spark, path)
        return t.select(
            "source",
            F.lit(tag).alias("stage"),
            F.col("_metadata.file_path").alias("f"),
            F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )

    both = _audit(before_path, "before").unionByName(_audit(after_path, "after"))
    is_b = F.col("stage") == "before"
    return both.groupBy("source").agg(
        F.countDistinct(F.when(is_b, F.col("f"))).cast("long")
        .alias("n_files_before"),
        F.countDistinct(F.when(~is_b, F.col("f"))).cast("long")
        .alias("n_files_after"),
        F.sum(is_b.cast("long")).alias("rows_before"),
        F.sum((~is_b).cast("long")).alias("rows_after"),
        F.sum(F.when(~is_b, F.col("h"))).cast("long").alias("content_sum"),
    )
