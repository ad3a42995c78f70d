"""Record linkage: scalable edit-distance self-join (PassJoin-style).

Beyond-reference operator (SURVEY §2 extension set). The dedup family
(operators/dedupe.py) covers SET-similarity (shingles, minhash, simhash,
containment); entity resolution needs STRING similarity — "gpt-4 turbo
preview" vs "gpt4 turbo preview" are one edit apart but share few shingles
at short lengths. The classic scalable exact algorithm is PassJoin (Li,
Deng, Feng — VLDB 2011): partition each indexed string into d+1 segments;
any string within edit distance d must contain one of those segments
VERBATIM at a position shifted by at most d — a pigeonhole argument (d
edits cannot touch all d+1 segments, and the untouched segment's position
moves only by the net insert/delete balance, |shift| <= d).

This implements the d=1 instance (2 segments): every record emits 2 index
keys (segment text, segment number, own length) and at most 15 probe keys
(for each candidate indexed length m-1/m/m+1, the substrings at the
allowed positions of each segment slot); candidates are the equi-join of
probe keys against index keys, and a final JVM `levenshtein` pass verifies
exactly. COMPLETE for ed <= 1 — no pair can be missed — and verified, so
no false positives either.

Scale shape (100 TB):
  * Key generation is map-only codegen (explode of a fixed-size struct
    array — O(1) per-row fan-out, never a per-row Python call).
  * The candidate join is a plain equi-join on (segment, seg_no, length)
    — short string keys, map-side partial dedup via the distinct that
    follows. Segment-key frequency is the skew axis: a boilerplate prefix
    shared by 10^6 records makes one hot key. ``max_seg_freq`` caps it by
    DROPPING segments more frequent than the cap — that trades
    completeness for boundedness, so it is OFF by default and the exact
    contract holds; when set, the drop is on the INDEX side only and is
    logged in the plan by the df-filter join (the q78 posting-cap
    pattern).
  * Verification cost is |candidates| JVM levenshtein calls on <=32-char
    strings — vectorized codegen, no quadratic phase anywhere.

Cross-engine oracle: the DuckDB oracle does NOT replay the blocking — it
brute-forces all pairs with its own independent `levenshtein`
implementation, so the correctness gate proves both soundness and the
PassJoin completeness theorem on real data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["edit_distance_join", "normalized_title"]


def normalized_title():
    """Deterministic short normalized key: lowercase alnum+space of the
    first 24 chars of ``text``, trimmed — engine-identical in Spark and
    DuckDB (both 1-based substr, both replace-all regex)."""
    return F.trim(
        F.regexp_replace(
            F.lower(F.substring(F.col("text"), 1, 24)),
            "[^a-z0-9 ]",
            "",
        )
    )


def edit_distance_join(
    df: DataFrame, max_seg_freq: int | None = None
) -> DataFrame:
    """All UNORDERED pairs of rows whose ``title`` values are within
    edit distance 1 (including exact duplicates, ed=0), found via
    PassJoin 2-segment blocking + exact levenshtein verification.

    Output: ``(a_id, b_id, ed, len_a, len_b)`` with ``a_id < b_id`` (the
    rows' ``doc_id``).
    Strings shorter than 2 chars are excluded (no 2-segmentation exists;
    at title granularity those are empty/degenerate keys anyway).
    """
    t = df.select(
        F.col("doc_id").alias("rid"),
        F.col("title").alias("s"),
        F.length("title").alias("m"),
    ).filter(F.length("title") >= 2)

    # ---- index keys: my own 2 segments, tagged with my length ----------
    idx = t.select(
        F.col("rid").alias("i_rid"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("seg"),
                    F.expr("substring(s, 1, m div 2)").alias("k"),
                    F.col("m").alias("n"),
                ),
                F.struct(
                    F.lit(2).alias("seg"),
                    F.expr(
                        "substring(s, m div 2 + 1, m - m div 2)"
                    ).alias("k"),
                    F.col("m").alias("n"),
                ),
            )
        ).alias("key"),
    ).select("i_rid", "key.*")
    if max_seg_freq is not None:
        hot = (
            idx.groupBy("seg", "k", "n")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_seg_freq)
            .select("seg", "k", "n")
        )
        idx = idx.join(hot, ["seg", "k", "n"], "left_anti")

    # ---- probe keys: substrings at the allowed slots for each candidate
    # indexed length n in {m-1, m, m+1} ---------------------------------
    # built as expr strings: n = candidate indexed length, l1 = n div 2,
    # l2 = n - l1 — pure column arithmetic, codegen end-to-end
    structs = []
    for delta in (-1, 0, 1):
        nn = f"(m + {delta})"
        l1 = f"({nn} div 2)"
        l2 = f"({nn} - {l1})"
        # segment 1 sits at position 1 in the indexed string; allowed
        # probe starts: {1, 2} (|shift| <= 1)
        for p in ("1", "2"):
            structs.append(
                f"struct(1 as seg, substring(s, {p}, {l1}) as k, "
                f"cast({nn} as int) as n, cast({p} as int) as p, "
                f"cast({l1} as int) as l)"
            )
        # segment 2 sits at position l1+1; allowed starts l1, l1+1, l1+2
        for p in (f"{l1}", f"{l1} + 1", f"{l1} + 2"):
            structs.append(
                f"struct(2 as seg, substring(s, {p}, {l2}) as k, "
                f"cast({nn} as int) as n, cast({p} as int) as p, "
                f"cast({l2} as int) as l)"
            )
    probe = (
        t.select(
            F.col("rid").alias("p_rid"),
            F.col("m"),
            F.explode(F.expr("array(" + ", ".join(structs) + ")")).alias(
                "key"
            ),
        )
        .select("p_rid", "m", "key.*")
        # a slot is valid when it lies inside the probe string and the
        # indexed length is segmentable
        .filter(
            (F.col("n") >= 2)
            & (F.col("p") >= 1)
            & (F.col("p") + F.col("l") - 1 <= F.col("m"))
            & (F.col("l") >= 1)
        )
        .select("p_rid", "seg", "k", "n")
    )

    cand = (
        probe.join(idx, ["seg", "k", "n"])
        .filter(F.col("i_rid") != F.col("p_rid"))
        .select(
            F.least("i_rid", "p_rid").alias("a_id"),
            F.greatest("i_rid", "p_rid").alias("b_id"),
        )
        .distinct()
    )

    ta = t.select(
        F.col("rid").alias("a_id"), F.col("s").alias("_sa"),
        F.col("m").alias("len_a"),
    )
    tb = t.select(
        F.col("rid").alias("b_id"), F.col("s").alias("_sb"),
        F.col("m").alias("len_b"),
    )
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn("ed", F.levenshtein("_sa", "_sb").cast("int"))
        .filter(F.col("ed") <= 1)
        .select("a_id", "b_id", "ed", "len_a", "len_b")
    )


#: the segment-frequency cap blocking_quality_audit grades
_AUDIT_SEG_FREQ = 2


def blocking_quality_audit(
    df: DataFrame, store_path: str | None = None
) -> DataFrame:
    """Price the ``max_seg_freq`` completeness trade (the q119/q120
    audit pattern applied to record linkage): run the PassJoin CAPPED at
    ``_AUDIT_SEG_FREQ`` — the bounded production config that drops hot
    index segments — against the exact uncapped join (complete for ed<=1
    by the pigeonhole theorem) and report one row:

      ``(n_exact_pairs, n_capped_pairs, n_missed_pairs,
         completeness_micro)``

    Soundness is structural (every capped pair passes the exact
    levenshtein verify, so capped ⊆ exact — n_missed is exactly
    n_exact - n_capped); completeness is the measured number a platform
    watches when it tightens the cap on a skewed corpus.

    ``store_path``: the capped pair set is materialized there so the
    DuckDB oracle can recompute the SAME report from its own independent
    brute-force exact leg + the stored capped pairs (the q22
    materialized-seam discipline — blocking mechanics are Spark-side,
    the audit arithmetic is engine-checked).

    Scale shape: both legs are the existing PassJoin operator (map-only
    key fan-out + equi-join); the comparison joins two pair sets on
    their keys and collapses to one row via map-side-combinable aggs +
    a 1×1 combine join.
    """
    capped = edit_distance_join(df, max_seg_freq=_AUDIT_SEG_FREQ).select(
        "a_id", "b_id"
    )
    if store_path is not None:
        capped.write.mode("overwrite").parquet(store_path)
        spark = df.sparkSession
        capped = spark.read.parquet(store_path).select("a_id", "b_id")
    exact = edit_distance_join(df).select("a_id", "b_id")
    j = exact.join(
        capped.withColumn("_hit", F.lit(1)), ["a_id", "b_id"], "left"
    )
    left = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.sum(F.col("_hit").isNotNull().cast("long")).alias("_n_found"),
    )
    right = capped.agg(
        F.count(F.lit(1)).cast("long").alias("n_capped_pairs")
    )
    return left.crossJoin(right).select(
        "n_exact_pairs",
        "n_capped_pairs",
        (F.col("n_exact_pairs") - F.col("_n_found"))
        .cast("long")
        .alias("n_missed_pairs"),
        F.when(
            F.col("n_exact_pairs") > 0,
            F.round(
                F.col("_n_found").cast("double")
                / F.col("n_exact_pairs")
                * 1e6
            ).cast("long"),
        ).alias("completeness_micro"),
    )
