"""Bloom-filter runtime pruning: distill a driver-side key set into a
fixed-size bitmap and prune the fact scan map-side before any shuffle.

The 100-TB problem this solves: "re-run the pipeline for the conversations
that failed" is a semi-join of a 10^12-row fact table against a small key
set. A plain semi-join still SHUFFLES the fact side on the join key (or at
best scans it into a broadcast hash join probe); a bloom filter turns the
probe into a few-KB bitmap every map task holds, so non-matching rows die
at the scan — the same idea as Spark's own AQE runtime bloom filter
(`spark.sql.optimizer.runtime.bloomFilter.enabled`), made explicit and
engine-reproducible here.

Reproducibility: every hash is md5-derived (position r of key k =
int(md5(k || ":bloom:" || r)[:4 hex], 16) % m_bits), the same recipe the
q60 count-min sketch uses, so the DuckDB oracle replays bitmap
construction, probing, and the false-positive accounting exactly — the FPR
is *audited*, not assumed. 65536 % m_bits == 0 for power-of-two m_bits, so
the 4-hex-char fold is exactly uniform over positions.

Scale notes (100 TB):
  * the bitmap is <= m_bits distinct positions built from the TINY side
    (one explode + distinct over |keys| * k rows), packed into m_bits/64
    longs (``packed_bloom``) and broadcast as one row — a few KB however
    large the fact side is.
  * probing is a map-only expression (F.forall over a k-element array): no
    shuffle, no state; rows failing the bloom never reach the exact
    verification join.
  * bloom pass => candidate only: the exact semi-join AFTER the prune
    touches just bloom-survivors (true matches + FPR * non-matches), so
    correctness never depends on the filter — it is purely a scan-side
    row-count reducer, exactly how engines deploy runtime filters.
  * the probe is O(1) per hash: the bitmap is packed into m_bits/64 longs
    and each probe is element_at + bitwiseAND inside codegen — per-row
    cost is independent of how many bits are set (an `array_contains`
    probe would scan the set-bit list per row: O(set bits) x rows).

Reference parity: beyond-reference operator (SURVEY §2 extension set); the
reference replays whole logs, a transcript store replays *selected*
conversations out of a corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_positions", "packed_bloom", "bloom_prune_audit"]

#: default geometry: 4096-bit filter, 4 hashes — for |keys| = n the FPR is
#: ~(1 - e^(-4n/4096))^4 (≈0.24% at n=64, ≈2.4% at n=256).
BLOOM_M_BITS = 4096
BLOOM_K = 4


def bloom_positions(
    key_col: Column, k: int = BLOOM_K, m_bits: int = BLOOM_M_BITS
) -> list[Column]:
    """The k bit positions of a key: 4 md5 hex chars (0..65535) % m_bits.

    String-built, integer-folded — the exact expression the oracle redoes
    with ('0x' || substr(md5(...), 1, 4))::INT % m_bits.
    """
    if m_bits <= 0 or 65536 % m_bits != 0:
        raise ValueError(f"m_bits must divide 65536, got {m_bits}")
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(key_col.cast("string"), F.lit(f":bloom:{r}"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        % m_bits
        for r in range(k)
    ]


def packed_bloom(
    keys: DataFrame, key: str, k: int = BLOOM_K, m_bits: int = BLOOM_M_BITS
) -> DataFrame:
    """The bloom as one row ``(_words: array<long>, _n_bits: long)`` —
    m_bits/64 packed longs (word w holds positions [64w, 64w+64)) plus the
    set-bit count for the audit. Positions are distinct before packing, so
    the per-word SUM of 2^(pos%64) sets each bit exactly once."""
    pos = bloom_positions(F.col(key), k, m_bits)
    distinct_pos = (
        keys.select(F.explode(F.array(*pos)).alias("pos")).distinct()
    )
    words = distinct_pos.groupBy(
        (F.col("pos") / 64).cast("int").alias("w")
    ).agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        ).alias("bits"),
        F.count(F.lit(1)).alias("n"),
    )
    n_words = m_bits // 64
    return words.agg(
        F.map_from_arrays(
            F.collect_list("w"), F.collect_list("bits")
        ).alias("_m"),
        F.sum("n").cast("long").alias("_n_bits"),
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda w: F.coalesce(
                F.element_at(F.col("_m"), w), F.lit(0).cast("long")
            ),
        ).alias("_words"),
        "_n_bits",
    )


def bloom_prune_audit(
    fact: DataFrame,
    keys: DataFrame,
    key: str,
    k: int = BLOOM_K,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """Prune ``fact`` by the bloom of ``keys[key]`` and AUDIT the filter.

    Returns one row:
    ``(n_rows, n_bloom_pass, n_exact, n_false_pos, n_bits_set, fp_rate)``
    where n_exact counts true members (exact semi-join semantics via a
    broadcast membership join), n_false_pos counts bloom survivors that the
    exact join rejects, and fp_rate = n_false_pos / non-members (6 dp).
    Invariants the audit proves: no false negatives (every exact member
    passes the bloom — guaranteed by construction) and the measured FPR.

    Shape: bitmap agg on the tiny side -> broadcast -> map-only O(1)
    bitwise probe + broadcast membership join -> ONE map-combinable global
    agg. The fact side never shuffles.
    """
    bloom = packed_bloom(keys, key, k, m_bits)
    members = keys.select(key).distinct().withColumn("_member", F.lit(True))

    def _hit(p):
        word = F.element_at(F.col("_words"), (p / 64).cast("int") + 1)
        return F.getbit(word, (p % 64).cast("int")) == 1

    probe = F.array(*bloom_positions(F.col(key), k, m_bits))
    flagged = (
        fact.select(key)
        .crossJoin(F.broadcast(bloom))
        .withColumn("_pass", F.forall(probe, _hit))
        .join(F.broadcast(members), key, "left")
        .withColumn("_member", F.coalesce(F.col("_member"), F.lit(False)))
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("_pass").cast("long")).cast("long").alias("n_bloom_pass"),
        F.sum(F.col("_member").cast("long")).cast("long").alias("n_exact"),
        F.sum((F.col("_pass") & ~F.col("_member")).cast("long"))
        .cast("long")
        .alias("n_false_pos"),
        F.max("_n_bits").cast("long").alias("n_bits_set"),
        F.round(
            F.sum((F.col("_pass") & ~F.col("_member")).cast("long"))
            / F.sum((~F.col("_member")).cast("long")),
            6,
        ).alias("fp_rate"),
    )
