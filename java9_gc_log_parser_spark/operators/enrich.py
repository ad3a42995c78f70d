"""Broadcast-join enrichment against role/tool lookup dims (SURVEY §2.6).

Target-only operator (the reference joins nothing). Dims are tiny closed
vocabularies -> always broadcast; never let a 4-row dim trigger a shuffle of
the 10^12-row fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.dims import role_dim, tool_dim


def enrich(df: DataFrame, with_role: bool = True) -> DataFrame:
    """Left-join role_dim/tool_dim with explicit broadcast hints."""
    spark = df.sparkSession
    columns = df.columns
    out = df
    if with_role and "role" in columns:
        out = out.join(role_dim(spark).hint("broadcast"), "role", "left")
    if "tool" in columns:
        out = out.join(tool_dim(spark).hint("broadcast"), "tool", "left")
    return out


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join with EXPLICIT salt replication — the manual
    skew-join rewrite for the case neither broadcast nor AQE covers: a
    dim too large to broadcast and a fact key so hot that one reducer
    would own it. The fact side derives a deterministic salt
    ``pmod(xxhash64(<salt_from>), n_salts)`` from a stable per-row
    column; the dim side replicates each row into all ``n_salts`` salt
    values (a bounded ``explode(sequence(...))``); the join runs on
    ``(key, salt)`` so a hot key's rows spread over ``n_salts`` tasks.

    **When to use vs AQE skew-split** (measured, `scripts/bench_skew_aqe.py`
    → `BENCH_skew_aqe.json`, summarized in BASELINE.md): AQE's
    OptimizeSkewedJoin makes the manual rewrite REDUNDANT for plain batch
    inner joins — once its byte thresholds fire it split the same hot
    partition to a 6× spread for free, and stacking salting on top of AQE
    gave the flattest spread (5×). Salting still EARNS its complexity in
    three measured/structural cases: (1) byte-threshold blindness — a hot
    key of identical strings compressed ~50:1, so an 8.7× ROW skew looked
    sub-threshold in BYTES and default-threshold AQE did not split at all
    (salting keys on row identity is compression-immune); (2) any stateful
    or streaming join (no AQE re-plan inside micro-batches); (3) when the
    join output must keep a stable partitioning for a downstream
    co-partitioned op (AQE's split is only applied there under
    forceOptimizeSkewedJoin, which re-shuffles). Size ``n_salts`` to the
    hot-key factor and keep it well below shuffle partitions — salt groups
    hash into reduce partitions, and at bench scale 8 groups into 32
    partitions collided 3-into-1 (visible in the recorded spread).

    Semantics are EXACTLY the plain inner join — every fact row meets
    precisely the one dim replica carrying its salt — so the oracle runs
    the UNSALTED join and equality is the correctness proof (plus the
    plan proof in tests/test_plans.py that the join keys include the
    salt). Cost: dim shuffle volume × n_salts — size ``n_salts`` to the
    observed hot-key factor (q74's skew report measures it); the fact
    side, which dominates bytes at 10^12 rows, shuffles exactly once
    either way. Deterministic salt (never ``rand()``) keeps retried
    tasks and the cross-engine oracle byte-stable.
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    f = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(salt_from)), F.lit(n_salts)).cast("int"),
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [key, "_salt"]).drop("_salt")
