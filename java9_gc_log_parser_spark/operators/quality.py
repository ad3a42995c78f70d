"""Data-contract audit: referential-integrity, nullability, range, and
uniqueness checks over a star schema.

Beyond-reference operator (SURVEY §2 extension set): the reference enforces
its contract in the parser (closed tag/level/reason vocabularies,
GcLineParser.scala's alternation — anything off-contract becomes a counted
dead-letter, never silent corruption). A warehouse pipeline needs the same
discipline at TABLE granularity: before a 100-TB fact table feeds training
jobs, assert its foreign keys resolve, required columns are populated,
measures sit in their documented domains, and natural keys are unique —
with violation COUNTS, because at scale the answer to "is it clean" is a
rate, not a boolean.

Scale notes (100 TB):
  * FK checks are ONE pass over the child table: left-outer join against
    the parent's distinct key projection (Catalyst broadcasts it when it
    fits; a billion-key parent degrades to a shuffle join on the key — the
    join carries only the key column either way), then a map-combinable
    count agg. Never an anti-join *plus* a separate total-count scan.
  * Null/range checks are map-only conditional counts fused into one agg
    per table — adding a check adds a column, not a scan.
  * Uniqueness is count - count(distinct) via Spark's standard two-phase
    partial-distinct expansion on the key.
  * Each check emits ONE row; the audit result is a union of scalars —
    the report never shuffles data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["data_contract_audit", "fk_orphan_check", "predicate_check", "unique_check"]


def _one_row(
    check_id: str, check_type: str, table_name: str, n_rows: Column, n_viol: Column
) -> list[Column]:
    return [
        F.lit(check_id).alias("check_id"),
        F.lit(check_type).alias("check_type"),
        F.lit(table_name).alias("table_name"),
        n_rows.cast("long").alias("n_rows"),
        n_viol.cast("long").alias("n_violations"),
    ]


def fk_orphan_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    check_id: str,
    table_name: str,
) -> DataFrame:
    """Orphan count for child.child_key -> parent.parent_key: non-null
    child keys with no matching parent row. One scan of the child."""
    pk = parent.select(F.col(parent_key).alias("_pk")).distinct()
    joined = child.select(F.col(child_key).alias("_ck")).join(
        pk, F.col("_ck") == F.col("_pk"), "left"
    )
    return joined.agg(
        *_one_row(
            check_id,
            "fk",
            table_name,
            F.count(F.lit(1)),
            F.sum(
                F.when(
                    F.col("_ck").isNotNull() & F.col("_pk").isNull(), F.lit(1)
                ).otherwise(F.lit(0))
            ),
        )
    )


def predicate_check(
    table: DataFrame, pred: Column, check_id: str, check_type: str, table_name: str
) -> DataFrame:
    """Violation count for a row predicate (nullability, domain range, ...):
    a row violates when ``pred`` is NOT true (null-valued predicates count
    as violations — an unknown is not a pass). Map-only single agg."""
    viol = F.when(pred, F.lit(0)).otherwise(F.lit(1))
    return table.agg(
        *_one_row(check_id, check_type, table_name, F.count(F.lit(1)), F.sum(viol))
    )


def unique_check(
    table: DataFrame, key: str, check_id: str, table_name: str
) -> DataFrame:
    """Duplicate count for a natural key: n_rows - n_distinct(key)."""
    return table.agg(
        *_one_row(
            check_id,
            "unique",
            table_name,
            F.count(F.lit(1)),
            F.count(F.lit(1)) - F.count_distinct(F.col(key)),
        )
    )


def data_contract_audit(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """The star-schema contract: FK edges resolve, keys are unique,
    required columns are non-null, measures sit in their TPC-H domains.

    Output, one row per check: ``(check_id, check_type, table_name,
    n_rows, n_violations, ok)`` — ``ok`` iff zero violations.
    """
    legs = [
        fk_orphan_check(
            orders, customer, "o_custkey", "c_custkey",
            "fk_orders_customer", "orders",
        ),
        fk_orphan_check(
            lineitem, orders, "l_orderkey", "o_orderkey",
            "fk_lineitem_orders", "lineitem",
        ),
        fk_orphan_check(
            customer, nation, "c_nationkey", "n_nationkey",
            "fk_customer_nation", "customer",
        ),
        predicate_check(
            orders, F.col("o_custkey").isNotNull(),
            "nn_orders_custkey", "not_null", "orders",
        ),
        predicate_check(
            orders, F.col("o_totalprice") > 0,
            "range_orders_totalprice", "range", "orders",
        ),
        predicate_check(
            lineitem,
            (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "range_lineitem_quantity", "range", "lineitem",
        ),
        predicate_check(
            lineitem,
            (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
            "range_lineitem_discount", "range", "lineitem",
        ),
        unique_check(orders, "o_orderkey", "unique_orders_orderkey", "orders"),
        unique_check(customer, "c_custkey", "unique_customer_custkey", "customer"),
    ]
    audit = reduce(lambda a, b: a.unionByName(b), legs)
    return audit.withColumn("ok", F.col("n_violations") == 0)


def benford_audit(events: DataFrame) -> DataFrame:
    """First-significant-digit (Benford) audit of a positive measure
    column — the classic forensic screen for fabricated, clipped, or
    unit-mangled telemetry: organically generated multiplicative
    quantities follow P(d) = log10(1 + 1/d); a spike at one digit
    flags synthetic fills, price floors, or unit mix-ups.

    Determinism contract: the digit is taken from the CENTI-QUANTIZED
    value (floor(value·100) as BIGINT — the repo's standard exact-money
    contract), so digit extraction is the first character of an
    integer's decimal rendering: identical in both engines, no float
    log10 of data values anywhere. Multiplying by 100 never changes the
    leading significant digit (a decimal shift); only sub-centi values
    (floor → 0) fall out, and those are reported in the ``n_dropped``
    column of every row so the denominator is auditable.

    Output: 9 rows ``(digit, n, share, benford_share, abs_gap,
    n_dropped)`` — share from exact counts (6 dp); ``benford_share`` the
    closed-form expectation; digits absent from the data still appear
    (share 0) so the audit always has all 9 rows.

    Scale shape (100 TB): one map-combinable hash agg to <= 9 rows plus
    a broadcast of the 9-row digit spine — the report never shuffles
    data. (chi-square is one more arithmetic column downstream; kept out
    so the output stays a pure count table.)
    """
    vc = F.floor(F.col("value") * 100).cast("long")
    counted = (
        events.filter(F.col("value").isNotNull())
        .select(
            F.when(vc >= 1, F.substring(vc.cast("string"), 1, 1))
            .otherwise(F.lit(None))
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = events.sparkSession
    spine = spark.range(1, 10).select(
        F.col("id").cast("string").alias("digit")
    )
    dropped = counted.filter(F.col("digit").isNull()).select(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_dropped")
    ).withColumn("_k", F.lit(1))
    tot = counted.filter(F.col("digit").isNotNull()).select(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("_tot")
    ).withColumn("_k", F.lit(1))
    return (
        spine.join(counted, "digit", "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)).cast("long"))
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(tot), "_k")
        .join(F.broadcast(dropped), "_k")
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("share"),
            F.round(
                F.log10(
                    F.lit(1.0)
                    + F.lit(1.0) / F.col("digit").cast("double")
                ),
                6,
            ).alias("benford_share"),
            F.round(
                F.abs(
                    F.round(
                        F.col("n").cast("double")
                        / F.col("_tot").cast("double"),
                        6,
                    )
                    - F.round(
                        F.log10(
                            F.lit(1.0)
                            + F.lit(1.0) / F.col("digit").cast("double")
                        ),
                        6,
                    )
                ),
                6,
            ).alias("abs_gap"),
            "n_dropped",
        )
    )
