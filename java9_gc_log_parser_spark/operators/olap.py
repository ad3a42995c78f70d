"""Classic star-schema OLAP over the TPC-H-shaped tables: pricing
summary, broadcast-dim star join, and multi-grain grouping-sets rollups.

Why these live here: the transcript/log operators (SURVEY §2) and the
training-data operators cover the pipeline's own needs; a corpus store is
also queried like any warehouse — "revenue by nation", "summary by
status", "counts at every grain". These three restate the canonical
warehouse shapes Spark-first, with the float discipline the rest of the
repo uses.

Float contract (the q11/q41 lesson, applied to money): double sums are
order-dependent across partitions, so every monetary aggregate here sums
EXACT INTEGERS — prices/quantities/rates are 2-dp decimals stored as
doubles, so ``round(v*100)`` is an exact integer both engines agree on,
products of integers stay exact (disc_price in e4 cents-squared, charge in
e6), and ONE division + round(6) happens after the sum. The DuckDB oracle
performs the identical integer arithmetic, so results hash-match exactly.
At 10^12-row scale the e6 partial sums approach int64 range — the
documented upgrade is Spark's decimal(38,0) sum (still exact, still
map-combinable); the operator shape does not change.

Scale notes (100 TB):
  * pricing_summary: ONE map-combinable hash agg over a tiny (flag,
    status) key space — partial aggregation reduces each map task to ~6
    rows; the scan prunes to the 7 referenced columns and the shipdate
    filter pushes down to parquet row-group stats (tightest when the table
    is range-clustered on shipdate — operators/layout.py).
  * star_revenue_by_nation: the dim chain customer⋈nation⋈region
    broadcasts (explicit hints — a 150-row region table must never
    shuffle a 10^12-row fact side); the only corpus-sized shuffle is
    lineitem⋈orders on orderkey, which the q59 bucketed seam makes
    ZERO-exchange when both tables are bucketed by orderkey at write time.
  * grouping_sets_count: Spark's Expand replicates each row once per
    grouping set BEFORE the shuffle, but partial aggregation collapses the
    replicas to (distinct keys x sets) per task — one shuffle serves every
    grain, vs one full shuffle per grain for the unioned-aggs alternative.

Reference parity: beyond-reference operators (SURVEY §2 extension set);
the reference's rollups (GcStateFlow.scala) are single-grain counters —
these are the multi-table / multi-grain generalizations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cents",
    "pricing_summary",
    "star_revenue_by_nation",
    "grouping_sets_count",
]


def cents(col: Column | str) -> Column:
    """Exact integer cents of a 2-dp decimal stored as double.

    round(v*100) is exact for both engines: the stored doubles are within
    1e-10 of a cent integer, never near the .5 rounding boundary.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary by (returnflag, linestatus).

    All sums are exact-integer (cents / e4 / e6); one division + round(6)
    per output column after aggregation. avg columns divide the exact sum
    by 100.0 then by the count — the oracle performs the same two fp
    divisions in the same order.
    """
    qc, pc = cents("l_quantity"), cents("l_extendedprice")
    dc, tc = cents("l_discount"), cents("l_tax")
    disc_e4 = pc * (100 - dc)
    charge_e6 = pc * (100 - dc) * (100 + tc)
    n = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qc) / 100.0, 6).alias("sum_qty"),
            F.round(F.sum(pc) / 100.0, 6).alias("sum_base_price"),
            F.round(F.sum(disc_e4) / 10000.0, 6).alias("sum_disc_price"),
            F.round(F.sum(charge_e6) / 1000000.0, 6).alias("sum_charge"),
            F.round(F.sum(qc) / 100.0 / n, 6).alias("avg_qty"),
            F.round(F.sum(pc) / 100.0 / n, 6).alias("avg_price"),
            F.round(F.sum(dc) / 100.0 / n, 6).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
    )


def star_revenue_by_nation(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue per customer nation for one region and order-date window
    (TPC-H-Q5-shaped, without the supplier leg).

    The dim chain region→nation→customer broadcasts end-to-end (explicit
    hints); the fact-side work is one lineitem⋈orders equi-join plus one
    hash agg on the 25-value nation key.
    """
    dims = (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey", "n_name")
    )
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    rev_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        lineitem.select("l_orderkey", rev_e4.alias("_rev_e4"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum("_rev_e4") / 10000.0, 6).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        )
    )


def grouping_sets_count(df: DataFrame, a: str, b: str) -> DataFrame:
    """Counts at every grain of (a, b) in ONE pass: CUBE -> (a,b), (a),
    (b), () with the grouping_id disambiguating a NULL data value from a
    NULL rollup total.

    One Expand + one shuffle serve all four grains; partial aggregation
    collapses the 4x row replication to (distinct keys x 4) per map task.
    """
    return (
        df.cube(a, b)
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .select(a, b, "gid", "n_rows")
    )
