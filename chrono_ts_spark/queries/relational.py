"""Relational breadth over the star schema (SURVEY.md §2: P1–P5, J1–J4,
A1–A9, W1–W3, W6, O1–O3, U1–U2).

TPC-H-flavored queries adapted to the fixture columns. Star-schema
joins broadcast the dimension side explicitly (J1 note): at 100 TB the
fact table never shuffles for a dim join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import (
    davg,
    dec,
    dsum,
    favg,
    fsum,
    fx,
    fx_double,
    md5_u32,
    moment_sums,
    sql_davg,
    sql_dsum,
    sql_md5_u32,
)
from ..operators.topk import top_k_per_group
from . import query

# Decimal-exact revenue term: extendedprice * (1 - discount) -----------------
# (a function: Columns can't be built before a SparkSession exists)


def _rev():
    return dec(F.col("l_extendedprice"), 12, 2) * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(4,2)")


def _rev_fx():
    """int64 fixed-point twin of ``_rev()`` in 1e-4 units — bit-identical
    on the 2-decimal money domain (functions/__init__.py equivalence
    argument; the (1 - l_discount) double is itself exactly the nearest
    double to a 2-decimal value, so fx recovers 100 - disc_cents
    exactly). Finish a SUM over it with ``fx_double(sum, 4)``. Budget:
    ≤ 1.05e9/row → ~4.4e9 rows per aggregation group before 2^62."""
    return fx("l_extendedprice", 2) * (F.lit(100) - fx("l_discount", 2))


_SQL_REV = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))"


# ---------------------------------------------------------------------------
# A1/A9 + P2: TPC-H Q1 pricing summary
# ---------------------------------------------------------------------------


@query(
    "rel_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 12, 2)} AS sum_qty,
       {sql_dsum('l_extendedprice', 12, 2)} AS sum_base_price,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_SQL_REV} * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
       {sql_davg('l_quantity', 12, 2)} AS avg_qty,
       {sql_davg('l_extendedprice', 12, 2)} AS avg_price,
       {sql_davg('l_discount', 4, 2)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("relational", "A1", "bench"),
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: grouped pricing summary with exact money math.

    r15: decimal sums → int64 fixed-point twins (functions.fsum/favg —
    bit-identical on the 2-decimal money domain, equivalence argument
    and contract in functions/__init__.py; verified value-exact vs the
    unchanged decimal oracle at sf0.001/0.01/0.1). The decimal hash
    aggregate was ~0.4 s of this query's 0.94 s at sf0.1 (per-row
    BigDecimal changePrecision vs a codegen long add). Overflow budget:
    charge units are 1e-6 · price·(1±0.1) ≤ 1.05e11/row; 6e5 rows at
    sf0.1 → 6.3e16, and 2^62 allows ~4.4e7 rows per GROUP at 100 TB
    scale factors only if prices stay ≤ 1e6 — ANSI mode throws loudly
    if a bigger corpus ever crosses it (same contract as a decimal
    overflow, see `dec`).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price_c = fx("l_extendedprice", 2)  # cents
    disc_c = fx("l_discount", 2)  # 0..10 (hundredths)
    tax_c = fx("l_tax", 2)  # 0..8 (hundredths)
    rev_u4 = price_c * (F.lit(100) - disc_c)  # 1e-4 units
    charge_u6 = rev_u4 * (F.lit(100) + tax_c)  # 1e-6 units
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        fsum("l_quantity", 2).alias("sum_qty"),
        fsum("l_extendedprice", 2).alias("sum_base_price"),
        fx_double(F.sum(rev_u4), 4).alias("sum_disc_price"),
        fx_double(F.sum(charge_u6), 6).alias("sum_charge"),
        favg("l_quantity", 2).alias("avg_qty"),
        favg("l_extendedprice", 2).alias("avg_price"),
        favg("l_discount", 2).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# J1 + O2: TPC-H Q3-style top unshipped-revenue orders
# ---------------------------------------------------------------------------


@query(
    "rel_top_revenue_orders",
    oracle=f"""
SELECT l_orderkey,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_date, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("relational", "J1", "O2", "bench"),
)
def rel_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: top-10 BUILDING-segment orders by pending revenue.

    Dimension side (filtered customers) is broadcast: the lineitem scan
    never shuffles for the join, which is the only viable shape when
    lineitem is 100 TB and customers fit in memory.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        # r15: fixed-point revenue sum (bit-identical twin of the
        # decimal _rev() sum — see _rev_fx; oracle unchanged)
        .agg(fx_double(F.sum(_rev_fx()), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J3 (semi): Q4-style order priority counts
# ---------------------------------------------------------------------------


@query(
    "rel_order_priority_counts",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
""",
    tags=("relational", "J3"),
)
def rel_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: orders having any lineitem shipped after the order date."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


# ---------------------------------------------------------------------------
# J1 ×5: Q5-style local supplier volume
# ---------------------------------------------------------------------------


@query(
    "rel_nation_revenue",
    oracle=f"""
SELECT n_name, CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
    tags=("relational", "J1", "bench"),
)
def rel_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: revenue by nation for ASIA where supplier is co-national."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        # r15: fixed-point revenue sum (bit-identical, see _rev_fx)
        .agg(fx_double(F.sum(_rev_fx()), 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# P2/P3 + A1: Q6 revenue-change forecast (scan-heavy filter)
# ---------------------------------------------------------------------------


@query(
    "rel_revenue_forecast",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("relational", "P3", "bench"),
)
def rel_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: pure filter + global aggregate; filters push to parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    # r15: fixed-point twin of SUM(dec(price)·dec(disc)) in 1e-4 units
    # (bit-identical on the 2-decimal domain; ≤ 1.05e8/row budget)
    return f.agg(
        fx_double(F.sum(fx("l_extendedprice", 2) * fx("l_discount", 2)), 4)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A2/A3-lite: per-brand stats incl. distinct counts
# ---------------------------------------------------------------------------


@query(
    "rel_brand_stats",
    oracle=f"""
SELECT p_brand,
       COUNT(*) AS n_parts,
       COUNT(DISTINCT p_type) AS n_types,
       MIN(p_retailprice) AS min_price,
       MAX(p_retailprice) AS max_price,
       {sql_davg('p_retailprice', 12, 2)} AS avg_price,
       MIN(p_size) AS min_size,
       MAX(p_size) AS max_size
FROM part
GROUP BY p_brand
""",
    tags=("relational", "A2"),
)
def rel_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand part stats: exact distinct count + min/max/avg."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_type").alias("n_types"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        davg("p_retailprice", 12, 2).alias("avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


# ---------------------------------------------------------------------------
# J2 (outer): Q13-style customer order histogram
# ---------------------------------------------------------------------------


@query(
    "rel_cust_order_histogram",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
""",
    tags=("relational", "J2"),
)
def rel_cust_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: distribution of orders-per-customer, zero-order customers kept."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# J3 (anti) / (semi)
# ---------------------------------------------------------------------------


@query(
    "rel_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    tags=("relational", "J3"),
)
def rel_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never ordered."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "rel_big_spender_customers",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_totalprice > 400000
)
""",
    tags=("relational", "J3"),
)
def rel_big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: customers with at least one 400k+ order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# J4 (theta self-join)
# ---------------------------------------------------------------------------


@query(
    "rel_nation_pairs",
    oracle="""
SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
FROM nation a JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
""",
    tags=("relational", "J4"),
)
def rel_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: unordered nation pairs within a region."""
    n = load_table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") < F.col("b.n_name")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


# ---------------------------------------------------------------------------
# U1/U2: set operations
# ---------------------------------------------------------------------------


@query(
    "rel_union_nationkeys",
    oracle="""
SELECT nationkey, COUNT(*) AS n_entities
FROM (
    SELECT c_nationkey AS nationkey FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey FROM supplier
)
GROUP BY nationkey
""",
    tags=("relational", "U1"),
)
def rel_union_nationkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of customer+supplier nation keys, counted."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.unionByName(supp).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_entities")
    )


@query(
    "rel_nations_cust_not_supp",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("relational", "U2"),
)
def rel_nations_cust_not_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with customers but no suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.subtract(supp)  # EXCEPT (set semantics), not EXCEPT ALL


@query(
    "rel_nations_cust_and_supp",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("relational", "U2"),
)
def rel_nations_cust_and_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations with both customers and suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


# ---------------------------------------------------------------------------
# A5: rollup with sentinel totals (portable alternative to grouping_id)
# ---------------------------------------------------------------------------


@query(
    "rel_rollup_sales",
    oracle=f"""
SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
       COALESCE(l_linestatus, '(all)') AS linestatus,
       {sql_dsum('l_extendedprice', 12, 2)} AS sum_base_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("relational", "A5"),
)
def rel_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) incl. grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice", 12, 2).alias("sum_base_price"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        "sum_base_price",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# A9: conditional aggregation / manual pivot
# ---------------------------------------------------------------------------


@query(
    "rel_pivot_status",
    oracle=f"""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total_p,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
FROM orders
GROUP BY o_orderpriority
""",
    tags=("relational", "A9"),
)
def rel_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(CASE WHEN …) pivot of order totals by status."""
    orders = load_table(spark, sf_dir, "orders")
    price_d = dec("o_totalprice", 12, 2)

    def tot(status: str):
        return F.sum(F.when(F.col("o_orderstatus") == status, price_d)).cast("double")

    def cnt(status: str):
        return F.count(F.when(F.col("o_orderstatus") == status, F.lit(1)))

    return orders.groupBy("o_orderpriority").agg(
        tot("F").alias("total_f"),
        tot("O").alias("total_o"),
        tot("P").alias("total_p"),
        cnt("F").alias("n_f"),
        cnt("O").alias("n_o"),
        cnt("P").alias("n_p"),
    )


# ---------------------------------------------------------------------------
# W1: rank per group (top orders per customer)
# ---------------------------------------------------------------------------


@query(
    "rel_top_orders_per_cust",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rnk
    FROM orders
)
WHERE rnk <= 2
""",
    tags=("relational", "W1", "O3"),
)
def rel_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders by price per customer (row_number window pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=2,
    )


# ---------------------------------------------------------------------------
# W2: lag/lead deltas
# ---------------------------------------------------------------------------


@query(
    "rel_order_gap_days",
    oracle="""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       o_totalprice,
       o_totalprice - lag(o_totalprice) OVER w AS price_delta,
       CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("relational", "W2"),
)
def rel_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: price delta and day gap between consecutive orders."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        "o_totalprice",
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias("price_delta"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# W3 + W6: running totals, ntile, percent_rank, cume_dist
# ---------------------------------------------------------------------------


@query(
    "rel_cust_running_total",
    oracle="""
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_3
FROM orders
""",
    tags=("relational", "W3"),
)
def rel_cust_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative + 3-row moving order total per customer."""
    orders = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = base.rowsBetween(-2, Window.currentRow)
    price_d = dec("o_totalprice", 12, 2)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        F.sum(price_d).over(w_run).cast("double").alias("running_total"),
        F.sum(price_d).over(w_mov).cast("double").alias("moving_3"),
    )


@query(
    "rel_acctbal_distribution",
    oracle="""
SELECT c_custkey, c_acctbal,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
    tags=("relational", "W6"),
)
def rel_acctbal_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist over account balances.

    r6 rewrite — W6 without the global sort: the window's order
    (c_acctbal, c_custkey) is tie-free, so rank == row_number and all
    three functions are closed forms of (rn, N). rn comes from the same
    two-level distributed prefix sum as the quantile sketch
    (operators/quantile_sketch.kll_quantiles): value-uniform range grid
    from a 1-row min/max broadcast, row_number under a PARTITIONED
    per-range window, plus broadcast range-offset counts whose
    `.limit(_RANGES)` bound makes the one remaining tiny global window
    plan-provably bounded (explain_audit window rule — this query left
    the allowlist). Closed forms: pct_rank = (rn-1)/(N-1) (0 when
    N = 1, Spark's own convention), cume = rn/N, and ntile(4) by the
    documented first-(N mod n)-tiles-get-one-extra rule. The oracle
    keeps the declarative window form — same values, so the rewrite is
    hash-proven equivalent.
    """
    _RANGES = 1024
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    bounds = cust.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    it = cust.crossJoin(F.broadcast(bounds)).withColumn(
        "rng",
        F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(_RANGES - 1),
                F.floor(
                    (F.col("c_acctbal") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(float(_RANGES)))
                ).cast("int"),
            )
        ),
    )
    w_in = Window.partitionBy("rng").orderBy("c_acctbal", "c_custkey")
    ranked = it.withColumn("rn_in", F.row_number().over(w_in))
    rng_tot = (
        it.groupBy("rng").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("rng")
        .limit(_RANGES)
    )
    w_rng = Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
    offsets = rng_tot.select(
        "rng",
        F.coalesce(F.sum("cnt").over(w_rng), F.lit(0)).alias("off"),
        F.sum("cnt").over(
            Window.orderBy("rng").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    j = (
        ranked.join(F.broadcast(offsets), "rng")
        .withColumn("rn", (F.col("rn_in") + F.col("off")).cast("bigint"))
        # `div` keeps the tile arithmetic in exact integer space (a
        # double divide + floor would go inexact past 2^53 rows)
        .withColumn("base", F.expr("n_total div 4"))
        .withColumn("rem", F.col("n_total") % 4)
        .withColumn("boundary", F.col("rem") * (F.col("base") + 1))
    )
    n = F.col("n_total").cast("bigint")
    rn = F.col("rn")
    quartile = (
        F.when(
            rn <= F.col("boundary"), F.expr("(rn - 1) div (base + 1)")
        ).otherwise(F.col("rem") + F.expr("(rn - boundary - 1) div base"))
        + 1
    )
    return j.select(
        "c_custkey",
        "c_acctbal",
        quartile.cast("int").alias("quartile"),
        F.when(n == 1, F.lit(0.0))
        .otherwise((rn - 1).cast("double") / (n - 1).cast("double"))
        .alias("pct_rank"),
        (rn.cast("double") / n.cast("double")).alias("cume"),
    )


# ---------------------------------------------------------------------------
# A3/A4: statistical moments + percentiles from exact sums
# ---------------------------------------------------------------------------


@query(
    "rel_stats_moments",
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n,
       {sql_dsum('l_quantity', 12, 2)} AS sx,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
       SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             - {sql_dsum('l_quantity', 12, 2)} * {sql_dsum('l_quantity', 12, 2)} / COUNT(*))
            / (COUNT(*) - 1)) AS stddev_qty,
       round((COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        - {sql_dsum('l_quantity', 12, 2)} * {sql_dsum('l_extendedprice', 12, 2)})
       / (SQRT(COUNT(*) * CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               - {sql_dsum('l_quantity', 12, 2)} * {sql_dsum('l_quantity', 12, 2)})
          * SQRT(COUNT(*) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 - {sql_dsum('l_extendedprice', 12, 2)} * {sql_dsum('l_extendedprice', 12, 2)})), 10) AS corr_qty_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx3
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("relational", "A3"),
)
def rel_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev/corr + third raw moment from decimal-exact sums
    (order-independent; skewness/kurtosis derive from sx/sxx/sx3 in
    closed form — the raw moments ARE the hash-checked surface)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = dec("l_quantity", 12, 2)
    e = dec("l_extendedprice", 12, 2)
    n = F.count(F.lit(1))
    sx = F.sum(q).cast("double")
    sy = F.sum(e).cast("double")
    sxx = F.sum(q * q).cast("double")
    syy = F.sum(e * e).cast("double")
    sxy = F.sum(q * e).cast("double")
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        sx.alias("sx"),
        sxx.alias("sxx"),
        sxy.alias("sxy"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))).alias("stddev_qty"),
        # round(…, 10): DuckDB's codegen may fuse a*b-c*d into an FMA,
        # producing a 1-ulp difference vs the JVM's strict FP (seen at
        # sf0.001); rounding absorbs it.
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            10,
        ).alias("corr_qty_price"),
        F.sum(q * q * q).cast("double").alias("sx3"),
    )


@query(
    "rel_price_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
HAVING COUNT(l_extendedprice) > 0
""",
    tags=("relational", "A4"),
)
def rel_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) per return flag —
    rounded 6dp on both sides (r6: the sf0.1 winsorized-stats red row
    proved quantile interpolation can diverge by 1 ulp between engines
    on real data; every percentile OUTPUT now rounds).

    r9: count-table quantiles (operators/quantiles.py) instead of
    F.percentile — THREE return-flag groups each buffering a third of
    lineitem in a per-group hashmap is the worst case of the
    Percentile-buffer hazard at 100 TB (docs/scale.md). r11 (ADVICE):
    this BASE entry stays on count_table_quantiles, the many-group
    form it documents — the r10 swap had put both registry entries on
    the identical range-bucketed plan, so the _ranged twin no longer
    exercised a distinct path. The few-groups production plan (the
    right choice for 3 return flags at scale: 7.0-9.1 s vs
    23.4-25.6 s at the 50x probe) is the twin below; the two are
    bit-interchangeable and share this oracle."""
    from ..operators.quantiles import count_table_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    q = count_table_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        [0.5, 0.9, 0.99], ["__q50", "__q90", "__q99"],
    )
    return q.select(
        "l_returnflag",
        F.round("__q50", 6).alias("p50"),
        F.round("__q90", 6).alias("p90"),
        F.round("__q99", 6).alias("p99"),
    )


@query(
    "rel_price_percentiles_ranged",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem
GROUP BY l_returnflag
HAVING COUNT(l_extendedprice) > 0
""",
    tags=("relational", "A4", "scale-path"),
)
def rel_price_percentiles_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel_price_percentiles on the TWO-PASS RANGE-BUCKETED exact
    quantile scan (operators/quantiles.py::range_bucketed_quantiles,
    r10) — the few-groups swap that closes count_table_quantiles'
    documented parallelism bound: with three return-flag groups that
    helper's cumulative window ran on 3 tasks over 30M lineitem rows
    at the r9 50x probe, where this form keeps every heavy stage
    (both scans, both aggregations) width-parallel and touches only
    the ~2|ps| needed range buckets per group in pass 2. Same oracle
    as rel_price_percentiles — the two paths are exact-interchange
    (interpolation mirrors quantile_cont's op order bit for bit;
    equality also pinned in tests/test_r10_ops.py)."""
    from ..operators.quantiles import range_bucketed_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    q = range_bucketed_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        [0.5, 0.9, 0.99], ["__q50", "__q90", "__q99"],
    )
    return q.select(
        "l_returnflag",
        F.round("__q50", 6).alias("p50"),
        F.round("__q90", 6).alias("p90"),
        F.round("__q99", 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# A7/A8: first/last by order date + collected arrays
# ---------------------------------------------------------------------------


@query(
    "rel_first_last_order",
    oracle="""
SELECT o_custkey,
       arg_min(o_orderkey, (epoch_us(o_orderdate) // 86400000000) * 100000000000 + o_orderkey) AS first_orderkey,
       arg_max(o_orderkey, (epoch_us(o_orderdate) // 86400000000) * 100000000000 + o_orderkey) AS last_orderkey,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date
FROM orders
GROUP BY o_custkey
""",
    tags=("relational", "A7"),
)
def rel_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by: first and last order per customer.

    o_orderdate has day granularity so (custkey, orderdate) ties occur;
    both sides order by an integer-encoded composite (day, orderkey) —
    DuckDB's arg_min can't take struct keys — so tie-breaking is total
    and deterministic.
    """
    orders = load_table(spark, sf_dir, "orders")
    key = F.expr(
        "(unix_micros(cast(o_orderdate as timestamp)) div 86400000000) * 100000000000 + o_orderkey"
    )
    return orders.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", key).alias("first_orderkey"),
        F.max_by("o_orderkey", key).alias("last_orderkey"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
    )


@query(
    "rel_collect_priorities",
    oracle="""
SELECT o_orderstatus,
       array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
""",
    tags=("relational", "A8"),
)
def rel_collect_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + sort_array: distinct priorities per status.

    The sorted set crosses the oracle boundary serialized via
    array_join — the driver's canonicalizer hashes scalar cells only
    (raw array<> columns ERR'd in round 1).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# P1/P2/P4/P5 + O1: projection, predicates, CASE, distinct, sort
# ---------------------------------------------------------------------------


@query(
    "rel_filter_project",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       p_retailprice,
       p_retailprice * 0.9 AS sale_price,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_band
FROM part
WHERE p_type LIKE 'ECONOMY%'
  AND p_size BETWEEN 5 AND 45
  AND p_brand IN ('Brand#1', 'Brand#5', 'Brand#13', 'Brand#19')
  AND p_retailprice IS NOT NULL
ORDER BY p_partkey
""",
    tags=("relational", "P1", "P2", "P4"),
)
def rel_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter (LIKE/BETWEEN/IN/IS NULL) + computed projection + CASE."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_type").like("ECONOMY%")
            & F.col("p_size").between(5, 45)
            & F.col("p_brand").isin("Brand#1", "Brand#5", "Brand#13", "Brand#19")
            & F.col("p_retailprice").isNotNull()
        )
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            "p_retailprice",
            (F.col("p_retailprice") * F.lit(0.9)).alias("sale_price"),
            F.when(F.col("p_size") < 10, "small")
            .when(F.col("p_size") < 30, "medium")
            .otherwise("large")
            .alias("size_band"),
        )
        .orderBy("p_partkey")
    )


@query(
    "rel_distinct_type_brand",
    oracle="SELECT DISTINCT p_type, p_brand FROM part",
    tags=("relational", "P5"),
)
def rel_distinct_type_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projected pair."""
    return load_table(spark, sf_dir, "part").select("p_type", "p_brand").distinct()


# ---------------------------------------------------------------------------
# Q18-style: large-volume customers (join against a HAVING aggregate)
# ---------------------------------------------------------------------------


@query(
    "rel_large_volume_customers",
    oracle=f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_date,
       o_totalprice,
       {sql_dsum('l_quantity', 12, 2)} AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
)
GROUP BY c_custkey, c_name, o_orderkey, o_date, o_totalprice
""",
    tags=("relational", "J3", "A1"),
)
def rel_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: orders whose total quantity exceeds 150, with customer."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 12, 2)).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_totalprice",
        )
        .agg(dsum("l_quantity", 12, 2).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Q17-style correlated scalar subquery (SQL entry; Catalyst must
# decorrelate RewriteCorrelatedScalarSubquery — §4)
# ---------------------------------------------------------------------------


@query(
    "rel_below_avg_quantity",
    oracle="""
SELECT l_partkey,
       COUNT(*) AS n_small_orders,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_revenue
FROM lineitem l1
WHERE l_quantity < (
    SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
)
GROUP BY l_partkey
""",
    tags=("relational", "subquery"),
)
def rel_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-flavored: lineitems below half their part's average quantity
    — written as a correlated scalar subquery in SQL so Catalyst's
    decorrelation rewrite (SURVEY §4) is what actually runs."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(
        """
        SELECT l_partkey,
               COUNT(*) AS n_small_orders,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_revenue
        FROM lineitem l1
        WHERE l_quantity < (
            SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
            FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
        )
        GROUP BY l_partkey
        """
    )


# ---------------------------------------------------------------------------
# Q10-style: top customers by returned-item revenue
# ---------------------------------------------------------------------------


@query(
    "rel_returned_revenue_customers",
    oracle=f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
       c_acctbal
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("relational", "J1", "O2"),
)
def rel_returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue on returned items in 1996."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q7-style: trade volume between nation pairs by year
# ---------------------------------------------------------------------------


@query(
    "rel_nation_trade_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, yr, CAST(SUM(vol) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS yr,
           {_SQL_REV} AS vol
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name < n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
)
GROUP BY supp_nation, cust_nation, yr
""",
    tags=("relational", "J1"),
)
def rel_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: shipping volume between distinct nation pairs per year."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("yr")
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q12-style: shipmode-free adaptation — late vs on-time lines by priority
# ---------------------------------------------------------------------------


@query(
    "rel_priority_lateness",
    oracle="""
SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
       COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  AND l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 END) AS high_late,
       COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  AND l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 END) AS low_late,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY yr
""",
    tags=("relational", "A9"),
)
def rel_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 adaptation: lines shipped >90 days after order, split by
    priority class, per ship year."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(F.year("l_shipdate").alias("yr")).agg(
        F.count(F.when(is_high & late, F.lit(1))).alias("high_late"),
        F.count(F.when(~is_high & late, F.lit(1))).alias("low_late"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# J1 + W1: TPC-H Q15 adaptation — top suppliers by quarterly revenue
# ---------------------------------------------------------------------------


@query(
    "rel_top_supplier_revenue",
    oracle=f"""
SELECT s_suppkey, s_name,
       CAST(rev_d AS DOUBLE) AS total_revenue,
       CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT l_suppkey,
           SUM({_SQL_REV}) AS rev_d,
           ROW_NUMBER() OVER (ORDER BY SUM({_SQL_REV}) DESC, l_suppkey) AS rnk
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
) r JOIN supplier ON l_suppkey = s_suppkey
WHERE rnk <= 10
""",
    tags=("relational", "J1", "W1"),
)
def rel_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 adaptation: top-10 suppliers by 1996Q1 lineitem revenue.

    Revenue ranking happens BEFORE the supplier join (aggregate first,
    then broadcast-join the 10 survivors against the dimension): at
    100 TB the fact table is reduced to |suppliers| rows by the
    partial-agg shuffle and the dimension join touches 10 rows.
    Rank ties break on suppkey; revenue is decimal-exact so the rank is
    engine-independent.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("rev_dec"))
    top = top_k_per_group(
        rev.withColumn("__g", F.lit(1)),
        group=["__g"],
        order=[F.col("rev_dec").desc(), F.col("l_suppkey")],
        k=10,
    ).drop("__g")
    supp = load_table(spark, sf_dir, "supplier")
    return top.join(
        F.broadcast(supp), top.l_suppkey == supp.s_suppkey
    ).select(
        "s_suppkey",
        "s_name",
        F.col("rev_dec").cast("double").alias("total_revenue"),
        F.col("rnk").cast("int").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# Q14-style: promo revenue share per ship month (conditional agg over a
# broadcast dim join)
# ---------------------------------------------------------------------------


@query(
    "rel_promo_revenue",
    oracle=f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_SQL_REV} END) AS DOUBLE)
           / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_share,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY ship_year, ship_month
""",
    tags=("relational", "A9", "tpch"),
)
def rel_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: PROMO-part share of monthly revenue.

    part is the broadcast dim; months with zero promo revenue yield a
    NULL share on both engines (SUM over an empty CASE branch), keeping
    the null semantics oracle-symmetric.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.sum(F.when(F.col("p_type").like("PROMO%"), _rev())).cast("double")
    total = F.sum(_rev()).cast("double")
    return (
        j.groupBy(
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
        )
        .agg(
            (promo / total).alias("promo_share"),
            total.alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q19-style: disjunctive multi-attribute predicate (OR-of-ANDs across
# the join — Catalyst must still push the common part and split the rest)
# ---------------------------------------------------------------------------


@query(
    "rel_disjunctive_revenue",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_lines, CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
GROUP BY p_brand
""",
    tags=("relational", "P2", "tpch"),
)
def rel_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: OR-of-ANDs mixing part and lineitem attributes.

    The single-table disjuncts (brand ∈ {...} on part, quantity ≤ 30 on
    lineitem) are pushdown-eligible even though the full predicate
    spans the join — the explain audit asserts the scans are pre-filtered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    b = F.col("p_brand")
    pred = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#7") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        j.filter(pred)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_rev()).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q8-style: national market share inside a region by order year
# ---------------------------------------------------------------------------


@query(
    "rel_market_share",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3' THEN {_SQL_REV} END) AS DOUBLE)
           / CAST(SUM({_SQL_REV}) AS DOUBLE) AS mkt_share,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS region_revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = cn.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
JOIN part     ON p_partkey = l_partkey
WHERE r_name = 'ASIA' AND p_type LIKE 'STANDARD%'
GROUP BY o_year
""",
    tags=("relational", "J1", "tpch"),
)
def rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_3 suppliers' share of ASIA-customer STANDARD-part
    revenue per order year. Every dimension (customer-side nation chain,
    supplier nation, filtered part) broadcasts; the fact table shuffles
    once for the year rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("STANDARD%")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
    )
    nation3 = F.sum(F.when(F.col("sn_name") == "NATION_3", _rev())).cast("double")
    total = F.sum(_rev()).cast("double")
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        (nation3 / total).alias("mkt_share"),
        total.alias("region_revenue"),
    )


# ---------------------------------------------------------------------------
# Q21-style: suppliers who were the ONLY late supplier on multi-supplier
# orders (EXISTS + NOT-EXISTS, rewritten as one per-order aggregation)
# ---------------------------------------------------------------------------


@query(
    "rel_only_late_supplier",
    oracle="""
WITH late AS (
    SELECT l_orderkey, l_suppkey
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
), per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp
    FROM lineitem GROUP BY l_orderkey
), late_per_order AS (
    SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_late_supp
    FROM late GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM late
JOIN per_order USING (l_orderkey)
JOIN late_per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
""",
    tags=("relational", "J3", "tpch"),
)
def rel_only_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 adaptation (lateness = shipped >90 days after order date):
    late lines on orders with ≥2 suppliers where no OTHER supplier was
    late.

    The textbook EXISTS/NOT-EXISTS pair is rewritten as per-order
    supplier counts — two aggregations sharing one orderkey shuffle
    instead of two correlated self-joins of the 100 TB fact table; the
    oracle SQL uses the same rewrite (the equivalence EXISTS(other
    supplier) ⇔ n_supp ≥ 2, NOT EXISTS(other late) ⇔ n_late_supp = 1
    given the row itself is late, holds by construction).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    ).select("l_orderkey", "l_suppkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    late_per_order = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_late_supp")
    )
    return (
        late.join(per_order, "l_orderkey")
        .join(late_per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22-style: above-average-balance customers with no orders (global
# scalar subquery + anti-join)
# ---------------------------------------------------------------------------


@query(
    "rel_idle_rich_customers",
    oracle=f"""
WITH thresh AS (
    SELECT {sql_dsum('c_acctbal', 12, 2)} / COUNT(*) AS ab
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       COUNT(*) AS n_cust,
       {sql_dsum('c_acctbal', 12, 2)} AS total_bal
FROM customer, thresh
WHERE c_acctbal > ab
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1998-01-01'
  )
GROUP BY c_mktsegment
""",
    tags=("relational", "J3", "tpch"),
)
def rel_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 adaptation: customers above the positive-balance average with
    no orders since 1998 ("idle rich"), rolled up by market segment.

    The global average is a 1-row aggregate cross-joined in (broadcast,
    exact decimal sum / count so the threshold double is bit-identical
    across engines); the inactivity predicate is a left-anti join that
    ships only the filtered o_custkey column."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thresh = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal", 12, 2) / F.count(F.lit(1))).alias("ab")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal", 12, 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# J1+: bloom-filter semi-join reduction (fact scan pre-filtered by a
# selective dim before the exact join)
# ---------------------------------------------------------------------------


@query(
    "rel_bloom_join_revenue",
    oracle=f"""
SELECT p_brand, COUNT(*) AS n_lines, CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size = 1
GROUP BY p_brand
""",
    tags=("relational", "J1", "bloom"),
)
def rel_bloom_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand for size-1 parts, with the lineitem scan reduced
    by an in-plan bloom filter on the ~2%-selective part subset before
    the exact join (operators/bloomjoin.py).

    The oracle is the PLAIN join — the bloom admits no false negatives
    and the exact join removes its false positives, so the reduction
    must be invisible in the results. At cluster scale this is the
    shape for a fact-side shuffle join against a dim too big to
    broadcast: the bloom (kilobytes) broadcasts even when the dim
    can't, and unmatched fact rows die at the scan instead of crossing
    the shuffle.
    """
    from ..operators.bloomjoin import bloom_prefilter_join

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    j = bloom_prefilter_join(li, part, "l_partkey", "p_partkey", num_bits=1 << 14)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_rev()).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# A5+: explicit GROUPING SETS (rollup/cube's general form)
# ---------------------------------------------------------------------------

_GSETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@query(
    "rel_grouping_sets",
    oracle=_GSETS_SQL,
    tags=("relational", "A5", "sql"),
)
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — two disjoint single-column groupings
    plus the grand total in ONE pass (rollup/cube are special cases;
    both engines run the identical SQL text, with GROUPING() markers
    disambiguating real NULLs from grouping NULLs). Spark plans this as
    a single Expand + hash aggregate: the fact scans once, not once
    per set."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_GSETS_SQL)


# ---------------------------------------------------------------------------
# X6+: fuzzy string matching (edit-distance pairs within blocks)
# ---------------------------------------------------------------------------


@query(
    "rel_fuzzy_part_names",
    oracle="""
WITH p AS (SELECT p_partkey, p_brand, p_name FROM part)
SELECT a.p_brand,
       a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
""",
    tags=("relational", "X6", "fuzzy"),
)
def rel_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: near-identical part names (edit distance
    ≤ 3) found by BLOCKED comparison — the self-join runs inside
    p_brand blocks, the standard record-linkage trick that turns an
    O(n²) corpus comparison into Σ block² (here ~80²×25 instead of
    2000²; at 100 TB blocks come from a cheap key like brand+prefix,
    and badly skewed blocks get the salting treatment). Levenshtein is
    a pure function with one definition, so it oracles exactly —
    unlike similarity scores with engine-specific normalization."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(
        F.col("p_brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("b_brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, (F.col("p_brand") == F.col("b_brand")) & (F.col("key_a") < F.col("key_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 3)
        .select("p_brand", "key_a", "key_b", "name_a", "name_b",
                F.col("dist").cast("int").alias("dist"))
    )


# ---------------------------------------------------------------------------
# Graph+: fixed-iteration PageRank over the part co-occurrence graph
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_D = "CAST(0.85 AS DOUBLE)"


def _pr_sql() -> str:
    ctes = [
        "WITH nodes AS (SELECT p_partkey AS node FROM part)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        """edges AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
)""",
        "deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src)",
        "pr0 AS (SELECT node, CAST(1 AS DOUBLE) / n AS rank FROM nodes, nn)",
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
    SELECT e.dst AS node,
           CAST(SUM(CAST(floor(p.rank / d.deg * CAST(1e18 AS DOUBLE)) AS BIGINT))
                AS DOUBLE) / CAST(1e18 AS DOUBLE) AS s
    FROM edges e JOIN deg d ON d.src = e.src
    JOIN pr{i - 1} p ON p.node = e.src
    GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""pr{i} AS (
    SELECT nodes.node,
           (CAST(1 AS DOUBLE) - {_PR_D}) / n
           + {_PR_D} * COALESCE(c{i}.s, CAST(0 AS DOUBLE)) AS rank
    FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.node = nodes.node
)"""
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS p_partkey, rank FROM pr{_PR_ITERS}"
    )


@query(
    "rel_part_pagerank",
    oracle=_pr_sql(),
    tags=("relational", "graph", "iterative"),
)
def rel_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-occurrence graph (parts sharing an
    order, undirected so no dangling mass), 3 synchronous iterations
    (operators/pagerank.py). Iterative algorithms are normally the
    rows-only class — pinning the iteration count and summing
    contributions decimal-exactly makes each round a pure function of
    the last, so the oracle replays the identical rounds as chained
    CTEs and ranks match bit-for-bit."""
    from ..operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    nodes = part.select(F.col("p_partkey").alias("node"))
    pr = pagerank(nodes, edges, iters=_PR_ITERS)
    return pr.select(F.col("node").alias("p_partkey"), "rank")


# ---------------------------------------------------------------------------
# Graph: triangle counting over the co-order part graph (the standard
# edge-iterator algorithm, joins only — companion to rel_part_pagerank)
# ---------------------------------------------------------------------------


@query(
    "rel_triangle_parts",
    oracle="""
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e e1
    JOIN e e2 ON e2.u = e1.v
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
    SELECT a AS part_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY part_id
""",
    tags=("graph", "join"),
)
def rel_triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-order graph (parts are
    adjacent iff some order contains both): edge-iterator triangle
    count under DEGREE-ORIENTATION — every triangle is discovered
    exactly once through the total order (degree, id) on its corners.

    r10: the r6 id-orientation (u < v) OOMed the 50x probe — a hub
    part with a low id keeps its ENTIRE co-order neighborhood as
    out-edges, so the wedge join both skews (one hot midpoint key
    holds in x out wedge rows) and blows the build-side hash table.
    Degree-orientation is the standard fix (compact-forward lineage):
    point every edge at the higher-(degree, id) endpoint, which
    provably caps out-degree at O(sqrt(m)) — a vertex with more than
    ~2*sqrt(m) out-neighbors would need that many neighbors of equal
    or higher degree, more total degree than m edges provide — so the
    wedge count is O(m^1.5) with no skewed key, hub or not. The
    triangle SET is identical under any total order, so the id-order
    DuckDB oracle is unchanged and the hash compare proves the
    orientations agree triangle for triangle.

    Measured (r10 probe, BASELINE.md): max out-degree 97-99 at BOTH
    10x and 50x (vs the ~2 sqrt(m) ~= 6,900 cap — skew is gone), and
    oriented wedges scale linearly with the corpus (4.95e8 at 10x,
    2.48e9 at 50x). Exact enumeration is Theta(wedges) by nature:
    182 s at 10x on local[32]; 50x exceeds this box's 77 GB spill
    disk — the operator's scale path is the cluster it is written
    for (every stage is a plain shuffle on part ids), not one node.

    Shape: dedup (order, part), per-order pair explode (bounded by
    per-order line counts), one aggregate for degrees, two hash
    equi-joins over the oriented edge list. All joins shuffle on part
    ids; nothing global, nothing collected.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    a = op.alias("a")
    b = op.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("p"))
        .unionAll(und.select(F.col("v").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    e = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c"))
    )
    corners = (
        tri.select(F.col("a").alias("part_id"))
        .unionAll(tri.select(F.col("b").alias("part_id")))
        .unionAll(tri.select(F.col("c").alias("part_id")))
    )
    return corners.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


# ---------------------------------------------------------------------------
# Graph (approx): DOULION sparsified triangle count — the implemented
# scale swap for rel_triangle_parts (VERDICT r10 item 2)
# ---------------------------------------------------------------------------


_DOULION_KEEP = "CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)"


@query(
    "rel_triangle_doulion",
    oracle=f"""
WITH op AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
e AS (
    SELECT DISTINCT a.p AS u, b.p AS v
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
k AS (
    SELECT u, v FROM e
    WHERE {sql_md5_u32(_DOULION_KEEP)} % 2 < 1
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM k e1
    JOIN k e2 ON e2.u = e1.v
    JOIN k e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS n_edges_kept,
       CAST(COUNT(*) AS BIGINT) AS tri_sampled,
       CAST(COUNT(*) * 8 AS BIGINT) AS est_triangles
FROM tri
""",
    tags=("graph", "approx", "scale-path"),
)
def rel_triangle_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sparsified triangle count over the co-order part graph
    (Tsourakakis/Kang/Miller/Faloutsos, KDD 2009; public paper) — the
    implemented scale swap for rel_triangle_parts, whose EXACT
    enumeration is Θ(wedges) by nature and exceeded one box's spill
    disk at the r10 50x probe (2.48e9 wedge rows vs 77 GB free).
    Keeping each edge with probability p cuts the wedge load by p²
    BEFORE the quadratic stage; the count among survivors scaled by
    1/p³ is an unbiased estimate whose relative error shrinks as the
    true count grows — exactly the regime where exact enumeration
    dies.

    Sampling is hash-deterministic (md5_u32(u ':' v) % 2 < 1, p=1/2,
    so the 1/p³ scale-up is an EXACT bigint *8), which makes the
    whole estimator — sampling, degree-oriented enumeration, scaling
    — replayable by the DuckDB oracle value for value: the approx
    algorithm itself is hash-verified, the O4c sampler pattern
    applied to graphs. p=1 reduces the operator to the exact
    enumerator, pinned equal to rel_triangle_parts per corner in
    tests/test_r11_ops.py.

    Output: one summary row — canonical edge count, kept edge count,
    sampled triangle count, and the 1/p³ estimate of the true global
    triangle count (fixture truth: the exact query's corner sum / 3).

    Plan shape (r11 probe find): the first form computed n_edges,
    n_edges_kept and the enumeration as THREE independent subtrees
    over the expensive pair-explode edge pipeline, crossJoined — ONE
    fused job running three edge builds plus the wedge join
    concurrently, which OOMed an 8g heap at the 100x probe even
    though the identical work executed SEQUENTIALLY (stepwise counts)
    completes in ~260 s. The fix is structural, not p: tag each
    canonical edge with its keep bit ONCE behind a repartition(u, v)
    exchange; both counts come from one aggregate over that exchange
    and the enumeration consumes its kept-filtered rows — the edge
    pipeline materializes once (ReusedExchange; the kp column is
    load-bearing in both consumers so pruning cannot de-identify the
    subtrees, the r9 shared-exchange rule). 100x after the fix:
    completes where the fused form OOMed.
    """
    from ..operators.graph import doulion_triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    und = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    keep = (
        md5_u32(
            F.concat(
                F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
            )
        )
        % 2
        < 1
    )
    tagged = und.select(
        "u", "v", keep.cast("bigint").alias("kp")
    ).repartition("u", "v")
    counts = tagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("kp").cast("bigint").alias("n_edges_kept"),
    )
    # sampling already applied via kp; keep_num == keep_den makes the
    # operator a pure degree-oriented enumerator over the survivors.
    # each sampled triangle contributes one corner row per vertex ->
    # global sampled count = corner sum div 3, exact integer
    tcnt = doulion_triangle_counts(
        tagged.filter(F.col("kp") == 1).select("u", "v"), 1, 1
    ).agg(
        F.coalesce(F.expr("sum(tri_sampled) div 3"), F.lit(0))
        .cast("bigint")
        .alias("tri_sampled")
    )
    return counts.crossJoin(tcnt).select(
        "n_edges",
        "n_edges_kept",
        "tri_sampled",
        (F.col("tri_sampled") * 8).cast("bigint").alias("est_triangles"),
    )


# ---------------------------------------------------------------------------
# O4b: stratified sampling — exactly n per stratum, deterministic
# ---------------------------------------------------------------------------


@query(
    "rel_stratified_sample",
    oracle="""
WITH r AS (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
           ) AS rk
    FROM orders
)
SELECT o_orderkey, o_orderpriority, o_totalprice, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 20
""",
    tags=("relational", "O4b", "sampling"),
)
def rel_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 orders per priority stratum, chosen by md5 order —
    the RNG-free stratified sample (every engine, every partitioning,
    every rerun picks the same rows; contrast rel_sample's engine-
    specific seeded Bernoulli).

    The rank filter compiles to WindowGroupLimit (top-k per group
    pushdown, audited for ts_topk_users): each stratum keeps 20 rows
    per partition BEFORE the shuffle, so the sort never sees the full
    stratum — the property that makes hash-ordered stratified sampling
    safe on arbitrarily large strata.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        o.select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# P6: unpivot / melt — wide metrics to long layout
# ---------------------------------------------------------------------------


@query(
    "rel_unpivot_metric_stats",
    oracle=f"""
WITH long AS (
    SELECT l_returnflag, 'quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'tax', l_tax FROM lineitem
)
SELECT l_returnflag, metric,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_dsum('val')} AS sum_val,
       {sql_davg('val')} AS avg_val
FROM long GROUP BY l_returnflag, metric
""",
    tags=("relational", "P6", "unpivot"),
)
def rel_unpivot_metric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt four wide metric columns into (metric, val) long layout
    (`DataFrame.unpivot`, the inverse of A9's pivot), then aggregate
    per (returnflag, metric) with decimal-exact sums.

    Unpivot is a map-side generator (no shuffle, no join): the 4x row
    amplification happens inside the scan stage and feeds the ONE
    hash aggregation; at 100 TB this beats four separate aggregations
    by reading the table once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    ).unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    metric = F.regexp_replace(F.col("metric"), "^l_", "")
    metric = F.when(metric == "extendedprice", "extendedprice").otherwise(metric)
    return (
        long.select("l_returnflag", metric.alias("metric"), "val")
        .groupBy("l_returnflag", "metric")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("val").alias("sum_val"),
            davg("val").alias("avg_val"),
        )
    )


# ---------------------------------------------------------------------------
# U3: relational division — "customers who ordered under EVERY priority"
# ---------------------------------------------------------------------------


@query(
    "rel_division_all_priorities",
    oracle="""
WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
cov AS (
    SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS n_pri
    FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_name, CAST(cov.n_pri AS BIGINT) AS n_priorities
FROM cov
JOIN customer c ON c.c_custkey = cov.o_custkey
WHERE cov.n_pri = (SELECT COUNT(*) FROM pr)
""",
    tags=("relational", "U3", "division"),
)
def rel_division_all_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the FOR ALL quantifier): customers whose
    orders cover EVERY distinct order priority. Implemented as the
    count-cover reduction — distinct-count per candidate equals the
    divisor's cardinality — which turns the classic double-NOT-EXISTS
    into two hash aggregates and one broadcast scalar, the
    shuffle-minimal form at any scale.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    total = o.select("o_orderpriority").distinct().agg(
        F.count(F.lit(1)).alias("n_total")
    )
    cov = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_pri")
    )
    return (
        cov.crossJoin(F.broadcast(total))
        .filter(F.col("n_pri") == F.col("n_total"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", F.col("n_pri").cast("bigint").alias("n_priorities")
        )
    )


# ---------------------------------------------------------------------------
# O5: 2-D skyline (Pareto frontier) — cheapest-and-earliest orders
# ---------------------------------------------------------------------------


@query(
    "rel_skyline_orders",
    oracle="""
WITH o AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents,
           CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d
    FROM orders
),
b AS (SELECT *, cents // 1000000 AS band FROM o),
w AS (
    SELECT o_orderkey, cents, d, band,
           MIN(d) OVER (PARTITION BY band ORDER BY cents
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_d_cheaper_in_band,
           MIN(d) OVER (PARTITION BY band, cents) AS best_d_same
    FROM b
),
band_mins AS (
    SELECT band, MIN(d) AS band_min_d FROM b GROUP BY band
),
prior AS (
    SELECT a.band, MIN(p.band_min_d) AS best_d_prior_bands
    FROM band_mins a LEFT JOIN band_mins p ON p.band < a.band
    GROUP BY a.band
)
SELECT w.o_orderkey, w.cents, w.d
FROM w JOIN prior ON prior.band = w.band
WHERE (w.best_d_cheaper_in_band IS NULL OR w.d < w.best_d_cheaper_in_band)
  AND w.d = w.best_d_same
  AND (prior.best_d_prior_bands IS NULL OR w.d < prior.best_d_prior_bands)
""",
    tags=("relational", "O5", "skyline"),
)
def rel_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-D skyline: orders not dominated on (price, date) — no
    other order has <= price and <= date with one strictly smaller.
    The classic multi-criteria operator (O5), with NO pairwise
    dominance join and NO global window: prices are banded (integer
    cents div 1e6), each band computes its local skyline with
    PARTITIONED range/partition windows, and cross-band domination
    reduces to a running min over the per-band minimum dates,
    computed as a broadcast theta self-join of the tiny (#bands-row)
    aggregate — no global window anywhere, keeping the registry-wide
    unpartitioned-window audit clean (the W6 prefix-sum precedent). Points in a lower band are strictly cheaper than any
    point in a higher band, so band_min_d carries exactly the needed
    dominance information.

    Exactness: integer cents and epoch days throughout — RANGE frame
    bounds are only cross-engine-stable on integers.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        fx("o_totalprice").alias("cents"),
        F.expr("unix_micros(o_orderdate) div 86400000000").cast("bigint").alias("d"),
    )
    b = o.withColumn("band", F.expr("cents div 1000000"))
    w_cheaper = (
        Window.partitionBy("band")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("band", "cents")
    w = b.select(
        "o_orderkey",
        "cents",
        "d",
        "band",
        F.min("d").over(w_cheaper).alias("best_d_cheaper_in_band"),
        F.min("d").over(w_same).alias("best_d_same"),
    )
    band_mins = b.groupBy("band").agg(F.min("d").alias("band_min_d"))
    # cross-band running min WITHOUT a global window: the per-band
    # aggregate is tiny (#bands rows), so a broadcast theta self-join
    # is both audit-clean and effectively free
    bm_a = band_mins.select(F.col("band"))
    bm_p = band_mins.select(
        F.col("band").alias("p_band"), F.col("band_min_d").alias("p_min_d")
    )
    prior = (
        bm_a.join(F.broadcast(bm_p), F.col("p_band") < F.col("band"), "left")
        .groupBy("band")
        .agg(F.min("p_min_d").alias("best_d_prior_bands"))
    )
    return (
        w.join(F.broadcast(prior), "band")
        .filter(
            (
                F.col("best_d_cheaper_in_band").isNull()
                | (F.col("d") < F.col("best_d_cheaper_in_band"))
            )
            & (F.col("d") == F.col("best_d_same"))
            & (
                F.col("best_d_prior_bands").isNull()
                | (F.col("d") < F.col("best_d_prior_bands"))
            )
        )
        .select("o_orderkey", "cents", "d")
    )


# ---------------------------------------------------------------------------
# ML1: closed-form OLS (normal equations + Cramer) — fully oracled
# ---------------------------------------------------------------------------


@query(
    "rel_ols_coefficients",
    oracle="""
WITH x AS (
    SELECT CAST(CAST(round(l_quantity * 100.0) AS BIGINT) AS HUGEINT) AS q,
           CAST(CAST(round(l_discount * 100.0) AS BIGINT) AS HUGEINT) AS d,
           CAST(CAST(round(l_extendedprice * 100.0) AS BIGINT) AS HUGEINT) AS y
    FROM lineitem
),
m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(q) AS sq, SUM(d) AS sd, SUM(y) AS sy,
           SUM(q * q) AS sqq, SUM(q * d) AS sqd, SUM(d * d) AS sdd,
           SUM(q * y) AS sqy, SUM(d * y) AS sdy
    FROM x
),
det AS (
    SELECT *,
           CAST(n AS DOUBLE) * (CAST(sqq AS DOUBLE) * CAST(sdd AS DOUBLE)
                                - CAST(sqd AS DOUBLE) * CAST(sqd AS DOUBLE))
         - CAST(sq AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sdd AS DOUBLE)
                                - CAST(sqd AS DOUBLE) * CAST(sd AS DOUBLE))
         + CAST(sd AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sqd AS DOUBLE)
                                - CAST(sqq AS DOUBLE) * CAST(sd AS DOUBLE))
               AS dt
    FROM m
)
SELECT CAST(n AS BIGINT) AS n,
       round((CAST(sy AS DOUBLE) * (CAST(sqq AS DOUBLE) * CAST(sdd AS DOUBLE)
                                    - CAST(sqd AS DOUBLE) * CAST(sqd AS DOUBLE))
            - CAST(sq AS DOUBLE) * (CAST(sqy AS DOUBLE) * CAST(sdd AS DOUBLE)
                                    - CAST(sqd AS DOUBLE) * CAST(sdy AS DOUBLE))
            + CAST(sd AS DOUBLE) * (CAST(sqy AS DOUBLE) * CAST(sqd AS DOUBLE)
                                    - CAST(sqq AS DOUBLE) * CAST(sdy AS DOUBLE)))
             / dt, 6) AS beta0,
       round((CAST(n AS DOUBLE) * (CAST(sqy AS DOUBLE) * CAST(sdd AS DOUBLE)
                                    - CAST(sqd AS DOUBLE) * CAST(sdy AS DOUBLE))
            - CAST(sy AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sdd AS DOUBLE)
                                    - CAST(sqd AS DOUBLE) * CAST(sd AS DOUBLE))
            + CAST(sd AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sdy AS DOUBLE)
                                    - CAST(sqy AS DOUBLE) * CAST(sd AS DOUBLE)))
             / dt, 6) AS beta_q,
       round((CAST(n AS DOUBLE) * (CAST(sqq AS DOUBLE) * CAST(sdy AS DOUBLE)
                                    - CAST(sqy AS DOUBLE) * CAST(sqd AS DOUBLE))
            - CAST(sq AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sdy AS DOUBLE)
                                    - CAST(sqy AS DOUBLE) * CAST(sd AS DOUBLE))
            + CAST(sy AS DOUBLE) * (CAST(sq AS DOUBLE) * CAST(sqd AS DOUBLE)
                                    - CAST(sqq AS DOUBLE) * CAST(sd AS DOUBLE)))
             / dt, 6) AS beta_d
FROM det
""",
    tags=("relational", "ML1", "regression"),
)
def rel_ols_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression in closed form: extendedprice ~
    quantity + discount, solved by the normal equations with Cramer's
    rule — the whole fit is ONE aggregation (nine exact integer
    moments) plus scalar double arithmetic, so unlike iterative
    solvers it is fully SQL-oracled.

    Exactness: inputs quantized to integer cents, all nine moments
    accumulate in decimal(38,0)/HUGEINT (order-immune); the 3x3
    determinant expansion is written once and mirrored token-for-token
    on both engines, with the final coefficients rounded 6dp. Scale:
    one map-side projection + one 9-cell agg — the Gram-partial
    pattern (emb_pca_variance) specialized to p=2 features; for wide
    p the same partials feed a driver-side solve instead of Cramer.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        dec(fx("l_quantity"), 38, 0).alias("q"),
        dec(fx("l_discount"), 38, 0).alias("d"),
        dec(fx("l_extendedprice"), 38, 0).alias("y"),
    )
    m = x.agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("y")).alias("sqy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    )
    D = lambda c: F.col(c).cast("double")
    dt = (
        D("n") * (D("sqq") * D("sdd") - D("sqd") * D("sqd"))
        - D("sq") * (D("sq") * D("sdd") - D("sqd") * D("sd"))
        + D("sd") * (D("sq") * D("sqd") - D("sqq") * D("sd"))
    )
    beta0 = (
        D("sy") * (D("sqq") * D("sdd") - D("sqd") * D("sqd"))
        - D("sq") * (D("sqy") * D("sdd") - D("sqd") * D("sdy"))
        + D("sd") * (D("sqy") * D("sqd") - D("sqq") * D("sdy"))
    ) / dt
    beta_q = (
        D("n") * (D("sqy") * D("sdd") - D("sqd") * D("sdy"))
        - D("sy") * (D("sq") * D("sdd") - D("sqd") * D("sd"))
        + D("sd") * (D("sq") * D("sdy") - D("sqy") * D("sd"))
    ) / dt
    beta_d = (
        D("n") * (D("sqq") * D("sdy") - D("sqy") * D("sqd"))
        - D("sq") * (D("sq") * D("sdy") - D("sqy") * D("sd"))
        + D("sy") * (D("sq") * D("sqd") - D("sqq") * D("sd"))
    ) / dt
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(beta0, 6).alias("beta0"),
        F.round(beta_q, 6).alias("beta_q"),
        F.round(beta_d, 6).alias("beta_d"),
    )


# ---------------------------------------------------------------------------
# O2b: top-k WITH TIES (RANK-based — the "keep co-leaders" semantics)
# ---------------------------------------------------------------------------


@query(
    "rel_topk_with_ties",
    oracle="""
WITH r AS (
    SELECT l_partkey, l_quantity, l_orderkey, l_linenumber,
           RANK() OVER (PARTITION BY l_partkey ORDER BY l_quantity DESC) AS rk
    FROM lineitem
)
SELECT l_partkey, l_quantity, l_orderkey, l_linenumber, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 3
""",
    tags=("relational", "O2b", "ranking"),
)
def rel_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items by quantity per part, KEEPING TIES: RANK (not
    ROW_NUMBER) means co-leaders all survive and the result size is
    data-dependent — the WITH TIES semantics of SQL:2008 FETCH FIRST.
    Contrast rel_top_orders_per_cust (row_number, exact k). Still
    compiles to WindowGroupLimit: rank-based group limits push the cut
    below the sort exactly like row_number ones.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy(F.col("l_quantity").desc())
    return (
        li.select("l_partkey", "l_quantity", "l_orderkey", "l_linenumber")
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "l_partkey",
            "l_quantity",
            "l_orderkey",
            "l_linenumber",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# ML2: market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------


@query(
    "rel_market_basket",
    oracle="""
WITH baskets AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n_total AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
item AS (
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_item
    FROM baskets GROUP BY p_brand
),
pairs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY a.p_brand, b.p_brand
)
SELECT brand_a, brand_b, n_pair,
       ia.n_item AS n_a, ib.n_item AS n_b,
       round(CAST(n_pair AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
       round(CAST(n_pair AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6) AS conf_ab,
       round(CAST(n_pair AS DOUBLE) / CAST(ib.n_item AS DOUBLE), 6) AS conf_ba,
       -- HUGEINT products: bigint n_pair*n crosses 2^63 once basket
       -- counts reach ~3e9 (the ABC-banding ceiling class, late r11)
       round(CAST(CAST(n_pair AS HUGEINT) * n AS DOUBLE)
             / CAST(CAST(ia.n_item AS HUGEINT) * ib.n_item AS DOUBLE), 6)
           AS lift
FROM pairs
JOIN item ia ON pairs.brand_a = ia.p_brand
JOIN item ib ON pairs.brand_b = ib.p_brand
CROSS JOIN n_total
WHERE n_pair >= 50
""",
    tags=("relational", "ML2", "association"),
)
def rel_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent brand pairs across order baskets with the three classic
    association-rule measures: support (pair share of baskets),
    confidence both directions (P(b|a), P(a|b)) and lift
    (observed / independence). lift > 1 = brands bought together more
    often than chance — the recommender / cross-sell primitive.

    Scale shape (r10): DISTINCT (order, brand) first, then ONE
    groupBy(order) collects each basket's sorted brand set and a HOF
    transform emits the C(k,2) ordered pairs in-place — the r7 form
    self-joined the basket table on l_orderkey, which reads the
    baskets exchange twice and pays a second sort-merge sort (the
    100x probe measured 24.8 s vs 18.7 s for this shape; both bounded
    by sum(basket_size^2) with basket_size <= |brands| = 25, never
    items^2). The item-frequency side is a 25-row broadcast. Every
    ratio is a single division of exact integers (deterministic,
    order-immune), rounded 6dp on both engines.

    r14 (the 800x probe find, VERDICT r13 item 6): the r10 form
    computed n_total, item and pairs as THREE branches over the
    baskets/bl subtree — physical planning clones the subtree per
    consumer (the r9 twice-run-shared-pipeline lesson), so the
    dominant distinct+collect_set cost ran ~3x (382-445 s at 800x vs
    190 s for the pairs branch alone). Now ONE explode emits, per
    basket: a (null, null) order marker, k (brand, null) singletons
    and C(k,2) pairs; ONE groupBy counts them all, and the <=
    1+25+300-row result is persisted so the three consumers split a
    cached table instead of re-running the pipeline. 800x re-probe:
    444.8/382.0 s -> 180.3 s, with 400x at 113.3 s under the same
    plan — 1.59x/doubling, back under the pair-volume-linear line.

    Sentinel precondition (ADVICE r14): the (NULL, NULL) order marker
    assumes p_brand is NON-NULL (TPC-H schema: p_brand NOT NULL). A
    NULL brand would collide its singleton row with the marker
    (inflating n_total) and be dropped by collect_set — do NOT reuse
    this encoding on nullable item domains; tag the marker with a
    separate column instead. The <=326-row persist below is
    deliberately never unpersisted: the query fn returns a lazy plan,
    so there is no post-materialization hook, and the driver/bench
    harness uses short-lived sessions — the accepted cost is one tiny
    cached table per invocation within a long-lived test session.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    bl = baskets.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("bs")
    )
    # r16 (VERDICT r15 item 2, guide §2.3 aggregate-before-you-explode):
    # the r14 single-explode form emitted 1 + k + C(k,2) marker/
    # singleton/pair rows PER BASKET into the pair aggregate — already
    # map-side partial-aggregated (the "map-side pair aggregation"
    # lever named since r11 was in the plan all along: partial_count
    # before the Exchange), so the remaining basket-linear term was the
    # Generate volume itself (r11 probes: wall tracked exploded-pair
    # count exactly). But identical brand SETS emit identical row
    # multisets, and the distinct-basket domain is combinatorially
    # CAPPED (subsets of 25 brands -> <= 2^25 ~ 33.6M sorted sets, any
    # corpus size; measured 3.17M distinct sets for 235.6M baskets at
    # 1600x — basket k grows past 7 at scale, so the earlier <=726k
    # estimate was low, but the bound stays corpus-independent) while
    # baskets grow with the corpus: grouping baskets
    # by `bs` first (tiny rows, map-side partial count, one extra
    # near-constant-size exchange) and weighting the explode by the
    # multiplicity turns the explode + pair-aggregate volume from
    # O(baskets x k^2) into O(distinct_sets x k^2) ~ O(1) at scale.
    # 1600x A/B + plan diff in OPTIMIZATION_r16.md; counts are
    # identical by construction (sum of weights per emitted row =
    # number of baskets emitting it), oracle unchanged, hash-green at
    # sf0.001/0.01/0.1.
    wsets = bl.groupBy("bs").agg(F.count(F.lit(1)).alias("w"))
    marked = wsets.select(
        F.explode(
            F.expr(
                "concat("
                "  array(struct(CAST(NULL AS STRING) AS brand_a,"
                "               CAST(NULL AS STRING) AS brand_b)),"
                "  transform(bs, x -> struct(x AS brand_a,"
                "                            CAST(NULL AS STRING) AS brand_b)),"
                "  flatten(transform(bs, (x, i) -> "
                "    transform(slice(bs, i + 2, size(bs)), "
                "              y -> struct(x AS brand_a, y AS brand_b)))))"
            )
        ).alias("p"),
        "w",
    ).select("p.brand_a", "p.brand_b", "w")
    counts = (
        marked.groupBy("brand_a", "brand_b")
        .agg(F.sum("w").cast("bigint").alias("cnt"))
        .persist()  # <= 326 rows; shared by the three consumers below
    )
    n_total = counts.filter(
        F.col("brand_a").isNull() & F.col("brand_b").isNull()
    ).select(F.col("cnt").alias("n"))
    item = counts.filter(
        F.col("brand_a").isNotNull() & F.col("brand_b").isNull()
    ).select(F.col("brand_a").alias("p_brand"), F.col("cnt").alias("n_item"))
    pairs = counts.filter(
        F.col("brand_a").isNotNull() & F.col("brand_b").isNotNull()
    ).select("brand_a", "brand_b", F.col("cnt").alias("n_pair")).filter(
        F.col("n_pair") >= 50
    )
    ia = item.select(F.col("p_brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("p_brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    D = lambda c: c.cast("double")
    return (
        pairs.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .join(F.broadcast(n_total))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(D(F.col("n_pair")) / D(F.col("n")), 6).alias("support"),
            F.round(D(F.col("n_pair")) / D(F.col("n_a")), 6).alias("conf_ab"),
            F.round(D(F.col("n_pair")) / D(F.col("n_b")), 6).alias("conf_ba"),
            # decimal(38,0) products — bigint n_pair*n crosses 2^63 once
            # basket counts reach ~3e9 (the ABC ceiling class, late r11;
            # oracle uses HUGEINT in lockstep)
            F.round(
                D(
                    F.col("n_pair").cast("decimal(38,0)")
                    * F.col("n").cast("decimal(38,0)")
                )
                / D(
                    F.col("n_a").cast("decimal(38,0)")
                    * F.col("n_b").cast("decimal(38,0)")
                ),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# ML3: RFM customer segmentation (banded global rank, no global window)
# ---------------------------------------------------------------------------


@query(
    "rel_rfm_segments",
    oracle="""
WITH day0 AS (
    SELECT CAST(MAX(epoch_us(o_orderdate)) // 86400000000 AS BIGINT) AS maxday
    FROM orders
),
cust AS (
    SELECT o_custkey,
           CAST(maxday - MAX(epoch_us(o_orderdate)) // 86400000000 AS BIGINT)
               AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
    FROM orders CROSS JOIN day0
    GROUP BY o_custkey, maxday
),
n_c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust),
ranked AS (
    SELECT o_custkey, monetary_cents,
           row_number() OVER (ORDER BY recency_days ASC, o_custkey ASC) AS rr,
           row_number() OVER (ORDER BY frequency ASC, o_custkey ASC) AS rf,
           row_number() OVER (ORDER BY monetary_cents ASC, o_custkey ASC) AS rm
    FROM cust
),
scored AS (
    SELECT CAST(4 - ((rr - 1) * 4) // n AS BIGINT) AS r_score,
           CAST(1 + ((rf - 1) * 4) // n AS BIGINT) AS f_score,
           CAST(1 + ((rm - 1) * 4) // n AS BIGINT) AS m_score,
           monetary_cents
    FROM ranked CROSS JOIN n_c
)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(SUM(monetary_cents) AS DOUBLE) / 100.0, 2) AS total_monetary
FROM scored GROUP BY r_score, f_score, m_score
""",
    tags=("relational", "ML3", "segmentation"),
)
def rel_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every ordering customer scored 1-4 on Recency
    (days since last order, most recent = 4), Frequency (order count)
    and Monetary (lifetime spend), then the 64 (r,f,m) cells counted —
    the classic CRM segmentation grid.

    Quartiles come from GLOBAL ranks computed with the banded-rank
    operator (operators/rank.py — digit-count bands + partitioned
    windows + broadcast offsets), so no relation ever funnels through a
    single-partition sort; score = 1 + (rank-1)*4 div n is pure integer
    arithmetic, deterministic with the custkey tiebreak, and mirrored
    verbatim in the oracle (which may use a plain global window — the
    hash compare then proves the banded rank IS the global rank).
    Monetary is summed in exact cents.
    """
    from ..operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    day0 = o.select(F.max(day).cast("bigint").alias("maxday"))
    cust = (
        o.join(F.broadcast(day0))
        .groupBy("o_custkey", "maxday")
        .agg(
            (F.col("maxday") - F.max(day)).cast("bigint").alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(fx("o_totalprice"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .select("o_custkey", "recency_days", "frequency", "monetary_cents")
    )
    n_c = cust.select(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = global_rank(cust, "recency_days", ["o_custkey"], out="rr")
    r = global_rank(r, "frequency", ["o_custkey"], out="rf")
    r = global_rank(r, "monetary_cents", ["o_custkey"], out="rm")
    # Spark's `/` on ints is double division; `div` is exact integer
    # division, mirroring DuckDB's `//` with no float in the path.
    scored = r.join(F.broadcast(n_c)).select(
        F.expr("CAST(4 - ((rr - 1) * 4) div n AS BIGINT)").alias("r_score"),
        F.expr("CAST(1 + ((rf - 1) * 4) div n AS BIGINT)").alias("f_score"),
        F.expr("CAST(1 + ((rm - 1) * 4) div n AS BIGINT)").alias("m_score"),
        "monetary_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(F.sum("monetary_cents").cast("double") / 100.0, 2).alias(
            "total_monetary"
        ),
    )


# ---------------------------------------------------------------------------
# ML4: cohort lifetime-value matrix (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


@query(
    "rel_cohort_ltv",
    oracle="""
WITH o2 AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
               AS midx,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
),
cohort AS (
    SELECT o_custkey, MIN(midx) AS cohort_idx FROM o2 GROUP BY o_custkey
),
cell AS (
    SELECT c.cohort_idx,
           o2.midx - c.cohort_idx AS age_months,
           CAST(COUNT(DISTINCT o2.o_custkey) AS BIGINT) AS n_active,
           CAST(SUM(o2.cents) AS BIGINT) AS rev_cents
    FROM o2 JOIN cohort c ON o2.o_custkey = c.o_custkey
    GROUP BY c.cohort_idx, o2.midx - c.cohort_idx
)
SELECT printf('%04d-%02d', cohort_idx // 12, cohort_idx % 12 + 1) AS cohort_month,
       CAST(age_months AS BIGINT) AS age_months,
       n_active,
       round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS revenue,
       round(CAST(SUM(rev_cents) OVER (PARTITION BY cohort_idx
                                       ORDER BY age_months) AS DOUBLE)
             / 100.0, 2) AS cum_revenue
FROM cell
""",
    tags=("relational", "ML4", "cohort"),
)
def rel_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers cohorted by first-order
    month, each (cohort, months-since-first) cell reporting active
    customers, revenue, and CUMULATIVE revenue — the LTV curve per
    acquisition cohort that ts_cohort_retention (activity counts)
    doesn't price.

    Month arithmetic is the integer index year*12 + month-1 on both
    engines — months_between and its day-fraction conventions (the
    documented cross-engine divergence, docs/determinism.md) never
    appear. Exact cents throughout; the cumulative window partitions
    by cohort over the tiny (cohort x age) cell table.
    """
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("bigint")
        .alias("midx"),
        fx("o_totalprice").alias("cents"),
    )
    cohort = o2.groupBy("o_custkey").agg(F.min("midx").alias("cohort_idx"))
    cell = (
        o2.join(cohort, "o_custkey")
        .groupBy("cohort_idx", (F.col("midx") - F.col("cohort_idx")).alias("age_months"))
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
    )
    w = Window.partitionBy("cohort_idx").orderBy("age_months")
    D = lambda c: c.cast("double")
    return cell.select(
        F.format_string(
            "%04d-%02d",
            F.expr("cohort_idx div 12").cast("int"),
            (F.col("cohort_idx") % 12 + 1).cast("int"),
        ).alias("cohort_month"),
        F.col("age_months").cast("bigint").alias("age_months"),
        "n_active",
        F.round(D(F.col("rev_cents")) / 100.0, 2).alias("revenue"),
        F.round(D(F.sum("rev_cents").over(w)) / 100.0, 2).alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# ML5: ABC / Pareto analysis (banded prefix sum, no global window)
# ---------------------------------------------------------------------------


@query(
    "rel_abc_analysis",
    oracle="""
WITH pr AS (
    SELECT l_partkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS total FROM pr),
c AS (
    SELECT l_partkey, rev_e4,
           CAST(SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey ASC) AS BIGINT)
               AS cum
    FROM pr
),
cls AS (
    -- class by the cumulative share BEFORE this part: the part that
    -- CROSSES a boundary still belongs to the upper class (a monopoly
    -- part with 99% share is A, not C)
    -- DECIMAL(38,0) cross-multiplications: at 400x fixture scale the
    -- e4 revenue total reaches ~1e17 and total*100 overflows BIGINT
    -- (found live by the r11 240M-row probe); exact decimals keep the
    -- integer comparison semantics with 38-digit headroom
    SELECT CASE WHEN CAST(cum - rev_e4 AS DECIMAL(38,0)) * 100
                     < CAST(total AS DECIMAL(38,0)) * 80 THEN 'A'
                WHEN CAST(cum - rev_e4 AS DECIMAL(38,0)) * 100
                     < CAST(total AS DECIMAL(38,0)) * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           rev_e4
    FROM c CROSS JOIN tot
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(CAST(SUM(rev_e4) AS DOUBLE) / 10000.0, 2) AS revenue,
       round(CAST(SUM(rev_e4) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6)
           AS revenue_share
FROM cls CROSS JOIN tot GROUP BY abc_class
""",
    tags=("relational", "ML5", "pareto"),
)
def rel_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: parts ranked by revenue,
    class A = parts inside the top 80% of cumulative revenue, B = to
    95%, C = the tail — the 80/20 analysis behind stocking and
    curation priority decisions.

    The global CUMULATIVE revenue comes from the banded prefix-sum
    operator (operators/rank.py banded_prefix_sum — within-band
    running sums + broadcast band-total offsets), so the classic
    single-partition ORDER BY cum-sum never appears; the oracle uses
    the plain global window, making the hash compare the proof that
    the decomposition IS the global prefix sum. Class boundaries are
    integer cross-multiplied on exact e4 fixed-point revenue, keyed on
    the cumulative share BEFORE each part so boundary-crossing parts
    stay in the upper class (a planted monopoly part exposed the
    naive cum<=80 form classifying the top part as C).
    """
    from ..operators.rank import banded_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum((_rev() * 10000).cast("bigint")).cast("bigint").alias("rev_e4")
    )
    tot = pr.agg(F.sum("rev_e4").cast("bigint").alias("total"))
    c = banded_prefix_sum(
        pr, "rev_e4", ["l_partkey"], "rev_e4", ascending=False, out="cum"
    )
    # decimal(38,0) comparisons: total*100 overflows bigint at the 400x
    # probe scale (~1e17 e4-revenue total, found live at 240M rows)
    prev = (F.col("cum") - F.col("rev_e4")).cast("decimal(38,0)")
    tot38 = F.col("total").cast("decimal(38,0)")
    cls = c.join(F.broadcast(tot)).select(
        F.when(prev * 100 < tot38 * 80, "A")
        .when(prev * 100 < tot38 * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_e4",
        "total",
    )
    D = lambda c_: c_.cast("double")
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.round(D(F.sum("rev_e4")) / F.lit(10000.0), 2).alias("revenue"),
        F.round(D(F.sum("rev_e4")) / D(F.max("total")), 6).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# CDC1: change-log compaction (latest state per key)
# ---------------------------------------------------------------------------


@query(
    "rel_cdc_compact",
    oracle="""
WITH v AS (
    SELECT user_id, event_type, value, ts, event_id,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
    FROM events
)
SELECT user_id, event_type,
       value AS last_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
       CAST(n_versions AS BIGINT) AS n_versions
FROM v WHERE rn = 1
""",
    tags=("relational", "CDC1", "compaction"),
)
def rel_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-log compaction: the events table read as a CDC stream
    keyed by (user, type) — latest version wins (ts, then event_id:
    deterministic even for same-microsecond updates), emitting the
    CURRENT-state table plus version counts. The batch equivalent of
    Kafka log compaction / a MERGE-maintained latest-state view (the
    streaming twin is stream_upsert_counts' keyed store).

    One key-partitioned window; the rn=1 filter compiles to
    WindowGroupLimit so version history is cut before the full sort
    materializes.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id", "event_type")
    return (
        ev.select(
            "user_id",
            "event_type",
            "value",
            "ts",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_versions"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "n_versions",
        )
    )


# ---------------------------------------------------------------------------
# Dim1: generated calendar dimension + coverage anti-join
# ---------------------------------------------------------------------------


@query(
    "rel_calendar_coverage",
    oracle="""
WITH bounds AS (
    SELECT CAST(MIN(epoch_us(o_orderdate)) // 86400000000 AS BIGINT) AS d0,
           CAST(MAX(epoch_us(o_orderdate)) // 86400000000 AS BIGINT) AS d1
    FROM orders
),
cal AS (
    SELECT unnest(generate_series(d0, d1)) AS d FROM bounds
),
od AS (
    SELECT DISTINCT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d
    FROM orders
)
SELECT CAST((cal.d * 86400) // 2629746 AS BIGINT) AS month_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN od.d IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS days_with_orders,
       CAST(SUM(CASE WHEN od.d IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS days_without
FROM cal LEFT JOIN od ON cal.d = od.d
GROUP BY month_bucket
""",
    tags=("relational", "Dim1", "calendar"),
)
def rel_calendar_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension coverage: a GENERATED day dimension spanning
    [min, max] order date, left-joined against actual order days, and
    rolled up per (epoch-second div mean-month) bucket — the missing-
    data report that point queries structurally can't produce (absent
    rows don't exist to count). The generated-dimension pattern is how
    a warehouse gets its date table without ingesting one.

    The dimension comes from sequence()/generate_series on both
    engines over the integer day index — no date-arithmetic dialect in
    the join key; the fixed 2629746 s mean-month keeps the bucket
    engine-portable (calendar month() of a generated day would be
    fine too, but the integer form keeps the whole query in epoch
    space).
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(o_orderdate) div 86400000000")
    bounds = o.agg(
        F.min(day).cast("bigint").alias("d0"), F.max(day).cast("bigint").alias("d1")
    )
    cal = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    od = o.select(day.cast("bigint").alias("d")).distinct()
    j = cal.join(od.withColumn("has", F.lit(1)), "d", "left")
    return j.groupBy(
        F.expr("(d * 86400) div 2629746").cast("bigint").alias("month_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.coalesce(F.col("has"), F.lit(0))).cast("bigint").alias(
            "days_with_orders"
        ),
        F.sum((F.col("has").isNull()).cast("int")).cast("bigint").alias(
            "days_without"
        ),
    )


# ---------------------------------------------------------------------------
# A4c: exact weighted median (banded prefix sums per group)
# ---------------------------------------------------------------------------


@query(
    "rel_weighted_median",
    oracle="""
WITH c AS (
    SELECT l_returnflag,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
           CAST(l_quantity AS BIGINT) AS w,
           l_orderkey, l_linenumber
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, cents, w,
           CAST(SUM(w) OVER (PARTITION BY l_returnflag
                             ORDER BY cents, l_orderkey, l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cw
    FROM c
),
tot AS (
    SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw
    FROM c GROUP BY l_returnflag
),
lo AS (
    SELECT cum.l_returnflag, MIN(cents) AS lo_cents
    FROM cum JOIN tot ON cum.l_returnflag = tot.l_returnflag
    WHERE cw * 2 >= tw GROUP BY cum.l_returnflag
),
hi AS (
    SELECT cum.l_returnflag, MIN(cents) AS hi_cents
    FROM cum JOIN tot ON cum.l_returnflag = tot.l_returnflag
    WHERE cw * 2 > tw GROUP BY cum.l_returnflag
)
SELECT t.l_returnflag, t.tw AS total_weight,
       lo.lo_cents, hi.hi_cents,
       CAST(lo.lo_cents + hi.hi_cents AS DOUBLE) / 2.0 / 100.0
           AS weighted_median
FROM tot t
JOIN lo ON t.l_returnflag = lo.l_returnflag
JOIN hi ON t.l_returnflag = hi.l_returnflag
""",
    tags=("relational", "A4c", "robust"),
)
def rel_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest
    price at which half the total QUANTITY (not row count) has been
    seen — the inventory-weighted center rel_median_mode's unweighted
    median can't express. lo/hi are the standard lower/upper weighted
    medians (equal unless the half-point falls exactly between rows);
    the reported value is their exact-dyadic midpoint in cents.

    r10: computed by the WEIGHTED range-bucketed two-pass scan
    (operators/quantiles.py::range_bucketed_weighted_median). The r7
    banded-prefix-sum form materialized a per-row cumulative weight
    across ALL of lineitem — correct and exactly linear (42.7 s at
    50x, 86.1 s at 100x), but every row rides the window for a
    3-row answer. The two-pass scan aggregates (flag, bucket) weight
    sums map-side, locates the half-weight bucket among <= 4096 count
    rows per flag, and resolves the exact crossing value inside only
    that bucket — width-parallel at any group count. The oracle's
    plain per-row windows prove the value-level decomposition (within
    a run of equal cents, the first crossing row and the end-of-run
    cumulative cross at the same value). All comparisons are integer
    cross-multiplications (cw*2 vs tw).
    """
    from ..operators.quantiles import range_bucketed_weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        fx("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    med = range_bucketed_weighted_median(c, ["l_returnflag"], "cents", "w")
    return med.select(
        "l_returnflag",
        F.col("__tw").alias("total_weight"),
        F.col("__lo").alias("lo_cents"),
        F.col("__hi").alias("hi_cents"),
        (
            (F.col("__lo") + F.col("__hi")).cast("double") / 2.0 / 100.0
        ).alias("weighted_median"),
    )


# ---------------------------------------------------------------------------
# Rep1: period-over-period growth (MoM / YoY via self-join, no window)
# ---------------------------------------------------------------------------


@query(
    "rel_growth_rates",
    oracle="""
WITH m AS (
    SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
               AS midx,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY midx
)
SELECT cur.midx,
       printf('%04d-%02d', cur.midx // 12, cur.midx % 12 + 1) AS month_label,
       round(CAST(cur.cents AS DOUBLE) / 100.0, 2) AS revenue,
       cur.n_orders,
       round(CAST(cur.cents - mom.cents AS DOUBLE) / CAST(mom.cents AS DOUBLE),
             6) AS mom_growth,
       round(CAST(cur.cents - yoy.cents AS DOUBLE) / CAST(yoy.cents AS DOUBLE),
             6) AS yoy_growth
FROM m cur
LEFT JOIN m mom ON mom.midx = cur.midx - 1
LEFT JOIN m yoy ON yoy.midx = cur.midx - 12
""",
    tags=("relational", "Rep1", "growth"),
)
def rel_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue growth — the
    reporting staple — computed WITHOUT any window: the monthly
    aggregate (calendar-bounded, tiny) self-joins on midx-1 and
    midx-12. A lag window over a global month ordering would be the
    habitual form; the join form has no single-partition sort, no
    partition-less window for the audit to flag, and handles calendar
    gaps by construction (a missing prior month yields NULL growth,
    not the previous ACTIVE month's — the ts_top_movers guard, free).
    Integer month index keeps months_between out (docs/determinism.md).
    """
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.select(
            (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
            .cast("bigint")
            .alias("midx"),
            fx("o_totalprice").alias("c"),
        )
        .groupBy("midx")
        .agg(
            F.sum("c").cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    mom = m.select((F.col("midx") + 1).alias("midx"), F.col("cents").alias("mom_c"))
    yoy = m.select((F.col("midx") + 12).alias("midx"), F.col("cents").alias("yoy_c"))
    D = lambda c: c.cast("double")
    return (
        m.join(F.broadcast(mom), "midx", "left")
        .join(F.broadcast(yoy), "midx", "left")
        .select(
            "midx",
            F.format_string(
                "%04d-%02d",
                F.expr("midx div 12").cast("int"),
                (F.col("midx") % 12 + 1).cast("int"),
            ).alias("month_label"),
            F.round(D(F.col("cents")) / 100.0, 2).alias("revenue"),
            "n_orders",
            F.round((D(F.col("cents") - F.col("mom_c"))) / D(F.col("mom_c")), 6).alias(
                "mom_growth"
            ),
            F.round((D(F.col("cents") - F.col("yoy_c"))) / D(F.col("yoy_c")), 6).alias(
                "yoy_growth"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A4d: built-in approximate percentiles (the sketch swap for A4)
# ---------------------------------------------------------------------------


@query(
    "rel_approx_percentiles",
    oracle=None,  # algorithm-specific (Greenwald-Khanna vs t-digest);
    # accuracy vs the exact interpolated percentiles pinned in pytest
    tags=("relational", "A4d", "sketch", "no-oracle"),
)
def rel_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in approx_percentile (Greenwald-Khanna, accuracy 10000)
    for p50/p95/p99 of extended price per return flag — the documented
    100 TB swap for rel_price_percentiles' exact interpolation (exact
    percentiles need a per-group sort; GK summaries merge map-side in
    fixed memory). rel_approx_distinct is the HLL twin of this row.
    Rows-only: sketch internals are engine-specific; the <=0.1% rank
    error vs the exact values is pinned in tests/test_r6c_ops.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 10000).alias("p99_approx"),
    )


# ---------------------------------------------------------------------------
# For1: Benford first-digit analysis (forensic accounting)
# ---------------------------------------------------------------------------


@query(
    "rel_benford_law",
    oracle="""
WITH cents_t AS (
    SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders
),
d AS (
    SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM cents_t WHERE cents >= 1
),
n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
obs AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
)
SELECT obs.digit, n_obs,
       round(CAST(n_obs AS DOUBLE) / CAST(n_t.n AS DOUBLE), 6) AS observed_share,
       round(log10(1.0 + 1.0 / CAST(obs.digit AS DOUBLE)), 6) AS benford_share,
       round(CAST(n_obs AS DOUBLE) / CAST(n_t.n AS DOUBLE)
             - round(log10(1.0 + 1.0 / CAST(obs.digit AS DOUBLE)), 6), 6)
           AS deviation
FROM obs CROSS JOIN n_t
""",
    tags=("relational", "For1", "forensic"),
)
def rel_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit analysis of order totals — the forensic
    accounting screen: naturally-occurring amounts follow
    P(d) = log10(1 + 1/d); fabricated or systematically-generated
    values (like this synthetic fixture, usefully) deviate, and the
    per-digit deviation column quantifies it.

    The first digit comes from the CENTS integer's decimal string
    (substr of a cast — integer-exact, no float log to find the
    leading digit); the Benford reference is one libm log10 rounded
    6dp (the established ln rule), and deviation subtracts the two
    ROUNDED quantities so the output is a function of already-pinned
    doubles.
    """
    o = load_table(spark, sf_dir, "orders")
    # filter on the CENTS integer, not the raw price: a price in
    # (0, 0.005) rounds to 0 cents, whose leading "digit" is 0 and
    # whose benford_share is 1/0 — Infinity/NULL divergence across
    # engines instead of exclusion (ADVICE r6)
    d = (
        o.select(
            fx("o_totalprice").alias("cents")
        )
        .filter(F.col("cents") >= 1)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
    )
    n_t = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    D = lambda c: c.cast("double")
    benford = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / D(F.col("digit"))), 6)
    share = F.round(D(F.col("n_obs")) / D(F.col("n")), 6)
    return obs.join(F.broadcast(n_t)).select(
        "digit",
        "n_obs",
        share.alias("observed_share"),
        benford.alias("benford_share"),
        F.round(D(F.col("n_obs")) / D(F.col("n")) - benford, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# J1b: null-safe join semantics (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------


@query(
    "rel_nullsafe_join",
    oracle="""
WITH k AS (
    SELECT c_custkey, c_mktsegment,
           NULLIF(c_nationkey % 5, 3) AS nk
    FROM customer
)
SELECT a.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_nullsafe_pairs,
       CAST(SUM(CASE WHEN a.nk = b.nk THEN 1 ELSE 0 END) AS BIGINT)
           AS n_eq_pairs,
       CAST(SUM(CASE WHEN a.nk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_pairs
FROM k a JOIN k b
  ON a.c_mktsegment = b.c_mktsegment
 AND a.nk IS NOT DISTINCT FROM b.nk
 AND a.c_custkey < b.c_custkey
GROUP BY a.c_mktsegment
""",
    tags=("relational", "J1b", "null-semantics"),
)
def rel_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join semantics (<=> / IS NOT DISTINCT FROM):
    customers pair within a segment on a nullable derived key where
    NULL must match NULL — the CDC/SCD reconciliation join that plain
    `=` silently drops (every NULL-keyed row vanishes from an inner
    join). The output counts null-safe pairs vs the strict-equality
    subset vs the NULL-NULL pairs that only <=> finds, making the
    semantic difference a checked number rather than a footnote.

    r10: the r7 row-level pair join enumerated every within-block
    pair — C(block, 2) rows, QUADRATIC in customers per block (the
    50x probe measured 144.9 s on ~1e10 pairs; blocks scale with the
    data, so the 'blocking bound' was no bound). Since the output
    only ever aggregates pair COUNTS, the pairs are now computed in
    closed form from the (segment, key) COUNT TABLE: the eqNullSafe
    self-join runs over one row per key class (NULL class included —
    drop the <=> for `=` and the NULL class vanishes, turning the
    oracle compare red, so the null-safe semantics stay load-bearing),
    and each diagonal match contributes n*(n-1)/2 pairs in exact
    bigint arithmetic. The unchanged pair-enumeration oracle proves
    the closed form. Linear scan + |segments x keys|-row join; the
    n*(n-1)/2 product overflows bigint once a single (segment, key)
    class nears ~4.3e9 rows — far past any fixture but a real ceiling,
    so "any scale" is bounded by class size, not row count.

    r11 (ADVICE): the closed form used to emit a zeros row for a
    segment whose key classes are all singletons, where the oracle's
    `a.c_custkey < b.c_custkey` pair join emits no row at all.
    Zero-pair segments are now filtered out (HAVING-equivalent), so
    the closed form matches the pair enumeration on EVERY input, not
    just fixtures where each segment happens to have pairs.
    """
    c = load_table(spark, sf_dir, "customer")
    k = c.select(
        "c_mktsegment",
        F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("nk"),
    )
    ct = k.groupBy("c_mktsegment", "nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = ct.select(
        "c_mktsegment",
        F.col("nk").alias("nk_a"),
        F.col("n").alias("n_a"),
    )
    b = ct.select(
        F.col("c_mktsegment").alias("seg_b"),
        F.col("nk").alias("nk_b"),
        F.col("n").alias("n_b"),
    )
    j = a.join(
        b,
        (a.c_mktsegment == b.seg_b) & a.nk_a.eqNullSafe(b.nk_b),
    )
    pairs = F.expr("n_a * (n_b - 1) div 2")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.sum(pairs).cast("bigint").alias("n_nullsafe_pairs"),
            F.sum(
                F.when(F.col("nk_a").isNotNull(), pairs).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_eq_pairs"),
            F.sum(F.when(F.col("nk_a").isNull(), pairs).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_null_pairs"),
        )
        # A segment with zero pairs never appears in the oracle's
        # pair-enumeration join; drop its zeros row here too.
        .filter(F.col("n_nullsafe_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# Rep2: moving annual total (rolling 12-month window, join form)
# ---------------------------------------------------------------------------


@query(
    "rel_moving_annual_total",
    oracle="""
WITH m AS (
    SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
               AS midx,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY midx
)
SELECT cur.midx,
       printf('%04d-%02d', cur.midx // 12, cur.midx % 12 + 1) AS month_label,
       round(CAST(cur.cents AS DOUBLE) / 100.0, 2) AS revenue,
       CAST(COUNT(w.midx) AS BIGINT) AS months_in_window,
       round(CAST(SUM(w.cents) AS DOUBLE) / 100.0, 2) AS mat_revenue
FROM m cur JOIN m w
  ON w.midx BETWEEN cur.midx - 11 AND cur.midx
GROUP BY cur.midx, cur.cents
""",
    tags=("relational", "Rep2", "growth"),
)
def rel_moving_annual_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving annual total (MAT): each month's trailing-12-month
    revenue — the seasonality-free trend line reporting teams overlay
    on monthly revenue. months_in_window < 12 marks the warm-up months
    where the MAT is not yet a full year (left visible, not silently
    comparable).

    Shape: the monthly aggregate is calendar-bounded (tiny), so the
    trailing window is a broadcast theta self-join on the integer
    month index — no global-ordering window, gaps handled by
    construction (a missing month contributes no row, and
    months_in_window says so). Exact cents.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.select(
            (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
            .cast("bigint")
            .alias("midx"),
            fx("o_totalprice").alias("c"),
        )
        .groupBy("midx")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    w = m.select(F.col("midx").alias("w_midx"), F.col("cents").alias("w_cents"))
    j = m.join(
        F.broadcast(w),
        (F.col("w_midx") >= F.col("midx") - 11) & (F.col("w_midx") <= F.col("midx")),
    )
    D = lambda c: c.cast("double")
    return j.groupBy("midx", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("months_in_window"),
        F.round(D(F.sum("w_cents")) / 100.0, 2).alias("mat_revenue"),
    ).select(
        "midx",
        F.format_string(
            "%04d-%02d",
            F.expr("midx div 12").cast("int"),
            (F.col("midx") % 12 + 1).cast("int"),
        ).alias("month_label"),
        F.round(D(F.col("cents")) / 100.0, 2).alias("revenue"),
        "months_in_window",
        "mat_revenue",
    )


# ---------------------------------------------------------------------------
# W17: clamped running balance (floor-at-zero prefix sum, closed form)
# ---------------------------------------------------------------------------
# max(0, prev + delta) is NOT a plain prefix sum: the clamp makes the
# step non-associative (order-dependent state), the credit-ledger /
# inventory-level recurrence. r10: it nonetheless has the classic
# CLOSED FORM over prefix sums — with s_i the running sum of deltas,
#     b_i = s_i - min(0, min_{j<=i} s_j)
#     clamped_i = [ s_i < min(0, min_{j<i} s_j) ]
# so what the r6 form ran as a per-customer Python loop (the 50x probe
# measured 92.5 s — ~12 us/row of interpreter time) is just TWO window
# aggregates over ONE sort: running sum + running min, whole-stage
# codegen, no Python anywhere (5.1 s at the same probe). The
# recursive-CTE oracle still replays the literal recurrence, so the
# hash compare PROVES the closed form against the sequential
# definition — and the whole computation is INTEGER cents, exact on
# both sides.


@query(
    "rel_clamped_balance",
    oracle="""
WITH RECURSIVE seq AS (
    SELECT o_custkey, o_orderkey,
           CASE WHEN o_orderstatus = 'F'
                THEN -CAST(round(o_totalprice * 100, 0) AS BIGINT)
                ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) END AS delta,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
),
bal AS (
    SELECT o_custkey, o_orderkey, delta, rn,
           CAST(GREATEST(CAST(0 AS BIGINT), delta) AS BIGINT) AS balance,
           CAST(CASE WHEN delta < 0 THEN 1 ELSE 0 END AS INTEGER) AS clamped
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.o_custkey, s.o_orderkey, s.delta, s.rn,
           CAST(GREATEST(CAST(0 AS BIGINT), b.balance + s.delta) AS BIGINT),
           CAST(CASE WHEN b.balance + s.delta < 0 THEN 1 ELSE 0 END AS INTEGER)
    FROM bal b JOIN seq s ON s.o_custkey = b.o_custkey AND s.rn = b.rn + 1
)
SELECT o_custkey, o_orderkey, delta AS delta_cents, balance AS balance_cents,
       clamped
FROM bal
""",
    tags=("relational", "W17", "sequential"),
)
def rel_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance per customer: open orders credit,
    finalized orders debit, and the balance CLAMPS at zero (credits
    can't go negative) — the ledger/inventory recurrence
    b_i = max(0, b_{i-1} + delta_i). r10: computed by the closed form
    over prefix sums (b_i = s_i - min(0, cummin(s)_i); clamped_i iff
    s_i drops below the PREVIOUS row's floor) — two window aggregates
    sharing one (custkey, date-ordered) sort, pure JVM, replacing the
    r6 per-customer Python loop that cost 92.5 s at the 50x probe
    (see the section comment). The recursive-CTE oracle replays the
    literal sequential recurrence, so the hash compare proves the
    closed form; everything is INTEGER cents, exact by construction.
    """
    o = load_table(spark, sf_dir, "orders")
    seq = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.when(
            F.col("o_orderstatus") == "F",
            -fx("o_totalprice"),
        )
        .otherwise(fx("o_totalprice"))
        .alias("delta"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    zero = F.lit(0).cast("bigint")
    step = seq.withColumn("s", F.sum("delta").over(wcum))
    # F.least skips nulls, so the first row's empty prev-frame min
    # resolves to floor 0 — exactly the b_0 = 0 initial condition.
    floor_cum = F.least(zero, F.min("s").over(wcum))
    floor_prev = F.least(zero, F.min("s").over(wprev))
    return step.select(
        "o_custkey",
        "o_orderkey",
        F.col("delta").alias("delta_cents"),
        (F.col("s") - floor_cum).cast("bigint").alias("balance_cents"),
        (F.col("s") < floor_prev).cast("int").alias("clamped"),
    )


# ---------------------------------------------------------------------------
# J3b: NOT IN null trap vs NOT EXISTS (three-valued-logic semantics)
# ---------------------------------------------------------------------------


@query(
    "rel_not_in_null_trap",
    oracle="""
WITH probe AS (
    SELECT NULLIF(c_nationkey, 3) AS nk FROM customer
)
SELECT 'not_exists' AS variant,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation n
        WHERE NOT EXISTS (SELECT 1 FROM probe p
                          WHERE p.nk = n.n_nationkey)) AS n_rows
UNION ALL
SELECT 'not_in',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation n
        WHERE n.n_nationkey NOT IN (SELECT nk FROM probe))
UNION ALL
SELECT 'not_in_null_filtered',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation n
        WHERE n.n_nationkey NOT IN (SELECT nk FROM probe
                                    WHERE nk IS NOT NULL))
""",
    tags=("relational", "J3b", "null-semantics"),
)
def rel_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap as a checked result: against a probe set
    CONTAINING NULL (nationkey 3 nulled out), `NOT IN` returns ZERO
    rows (x <> NULL is UNKNOWN, so no row ever satisfies the
    predicate), while NOT EXISTS and the null-filtered NOT IN return
    the real anti-join answer. Three-valued logic is where silent
    full-result loss happens in production SQL; this query pins all
    three counts so the engines' agreement on the trap itself is part
    of the oracle.

    Spark compiles NOT IN to NullAwareAntiJoin (the null-aware
    variant is WHY the trap semantics survive distribution); NOT
    EXISTS to a plain left-anti.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    probe = c.select(F.nullif(F.col("c_nationkey"), F.lit(3)).alias("nk"))
    not_exists = n.join(
        probe, n.n_nationkey == probe.nk, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
        F.lit("not_exists").alias("variant"), "n_rows"
    )
    # real NOT IN through the SQL surface: compiles to Spark's
    # null-aware anti-join, which implements the trap semantics
    # (any NULL in the probe -> empty result) natively
    probe.createOrReplaceTempView("__nit_probe")
    n.createOrReplaceTempView("__nit_nation")
    not_in = n.sparkSession.sql(
        """SELECT 'not_in' AS variant, CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM __nit_nation x
           WHERE x.n_nationkey NOT IN (SELECT nk FROM __nit_probe)"""
    )
    filtered = n.join(
        probe.filter(F.col("nk").isNotNull()),
        n.n_nationkey == probe.nk,
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).select(
        F.lit("not_in_null_filtered").alias("variant"), "n_rows"
    )
    return not_exists.unionAll(not_in).unionAll(filtered)


# ---------------------------------------------------------------------------
# Rep3: ratio-to-report (two-level share-of-total)
# ---------------------------------------------------------------------------


@query(
    "rel_ratio_to_report",
    oracle="""
WITH nrev AS (
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
),
rreg AS (
    SELECT r_name, CAST(SUM(rev_e4) AS BIGINT) AS reg_e4 FROM nrev GROUP BY r_name
),
tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS tot_e4 FROM nrev)
SELECT nrev.r_name, n_name,
       round(CAST(rev_e4 AS DOUBLE) / 10000.0, 2) AS revenue,
       round(CAST(rev_e4 AS DOUBLE) / CAST(reg_e4 AS DOUBLE), 6)
           AS share_of_region,
       round(CAST(rev_e4 AS DOUBLE) / CAST(tot_e4 AS DOUBLE), 6)
           AS share_of_total
FROM nrev JOIN rreg ON nrev.r_name = rreg.r_name CROSS JOIN tot
""",
    tags=("relational", "Rep3", "share"),
)
def rel_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report at two levels: each nation's revenue as a share
    of its region and of the world — the RATIO_TO_REPORT() window
    function expressed as broadcast re-joins of the (tiny) aggregate
    against its own rollups, the form that needs no window at all:
    the fact table shuffles once into the nation aggregate; both
    denominators are re-aggregations of that 25-row result. Exact e4
    fixed-point revenue; shares are single divisions of exact ints.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nrev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum((_rev() * 10000).cast("bigint")).cast("bigint").alias("rev_e4"))
    )
    rreg = nrev.groupBy("r_name").agg(F.sum("rev_e4").cast("bigint").alias("reg_e4"))
    tot = nrev.agg(F.sum("rev_e4").cast("bigint").alias("tot_e4"))
    D = lambda x: x.cast("double")
    return (
        nrev.join(F.broadcast(rreg), "r_name")
        .join(F.broadcast(tot))
        .select(
            "r_name",
            "n_name",
            F.round(D(F.col("rev_e4")) / 10000.0, 2).alias("revenue"),
            F.round(D(F.col("rev_e4")) / D(F.col("reg_e4")), 6).alias(
                "share_of_region"
            ),
            F.round(D(F.col("rev_e4")) / D(F.col("tot_e4")), 6).alias(
                "share_of_total"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A3g: categorical mix-shift chi-square (status distribution by month)
# ---------------------------------------------------------------------------


@query(
    "rel_mix_shift_chi2",
    oracle="""
WITH obs AS (
    SELECT CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
               AS midx,
           o_orderstatus AS s,
           CAST(COUNT(*) AS BIGINT) AS o_ms
    FROM orders GROUP BY midx, s
),
tm AS (SELECT midx, CAST(SUM(o_ms) AS BIGINT) AS t_m FROM obs GROUP BY midx),
gs AS (SELECT s, CAST(SUM(o_ms) AS BIGINT) AS g_s FROM obs GROUP BY s),
nt AS (SELECT CAST(SUM(o_ms) AS BIGINT) AS n FROM obs),
terms AS (
    SELECT obs.midx,
           CAST(round(
               CAST((CAST(o_ms AS HUGEINT) * n - CAST(t_m AS HUGEINT) * g_s)
                    * (CAST(o_ms AS HUGEINT) * n - CAST(t_m AS HUGEINT) * g_s)
                    AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * t_m * g_s AS DOUBLE), 6) * 1e6
               AS BIGINT) AS term_fp
    FROM obs
    JOIN tm ON obs.midx = tm.midx
    JOIN gs ON obs.s = gs.s
    CROSS JOIN nt
)
SELECT midx,
       CAST(COUNT(*) AS BIGINT) AS n_categories,
       round(CAST(SUM(term_fp) AS DOUBLE) / 1e6, 4) AS chi2
FROM terms GROUP BY midx
""",
    tags=("relational", "A3g", "drift"),
)
def rel_mix_shift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix-shift: the chi-square statistic of each month's
    order-status distribution against the all-time distribution — the
    CATEGORICAL member of the drift family (PSI and KS cover numeric
    values; a status/priority/segment mix changing shape is a
    different production failure). High chi2 months are where the mix
    moved.

    Exactness: each term (o*N − T*G)² / (N·T·G) has an exact HUGEINT/
    decimal38 numerator under ONE double division, rounds 6dp into
    fixed point, and sums as integers — the per-month sum is
    order-immune even though it adds multiple float-derived terms.
    """
    o = load_table(spark, sf_dir, "orders")
    obs = (
        o.select(
            (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
            .cast("bigint")
            .alias("midx"),
            F.col("o_orderstatus").alias("s"),
        )
        .groupBy("midx", "s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o_ms"))
    )
    tm = obs.groupBy("midx").agg(F.sum("o_ms").cast("bigint").alias("t_m"))
    gs = obs.groupBy("s").agg(F.sum("o_ms").cast("bigint").alias("g_s"))
    nt = obs.agg(F.sum("o_ms").cast("bigint").alias("n"))
    j = (
        obs.join(tm, "midx")
        .join(F.broadcast(gs), "s")
        .join(F.broadcast(nt))
    )
    num = dec("o_ms", 38, 0) * dec("n", 38, 0) - dec("t_m", 38, 0) * dec("g_s", 38, 0)
    den = dec("n", 38, 0) * dec("t_m", 38, 0) * dec("g_s", 38, 0)
    D = lambda c: c.cast("double")
    term_fp = F.round(F.round(D(num * num) / D(den), 6) * F.lit(1e6), 0).cast(
        "bigint"
    )
    terms = j.select("midx", term_fp.alias("term_fp"))
    return terms.groupBy("midx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.round(F.sum("term_fp").cast("double") / F.lit(1e6), 4).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# ML7: customer segment migration matrix (year-over-year quartiles)
# ---------------------------------------------------------------------------


@query(
    "rel_segment_migration",
    oracle="""
WITH yr AS (
    SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY o_custkey, y
),
rk AS (
    SELECT o_custkey, y, cents,
           row_number() OVER (PARTITION BY y
                              ORDER BY cents ASC, o_custkey ASC) AS r,
           COUNT(*) OVER (PARTITION BY y) AS n
    FROM yr
),
q AS (
    SELECT o_custkey, y,
           CAST(1 + ((r - 1) * 4) // n AS BIGINT) AS quartile
    FROM rk
)
SELECT a.y AS year_from,
       a.quartile AS q_from, b.quartile AS q_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM q a JOIN q b ON a.o_custkey = b.o_custkey AND b.y = a.y + 1
GROUP BY a.y, a.quartile, b.quartile
""",
    tags=("relational", "ML7", "segmentation"),
)
def rel_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment MIGRATION matrix: each customer's yearly-spend
    quartile, joined year to year+1 — the (q_from, q_to) flow counts
    behind churn-risk and upsell analysis (a static RFM grid says
    where customers ARE; this says where they're GOING). Customers
    absent in either year drop out of that transition by join
    construction — no fake 'churn' rows from partial data.

    Quartiles use global_rank with partition_by (operators/rank.py) —
    per-year ranks with no per-year single-partition sort; the oracle
    uses plain per-year windows, so the hash compare again proves the
    banded rank. Score arithmetic is the integer div quartile formula
    (rel_rfm_segments).
    """
    from ..operators.rank import global_rank

    o = load_table(spark, sf_dir, "orders")
    yr = (
        o.select(
            "o_custkey",
            F.year("o_orderdate").cast("bigint").alias("y"),
            fx("o_totalprice").alias("c"),
        )
        .groupBy("o_custkey", "y")
        .agg(F.sum("c").cast("bigint").alias("cents"))
    )
    rk = global_rank(yr, "cents", ["o_custkey"], out="r", partition_by=["y"])
    n_y = yr.groupBy("y").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    q = rk.join(F.broadcast(n_y), "y").select(
        "o_custkey",
        "y",
        F.expr("CAST(1 + ((r - 1) * 4) div n AS BIGINT)").alias("quartile"),
    )
    a = q.select(
        "o_custkey", F.col("y").alias("year_from"), F.col("quartile").alias("q_from")
    )
    b = q.select(
        "o_custkey", (F.col("y") - 1).alias("year_from"), F.col("quartile").alias("q_to")
    )
    return (
        a.join(b, ["o_custkey", "year_from"])
        .groupBy("year_from", "q_from", "q_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Log1: ship-latency distribution with exact bounded-domain percentiles
# ---------------------------------------------------------------------------


@query(
    "rel_ship_latency",
    oracle="""
WITH lat AS (
    SELECT o.o_orderpriority AS prio,
           CAST(epoch_us(l.l_shipdate) // 86400000000
                - epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
hist AS (
    SELECT prio, days, CAST(COUNT(*) AS BIGINT) AS k
    FROM lat GROUP BY prio, days
),
cum AS (
    SELECT h.prio, h.days, h.k,
           (SELECT CAST(SUM(h2.k) AS BIGINT) FROM hist h2
            WHERE h2.prio = h.prio AND h2.days <= h.days) AS ck
    FROM hist h
),
tot AS (
    SELECT prio, CAST(SUM(k) AS BIGINT) AS n,
           CAST(SUM(days * k) AS BIGINT) AS s_days
    FROM hist GROUP BY prio
)
SELECT t.prio AS o_orderpriority, t.n,
       round(CAST(t.s_days AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS mean_days,
       (SELECT MIN(days) FROM cum WHERE cum.prio = t.prio
        AND ck * 2 >= t.n) AS p50_days,
       (SELECT MIN(days) FROM cum WHERE cum.prio = t.prio
        AND ck * 100 >= 95 * t.n) AS p95_days
FROM tot t
""",
    tags=("relational", "Log1", "latency"),
)
def rel_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority: mean and EXACT
    p50/p95 in days — the logistics SLA report. The percentiles come
    from the bounded-domain histogram pattern (diag_key_skew): latency
    in days has a tiny value domain, so exact order statistics read
    off a cumulative histogram built with a broadcast theta self-join —
    no sort of the line-item-sized latency column anywhere, which is
    the difference between this and a percentile window at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("prio"),
        (
            F.expr("unix_micros(l_shipdate) div 86400000000")
            - F.expr("unix_micros(o_orderdate) div 86400000000")
        )
        .cast("bigint")
        .alias("days"),
    )
    hist = lat.groupBy("prio", "days").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    cum = (
        hist.join(
            F.broadcast(
                hist.select(
                    F.col("prio").alias("o_prio"),
                    F.col("days").alias("o_days"),
                    F.col("k").alias("o_k"),
                )
            ),
            (F.col("o_prio") == F.col("prio")) & (F.col("o_days") <= F.col("days")),
        )
        .groupBy("prio", "days", "k")
        .agg(F.sum("o_k").cast("bigint").alias("ck"))
    )
    tot = hist.groupBy("prio").agg(
        F.sum("k").cast("bigint").alias("n"),
        F.sum(F.col("days") * F.col("k")).cast("bigint").alias("s_days"),
    )
    j = cum.join(F.broadcast(tot), "prio")
    p50 = (
        j.filter(F.col("ck") * 2 >= F.col("n"))
        .groupBy("prio")
        .agg(F.min("days").alias("p50_days"))
    )
    p95 = (
        j.filter(F.col("ck") * 100 >= F.col("n") * 95)
        .groupBy("prio")
        .agg(F.min("days").alias("p95_days"))
    )
    D = lambda c: c.cast("double")
    return (
        tot.join(p50, "prio")
        .join(p95, "prio")
        .select(
            F.col("prio").alias("o_orderpriority"),
            "n",
            F.round(D(F.col("s_days")) / D(F.col("n")), 6).alias("mean_days"),
            "p50_days",
            "p95_days",
        )
    )


# ---------------------------------------------------------------------------
# For2: Herfindahl-Hirschman concentration index (market structure)
# ---------------------------------------------------------------------------


@query(
    "rel_hhi_concentration",
    oracle="""
WITH nrev AS (
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))
                         * 10000 AS BIGINT)) AS HUGEINT) AS rev_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       round(CAST(SUM(rev_e4 * rev_e4) AS DOUBLE)
             / CAST(SUM(rev_e4) * SUM(rev_e4) AS DOUBLE), 6) AS hhi,
       round(1.0 / CAST(COUNT(*) AS DOUBLE), 6) AS hhi_uniform_floor
FROM nrev GROUP BY r_name
""",
    tags=("relational", "For2", "concentration"),
)
def rel_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index per region: sum of squared revenue
    shares across its nations — the market-concentration scalar
    (1/n = perfectly even, 1.0 = monopoly) that complements
    diag_key_skew's Gini (inequality of a distribution) with the
    antitrust-style share-of-market view, and rel_abc_analysis's
    cumulative cut with a single comparable number. The uniform floor
    1/n is emitted alongside so the excess concentration is readable
    per row.

    HHI = sum(rev_i^2) / (sum(rev_i))^2 — both sides exact integers
    (HUGEINT/decimal38) under ONE double division; no per-member share
    is ever computed in float.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nrev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum((_rev() * 10000).cast("bigint")).cast("decimal(38,0)").alias(
                "rev_e4"
            )
        )
    )
    D = lambda x: x.cast("double")
    return nrev.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.round(
            D(F.sum(F.col("rev_e4") * F.col("rev_e4")))
            / D(F.sum("rev_e4") * F.sum("rev_e4")),
            6,
        ).alias("hhi"),
        F.round(F.lit(1.0) / D(F.count(F.lit(1))), 6).alias("hhi_uniform_floor"),
    )


# ---------------------------------------------------------------------------
# ML9: discount elasticity (per-brand OLS slope, exact moments)
# ---------------------------------------------------------------------------


@query(
    "rel_discount_elasticity",
    oracle="""
WITH pts AS (
    SELECT p.p_brand,
           CAST(round(l.l_discount * 100, 0) AS HUGEINT) AS x,
           CAST(round(l.l_quantity, 0) AS HUGEINT) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
m AS (
    SELECT p_brand,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           SUM(x * y) AS sxy,
           SUM(x * x) AS sxx
    FROM pts GROUP BY p_brand
)
SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS qty_per_discount_pt,
       round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                                    / CAST(n * sxx - sx * sx AS DOUBLE))
                                   * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 6) AS base_qty
FROM m
WHERE n >= 2 AND n * sxx - sx * sx > 0
""",
    tags=("relational", "ML9", "regression"),
)
def rel_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity per brand: the OLS slope of quantity on
    discount percentage points — the pricing team's "does a discount
    point buy volume" number, per brand (rel_ols_coefficients is the
    general p=2 machinery; this is the p=1 closed form applied to a
    business question). Slope units: quantity per discount point;
    intercept = expected quantity at zero discount.

    The zipf/OLS moment contract: x and y enter as exact integers
    (discount in points, quantity rounded — it's integral in the
    fixture), five moments in decimal38/HUGEINT, one mirrored double
    expression, degenerate-variance brands filtered on both sides.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("decimal(38,0)").alias("y"),
    )
    m = pts.groupBy("p_brand").agg(*moment_sums("x", "y"))
    D = lambda c: c.cast("double")
    var = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = D(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / D(var)
    return (
        m.filter((F.col("n") >= 2) & (var > 0))
        .select(
            "p_brand",
            F.col("n").cast("bigint").alias("n_lines"),
            F.round(slope, 6).alias("qty_per_discount_pt"),
            F.round(
                (D(F.col("sy")) - slope * D(F.col("sx"))) / D(F.col("n")), 6
            ).alias("base_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Rep4: price-volume-mix variance bridge (year-over-year by brand)
# ---------------------------------------------------------------------------


@query(
    "rel_price_volume_mix",
    oracle="""
WITH yr AS (
    SELECT p.p_brand, CAST(year(o.o_orderdate) AS BIGINT) AS y,
           CAST(SUM(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty,
           CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS rev_c
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand, y
),
hi AS (SELECT CAST(MAX(y) AS BIGINT) AS y_hi FROM yr),
pair AS (
    SELECT a.p_brand,
           a.qty AS q1, a.rev_c AS r1,
           b.qty AS q2, b.rev_c AS r2
    FROM yr a JOIN yr b ON a.p_brand = b.p_brand AND b.y = a.y + 1
    CROSS JOIN hi WHERE b.y = y_hi
)
SELECT p_brand, q1, q2,
       round(CAST(r1 AS DOUBLE) / 100.0, 2) AS rev_prior,
       round(CAST(r2 AS DOUBLE) / 100.0, 2) AS rev_current,
       round(CAST(r2 - r1 AS DOUBLE) / 100.0, 2) AS delta_rev,
       round(CAST((q2 - q1) * ((r1 * 1000000) // q1) AS DOUBLE)
             / 1e6 / 100.0, 2) AS volume_effect,
       round((CAST(r2 AS DOUBLE)
              - CAST(q2 * ((r1 * 1000000) // q1) AS DOUBLE) / 1e6
              - CAST(r1 AS DOUBLE)
              + CAST(q1 * ((r1 * 1000000) // q1) AS DOUBLE) / 1e6)
             / 100.0, 2) AS price_effect
FROM pair WHERE q1 > 0
""",
    tags=("relational", "Rep4", "variance-bridge"),
)
def rel_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume variance bridge per brand, latest year vs prior:
    delta revenue decomposed into the VOLUME effect ((q2-q1) at the
    prior average price) and the PRICE effect (the remainder at
    current volume) — the FP&A explanation of WHY revenue moved, not
    just THAT it moved (rel_growth_rates).

    The prior average price enters as an integer fixed-point
    (r1*1e6 div q1 — floored identically on both engines and
    documented: the two effects reconcile to delta_rev up to the
    floored sub-cent, never silently), all inputs exact cents and
    integer quantities.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    yr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.year("o_orderdate").cast("bigint").alias("y"))
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.sum(fx("l_extendedprice"))
            .cast("bigint")
            .alias("rev_c"),
        )
    )
    hi = yr.agg(F.max("y").cast("bigint").alias("y_hi"))
    a = yr.select(
        "p_brand", F.col("y"), F.col("qty").alias("q1"), F.col("rev_c").alias("r1")
    )
    b = yr.select(
        "p_brand",
        (F.col("y") - 1).alias("y"),
        F.col("y").alias("y2"),
        F.col("qty").alias("q2"),
        F.col("rev_c").alias("r2"),
    )
    pair = (
        a.join(b, ["p_brand", "y"])
        .join(F.broadcast(hi))
        .filter((F.col("y2") == F.col("y_hi")) & (F.col("q1") > 0))
    )
    p1_fp = F.expr("(r1 * 1000000) div q1")
    D = lambda c: c.cast("double")
    return pair.select(
        "p_brand",
        "q1",
        "q2",
        F.round(D(F.col("r1")) / 100.0, 2).alias("rev_prior"),
        F.round(D(F.col("r2")) / 100.0, 2).alias("rev_current"),
        F.round(D(F.col("r2") - F.col("r1")) / 100.0, 2).alias("delta_rev"),
        F.round(D((F.col("q2") - F.col("q1")) * p1_fp) / F.lit(1e6) / 100.0, 2).alias(
            "volume_effect"
        ),
        F.round(
            (
                D(F.col("r2"))
                - D(F.col("q2") * p1_fp) / F.lit(1e6)
                - D(F.col("r1"))
                + D(F.col("q1") * p1_fp) / F.lit(1e6)
            )
            / 100.0,
            2,
        ).alias("price_effect"),
    )


# ---------------------------------------------------------------------------
# A1b: basket-size histogram (order-level structure)
# ---------------------------------------------------------------------------


@query(
    "rel_basket_size_histogram",
    oracle="""
WITH sz AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem GROUP BY l_orderkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM sz)
SELECT n_lines AS basket_size,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(tot.n_orders) AS DOUBLE), 6)
           AS share
FROM sz CROSS JOIN tot
GROUP BY n_lines
""",
    tags=("relational", "A1b", "histogram"),
)
def rel_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: how many line items orders carry —
    the order-structure histogram that sizes the market-basket
    self-join (rel_market_basket's Σ basket² bound is read directly
    off this table) and drives packing/fulfillment planning. Two hash
    aggs and a 1-row broadcast; exact shares.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sz = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    tot = sz.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders_t"))
    D = lambda c: c.cast("double")
    return (
        sz.join(F.broadcast(tot))
        .groupBy(F.col("n_lines").alias("basket_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                D(F.count(F.lit(1))) / D(F.max("n_orders_t")), 6
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# ML10: leave-one-out target encoding (leakage-safe categorical feature)
# ---------------------------------------------------------------------------


@query(
    "rel_loo_target_encoding",
    oracle="""
WITH c AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
    FROM lineitem
),
g AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(cents) AS BIGINT) AS s_g
    FROM c GROUP BY l_returnflag
)
SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag,
       CAST(((g.s_g - c.cents) * 10000) // (g.n_g - 1) AS BIGINT)
           AS loo_mean_e4
FROM c JOIN g ON c.l_returnflag = g.l_returnflag
WHERE g.n_g > 1
""",
    tags=("relational", "ML10", "feature-engineering"),
)
def rel_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the return flag against price:
    each row's categorical feature becomes the category's mean target
    EXCLUDING the row itself — (S_g − x_i)/(n_g − 1) — the
    leakage-safe form of mean encoding (plain mean encoding leaks the
    row's own label into its feature and inflates validation scores;
    LOO is the standard fix, and the per-row exclusion is pure
    closed-form algebra, not n re-aggregations).

    Group sums broadcast (one row per category); the per-row encode
    stays ENTIRELY in the integer domain ((S-x)*1e4 div (n-1), cents
    scaled e4): the first float draft lost 1 row in 600k to a 6dp
    round-tie at sf0.1 — the documented percentile-ulp class, fixed
    the documented way. Singleton categories drop (undefined LOO) on
    both sides.
    """
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        fx("l_extendedprice").alias("cents"),
    )
    g = c.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
    )
    D = lambda x: x.cast("double")
    return (
        c.join(F.broadcast(g), "l_returnflag")
        .filter(F.col("n_g") > 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.expr("CAST(((s_g - cents) * 10000) div (n_g - 1) AS BIGINT)")
            .alias("loo_mean_e4"),
        )
    )


# ---------------------------------------------------------------------------
# X6i: phonetic (Soundex) blocking for record linkage
# ---------------------------------------------------------------------------


@query(
    "rel_soundex_blocking",
    # SQL soundex: the commons-codec/Spark algorithm (H/W bridge rule,
    # vowel reset, 4-char pad) as a list_reduce char fold carrying
    # 'result|lastCode' state — pinned code-for-code against Spark's
    # builtin on the adversarial vector suite in
    # tests/test_r6c_ops.py (Ashcraft=A261 H-bridge, CHC=C000,
    # Tymczak=T522, ...).
    oracle="""
WITH words AS (
    SELECT upper(regexp_extract(p_name, '^([a-zA-Z]+)', 1)) AS wu,
           regexp_extract(p_name, '^([a-zA-Z]+)', 1) AS w
    FROM part
),
coded AS (
    SELECT w,
        CASE WHEN wu = '' THEN '' ELSE
          rpad(string_split(list_reduce(
              list_prepend(substr(wu, 1, 1) || '|' ||
                  substr('01230120022455012623010202',
                         ascii(substr(wu, 1, 1)) - 64, 1),
                  list_transform(
                      generate_series(2, CAST(length(wu) AS INTEGER)),
                      i -> substr(wu, i, 1))),
              (acc, ch) -> CASE
                  WHEN length(string_split(acc, '|')[1]) >= 4 THEN acc
                  WHEN ch IN ('H', 'W') THEN acc
                  WHEN substr('01230120022455012623010202',
                              ascii(ch) - 64, 1) = '0'
                      THEN string_split(acc, '|')[1] || '|0'
                  WHEN substr('01230120022455012623010202',
                              ascii(ch) - 64, 1)
                       <> string_split(acc, '|')[2]
                      THEN string_split(acc, '|')[1]
                           || substr('01230120022455012623010202',
                                     ascii(ch) - 64, 1)
                           || '|' || substr('01230120022455012623010202',
                                            ascii(ch) - 64, 1)
                  ELSE acc END), '|')[1], 4, '0')
        END AS sdx
    FROM words
)
SELECT sdx,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
       array_to_string(list_sort(list(DISTINCT w)), ',') AS words
FROM coded GROUP BY sdx
""",
    tags=("relational", "X6i", "record-linkage"),
)
def rel_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking: part names keyed by the SOUNDEX code of
    their first word — the record-linkage blocking family's phonetic
    member (rel_fuzzy_part_names blocks by brand and verifies with
    edit distance; Soundex blocks SOUND-ALIKES — 'Smith'/'Smyth' —
    that edit distance within unrelated blocks would never meet).
    Output: each phonetic block's size and distinct-first-word count;
    blocks with n_words > 1 are the candidate lists a matcher
    verifies.

    Oracled (r7 rows-only shrink — DuckDB ships no soundex, so the
    oracle IMPLEMENTS it: a list_reduce char fold replaying the
    commons-codec algorithm Spark's JVM built-in follows, pinned
    code-for-code against F.soundex on the adversarial vector suite
    in tests, including the H/W-bridge cases). The
    published algorithm vectors (Robert->R163 etc.) and the
    block-bound property stay pinned in tests. Map-side code + one
    hash agg.
    """
    p = load_table(spark, sf_dir, "part")
    first = F.regexp_extract("p_name", "^([a-zA-Z]+)", 1)
    coded = p.select(
        F.soundex(first).alias("sdx"),
        first.alias("w"),
    )
    return coded.groupBy("sdx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.countDistinct("w").cast("bigint").alias("n_words"),
        F.array_join(F.sort_array(F.collect_set("w")), ",").alias("words"),
    )


# ---------------------------------------------------------------------------
# For3: duplicate-payment screening report (per-payer collision counts)
# ---------------------------------------------------------------------------


@query(
    "rel_duplicate_payments",
    oracle="""
WITH o2 AS (
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS d
    FROM orders
),
pairs AS (
    SELECT a.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_same_amount_pairs,
           CAST(MIN(abs(b.d - a.d)) AS BIGINT) AS min_days_apart
    FROM o2 a JOIN o2 b
      ON a.o_custkey = b.o_custkey
     AND a.cents = b.cents
     AND a.o_orderkey < b.o_orderkey
    GROUP BY a.o_custkey
),
base AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM o2 GROUP BY o_custkey HAVING COUNT(*) >= 2
)
SELECT base.o_custkey, base.n_orders,
       CAST(COALESCE(pairs.n_same_amount_pairs, 0) AS BIGINT)
           AS n_same_amount_pairs,
       pairs.min_days_apart,
       CAST(CASE WHEN COALESCE(pairs.n_same_amount_pairs, 0) > 0
                  AND pairs.min_days_apart <= 7
             THEN 1 ELSE 0 END AS INTEGER) AS flag_review
FROM base LEFT JOIN pairs ON base.o_custkey = pairs.o_custkey
""",
    tags=("relational", "For3", "forensic"),
)
def rel_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screening report: for every customer with at
    least two orders, how many pairs of their orders share the EXACT
    cent amount, how close the nearest such pair sits in time, and a
    review flag for exact-amount repeats within 7 days — the
    accounts-payable double-submission screen (Benford checks the
    digit population; this checks individual payers). Exact-amount
    equality is the point: true double payments are byte-identical.

    The pair join keys on (custkey, cents) — explosion bounded by
    same-amount-per-payer group sizes (the blocking bound); the
    report is per payer, so clean books still produce auditable
    zero-count rows rather than an empty result.
    """
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select(
        "o_orderkey",
        "o_custkey",
        fx("o_totalprice").alias("cents"),
        F.expr("unix_micros(o_orderdate) div 86400000000")
        .cast("bigint")
        .alias("d"),
    )
    a = o2.select(
        F.col("o_orderkey").alias("oa"), "o_custkey", "cents",
        F.col("d").alias("d_a"),
    )
    b = o2.select(
        F.col("o_orderkey").alias("ob"),
        F.col("o_custkey").alias("ck_b"),
        F.col("cents").alias("cents_b"),
        F.col("d").alias("d_b"),
    )
    pairs = (
        a.join(
            b,
            (a.o_custkey == b.ck_b)
            & (a.cents == b.cents_b)
            & (F.col("oa") < F.col("ob")),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_same_amount_pairs"),
            F.min(F.abs(F.col("d_b") - F.col("d_a")))
            .cast("bigint")
            .alias("min_days_apart"),
        )
    )
    base = (
        o2.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    return base.join(pairs, "o_custkey", "left").select(
        "o_custkey",
        "n_orders",
        F.coalesce(F.col("n_same_amount_pairs"), F.lit(0))
        .cast("bigint")
        .alias("n_same_amount_pairs"),
        "min_days_apart",
        (
            (F.coalesce(F.col("n_same_amount_pairs"), F.lit(0)) > 0)
            & (F.col("min_days_apart") <= 7)
        )
        .cast("int")
        .alias("flag_review"),
    )


# ---------------------------------------------------------------------------
# Rep5: new-vs-returning revenue split (growth accounting)
# ---------------------------------------------------------------------------


@query(
    "rel_new_vs_returning",
    oracle="""
WITH o2 AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT)
               AS midx,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
),
first_m AS (
    SELECT o_custkey, CAST(MIN(midx) AS BIGINT) AS fm
    FROM o2 GROUP BY o_custkey
)
SELECT o2.midx,
       CAST(SUM(CASE WHEN o2.midx = f.fm THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_orders,
       CAST(SUM(CASE WHEN o2.midx > f.fm THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning_orders,
       round(CAST(SUM(CASE WHEN o2.midx = f.fm THEN cents ELSE 0 END)
                  AS DOUBLE) / 100.0, 2) AS new_revenue,
       round(CAST(SUM(CASE WHEN o2.midx > f.fm THEN cents ELSE 0 END)
                  AS DOUBLE) / 100.0, 2) AS returning_revenue
FROM o2 JOIN first_m f ON o2.o_custkey = f.o_custkey
GROUP BY o2.midx
""",
    tags=("relational", "Rep5", "growth"),
)
def rel_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split between NEW customers (first-ever order
    falls in the month) and RETURNING ones — the growth-accounting
    decomposition behind "is revenue growth acquisition or retention"
    (rel_cohort_ltv follows cohorts forward; this reads each month's
    composition). A customer's first month counts ALL their orders
    that month as new — the standard convention, stated.

    First-order months are one customer-keyed agg joined back; exact
    cents in conditional sums.
    """
    o = load_table(spark, sf_dir, "orders")
    o2 = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
        .cast("bigint")
        .alias("midx"),
        fx("o_totalprice").alias("cents"),
    )
    first_m = o2.groupBy("o_custkey").agg(F.min("midx").cast("bigint").alias("fm"))
    j = o2.join(first_m, "o_custkey")
    is_new = (F.col("midx") == F.col("fm")).cast("int")
    is_ret = (F.col("midx") > F.col("fm")).cast("int")
    D = lambda x: x.cast("double")
    return j.groupBy("midx").agg(
        F.sum(is_new).cast("bigint").alias("n_new_orders"),
        F.sum(is_ret).cast("bigint").alias("n_returning_orders"),
        F.round(
            D(F.sum(F.when(F.col("midx") == F.col("fm"), F.col("cents")).otherwise(0)))
            / 100.0,
            2,
        ).alias("new_revenue"),
        F.round(
            D(F.sum(F.when(F.col("midx") > F.col("fm"), F.col("cents")).otherwise(0)))
            / 100.0,
            2,
        ).alias("returning_revenue"),
    )


# ---------------------------------------------------------------------------
# ML11: ABC-XYZ inventory segmentation matrix
# ---------------------------------------------------------------------------


@query(
    "rel_abc_xyz",
    oracle="""
WITH pm AS (
    SELECT l.l_partkey,
           CAST(year(o.o_orderdate) * 12 + (month(o.o_orderdate) - 1)
                AS BIGINT) AS midx,
           CAST(SUM(CAST(round(l.l_quantity, 0) AS BIGINT)) AS HUGEINT) AS q
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_partkey, midx
),
var_m AS (
    SELECT l_partkey,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(q) AS HUGEINT) AS s1,
           SUM(q * q) AS s2
    FROM pm GROUP BY l_partkey
),
xyz AS (
    SELECT l_partkey,
           CASE WHEN n < 2 OR s1 = 0 THEN 'Z'
                WHEN (n * s2 - s1 * s1) * 4 <= s1 * s1 THEN 'X'
                WHEN n * s2 - s1 * s1 <= s1 * s1 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM var_m
),
rev AS (
    SELECT l_partkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS total FROM rev),
cum AS (
    SELECT l_partkey, rev_e4,
           CAST(SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey ASC)
                AS BIGINT) AS c
    FROM rev
),
abc AS (
    SELECT cum.l_partkey,
           -- DECIMAL(38,0): bigint total*100 overflows at 400x fixture
           -- scale (r11 probe find; matches the Spark side in lockstep)
           CASE WHEN CAST(c - rev_e4 AS DECIMAL(38,0)) * 100
                     < CAST(total AS DECIMAL(38,0)) * 80 THEN 'A'
                WHEN CAST(c - rev_e4 AS DECIMAL(38,0)) * 100
                     < CAST(total AS DECIMAL(38,0)) * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum CROSS JOIN tot
)
SELECT abc.abc_class, xyz.xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc JOIN xyz ON abc.l_partkey = xyz.l_partkey
GROUP BY abc.abc_class, xyz.xyz_class
""",
    tags=("relational", "ML11", "segmentation"),
)
def rel_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ matrix: parts cross-classified by revenue importance
    (the rel_abc_analysis cumulative cut) and by DEMAND VARIABILITY —
    X = steady (CV of monthly quantity <= 0.5), Y = variable
    (CV <= 1), Z = erratic — the nine-cell grid inventory planning
    actually runs on (AX = automate, CZ = don't bother forecasting).
    CV thresholds compare as integer cross-multiplications:
    CV <= t  <=>  n*s2 - s1^2 <= t^2 * s1^2 (population CV via raw
    moments, scaled by n on both sides), so no float CV exists.

    Cumulative revenue again via banded_prefix_sum; the variability
    side is one (part, month) agg plus a moment agg per part.
    """
    from ..operators.rank import banded_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pm = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_partkey",
            (F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1))
            .cast("bigint")
            .alias("midx"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("q")
        )
    )
    var_m = pm.groupBy("l_partkey").agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    disc = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    xyz = var_m.select(
        "l_partkey",
        F.when((F.col("n") < 2) | (F.col("s1") == 0), "Z")
        .when(disc * 4 <= F.col("s1") * F.col("s1"), "X")
        .when(disc <= F.col("s1") * F.col("s1"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum((_rev() * 10000).cast("bigint")).cast("bigint").alias("rev_e4")
    )
    tot = rev.agg(F.sum("rev_e4").cast("bigint").alias("total"))
    cum = banded_prefix_sum(
        rev, "rev_e4", ["l_partkey"], "rev_e4", ascending=False, out="c"
    )
    # decimal(38,0) comparisons — the bigint form overflowed at the r11
    # 400x probe (total*100 > 2^63 at ~1e17 e4-revenue; same fix as
    # rel_abc_analysis, oracle updated in lockstep)
    prev_c = (F.col("c") - F.col("rev_e4")).cast("decimal(38,0)")
    tot38x = F.col("total").cast("decimal(38,0)")
    abc = cum.join(F.broadcast(tot)).select(
        "l_partkey",
        F.when(prev_c * 100 < tot38x * 80, "A")
        .when(prev_c * 100 < tot38x * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return abc.join(xyz, "l_partkey").groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# DQ5: numeric-column correlation matrix (profiling companion)
# ---------------------------------------------------------------------------


@query(
    "rel_numeric_correlations",
    oracle="""
WITH c AS (
    SELECT CAST(round(l_quantity, 0) AS HUGEINT) AS q,
           CAST(round(l_extendedprice * 100, 0) AS HUGEINT) AS p,
           CAST(round(l_discount * 100, 0) AS HUGEINT) AS d
    FROM lineitem
),
m AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(q) AS HUGEINT) AS sq, CAST(SUM(p) AS HUGEINT) AS sp,
           CAST(SUM(d) AS HUGEINT) AS sd,
           SUM(q * q) AS sqq, SUM(p * p) AS spp, SUM(d * d) AS sdd,
           SUM(q * p) AS sqp, SUM(q * d) AS sqd, SUM(p * d) AS spd
    FROM c
)
SELECT 'quantity~price' AS pair, CAST(n AS BIGINT) AS n_rows,
       round(CAST(n * sqp - sq * sp AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
             / sqrt(CAST(n * spp - sp * sp AS DOUBLE)), 6) AS pearson_r
FROM m WHERE n * sqq - sq * sq > 0 AND n * spp - sp * sp > 0
UNION ALL
SELECT 'quantity~discount', CAST(n AS BIGINT),
       round(CAST(n * sqd - sq * sd AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
             / sqrt(CAST(n * sdd - sd * sd AS DOUBLE)), 6)
FROM m WHERE n * sqq - sq * sq > 0 AND n * sdd - sd * sd > 0
UNION ALL
SELECT 'price~discount', CAST(n AS BIGINT),
       round(CAST(n * spd - sp * sd AS DOUBLE)
             / sqrt(CAST(n * spp - sp * sp AS DOUBLE))
             / sqrt(CAST(n * sdd - sd * sd AS DOUBLE)), 6)
FROM m WHERE n * spp - sp * sp > 0 AND n * sdd - sd * sd > 0
""",
    tags=("relational", "DQ5", "profiling"),
)
def rel_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between the lineitem numeric
    columns (quantity, price, discount) in long form — the numeric
    half of the profiling report (dq_column_profile covers categorical
    shape): near ±1 pairs are redundant features or derivation bugs
    (price SHOULD correlate with quantity if price is per-line total),
    near-0 discount pairs confirm discounts are assigned independently.

    One pass collects all ten moments in decimal38/HUGEINT; the three
    correlations are mirrored double expressions over them — the
    series-corr contract applied column-wise instead of series-wise.
    """
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.round(F.col("l_quantity"), 0).cast("decimal(38,0)").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(38,0)").alias("p"),
        F.round(F.col("l_discount") * 100, 0).cast("decimal(38,0)").alias("d"),
    )
    m = c.agg(
        dec(F.count(F.lit(1)), 38, 0).alias("n"),
        F.sum("q").alias("sq"), F.sum("p").alias("sp"), F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )
    D = lambda x: x.cast("double")

    def corr_row(label, sxy, sx, sy, sxx, syy):
        vx = F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx)
        vy = F.col("n") * F.col(syy) - F.col(sy) * F.col(sy)
        cov = F.col("n") * F.col(sxy) - F.col(sx) * F.col(sy)
        return m.filter((vx > 0) & (vy > 0)).select(
            F.lit(label).alias("pair"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.round(D(cov) / F.sqrt(D(vx)) / F.sqrt(D(vy)), 6).alias("pearson_r"),
        )

    return (
        corr_row("quantity~price", "sqp", "sq", "sp", "sqq", "spp")
        .unionAll(corr_row("quantity~discount", "sqd", "sq", "sd", "sqq", "sdd"))
        .unionAll(corr_row("price~discount", "spd", "sp", "sd", "spp", "sdd"))
    )
