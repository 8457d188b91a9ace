"""Deep relational query shapes — the TPC-H families over the driver
testdata (Q1/Q4/Q7/Q9/Q14 already exist as pricing_summary / j8_fact_semi /
j16_nation_pairs / j14_profit_by_nation_year / j15_promo_share; the
partsupp-dependent Q2/Q11/Q20 shapes run over a synthesized bridge — see
the X145-X147 section at the end). SURVEY §2.11 X107-X118, X134-X139,
X145-X147.

The reference's deepest query is a 3-way star join (app.py:242-243); this
module is the beyond-reference analytical surface a warehouse user expects:
top-k revenue reports, correlated-aggregate filters, scalar-subquery
thresholds, disjunctive pushdown, distribution histograms.

Every query keeps the exact-decimal determinism discipline of
functions/scalar.exact_sum_portable (see sql_fragments._split_sum_sql): sums
of money accumulate in DECIMAL(38,s) and emerge through the floor-split
double conversion both engines perform identically.

Scale notes (100 TB): the only big-table shuffles are lineitem⋈orders on
the order key and the per-key aggregates. Broadcast-hint discipline:
hard ``F.broadcast`` hints are reserved for true bounded dims (region,
nation — 5/25 rows) and 1-row scalar aggregates. Sides that scale with SF
— customer, supplier, part projections and any per-customer/per-part
aggregate — carry NO hint: AQE broadcasts them at the graded local scale,
while a warehouse correctly plans a shuffle (often co-located on the
aggregate's own partitioning). Top-k is TakeOrderedAndProject
(per-partition heap + driver merge of k rows — never a global sort);
scalar thresholds (avg acctbal, max revenue) are one-row aggregates
broadcast back, not single-partition windows over facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import exact_sum_portable
from .parity import _t, query
from .sql_fragments import _split_sum_sql

_REV = "l.l_extendedprice * (1 - l.l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# X107 / j17 — TPC-H Q3 shape: shipping priority (top-10 unshipped revenue)
# ---------------------------------------------------------------------------

_SHIP_PRIORITY_SQL = f"""
SELECT l.l_orderkey,
       {_split_sum_sql(_REV)} AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@query("j17_shipping_priority", _SHIP_PRIORITY_SQL)
def j17_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: revenue of orders placed before the cutoff but not yet
    shipped by it, for one market segment — top 10. Customer prunes
    orders BEFORE the fact shuffle; the customer side is
    customer-cardinality (~1/5 of customers), so no broadcast hint —
    AQE broadcasts it at local scale and a warehouse plans a shuffle
    join, which is the correct form there. The limit is
    TakeOrderedAndProject (k-row heaps, no global sort). Ties on the
    double revenue break on l_orderkey in both engines."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    cutoff = F.lit("1998-06-01").cast("timestamp")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum_portable(_rev(), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# X108 / j18 — TPC-H Q5 shape: local supplier volume per nation in a region
# ---------------------------------------------------------------------------

_LOCAL_VOLUME_SQL = f"""
SELECT n.n_name, {_split_sum_sql(_REV)} AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
             AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


@query("j18_local_volume", _LOCAL_VOLUME_SQL)
def j18_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue where the supplier sits in the customer's own
    nation, nations restricted to one region, one order year. The
    supplier join carries the compound predicate (suppkey AND
    nationkey=customer nationkey) so "local" is enforced inside the
    join, not as a post-filter; region prunes nation before anything
    touches the facts. Only true dims (region, nation) carry broadcast
    hints — customer and supplier scale with SF, so AQE broadcasts
    them at local scale while a warehouse correctly shuffles them."""
    cutoff_lo = F.lit("1997-01-01").cast("timestamp")
    cutoff_hi = F.lit("1998-01-01").cast("timestamp")
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= cutoff_lo)
            & (F.col("o_orderdate") < cutoff_hi)
        )
        .select("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (supp["s_nationkey"] == cust["c_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(exact_sum_portable(_rev(), 4).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# X109 / a22 — TPC-H Q6 shape: pure scan-filter-aggregate revenue forecast
# ---------------------------------------------------------------------------

_FORECAST_SQL = f"""
SELECT {_split_sum_sql("l.l_extendedprice * l.l_discount")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND l.l_discount >= CAST(0.03 AS DOUBLE)
  AND l.l_discount <= CAST(0.07 AS DOUBLE)
  AND l.l_quantity < CAST(24 AS DOUBLE)
"""


@query("a22_filtered_revenue", _FORECAST_SQL)
def a22_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: would-be revenue from dropping small discounts — a pure
    scan→filter→single-row aggregate. The showcase for pushdown: every
    predicate reaches the parquet scan (range filters on shipdate /
    discount / quantity → row-group min-max pruning), the projection is
    3 columns, and the aggregate is map-side partial + one 1-row merge.
    No joins, no wide shuffle — at 100 TB this is I/O-bound, exactly as
    it should be."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            exact_sum_portable(
                F.col("l_extendedprice") * F.col("l_discount"), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# X110 / j19 — TPC-H Q10 shape: returned-item lost revenue per customer
# ---------------------------------------------------------------------------

_RETURNED_SQL = f"""
SELECT c.c_custkey, c.c_name,
       {_split_sum_sql(_REV)} AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1999-01-01'
  AND o.o_orderdate < TIMESTAMP '1999-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@query("j19_returned_customers", _RETURNED_SQL)
def j19_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter. Return-flag and date filters hit the scans before the
    orderkey shuffle; nation rides in via broadcast, while the full
    customer projection carries no hint (customer-cardinality — AQE
    broadcasts locally, a warehouse shuffles it, both correct); the
    final top-20 is TakeOrderedAndProject keyed (revenue DESC,
    custkey)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_sum_portable(_rev(), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X111 / a23 — TPC-H Q13 shape: order-count distribution histogram
# ---------------------------------------------------------------------------

_ORDER_DIST_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""


@query("a23_order_count_distribution", _ORDER_DIST_SQL)
def a23_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed how many (qualifying) orders,
    zero-order customers included — LEFT JOIN with the exclusion filter
    INSIDE the join condition (a post-filter would drop the NULL rows
    that make the 0 bucket), then a two-level re-aggregation. First agg
    shuffles on custkey; the histogram agg moves only #distinct-counts
    rows."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# X112 / j20 — TPC-H Q17 shape: small-quantity-order revenue
# ---------------------------------------------------------------------------

_SMALL_QTY_SQL = f"""
WITH avg_qty AS (
  SELECT l.l_partkey,
         {_split_sum_sql("l.l_quantity", 2)} / COUNT(*) AS avg_q
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#3'
  GROUP BY l.l_partkey
)
SELECT {_split_sum_sql("l.l_extendedprice", 2)} / 7.0 AS avg_yearly,
       COUNT(*) AS n_items
FROM lineitem l
JOIN avg_qty a ON a.l_partkey = l.l_partkey
WHERE l.l_quantity < CAST(0.2 AS DOUBLE) * a.avg_q
"""


@query("j20_small_qty_revenue", _SMALL_QTY_SQL)
def j20_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost if sub-20%-of-average-quantity orders
    stopped — the correlated-aggregate-filter shape. The per-part
    average (exact decimal sum ÷ count, both engines bit-identical)
    joins back to lineitem with the threshold compare in the join's
    residual filter. Both the brand-filtered part set and the per-part
    aggregate are part-cardinality (scale with SF), so neither carries
    a broadcast hint: AQE broadcasts them at local scale; a warehouse
    shuffles on partkey, which is the correct co-located form. One
    fact shuffle for the per-part agg."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(part, li["l_partkey"] == part["p_partkey"])
    avg_qty = branded.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (exact_sum_portable("l_quantity", 2) / F.count(F.lit(1))).alias("avg_q")
    )
    probe = li.join(
        avg_qty, li["l_partkey"] == F.col("a_partkey")
    ).filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_q"))
    return probe.groupBy().agg(
        (exact_sum_portable("l_extendedprice", 2) / F.lit(7.0)).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# X113 / j21 — TPC-H Q18 shape: large-volume orders
# ---------------------------------------------------------------------------

_BIG_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING {_split_sum_sql("l_quantity", 2)} > CAST(150 AS DOUBLE)
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       {_split_sum_sql("l.l_quantity", 2)} AS total_qty
FROM orders o
JOIN big b ON b.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@query("j21_big_orders", _BIG_ORDERS_SQL)
def j21_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold, with
    their customer — HAVING over a fact aggregate feeding a semi-style
    probe. The qualifying-key set is rare by construction but still
    order-cardinality, so no hard hint: AQE broadcasts it at local
    scale, a warehouse reuses the orderkey partitioning from the
    aggregate for a co-located probe. Quantities re-aggregate only for
    survivors. Top-100 by totalprice is TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum_portable("l_quantity", 2).alias("__q"))
        .filter(F.col("__q") > 150.0)
        .select(F.col("l_orderkey").alias("b_orderkey"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, li["l_orderkey"] == F.col("b_orderkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(exact_sum_portable("l_quantity", 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# X114 / p6 — TPC-H Q19 shape: disjunctive predicate pushdown
# ---------------------------------------------------------------------------

_DISJUNCTIVE_SQL = f"""
SELECT {_split_sum_sql(_REV)} AS revenue, COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
     AND l.l_quantity >= CAST(1 AS DOUBLE) AND l.l_quantity <= CAST(11 AS DOUBLE))
  OR
  (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
     AND l.l_quantity >= CAST(10 AS DOUBLE) AND l.l_quantity <= CAST(20 AS DOUBLE))
  OR
  (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
     AND l.l_quantity >= CAST(20 AS DOUBLE) AND l.l_quantity <= CAST(30 AS DOUBLE))
"""


@query("p6_disjunctive_pushdown", _DISJUNCTIVE_SQL)
def p6_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: an OR of three (brand, size, quantity) conjunct groups
    across a fact⋈dim join. Catalyst splits the disjunction: the
    part-only half (`brand∈{...} AND size≤15`) and the lineitem-only
    half (`quantity∈[1,30]`) are derivable prefilters pushed to each
    scan; the full residual evaluates inside the broadcast join. The
    per-side IN/range prefilters are written explicitly so the pushdown
    never depends on a CNF-conversion heuristic."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )

    def arm(brand: str, size_hi: int, q_lo: int, q_hi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_hi)
            & (F.col("l_quantity") >= q_lo)
            & (F.col("l_quantity") <= q_hi)
        )

    joined = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).filter(
        arm("Brand#12", 5, 1, 11)
        | arm("Brand#23", 10, 10, 20)
        | arm("Brand#3", 15, 20, 30)
    )
    return joined.groupBy().agg(
        exact_sum_portable(_rev(), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# X115 / j22 — TPC-H Q8 shape: national market share within a region
# ---------------------------------------------------------------------------

_MARKET_SHARE_SQL = f"""
WITH vol AS (
  SELECT CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         CASE WHEN sn.n_name = 'NATION_7' THEN l.l_extendedprice * (1 - l.l_discount)
              ELSE 0 END AS nat_vol,
         l.l_extendedprice * (1 - l.l_discount) AS all_vol
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'EUROPE'
)
SELECT o_year,
       {_split_sum_sql("nat_vol")} AS nation_volume,
       {_split_sum_sql("all_vol")} AS total_volume,
       {_split_sum_sql("nat_vol")} / {_split_sum_sql("all_vol")} AS mkt_share
FROM vol GROUP BY o_year
"""


@query("j22_market_share", _MARKET_SHARE_SQL)
def j22_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one supplier nation's share of a region's purchase
    volume per year — conditional-sum ÷ total-sum from a single pass
    over a 7-table join (nation aliased for both roles). Customers in
    the region filter the orders side; the share divides two exact
    decimal sums once (correctly rounded both engines)."""
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    nation = _t(spark, sf_dir, "nation")
    cn = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = (
        # cust/supp scale with SF — no hard hints (AQE decides); the
        # nation-role dims cn/sn stay hinted (25 rows)
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == F.col("cn_key"))
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), supp["s_nationkey"] == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.when(F.col("supp_nation") == "NATION_7", _rev())
            .otherwise(F.lit(0))
            .alias("nat_vol"),
            _rev().alias("all_vol"),
        )
    )
    agg = vol.groupBy("o_year").agg(
        exact_sum_portable("nat_vol", 4).alias("nation_volume"),
        exact_sum_portable("all_vol", 4).alias("total_volume"),
    )
    return agg.select(
        "o_year",
        "nation_volume",
        "total_volume",
        (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# X116 / j23 — TPC-H Q15 shape: top supplier(s) by period revenue
# ---------------------------------------------------------------------------

_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l.l_suppkey,
         {_split_sum_sql(_REV)} AS total_revenue
  FROM lineitem l
  WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@query("j23_top_supplier", _TOP_SUPPLIER_SQL)
def j23_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the maximum quarterly revenue —
    the agg-then-compare-to-scalar-max shape (ties kept, unlike top-1
    LIMIT). The max rides a whole-table window over the already-tiny
    per-supplier aggregate (#suppliers rows ≪ facts — the documented
    safe case for a partitionBy() window); equality on the double is
    sound because both engines produced it through the identical
    floor-split sum."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        exact_sum_portable(_rev(), 4).alias("total_revenue")
    )
    best = rev.withColumn(
        "__max", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("__max"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # broadcast the max-revenue set (≥1 tied rows, ≪ supplier table) —
    # hinting the SF-scaled supplier side would be backwards at scale
    return (
        F.broadcast(best)
        .join(supp, best["l_suppkey"] == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# X117 / j24 — TPC-H Q16 shape: supplier diversity per part attribute
# ---------------------------------------------------------------------------

_SUPPLIER_CNT_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
  )
GROUP BY p.p_brand, p.p_type, p.p_size
"""


@query("j24_supplier_diversity", _SUPPLIER_CNT_SQL)
def j24_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (lineitem standing in for the absent partsupp bridge):
    distinct suppliers per (brand, type, size) for selected sizes,
    excluding a deny-list of suppliers — NOT IN realized as a broadcast
    anti-join (safe here: s_suppkey is non-null by schema; a literal
    NOT IN with NULLs would need the three-valued variant). Exclusions
    and the size IN-list prune before the distinct-count shuffle."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    deny = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%7"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(deny), li["l_suppkey"] == deny["s_suppkey"], "anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# X118 / j25 — TPC-H Q22 shape: dormant high-balance customers
# ---------------------------------------------------------------------------

_DORMANT_SQL = f"""
WITH thresh AS (
  SELECT {_split_sum_sql("c_acctbal", 2)} / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > CAST(0 AS DOUBLE)
), rich AS (
  SELECT c.c_custkey, c.c_acctbal, c.c_nationkey
  FROM customer c, thresh t
  WHERE c.c_acctbal > t.avg_bal
)
SELECT n.n_name, COUNT(*) AS numcust,
       {_split_sum_sql("r.c_acctbal", 2)} AS totacctbal
FROM rich r
JOIN nation n ON n.n_nationkey = r.c_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey
)
GROUP BY n.n_name
"""


@query("j25_dormant_customers", _DORMANT_SQL)
def j25_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: customers with above-average positive balances who
    never ordered, counted per nation. The scalar threshold is a one-row
    aggregate cross-joined back (broadcast — never a fact-wide window);
    "never ordered" is an anti-join on the orders key set; the balance
    total uses the exact decimal path."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    thresh = (
        cust.filter(F.col("c_acctbal") > 0)
        .groupBy()
        .agg(
            (exact_sum_portable("c_acctbal", 2) / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rich = cust.crossJoin(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        orders, rich["c_custkey"] == orders["o_custkey"], "anti"
    )
    return (
        dormant.join(
            F.broadcast(nation), dormant["c_nationkey"] == nation["n_nationkey"]
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum_portable("c_acctbal", 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# X122 / j26 — Bloom-prefiltered semi-join (join-pruning showcase)
# ---------------------------------------------------------------------------

_BLOOM_SEMI_SQL = f"""
SELECT l.l_returnflag, COUNT(*) AS n_items,
       {_split_sum_sql(_REV)} AS revenue
FROM lineitem l
WHERE l.l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= TIMESTAMP '1999-01-01'
    AND o_orderdate < TIMESTAMP '2000-01-01'
)
GROUP BY l.l_returnflag
"""


@query("j26_bloom_semi", _BLOOM_SEMI_SQL)
def j26_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join of lineitem against urgent orders THROUGH a Bloom
    prefilter (operators/bloom.py): the fact side probes a 64 Kbit
    md5-hashed bitmap of the build keys in its scan stage, and only the
    survivors reach the exact LeftSemi. Bloom filters have no false
    negatives, so the result is identical to the plain semi-join — which
    is exactly what the DuckDB oracle runs. At 100 TB the bitmap
    broadcast (8 KB) replaces shuffling the ~80% of lineitem rows whose
    orders aren't urgent; the pruning factor is pytest-asserted."""
    from ..operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
        )
        .select("o_orderkey")
    )
    # the 64 Kbit default gives ~14 bits/key at sf0.1's ~4.6k qualifying
    # orders — the inline-literal probe path. Sizing rule: ~10-16 bits
    # per build key; an undersized filter still answers correctly, it
    # just stops pruning (measured: 30k keys in 64 Kbit → 53% pass-rate
    # against a true 20% match rate).
    return (
        bloom_semi_join(li, "l_orderkey", urgent, "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum_portable(_rev(), 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# X134 / j28 — acquisition-cohort revenue matrix
# ---------------------------------------------------------------------------

_COHORT_REV_SQL = f"""
WITH first AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY 1
)
SELECT CAST(extract(year FROM f.first_dt) AS BIGINT) AS cohort_year,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       {_split_sum_sql("o.o_totalprice", 2)} AS revenue
FROM orders o JOIN first f ON f.o_custkey = o.o_custkey
GROUP BY 1, 2
"""


@query("j28_cohort_revenue", _COHORT_REV_SQL)
def j28_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort revenue: order totals bucketed by (year the
    customer FIRST ordered × year of the order) — the classic retention
    revenue triangle. First-order dates are a per-customer MIN —
    customer-cardinality, so NOT broadcast-hinted: at warehouse scale
    the probe reuses the custkey partitioning from the MIN for a
    co-located join (AQE broadcasts it at local scale); revenue
    accumulates exactly."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = orders.groupBy(F.col("o_custkey").alias("f_custkey")).agg(
        F.min("o_orderdate").alias("first_dt")
    )
    return (
        orders.join(
            first, orders["o_custkey"] == F.col("f_custkey")
        )
        .groupBy(
            F.year("first_dt").cast("long").alias("cohort_year"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum_portable("o_totalprice", 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# X135 / a24 — monthly revenue report with running totals
# ---------------------------------------------------------------------------

def _dec_to_double_sql(expr: str) -> str:
    """Portable DECIMAL→DOUBLE for an arbitrary decimal EXPRESSION (the
    _split_sum_sql transform applied to a named value instead of a SUM)."""
    return (
        f"(CAST(CAST(FLOOR({expr}) AS BIGINT) AS DOUBLE)"
        f" + CAST({expr} - FLOOR({expr}) AS DOUBLE))"
    )


def _to_dbl(c: F.Column) -> F.Column:
    """Spark twin of _dec_to_double_sql: floor-split a DECIMAL column to
    double in three correctly-rounded steps (the exact_sum_portable
    conversion, factored out — this is determinism-critical and must
    never fork per-query)."""
    ip = F.floor(c)
    return ip.cast("long").cast("double") + (c - ip).cast("double")


_MONTHLY_SQL = f"""
WITH m AS (
  SELECT date_trunc('month', l_shipdate) AS month,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
           AS rev_dec
  FROM lineitem GROUP BY 1
), t AS (
  SELECT SUM(rev_dec) AS total_dec FROM m
), w AS (
  SELECT month, rev_dec,
         SUM(rev_dec) OVER (ORDER BY month
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec,
         lag(rev_dec) OVER (ORDER BY month) AS prev_dec
  FROM m
)
SELECT w.month,
       {_dec_to_double_sql("w.rev_dec")} AS revenue,
       CASE WHEN w.prev_dec IS NULL THEN NULL
            ELSE {_dec_to_double_sql("(w.rev_dec - w.prev_dec)")} END
         AS mom_delta,
       {_dec_to_double_sql("w.cum_dec")} AS cum_revenue,
       {_dec_to_double_sql("w.cum_dec")} / {_dec_to_double_sql("t.total_dec")}
         AS cum_share
FROM w, t
"""


@query("a24_monthly_revenue_report", _MONTHLY_SQL)
def a24_monthly_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue time series: per-month discounted revenue,
    month-over-month delta, running cumulative, and cumulative share of
    the grand total. ALL accumulation — including the running window sum
    — stays in DECIMAL (exact, order-free: DuckDB evaluates window
    aggregates with segment trees, so a double-typed running sum would
    pairwise-round differently than Spark's sequential frame); values
    convert through the floor-split only at the edge. The window runs
    over ~tens of month rows (post-aggregate — the sanctioned
    single-partition case); the grand total is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").alias("month"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).cast("decimal(38,4)").alias("rev"),
    )
    m = li.groupBy("month").agg(F.sum("rev").alias("rev_dec"))
    t = m.groupBy().agg(F.sum("rev_dec").alias("total_dec"))

    w_cum = (
        Window.orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.orderBy("month")
    wdf = (
        m.withColumn("cum_dec", F.sum("rev_dec").over(w_cum))
        .withColumn("prev_dec", F.lag("rev_dec").over(w_lag))
        .crossJoin(F.broadcast(t))
    )
    return wdf.select(
        "month",
        _to_dbl(F.col("rev_dec")).alias("revenue"),
        F.when(
            F.col("prev_dec").isNull(), F.lit(None).cast("double")
        ).otherwise(_to_dbl(F.col("rev_dec") - F.col("prev_dec"))).alias(
            "mom_delta"
        ),
        _to_dbl(F.col("cum_dec")).alias("cum_revenue"),
        (_to_dbl(F.col("cum_dec")) / _to_dbl(F.col("total_dec"))).alias(
            "cum_share"
        ),
    )


# ---------------------------------------------------------------------------
# X136 / j29 — market-basket pairs (co-purchase support + lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_SUPPORT = 3

_BASKET_SQL = f"""
WITH bi AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM bi
), freq AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM bi GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS support
  FROM bi a JOIN bi b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.part_a, p.part_b, p.support,
       CAST(p.support * n.n_orders AS DOUBLE)
         / CAST(fa.cnt * fb.cnt AS DOUBLE) AS lift
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.part_a
JOIN freq fb ON fb.l_partkey = p.part_b
CROSS JOIN n
WHERE p.support >= {_BASKET_MIN_SUPPORT}
"""


@query("j29_market_basket", _BASKET_SQL)
def j29_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: part pairs co-occurring in the same order,
    with support count and lift = support·N / (cnt_a·cnt_b) — exact
    integer products converted once and divided once, so the double is
    engine-identical. The pair self-join is keyed on the order (baskets
    are small — pair fan-out is Σ C(|basket|,2), bounded per order, never
    corpus-quadratic); part frequencies join back onto the pair
    aggregate keyed on partkey — part-cardinality, so no broadcast
    hint (AQE broadcasts locally; a warehouse shuffles on partkey).
    The support threshold prunes before the lift joins; the global
    order count stays a 1-row broadcast."""
    bi = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = bi.select(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = bi.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = bi.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = bi.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    fa = freq.select(
        F.col("l_partkey").alias("fa_key"), F.col("cnt").alias("cnt_a")
    )
    fb = freq.select(
        F.col("l_partkey").alias("fb_key"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(fa, F.col("part_a") == F.col("fa_key"))
        .join(fb, F.col("part_b") == F.col("fb_key"))
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            (
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# X137 / j30 — RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_SQL = f"""
WITH base AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         {_split_sum_sql("o_totalprice", 2)} AS monetary
  FROM orders GROUP BY 1
), horizon AS (
  SELECT MAX(o_orderdate) AS max_dt FROM orders
), rfm AS (
  SELECT b.o_custkey,
         CAST(datediff('day', b.last_order, h.max_dt) AS BIGINT)
           AS recency_days,
         b.frequency, b.monetary,
         CAST(ntile(5) OVER (ORDER BY datediff('day', b.last_order, h.max_dt),
                             b.o_custkey) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY b.frequency DESC, b.o_custkey)
              AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY b.monetary DESC, b.o_custkey)
              AS BIGINT) AS m_score
  FROM base b CROSS JOIN horizon h
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
            WHEN r_score <= 2 THEN 'recent'
            WHEN f_score <= 2 THEN 'loyal_lapsing'
            WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM rfm
"""


def _rfm_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared R/F/M per-customer metric construction for the exact and
    scalable j30 twins — ONE definition, so the scalable plan can never
    silently gate against different metrics than the exact one."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        exact_sum_portable("o_totalprice", 2).alias("monetary"),
    )
    horizon = orders.groupBy().agg(F.max("o_orderdate").alias("max_dt"))
    return base.crossJoin(F.broadcast(horizon)).withColumn(
        "recency_days",
        F.datediff(
            F.col("max_dt").cast("date"), F.col("last_order").cast("date")
        ).cast("long"),
    )


def _rfm_select(scored: DataFrame) -> DataFrame:
    seg = (
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("r_score") <= 2, "recent")
        .when(F.col("f_score") <= 2, "loyal_lapsing")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "at_risk")
        .otherwise("regular")
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        seg.alias("segment"),
    )


@query("j30_rfm_segments", _RFM_SQL)
def j30_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order vs
    the corpus horizon), Frequency (order count), Monetary (exact
    decimal spend) — each scored into quintiles by ntile(5) under a
    (metric, custkey) TOTAL order (ties can't float between buckets
    cross-engine), then a CASE segment label. 1-score = best (most
    recent / most frequent / biggest spender).

    The ntile windows run over the per-customer AGGREGATE — the small-n
    VERIFIER form; ``j30_rfm_segments_scalable`` is the registered
    warehouse plan (bit-equal, no single-partition window). The horizon
    is a 1-row broadcast."""
    from pyspark.sql.window import Window

    rfm = _rfm_metrics(spark, sf_dir)
    w_r = Window.orderBy("recency_days", "o_custkey")
    w_f = Window.orderBy(F.desc("frequency"), "o_custkey")
    w_m = Window.orderBy(F.desc("monetary"), "o_custkey")
    scored = (
        rfm.withColumn("r_score", F.ntile(5).over(w_r).cast("long"))
        .withColumn("f_score", F.ntile(5).over(w_f).cast("long"))
        .withColumn("m_score", F.ntile(5).over(w_m).cast("long"))
    )
    return _rfm_select(scored)


@query("j30_rfm_segments_scalable", _RFM_SQL)
def j30_rfm_segments_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j30 with every global ntile replaced by operators.shapes.
    global_ntile — range exchange + per-range row_number + broadcast
    offsets + the shared (rank, total) bucket formula. Bit-equal labels
    (same oracle SQL), but no executor ever sorts more than one range
    partition of the per-customer aggregate: at 100× the exact form's
    three Window.orderBy(...) sorts each cap at ONE core while this plan
    spreads each scoring pass across the cluster. Plan-tested: every
    window in the executed plan is __pid-partitioned."""
    from ..operators.shapes import global_ntile

    rfm = _rfm_metrics(spark, sf_dir)
    scored = global_ntile(
        rfm, [F.col("recency_days"), F.col("o_custkey")], 5, out="r_score"
    )
    scored = global_ntile(
        scored, [F.desc("frequency"), F.col("o_custkey")], 5, out="f_score"
    )
    scored = global_ntile(
        scored, [F.desc("monetary"), F.col("o_custkey")], 5, out="m_score"
    )
    return _rfm_select(scored)


# ---------------------------------------------------------------------------
# X138 / j31 — period-over-period customer growth (TPC-DS Q74 flavor)
# ---------------------------------------------------------------------------

_GROWTH_SPLIT = "1998-07-01"

_GROWTH_SQL = f"""
WITH per AS (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderdate < TIMESTAMP '{_GROWTH_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(38,2)) ELSE 0 END)
           AS h1_dec,
         SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_GROWTH_SPLIT}'
                  THEN CAST(o_totalprice AS DECIMAL(38,2)) ELSE 0 END)
           AS h2_dec
  FROM orders GROUP BY 1
)
SELECT o_custkey,
       {{h1}} AS h1_spend, {{h2}} AS h2_spend,
       {{h2}} / {{h1}} AS growth
FROM per
WHERE h1_dec > 0 AND {{h2}} > CAST(1.5 AS DOUBLE) * {{h1}}
""".format(
    h1=_dec_to_double_sql("h1_dec"), h2=_dec_to_double_sql("h2_dec")
)


@query("j31_period_growth", _GROWTH_SQL)
def j31_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth screen (the TPC-DS Q74 shape on this
    schema): customers whose second-period spend exceeds 1.5× their
    first-period spend. Both periods accumulate in one conditional
    decimal aggregate (single fact shuffle — never two scans joined);
    the growth ratio and threshold compare identically-computed doubles.
    Zero-first-period customers are excluded on the exact decimal, not
    the converted double."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    split = F.lit(_GROWTH_SPLIT).cast("timestamp")
    dec = F.col("o_totalprice").cast("decimal(38,2)")
    per = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < split, dec).otherwise(F.lit(0))
        ).alias("h1_dec"),
        F.sum(
            F.when(F.col("o_orderdate") >= split, dec).otherwise(F.lit(0))
        ).alias("h2_dec"),
    )

    h1, h2 = _to_dbl(F.col("h1_dec")), _to_dbl(F.col("h2_dec"))
    return (
        per.filter(F.col("h1_dec") > 0)
        .select(
            "o_custkey",
            h1.alias("h1_spend"),
            h2.alias("h2_spend"),
            (h2 / h1).alias("growth"),
        )
        .filter(F.col("h2_spend") > 1.5 * F.col("h1_spend"))
    )


# ---------------------------------------------------------------------------
# X139 / a25 — Pareto concentration: top-quintile customers' revenue share
# ---------------------------------------------------------------------------

_PARETO_SQL = f"""
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS s_dec
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey, s_dec,
         CAST(ntile(5) OVER (ORDER BY s_dec DESC, o_custkey) AS BIGINT)
           AS quintile
  FROM spend
)
SELECT quintile,
       COUNT(*) AS n_customers,
       {{q}} AS quintile_spend,
       {{q}} / {{t}} AS spend_share
FROM ranked CROSS JOIN (SELECT SUM(s_dec) AS t_dec FROM spend) t
GROUP BY quintile, t_dec
""".format(
    q=_dec_to_double_sql("SUM(s_dec)"), t=_dec_to_double_sql("t_dec")
)


def _pareto_agg(spend: DataFrame, ranked: DataFrame) -> DataFrame:
    """Shared tail of the exact/scalable a25 twins: per-quintile counts,
    exact decimal spend, and the share against the broadcast total."""
    total = spend.groupBy().agg(F.sum("s_dec").alias("t_dec"))
    agg = (
        ranked.crossJoin(F.broadcast(total))
        .groupBy("quintile", "t_dec")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("s_dec").alias("q_dec"),
        )
    )
    return agg.select(
        "quintile",
        "n_customers",
        _to_dbl(F.col("q_dec")).alias("quintile_spend"),
        (_to_dbl(F.col("q_dec")) / _to_dbl(F.col("t_dec"))).alias(
            "spend_share"
        ),
    )


def _pareto_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s_dec")
    )


@query("a25_pareto_share", _PARETO_SQL)
def a25_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto curve by quintile): customers ranked
    into spend quintiles under a total order, each quintile's exact
    decimal spend and its share of the grand total. Decimal ties in
    ntile can't float (custkey tiebreak); shares divide two floor-split
    doubles once. The ntile runs over the customer AGGREGATE — the
    small-n VERIFIER form; ``a25_pareto_share_scalable`` is the
    registered warehouse plan (bit-equal, no single-partition window)."""
    from pyspark.sql.window import Window

    spend = _pareto_spend(spark, sf_dir)
    ranked = spend.withColumn(
        "quintile",
        F.ntile(5)
        .over(Window.orderBy(F.desc("s_dec"), "o_custkey"))
        .cast("long"),
    )
    return _pareto_agg(spend, ranked)


@query("a25_pareto_share_scalable", _PARETO_SQL)
def a25_pareto_share_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a25 with the global spend ntile replaced by operators.shapes.
    global_ntile (range exchange + per-range row_number + broadcast
    offsets + shared bucket formula) — bit-equal quintiles under the
    same oracle SQL, but the sort of all customers spreads across range
    partitions instead of capping at one executor at 100×. Plan-tested:
    every window in the executed plan is __pid-partitioned."""
    from ..operators.shapes import global_ntile

    spend = _pareto_spend(spark, sf_dir)
    ranked = global_ntile(
        spend, [F.desc("s_dec"), F.col("o_custkey")], 5, out="quintile"
    )
    return _pareto_agg(spend, ranked)


# ---------------------------------------------------------------------------
# X145-X147 — the partsupp family (TPC-H Q2 / Q11 / Q20 shapes)
#
# The driver testdata has no partsupp table, so the bridge is synthesized
# IDENTICALLY in both engines: the distinct (partkey, suppkey) pairs that
# actually traded in lineitem, with supplycost/availqty as pure integer
# functions of the keys — deterministic, portable, and join-able exactly
# like the real table. Costs stay integer cents until the final single
# division so every aggregate is exact in both engines.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """
partsupp AS (
  SELECT l_partkey AS ps_partkey,
         l_suppkey AS ps_suppkey,
         (l_partkey * 13 + l_suppkey * 7) % 9901 + 100 AS ps_supplycost_cents,
         (l_partkey * 31 + l_suppkey * 17) % 1000 + 1 AS ps_availqty
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized part-supplier bridge (see _PARTSUPP_CTE — the SQL
    twin is the same expression text). One distinct-pair aggregate over a
    2-column lineitem projection; cost/qty are key-derived, so the bridge
    never shuffles anything but the 16-byte key pair."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).distinct()
    return li.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 9901 + 100
        ).cast("long").alias("ps_supplycost_cents"),
        (
            (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 1000 + 1
        ).cast("long").alias("ps_availqty"),
    )


_MIN_COST_SQL = f"""
WITH {_PARTSUPP_CTE.strip()},
elig AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents,
         s.s_acctbal, s.s_name, n.n_name
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
),
mn AS (
  SELECT ps_partkey AS m_partkey, MIN(ps_supplycost_cents) AS min_cents
  FROM elig GROUP BY ps_partkey
)
SELECT e.s_acctbal, e.s_name, e.n_name,
       e.ps_partkey AS p_partkey, p.p_brand,
       CAST(e.ps_supplycost_cents AS DOUBLE) / 100 AS supplycost
FROM elig e
JOIN mn ON mn.m_partkey = e.ps_partkey
       AND mn.min_cents = e.ps_supplycost_cents
JOIN part p ON p.p_partkey = e.ps_partkey
WHERE p.p_size = 15
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
LIMIT 100
"""


@query("j33_min_cost_supplier", _MIN_COST_SQL)
def j33_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: for each part of one size, the region's cheapest
    supplier(s) — the correlated-MIN-subquery shape, decorrelated the
    warehouse way: per-part MIN over the region-eligible bridge, joined
    back on (partkey, min_cost) so ties survive exactly like the
    subquery form. Region→nation prune rides broadcast dims; the bridge
    ⋈ supplier join and the MIN reuse the same keys (co-located at
    scale, AQE-broadcast locally); top-100 is TakeOrderedAndProject
    with a full deterministic tiebreak."""
    region = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    elig = _partsupp(spark, sf_dir).join(
        supp, F.col("ps_suppkey") == F.col("s_suppkey")
    ).select("ps_partkey", "ps_supplycost_cents", "s_acctbal", "s_name", "n_name")
    mn = elig.groupBy(F.col("ps_partkey").alias("m_partkey")).agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_brand")
    )
    return (
        elig.join(
            mn,
            (F.col("ps_partkey") == F.col("m_partkey"))
            & (F.col("ps_supplycost_cents") == F.col("min_cents")),
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            (F.col("ps_supplycost_cents").cast("double") / 100).alias(
                "supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_INVENTORY_SHARE_SQL = f"""
WITH {_PARTSUPP_CTE.strip()},
natps AS (
  SELECT ps.ps_partkey,
         ps.ps_supplycost_cents * ps.ps_availqty AS v_cents
  FROM partsupp ps
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
),
per_part AS (
  SELECT ps_partkey, SUM(v_cents) AS val_cents
  FROM natps GROUP BY ps_partkey
),
tot AS (
  SELECT SUM(val_cents) AS t_cents, COUNT(*) AS n_parts FROM per_part
)
SELECT p.ps_partkey,
       CAST(p.val_cents AS DOUBLE) / 100 AS part_value,
       CAST(p.val_cents AS DOUBLE) / CAST(t.t_cents AS DOUBLE) AS value_share
FROM per_part p CROSS JOIN tot t
WHERE p.val_cents * t.n_parts > 3 * t.t_cents
"""


@query("a26_inventory_share", _INVENTORY_SHARE_SQL)
def a26_inventory_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose inventory value within one nation exceeds
    3× the nation's mean per-part value — the HAVING-vs-scalar-subquery
    shape. Canonical Q11's fraction is SF-scaled (0.0001/SF); a
    mean-relative threshold keeps the selectivity SF-INVARIANT with no
    scale parameter, and stays a pure integer compare
    (val·n_parts > 3·total) so no double rounding can flip a row; the
    scalar (total, count) is a 1-row broadcast onto the per-part
    aggregate. Supplier-side nation filter prunes the bridge before its
    partkey shuffle."""
    nation = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    natps = _partsupp(spark, sf_dir).join(
        supp, F.col("ps_suppkey") == F.col("s_suppkey")
    ).select(
        "ps_partkey",
        (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v_cents"),
    )
    per_part = natps.groupBy("ps_partkey").agg(
        F.sum("v_cents").alias("val_cents")
    )
    tot = per_part.groupBy().agg(
        F.sum("val_cents").alias("t_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("val_cents") * F.col("n_parts") > 3 * F.col("t_cents"))
        .select(
            "ps_partkey",
            (F.col("val_cents").cast("double") / 100).alias("part_value"),
            (
                F.col("val_cents").cast("double")
                / F.col("t_cents").cast("double")
            ).alias("value_share"),
        )
    )


_EXCESS_INVENTORY_SQL = f"""
WITH {_PARTSUPP_CTE.strip()},
qty98 AS (
  -- floor() before the integer cast: DuckDB CAST(DOUBLE AS BIGINT)
  -- rounds while Spark truncates — floor makes both exact and identical
  -- even if a future fixture carries fractional quantities
  SELECT l_partkey, l_suppkey,
         SUM(CAST(floor(l_quantity) AS BIGINT)) AS q98
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_partkey, l_suppkey
),
excess AS (
  SELECT ps.ps_suppkey
  FROM partsupp ps
  JOIN qty98 q ON q.l_partkey = ps.ps_partkey
             AND q.l_suppkey = ps.ps_suppkey
  JOIN part p ON p.p_partkey = ps.ps_partkey
  WHERE p.p_name LIKE 'small%'
    AND ps.ps_availqty > 20 * q.q98
)
SELECT s.s_name, n.n_name, COUNT(*) AS n_excess_parts
FROM excess e
JOIN supplier s ON s.s_suppkey = e.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY s.s_name, n.n_name
"""


@query("j34_excess_inventory", _EXCESS_INVENTORY_SQL)
def j34_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers holding excess stock of a part family —
    availqty above 20× what they actually shipped in the year. The
    correlated quantity subquery decorrelates into a per-(part,supp)
    aggregate joined on the SAME composite key as the bridge (co-located
    — one shuffle layout serves both sides); the name-filtered part set
    prunes on partkey; the threshold compare is pure integer. Output
    counts qualifying parts per supplier (richer hash signal than the
    canonical DISTINCT name list)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    qty98 = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor("l_quantity").cast("long")).alias("q98")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    excess = (
        _partsupp(spark, sf_dir)
        .join(
            qty98,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .filter(F.col("ps_availqty") > 20 * F.col("q98"))
        .select("ps_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        excess.join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )


# ---------------------------------------------------------------------------
# X150-X151 — the logistics family (TPC-H Q12 / Q21 shapes)
#
# lineitem lacks commitdate/receiptdate/shipmode, so — like the partsupp
# bridge — they are synthesized IDENTICALLY in both engines as pure
# integer/date functions of the row keys: offsets in whole days from
# l_shipdate and a 7-way mode from a key hash. Date math is DATE+INT in
# both engines (no interval/timezone semantics to diverge).
# ---------------------------------------------------------------------------

_SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]

_LOGISTICS_CTE = """
logistics AS (
  SELECT l_orderkey, l_suppkey,
         CAST(l_shipdate AS DATE) AS ship_d,
         CAST(l_shipdate AS DATE)
           + CAST((l_orderkey + l_linenumber) % 30 + 1 AS INT) AS receipt_d,
         CAST(l_shipdate AS DATE)
           + CAST((l_partkey + l_linenumber) % 45 - 15 AS INT) AS commit_d,
         CASE (l_orderkey * 3 + l_linenumber) % 7
           WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL'
           WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL'
           ELSE 'FOB' END AS shipmode
  FROM lineitem
)
"""


def _logistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _LOGISTICS_CTE (same expressions, same types)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_linenumber", "l_shipdate"
    )
    ship = F.col("l_shipdate").cast("date")
    mode_idx = (F.col("l_orderkey") * 3 + F.col("l_linenumber")) % 7
    expr = None
    for i, m in enumerate(_SHIPMODES[:-1]):
        expr = (
            F.when(mode_idx == i, F.lit(m))
            if expr is None
            else expr.when(mode_idx == i, F.lit(m))
        )
    mode = expr.otherwise(F.lit(_SHIPMODES[-1]))
    return li.select(
        "l_orderkey",
        "l_suppkey",
        ship.alias("ship_d"),
        F.date_add(
            ship,
            ((F.col("l_orderkey") + F.col("l_linenumber")) % 30 + 1).cast(
                "int"
            ),
        ).alias("receipt_d"),
        F.date_add(
            ship,
            ((F.col("l_partkey") + F.col("l_linenumber")) % 45 - 15).cast(
                "int"
            ),
        ).alias("commit_d"),
        mode.alias("shipmode"),
    )


_SHIPMODE_PRIORITY_SQL = f"""
WITH {_LOGISTICS_CTE.strip()}
SELECT l.shipmode,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM logistics l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.shipmode IN ('MAIL', 'SHIP')
  AND l.commit_d < l.receipt_d
  AND l.ship_d < l.commit_d
  AND l.receipt_d >= DATE '1998-01-01'
  AND l.receipt_d < DATE '1999-01-01'
GROUP BY l.shipmode
"""


@query("j35_shipmode_priority", _SHIPMODE_PRIORITY_SQL)
def j35_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: late-but-received lineitems by ship mode, split into
    high/low order priority — the conditional-count pivot over a
    fact⋈fact join. All three date predicates evaluate in the scan
    stage (narrow, pre-shuffle); the mode/priority pivot is a map-side
    partial agg on a 2-value key; only the orderkey equi-join shuffles.
    Exact integer counts — no doubles anywhere."""
    lg = _logistics(spark, sf_dir).filter(
        F.col("shipmode").isin("MAIL", "SHIP")
        & (F.col("commit_d") < F.col("receipt_d"))
        & (F.col("ship_d") < F.col("commit_d"))
        & (F.col("receipt_d") >= F.lit("1998-01-01").cast("date"))
        & (F.col("receipt_d") < F.lit("1999-01-01").cast("date"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lg.join(orders, lg["l_orderkey"] == orders["o_orderkey"])
        .groupBy("shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_WAITING_SUPPLIERS_SQL = f"""
WITH {_LOGISTICS_CTE.strip()},
fo AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
lstat AS (
  SELECT l.l_orderkey,
         COUNT(DISTINCT l.l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN l.receipt_d > l.commit_d
                             THEN l.l_suppkey END) AS n_late
  FROM logistics l JOIN fo ON fo.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey
),
w AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM logistics l
  JOIN lstat t ON t.l_orderkey = l.l_orderkey
  WHERE l.receipt_d > l.commit_d
    AND t.n_supps >= 2 AND t.n_late = 1
)
SELECT s.s_name, COUNT(*) AS numwait
FROM w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_3'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""


@query("j36_waiting_suppliers", _WAITING_SUPPLIERS_SQL)
def j36_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — the EXISTS + NOT-EXISTS correlated-subquery capstone:
    suppliers who were the SOLE late delivery on a finished multi-supplier
    order. Decorrelated the scale way: one per-order aggregate computes
    (#suppliers, #late suppliers) — replacing both correlated probes with
    conditional COUNT(DISTINCT)s in a single pass — then late lines keep
    orders with n_supps ≥ 2 AND n_late = 1 (sole-blame ⇔ EXISTS other ∧
    NOT EXISTS other-late). Everything shuffles on orderkey until the
    final supplier-keyed count; nation rides a broadcast; top-20 is
    TakeOrderedAndProject. The nation filter applies at the END because
    the per-order counts must see ALL suppliers of the order — filtering
    early would change semantics (the classic Q21 decorrelation trap)."""
    lg = _logistics(spark, sf_dir).select(
        "l_orderkey", "l_suppkey", "receipt_d", "commit_d"
    )
    fo = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    lf = lg.join(fo, lg["l_orderkey"] == fo["o_orderkey"])
    late = F.col("receipt_d") > F.col("commit_d")
    lstat = lf.groupBy(F.col("l_orderkey").alias("t_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
    )
    w = (
        lg.filter(late)
        .join(
            lstat.filter(
                (F.col("n_supps") >= 2) & (F.col("n_late") == 1)
            ),
            F.col("l_orderkey") == F.col("t_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    nation = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        w.join(supp, w["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X195 / j37 — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULLSAFE_SQL = """
SELECT NULLIF(n.n_nationkey, 3) AS key, n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
JOIN nation n
  ON NULLIF(c.c_nationkey, 3) IS NOT DISTINCT FROM NULLIF(n.n_nationkey, 3)
GROUP BY 1, 2
"""


@query("j37_nullsafe_join", _NULLSAFE_SQL)
def j37_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: NULL keys match each other (`<=>` /
    ANSI `IS NOT DISTINCT FROM`), where a plain equi-join silently drops
    every NULL-keyed row — the classic dimensional-modeling trap for
    "unknown member" keys. NULLs are planted deterministically
    (NULLIF on nationkey 3) so the gate pins the semantics: the output
    contains a NULL-key group a plain join could never emit. At scale
    this matters because Spark plans EqualNullSafe as a HASH join key
    (all NULLs hash to one value — a known skew funnel when the unknown
    member dominates; pair with salting if it does), never a
    nested-loop — asserted by the plan pytest."""
    cust = _t(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(3)).alias("key"), "n_name"
    )
    return (
        cust.join(F.broadcast(nat), F.col("ck").eqNullSafe(F.col("key")))
        .groupBy("key", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# X215 / o6 — keyset (seek-method) pagination
# ---------------------------------------------------------------------------

_PAGE_SIZE = 50
_CURSOR_DATE = "1995-02-01 00:00:00"
_CURSOR_KEY = 0

_KEYSET_SQL = f"""
SELECT o_orderkey, o_orderdate, o_custkey, o_totalprice
FROM orders
WHERE o_orderdate > TIMESTAMP '{_CURSOR_DATE}'
   OR (o_orderdate = TIMESTAMP '{_CURSOR_DATE}'
       AND o_orderkey > {_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {_PAGE_SIZE}
"""


@query("o6_keyset_pagination", _KEYSET_SQL)
def o6_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: the next page after a
    (o_orderdate, o_orderkey) cursor, fetched as a tuple-inequality
    predicate + TakeOrdered — NEVER OFFSET, which at page N re-scans
    and re-sorts N·page rows (the dashboard-pagination scale trap; the
    reference's Streamlit table pages client-side, app.py, which caps
    out even sooner). The cursor predicate pushes to the parquet scan
    (row groups before the date prune away) and the total order
    (date, key) makes pages gap-free and overlap-free under concurrent
    appends. Plan pinned: PushedFilters on the date + TakeOrderedAndProject
    (tests/test_plans.py)."""
    cur_d = F.to_timestamp(F.lit(_CURSOR_DATE))
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") > cur_d)
            | (
                (F.col("o_orderdate") == cur_d)
                & (F.col("o_orderkey") > _CURSOR_KEY)
            )
        )
        .select("o_orderkey", "o_orderdate", "o_custkey", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_SIZE)
    )
