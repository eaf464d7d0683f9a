"""Relational operator pack: scans, filters, aggregations (hash/cube/
rollup/distinct), joins (broadcast/shuffle/semi/anti/range), sorts,
limits, set ops — all pure DataFrame declarations so Catalyst picks the
physical strategy (SURVEY.md §2.2-§2.7; the reference has none of
these, they are the "free Spark" parity pack the target engine needs).

Scale notes (100 TB design point), per query, in docstrings. General
rules applied throughout:

- dimension tables (region/nation/customer/supplier/part) are
  broadcast — `F.broadcast` hints where Catalyst's 10 MB threshold
  might miss at real scale; fact-fact joins shuffle on their keys and
  rely on AQE skew splitting.
- aggregates are expressed as one groupBy.agg → Catalyst plans
  partial (map-side) + final aggregation, so the shuffle carries
  pre-combined rows, not raw fact rows.
- all filters sit directly on scan columns → pushed to parquet
  row-group level (verify: PushedFilters in .explain("formatted")).

Determinism notes for the DuckDB oracle hash-compare: aggregated
DOUBLE columns are rounded (sum order differs between engines);
LIMIT queries order by a unique tiebreaker; timestamps are formatted
to strings (engine-naive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spec_search_spark.catalog import load_table
from spec_search_spark.session import pin, tune


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return load_table(spark, sf_dir, name)


# --- Q1: pricing summary (TPC-H Q1 shape) ----------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan groupBy with 8 aggregates.

    Scale: maps to partial+final hash aggregate over 6 groups — the
    shuffle moves O(groups × partitions) pre-aggregated rows, so this
    is scan-bound at 100 TB; filter + 7-column projection push to
    parquet.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3: shipping priority (join + agg + top-k) ----------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue per order, top 10.

    Scale: customer is a broadcast dim; orders⋈lineitem shuffles on
    o_orderkey (both sides pre-filtered at the scan). Top-10 runs as
    TakeOrderedAndProject — no global sort materialization.
    """
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --- Q5: local supplier volume (5-way join) --------------------------------

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region⋈nation⋈customer⋈orders⋈lineitem⋈supplier, revenue by nation.

    Scale: the dim chain region→nation collapses to a broadcast of a
    few-hundred-row table; customer and supplier broadcast; only
    orders⋈lineitem shuffles. The c_nationkey = s_nationkey condition
    is applied post-join as a codegen'd filter.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nations_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nations_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# --- Q6: forecast revenue (scan + filter + scalar agg) ---------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-filter-aggregate; every predicate pushes to parquet.

    Scale: zero shuffle beyond the single-row final agg; the canonical
    "is pushdown working" probe (check PushedFilters in explain).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --- Q10: returned items (join + agg + top-k) ------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer, top 20.

    Scale: lineitem filtered on returnflag at scan; orders⋈lineitem
    shuffles; customer/nation broadcast; top-20 via TakeOrdered.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --- Q7: bi-nation volume (join + disjunctive cross-filter) ----------------

def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between two nation pairs, per year — the
    disjunctive two-sided filter shape (supp_nation, cust_nation).

    Scale: nation names join via two broadcast copies of the 25-row
    dim; the disjunction is a codegen'd post-join filter, never a
    plan-splitting union of two join trees.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
    )
    return (
        joined.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("yr"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "volume"
            )
        )
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, yr,
       round(sum(volume), 2) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS yr,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
) t
GROUP BY supp_nation, cust_nation, yr
"""


# --- Q12: priority counts in a date window (IN + conditional agg) ----------

def q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority counts over a shipdate year, split urgent vs not
    — IN-list filter + conditional aggregation in one pass."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_returnflag").isin("A", "R")
    )
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag IN ('A','R')
GROUP BY l_returnflag
"""


# --- Q14: promo revenue ratio (conditional ratio agg) ----------------------

def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from a part-type class in one month — the
    conditional-numerator / total-denominator single-row shape."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    is_promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(F.when(is_promo, rev).otherwise(0.0)) / F.sum(rev), 4
            ).alias("promo_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


# --- grouping sets: cube / rollup ------------------------------------------

def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with grouping indicators.

    Scale: Catalyst expands to grouping sets in ONE aggregation pass
    (Expand node) — not 4 scans.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


AGG_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority) on orders."""
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )


AGG_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS sum_total,
       count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one pass (Catalyst expand+2-phase)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


AGG_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
"""


# --- join variants ----------------------------------------------------------

def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 high-value order — LEFT SEMI (EXISTS).

    Scale: semi-join never duplicates the left side and the right side
    reduces to its join keys; broadcast when the filtered key set is
    small.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all — LEFT ANTI (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def join_broadcast_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ broadcast(part) → per-brand quantities.

    Scale: the explicit broadcast hint keeps the 100 TB fact table
    shuffle-free; per-brand agg is partial+final.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


JOIN_BROADCAST_SQL = """
SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range-band join: lineitems priced within ±10% of the
    part's retail price.

    Scale: the equi conjunct keeps this a hash join (broadcast here);
    the band predicate evaluates post-match as a codegen'd filter —
    never a nested-loop.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (li.l_partkey == part.p_partkey)
        & (li.l_extendedprice >= part.p_retailprice * 0.9)
        & (li.l_extendedprice <= part.p_retailprice * 1.1)
    )
    return (
        li.join(F.broadcast(part), cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_in_band"),
            F.round(F.avg(F.col("l_extendedprice") / F.col("p_retailprice")), 4).alias(
                "avg_ratio"
            ),
        )
    )


JOIN_RANGE_BAND_SQL = """
SELECT p_brand, count(*) AS n_in_band,
       round(avg(l_extendedprice / p_retailprice), 4) AS avg_ratio
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_extendedprice >= p_retailprice * 0.9
 AND l_extendedprice <= p_retailprice * 1.1
GROUP BY p_brand
"""


# --- set operations ---------------------------------------------------------

def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having both open ('O') and finished ('F') orders."""
    orders = _t(spark, sf_dir, "orders")
    o_keys = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f_keys = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return o_keys.intersect(f_keys)


SETOP_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer keys minus keys of customers who ever ordered."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.select(F.col("c_custkey").alias("custkey")).exceptAll(
        orders.select(F.col("o_custkey").alias("custkey")).distinct()
    )


SETOP_EXCEPT_SQL = """
SELECT c_custkey AS custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS custkey FROM orders
"""


def setop_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two labeled scans, aggregated — the unpivot-ish
    union shape used for multi-source ingestion."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    u = orders.select(
        F.lit("orders").alias("src"), F.col("o_totalprice").alias("amount")
    ).unionAll(li.select(F.lit("lineitem").alias("src"), F.col("l_extendedprice").alias("amount")))
    return u.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("amount"), 2).alias("total_amount"),
    )


SETOP_UNION_SQL = """
SELECT src, count(*) AS n, round(sum(amount), 2) AS total_amount
FROM (
  SELECT 'orders' AS src, o_totalprice AS amount FROM orders
  UNION ALL
  SELECT 'lineitem' AS src, l_extendedprice AS amount FROM lineitem
) u
GROUP BY src
"""


# --- sorts / limits / pivot -------------------------------------------------

def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 by totalprice — TakeOrderedAndProject, no full sort.

    Scale: each partition computes its local top-20; only 20×P rows hit
    the driver-side merge.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


TOPK_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → single pass,
    no distinct-values pre-query)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


PIVOT_STATUS_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem
GROUP BY l_returnflag
"""


def shuffle_hash_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control surface: the orders⋈lineitem fact join
    forced to a SHUFFLED HASH join via the `shuffle_hash` hint — the
    strategy Catalyst rarely picks by itself (it prefers sort-merge
    for large equi-joins) but that wins when one side is modestly
    sized and sorting would dominate: hash-build the smaller
    post-shuffle side, stream the larger, no sort at all. At 100 TB
    this is the knob for skew-resistant medium-dim joins where
    broadcast is too big and SMJ's double sort is waste; the audit
    pins ShuffledHashJoin in the physical plan (the only query here
    exercising that operator).

    Output: (o_orderpriority, n_items, avg_qty)."""
    tune(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    joined = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


SHUFFLE_HASH_SQL = """
SELECT o_orderpriority, count(*) AS n_items,
       round(avg(l_quantity), 4) AS avg_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def transpose_pricing_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third reshape primitive: `DataFrame.transpose` (Spark 4) —
    a per-returnflag metrics table flipped so metrics become rows and
    flags become columns, the presentation matrix a report renders.
    Completes the reshape family: pivot (pivot_status), unpivot/melt
    (unpivot_metrics), transpose (this).

    transpose() collects the INDEX COLUMN's values to the driver to
    name the output columns — bounded by the flag domain (3), the same
    bounded-collect contract as pivot's value list. Upstream is one
    partial+final agg; the flip itself is O(metrics × flags).

    Output: (key, A, N, R) — one row per metric."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )
    return base.transpose()


TRANSPOSE_SQL = """
WITH b AS (
  SELECT l_returnflag AS f,
         CAST(count(*) AS DOUBLE) AS n,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price
  FROM lineitem GROUP BY 1)
SELECT 'n' AS key,
       max(CASE WHEN f = 'A' THEN n END) AS "A",
       max(CASE WHEN f = 'N' THEN n END) AS "N",
       max(CASE WHEN f = 'R' THEN n END) AS "R"
FROM b
UNION ALL
SELECT 'avg_qty',
       max(CASE WHEN f = 'A' THEN avg_qty END),
       max(CASE WHEN f = 'N' THEN avg_qty END),
       max(CASE WHEN f = 'R' THEN avg_qty END)
FROM b
UNION ALL
SELECT 'avg_price',
       max(CASE WHEN f = 'A' THEN avg_price END),
       max(CASE WHEN f = 'N' THEN avg_price END),
       max(CASE WHEN f = 'R' THEN avg_price END)
FROM b
"""


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the first-class DataFrame.unpivot (melt)
    API — the inverse of pivot_status: lineitem's four measure columns
    become (metric, value) rows, then a per-metric profile aggregates
    the long table. Complements the positional unpivot the sheets
    pipeline does with stack()/posexplode (cell_grid_unpivot):
    this is the typed columnar form.

    Plan: unpivot is a zero-shuffle Expand (4 rows out per input row,
    map-side); the profile is one partial+final agg on the 4-value
    metric key.

    Output: (metric, n, min_v, max_v, sum_v)."""
    tune(spark)
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="v",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("v"), 4).alias("min_v"),
        F.round(F.max("v"), 4).alias("max_v"),
        F.round(F.sum("v"), 2).alias("sum_v"),
    )


UNPIVOT_SQL = """
WITH long AS (
  SELECT l_orderkey, 'l_quantity' AS metric, l_quantity AS v FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
)
SELECT metric, count(*) AS n,
       round(min(v), 4) AS min_v,
       round(max(v), 4) AS max_v,
       round(sum(v), 2) AS sum_v
FROM long GROUP BY metric
"""


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL: part keys kept with
    min(multiplicity) across two overlapping lineitem slices — the set
    operator whose DISTINCT sibling (`setop_intersect`) silently
    collapses multiplicities. Catalyst plans it as a counted
    aggregation + generate, never a distinct."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 3).select(
        F.col("l_partkey").alias("partkey")
    )
    b = li.filter(F.col("l_discount") >= 0.03).select(
        F.col("l_partkey").alias("partkey")
    )
    return a.intersectAll(b)


SETOP_INTERSECT_ALL_SQL = """
SELECT l_partkey AS partkey FROM lineitem WHERE l_linenumber <= 3
INTERSECT ALL
SELECT l_partkey AS partkey FROM lineitem WHERE l_discount >= 0.03
"""


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): two keyed
    aggregates whose key is NULLed for one category join with NULL
    matching NULL — the semantics a plain equi-join silently drops
    rows on. Output keeps the NULL group so the driver hash covers it."""
    orders = _t(spark, sf_dir, "orders")
    key = F.expr("nullif(o_orderpriority, '3-MEDIUM')")
    a = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(key.alias("pr"))
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    b = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(key.alias("pr"))
        .agg(F.count(F.lit(1)).alias("n_finished"))
    )
    return a.join(b, a["pr"].eqNullSafe(b["pr"])).select(
        a["pr"].alias("pr"), "n_open", "n_finished"
    )


JOIN_NULL_SAFE_SQL = """
WITH a AS (
  SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr, count(*) AS n_open
  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
), b AS (
  SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr, count(*) AS n_finished
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
)
SELECT a.pr, a.n_open, b.n_finished
FROM a JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
"""


def skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto skyline (preference query): customers not dominated on
    (total spend, order count) — no other customer is ≥ on both
    dimensions and > on one. The multi-objective 'best customers'
    cut a naive top-k by either dimension misses; a distinct query
    class (Börzsönyi et al.'s SKYLINE OF) next to TOP-K and windows.

    Exact 2-D characterization, never the O(n²) dominance self-join:
    with t(s) = max count among customers at spend s and M(s) = max
    count among customers with spend STRICTLY greater, a row is in
    the skyline iff n = t(spend) and n > M(spend). M is a strict
    reverse prefix-max over the distinct-spend table — the rank-walk
    shape: adaptive like `rank_stats._bucketed_cum` (one local window
    at or under RANK_SMALL_MAX distinct values, range-bucketed
    per-bucket windows + a ≤64-row strict-max offset table above).
    All values integer cents/counts; no doubles anywhere."""
    from spec_search_spark.operators.rank_stats import (
        RANK_BUCKETS,
        _rank_small_max,
    )
    from pyspark.sql.window import Window as W

    tune(spark)
    pc = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)")).alias(
                "spend_cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    # persist pc, not just per_s: both the prefix-max table and the
    # final filter join read it — unpersisted, the corpus aggregation
    # would run twice per call
    pc, _ = pin(pc)
    per_s = pc.groupBy("spend_cents").agg(F.max("n_orders").alias("t"))
    per_s, n_distinct = pin(per_s)
    if n_distinct <= _rank_small_max():
        w = W.orderBy(F.desc("spend_cents")).rowsBetween(
            W.unboundedPreceding, -1
        )
        cm = per_s.withColumn("m", F.max("t").over(w))
    else:
        bounds = per_s.groupBy().agg(
            F.min("spend_cents").alias("lo"), F.max("spend_cents").alias("hi")
        )
        bucketed = per_s.crossJoin(F.broadcast(bounds)).withColumn(
            "bucket",
            F.least(
                F.lit(RANK_BUCKETS - 1),
                (
                    (F.col("spend_cents") - F.col("lo"))
                    * F.lit(RANK_BUCKETS)
                    / (F.col("hi") - F.col("lo") + 1)
                ).cast("bigint"),
            ),
        ).drop("lo", "hi")
        per_bucket = bucketed.groupBy("bucket").agg(F.max("t").alias("bt"))
        hi_side = per_bucket.select(
            F.col("bucket").alias("hb"), F.col("bt").alias("hbt")
        )
        offsets = (
            per_bucket.join(
                F.broadcast(hi_side), F.col("hb") > F.col("bucket"), "left"
            )
            .groupBy("bucket")
            .agg(F.max("hbt").alias("off"))
        )
        w_loc = W.partitionBy("bucket").orderBy(F.desc("spend_cents")).rowsBetween(
            W.unboundedPreceding, -1
        )
        cm = (
            bucketed.withColumn("lm", F.max("t").over(w_loc))
            .join(F.broadcast(offsets), "bucket")
            .withColumn("m", F.greatest(F.coalesce("lm", "off"), F.coalesce("off", "lm")))
            .drop("bucket", "lm", "off")
        )
    return (
        pc.join(cm, "spend_cents")
        .filter(
            (F.col("n_orders") == F.col("t"))
            & (F.col("m").isNull() | (F.col("n_orders") > F.col("m")))
        )
        .select(
            "o_custkey",
            F.col("spend_cents").cast("bigint").alias("spend_cents"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
        )
        .orderBy(F.desc("spend_cents"), "o_custkey")
    )


SKYLINE_SQL = """
WITH pc AS (
  SELECT o_custkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents,
         count(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT a.o_custkey,
       CAST(a.spend_cents AS BIGINT) AS spend_cents,
       CAST(a.n_orders AS BIGINT) AS n_orders
FROM pc a
WHERE NOT EXISTS (
  SELECT 1 FROM pc b
  WHERE b.spend_cents >= a.spend_cents AND b.n_orders >= a.n_orders
    AND (b.spend_cents > a.spend_cents OR b.n_orders > a.n_orders)
)
ORDER BY spend_cents DESC, o_custkey
"""


QUERIES = {
    "unpivot_metrics": unpivot_metrics,
    "transpose_pricing_matrix": transpose_pricing_matrix,
    "shuffle_hash_join_agg": shuffle_hash_join_agg,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q7_nation_volume": q7_nation_volume,
    "q12_priority_counts": q12_priority_counts,
    "q14_promo_ratio": q14_promo_ratio,
    "agg_cube": agg_cube,
    "agg_rollup": agg_rollup,
    "agg_distinct": agg_distinct,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_broadcast_agg": join_broadcast_agg,
    "join_range_band": join_range_band,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
    "setop_union_counts": setop_union_counts,
    "setop_intersect_all": setop_intersect_all,
    "join_null_safe": join_null_safe,
    "topk_orders": topk_orders,
    "pivot_status": pivot_status,
    "skyline_customers": skyline_customers,
}

ORACLES = {
    "unpivot_metrics": UNPIVOT_SQL,
    "transpose_pricing_matrix": TRANSPOSE_SQL,
    "shuffle_hash_join_agg": SHUFFLE_HASH_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q10_returned_items": Q10_SQL,
    "q7_nation_volume": Q7_SQL,
    "q12_priority_counts": Q12_SQL,
    "q14_promo_ratio": Q14_SQL,
    "agg_cube": AGG_CUBE_SQL,
    "agg_rollup": AGG_ROLLUP_SQL,
    "agg_distinct": AGG_DISTINCT_SQL,
    "join_semi": JOIN_SEMI_SQL,
    "join_anti": JOIN_ANTI_SQL,
    "join_broadcast_agg": JOIN_BROADCAST_SQL,
    "join_range_band": JOIN_RANGE_BAND_SQL,
    "setop_intersect": SETOP_INTERSECT_SQL,
    "setop_except": SETOP_EXCEPT_SQL,
    "setop_union_counts": SETOP_UNION_SQL,
    "setop_intersect_all": SETOP_INTERSECT_ALL_SQL,
    "join_null_safe": JOIN_NULL_SAFE_SQL,
    "topk_orders": TOPK_ORDERS_SQL,
    "pivot_status": PIVOT_STATUS_SQL,
    "skyline_customers": SKYLINE_SQL,
}
