"""TPC-H-adapted analytic battery over the driver's star schema.

The reference's analytical intent is the star-schema serving layer
(SURVEY.md §2.4 J1: `coin_prices_fact ⋈ coin_dimension`, DDL at
`/root/reference/dags/coin_data_pipeline_optimized.py:87-104`). This
module exercises that intent at engine strength: all 22 classic
TPC-H query shapes (Q1 pricing summary through Q22 inactive customers),
adapted to the driver's TPC-H-ish columns (TESTDATA.md). Q2/Q11/Q20 are
partsupp-centric and the schema has no partsupp, so they run over a
deterministic *derived* partsupp (see ``derived_partsupp``) that the
DuckDB oracle rebuilds with identical integer/decimal arithmetic;
Q16's supplier-part pairs are observed through lineitem instead, and
"late" (Q4/Q21) is modeled as shipped >60 days after order date since
there are no commit/receipt dates.

Scale/determinism policy (same as queries.py):
- Revenue terms are IEEE double products cast to DECIMAL(18,4) *per
  element*, then summed — exact, association-order-free arithmetic, so
  the value hash is stable across partitionings and engines, and
  revenue-equality predicates (Q15) are exact.
- Small dims (region, nation, filtered brand subsets) get explicit
  ``F.broadcast`` hints; the big fact-fact joins (orders ⋈ lineitem)
  stay shuffle joins on their natural keys where AQE can re-plan them.
- Every top-k ends in a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import _DEC, _t

# disc_price = extendedprice * (1 - discount), the TPC-H revenue term.
# Built lazily (classic-mode Column construction needs a live context).
def _rev():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)


_REV_SQL = f"CAST(l_extendedprice * (1 - l_discount) AS {_DEC})"


# ---------------------------------------------------------------------------
# Q1 — pricing summary report (scan-heavy single agg)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide partial+final hash aggregate over the
    filtered fact — the canonical map-side-combine stress test."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).alias("sum_base_price"),
            F.sum(_rev()).alias("sum_disc_price"),
            # Three-factor product: all-decimal arithmetic from the raw
            # columns. Casting the DOUBLE product would tie Spark's
            # shortest-string double→decimal rounding against DuckDB's
            # binary rounding — they disagree at 5th-decimal '5's.
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
                * (F.lit(1) + F.col("l_tax").cast("decimal(6,4)"))
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS {_DEC})) AS DOUBLE)      AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS sum_base_price,
       CAST(sum({_REV_SQL}) AS DOUBLE)                      AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4))
           * (1 - CAST(l_discount AS DECIMAL(6,4)))
           * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE)  AS sum_charge,
       round(avg(l_quantity), 4)      AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4)      AS avg_disc,
       CAST(count(*) AS BIGINT)       AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Q3 — shipping priority (3-way join + top-k)
# ---------------------------------------------------------------------------

def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: segment-filtered customer ⋈ orders ⋈ lineitem, revenue
    per undelivered order, top 10. The customer side shrinks ~5× before
    the join (filter below join → AQE can broadcast it); orders ⋈
    lineitem is the shuffle join on the natural key."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.to_date("l_shipdate") > F.lit("1998-01-01").cast("date"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_orderpriority")
        .agg(F.sum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_TPCH_Q3 = f"""
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (6-way join)
# ---------------------------------------------------------------------------

def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation, one region, one year. region/nation are broadcast
    (hinted — they are guaranteed tiny); the three fact joins shuffle
    on their keys."""
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).alias("revenue"))
    )


ORACLE_TPCH_Q5 = f"""
SELECT n_name, CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Q6 — revenue-change forecast (pure filter-sum, pushdown showcase)
# ---------------------------------------------------------------------------

def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: tight filter + single sum. All three predicates reach
    the parquet scan (min/max row-group pruning); the agg is a one-row
    partial+final."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC)).alias("revenue"))
    )


ORACLE_TPCH_Q6 = f"""
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS {_DEC})) AS DOUBLE) AS revenue
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting (4-way join + top 20)
# ---------------------------------------------------------------------------

def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned items in a quarter, ranked by
    lost revenue. nation broadcast; grouping carries the customer
    attributes (functional deps of c_custkey) so no re-join after agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.round("c_acctbal", 4).alias("c_acctbal"), "n_name")
        .agg(F.sum(_rev()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_TPCH_Q10 = f"""
SELECT c_custkey, c_name, round(c_acctbal, 4) AS c_acctbal, n_name,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
GROUP BY c_custkey, c_name, round(c_acctbal, 4), n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q12 (adapted) — priority classes by ship year (no shipmode column)
# ---------------------------------------------------------------------------

def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted to the driver schema: per ship-year,
    orders split into high/low priority classes — join + conditional
    counts in one pass (no per-class scans)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_TPCH_Q12 = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1999-01-01'
GROUP BY year(l_shipdate)
"""


# ---------------------------------------------------------------------------
# Q14 — promotion effect (join + conditional-sum ratio)
# ---------------------------------------------------------------------------

def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: share of revenue from PROMO parts in one month. Exact
    decimal sums make the ratio reproducible to the rounded 4dp."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-09-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-10-01").cast("date"))
    )
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0).cast(_DEC))
    return joined.agg(
        F.sum(promo).alias("promo_revenue"),
        F.sum(_rev()).alias("total_revenue"),
        F.round(F.sum(promo).cast("double") * 100 / F.sum(_rev()).cast("double"), 4).alias("promo_pct"),
    )


ORACLE_TPCH_Q14 = f"""
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE CAST(0 AS {_DEC}) END) AS DOUBLE) AS promo_revenue,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS total_revenue,
       round(CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE CAST(0 AS {_DEC}) END) AS DOUBLE) * 100
             / CAST(sum({_REV_SQL}) AS DOUBLE), 4) AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-09-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-10-01'
"""


# ---------------------------------------------------------------------------
# Q15 — top supplier (agg + exact max-equality)
# ---------------------------------------------------------------------------

def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    decimal revenue makes the max-equality predicate exact (a double
    sum would make 'equal to max' partitioning-dependent). The max is
    a broadcast scalar join, not a driver collect."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_revenue"))
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue"))
    )


ORACLE_TPCH_Q15 = f"""
WITH rev AS (
  SELECT l_suppkey, sum({_REV_SQL}) AS total_revenue
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg subquery)
# ---------------------------------------------------------------------------

def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from lineitems below 20% of their part's mean
    quantity, one brand. The correlated subquery decorrelates into a
    per-part aggregate joined back — the brand filter shrinks part
    first, and that small key set semi-filters lineitem via the
    broadcast join before the per-part aggregate."""
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    brand_li = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part_avg = brand_li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        brand_li.join(F.broadcast(part_avg), F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC)).alias("total_price"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0, 4).alias("avg_yearly"),
        )
    )


ORACLE_TPCH_Q17 = f"""
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#11'),
part_avg AS (
  SELECT l_partkey AS avg_partkey, avg(l_quantity) AS avg_qty
  FROM brand_li GROUP BY l_partkey)
SELECT CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) AS total_price,
       round(CAST(sum(CAST(l_extendedprice AS {_DEC})) AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM brand_li JOIN part_avg ON l_partkey = avg_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# Q18 — large-volume customers (agg-filter join, a.k.a. HAVING + IN)
# ---------------------------------------------------------------------------

def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds a threshold, with
    their customers. The HAVING subquery is a per-order aggregate that
    stays on the lineitem shuffle key; only qualifying orderkeys (a
    tiny set) flow into the customer join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 170)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


ORACLE_TPCH_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS {_DEC})) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS {_DEC})) > 170)
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       round(o_totalprice, 4) AS o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q22 (adapted) — inactive high-balance customers (anti-join + scalar avg)
# ---------------------------------------------------------------------------

def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the positive-balance average
    with no orders in the last 18 months — a scalar subquery (broadcast
    one-row join, not a driver collect) plus a left anti join, grouped
    by nation key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal")).drop("avg_bal")
    inactive = rich.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast(_DEC)).alias("totacctbal"),
    )


ORACLE_TPCH_Q22 = f"""
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(c_acctbal AS {_DEC})) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → semi join)
# ---------------------------------------------------------------------------

def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (no commit/receipt dates): orders in a quarter
    with at least one line shipped >60 days after ordering. The EXISTS
    decorrelates to a left-semi join — the lineitem side never
    duplicates orders."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    sel = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


ORACLE_TPCH_Q4 = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# ---------------------------------------------------------------------------

def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations per year —
    the nation dim joins TWICE (supplier side and customer side), both
    broadcast."""
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    pair = (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_6") | (
        F.col("supp_nation") == "NATION_6"
    ) & (F.col("cust_nation") == "NATION_9")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(_rev()).alias("revenue"))
    )


ORACLE_TPCH_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_6')
   OR (n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_9')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


# ---------------------------------------------------------------------------
# Q8 — national market share
# ---------------------------------------------------------------------------

def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's supplier share of a region's market for
    one part type, per order year — conditional-decimal-sum ratio."""
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    n_cust = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
        )
    )
    n_supp = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    vol = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .join(r, F.col("cn_rkey") == F.col("r_regionkey"))
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
    )
    target = F.when(F.col("supp_nation") == "NATION_9", _rev()).otherwise(F.lit(0).cast(_DEC))
    return (
        vol.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(target).alias("nation_volume"),
            F.sum(_rev()).alias("total_volume"),
            F.round(F.sum(target).cast("double") / F.sum(_rev()).cast("double"), 4).alias("mkt_share"),
        )
    )


ORACLE_TPCH_Q8 = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_9' THEN {_REV_SQL} ELSE CAST(0 AS {_DEC}) END) AS DOUBLE) AS nation_volume,
       CAST(sum({_REV_SQL}) AS DOUBLE) AS total_volume,
       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_9' THEN {_REV_SQL} ELSE CAST(0 AS {_DEC}) END) AS DOUBLE)
             / CAST(sum({_REV_SQL}) AS DOUBLE), 4) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
GROUP BY year(o_orderdate)
"""


# ---------------------------------------------------------------------------
# Q9 — product-type profit (decimal-exact derived measure)
# ---------------------------------------------------------------------------

def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted (no partsupp.supplycost — cost modeled as 60% of
    part retail price × quantity): profit by supplier nation and year.
    All arithmetic in decimal from raw columns so the derived measure
    hashes identically across engines."""
    # Filtered part and supplier are dims next to lineitem — explicit
    # broadcast per the module policy (round-3 verdict #1): without the
    # hint, misleading stats at scale would shuffle all of lineitem for
    # the part join. orders stays a shuffle join (fact-fact).
    p = F.broadcast(_t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")))
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    profit = (
        F.col("l_extendedprice").cast("decimal(12,4)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        - F.col("p_retailprice").cast("decimal(12,4)")
        * F.lit(0.6).cast("decimal(2,1)")
        * F.col("l_quantity").cast("decimal(12,4)")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).alias("sum_profit"))
    )


ORACLE_TPCH_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))
           - CAST(p_retailprice AS DECIMAL(12,4)) * CAST(0.6 AS DECIMAL(2,1))
             * CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (outer join + double agg)
# ---------------------------------------------------------------------------

def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, including
    zero-order customers — LEFT OUTER join with the priority filter in
    the JOIN CONDITION (a WHERE would silently drop the zero-order
    rows), then aggregate twice."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


ORACLE_TPCH_Q13 = """
WITH per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# Q16 — supplier count by part descriptor (distinct agg after join)
# ---------------------------------------------------------------------------

def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (supplier-part pairs observed through lineitem
    instead of partsupp): distinct supplier count per (brand, type,
    size) for selected sizes. Pair-distinct happens BEFORE the groupBy
    so the distinct-agg expansion stays small."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#11") & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


ORACLE_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#11' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate revenue (OR-of-ANDs pushdown)
# ---------------------------------------------------------------------------

def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three OR'd brand/size/quantity branches — the
    disjunction sits above an equi-join, so it must NOT degrade the
    join to a cartesian product (asserted in plans test)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        ((F.col("p_brand") == "Brand#11") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#22") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#25") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return joined.filter(branch).agg(F.sum(_rev()).alias("revenue"))


ORACLE_TPCH_Q19 = f"""
SELECT CAST(sum({_REV_SQL}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#25' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (multi-EXISTS via window aggs)
# ---------------------------------------------------------------------------

def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (late = shipped >60 days after order date):
    suppliers who were the SOLE late supplier on a multi-supplier order.
    The correlated EXISTS / NOT EXISTS pair decorrelates to per-order
    distinct counts computed in ONE aggregate pass — no self-joins of
    lineitem against itself."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    lo = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    late_pairs = lo.filter(F.col("is_late")).select("l_orderkey", "l_suppkey").distinct()
    culprit = (
        late_pairs.join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        culprit.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


ORACLE_TPCH_Q21 = """
WITH lo AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
         CAST(count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS BIGINT) AS n_late_supp
  FROM lo GROUP BY l_orderkey),
late_pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE is_late)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late_pairs
JOIN per_order USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Derived partsupp — closes the Q2/Q11/Q20 gap
# ---------------------------------------------------------------------------
#
# The driver schema has no partsupp table, so the three partsupp-centric
# TPC-H shapes are run over a *derived* partsupp relation computed
# identically (pure integer/decimal arithmetic) by the Spark query and the
# DuckDB oracle from the tables both sides share: 4 suppliers per part,
# dbgen-style. Distinctness of the 4 ps_suppkey values per part is
# guaranteed because the stride is floor(S/4) ≥ 1 and 3·floor(S/4) < S.
# All supplycost/availqty arithmetic is decimal/integer — no double terms —
# so the cross-engine value hash is exact.

def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: 4 (part, supplier) rows per part with
    arithmetic-derived availqty/supplycost. Scales linearly with |part|
    (explode of a 4-element sequence — no cross join against supplier;
    the supplier count enters via a 1-row broadcast)."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    scnt = _t(spark, sf_dir, "supplier").agg(F.count(F.lit(1)).alias("s_cnt"))
    return (
        part.crossJoin(F.broadcast(scnt))
        .select(
            "p_partkey",
            "s_cnt",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (
                    (F.col("p_partkey") % F.col("s_cnt"))
                    + F.col("i") * F.expr("s_cnt div 4")
                )
                % F.col("s_cnt")
            ).alias("ps_suppkey"),
            ((F.col("p_partkey") * 37 + F.col("i") * 11) % 9999 + 1)
            .cast("int")
            .alias("ps_availqty"),
            (
                ((F.col("p_partkey") * 13 + F.col("i") * 7) % 100000 + 100)
                .cast("decimal(12,0)")
                * F.lit("0.01").cast("decimal(4,2)")
            )
            .cast("decimal(12,2)")
            .alias("ps_supplycost"),
        )
    )


_PARTSUPP_SQL = """
partsupp AS (
    SELECT p_partkey AS ps_partkey,
           ((p_partkey % s_cnt) + i * (s_cnt // 4)) % s_cnt AS ps_suppkey,
           CAST((p_partkey * 37 + i * 11) % 9999 + 1 AS INTEGER) AS ps_availqty,
           CAST(CAST((p_partkey * 13 + i * 7) % 100000 + 100 AS DECIMAL(12,0))
                * CAST(0.01 AS DECIMAL(4,2)) AS DECIMAL(12,2)) AS ps_supplycost
    FROM part,
         (SELECT count(*) AS s_cnt FROM supplier),
         generate_series(0, 3) AS g(i)
)
"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated-min decorrelated to a window)
# ---------------------------------------------------------------------------

def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for STANDARD parts of mid size, the EUROPE supplier(s)
    at the per-part minimum supplycost. The classic correlated scalar
    subquery is decorrelated into ``min() OVER (PARTITION BY part)`` —
    one window pass instead of a second join against the same relation."""
    from pyspark.sql.window import Window

    ps = derived_partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 30)
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = supp.join(
        F.broadcast(
            nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
                "n_nationkey", "n_name"
            )
        ),
        supp.s_nationkey == F.col("n_nationkey"),
    )
    cand = ps.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        ps.ps_partkey == F.col("p_partkey"),
    ).join(euro_supp, ps.ps_suppkey == euro_supp.s_suppkey)
    w = Window.partitionBy("ps_partkey")
    return (
        cand.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "ps_supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_TPCH_Q2 = f"""
WITH {_PARTSUPP_SQL.strip()},
cand AS (
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost,
           min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS min_cost
    FROM partsupp
    JOIN part     ON ps_partkey = p_partkey
    JOIN supplier ON ps_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 30
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
FROM cand
WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q11 — important stock identification (global-total scalar via broadcast)
# ---------------------------------------------------------------------------

def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value for one nation's suppliers,
    kept when above a fraction of the nation total. The scalar total is a
    1-row aggregate broadcast into the HAVING predicate — no second scan
    materialization. Sums stay in decimal and are down-cast to
    DECIMAL(18,2) *before* the fraction multiply so neither engine hits
    its precision ceiling (38) and silently rounds."""
    ps = derived_partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    nsupp = supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey).select(
        "s_suppkey"
    )
    joined = ps.join(F.broadcast(nsupp), ps.ps_suppkey == F.col("s_suppkey"))
    val = F.col("ps_supplycost") * F.col("ps_availqty").cast("decimal(10,0)")
    per_part = joined.groupBy("ps_partkey").agg(
        F.sum(val).cast("decimal(18,2)").alias("value_raw")
    )
    total = joined.agg(F.sum(val).cast("decimal(18,2)").alias("total_raw"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_raw")
            > F.col("total_raw") * F.lit("0.005").cast("decimal(6,4)")
        )
        .select("ps_partkey", F.col("value_raw").cast(_DEC).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


ORACLE_TPCH_Q11 = f"""
WITH {_PARTSUPP_SQL.strip()},
nsupp AS (
    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
),
per_part AS (
    SELECT ps_partkey,
           CAST(sum(ps_supplycost * CAST(ps_availqty AS DECIMAL(10,0))) AS DECIMAL(18,2)) AS value_raw
    FROM partsupp JOIN nsupp ON ps_suppkey = s_suppkey
    GROUP BY ps_partkey
),
tot AS (
    SELECT CAST(sum(ps_supplycost * CAST(ps_availqty AS DECIMAL(10,0))) AS DECIMAL(18,2)) AS total_raw
    FROM partsupp JOIN nsupp ON ps_suppkey = s_suppkey
)
SELECT ps_partkey, CAST(value_raw AS DOUBLE) AS value
FROM per_part, tot
WHERE value_raw > total_raw * CAST(0.005 AS DECIMAL(6,4))
ORDER BY value DESC, ps_partkey
"""


# ---------------------------------------------------------------------------
# Q20 — excess-stock suppliers (semi-join over a correlated half-sum)
# ---------------------------------------------------------------------------

def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: ASIA suppliers holding more than half the quantity
    they shipped of any 'small%' part in 1996. The correlated
    ``0.5 * sum(l_quantity)`` subquery becomes a grouped aggregate joined
    back on (partkey, suppkey); quantity sums are decimal so the strict
    inequality can't flip on float association order."""
    ps = derived_partsupp(spark, sf_dir)
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("shipped_qty")
    )
    qualifying = (
        ps.join(F.broadcast(small), ps.ps_partkey == small.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(
            F.col("ps_availqty").cast("decimal(12,2)")
            > F.col("shipped_qty") * F.lit("0.5").cast("decimal(2,1)")
        )
        .select("ps_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.ps_suppkey, "left_semi")
        .join(
            F.broadcast(
                nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey).select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    )


ORACLE_TPCH_Q20 = f"""
WITH {_PARTSUPP_SQL.strip()},
shipped AS (
    SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS shipped_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_partkey, l_suppkey
),
qualifying AS (
    SELECT DISTINCT ps_suppkey
    FROM partsupp
    JOIN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%') p
      ON ps_partkey = p.p_partkey
    JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE CAST(ps_availqty AS DECIMAL(12,2)) > shipped_qty * CAST(0.5 AS DECIMAL(2,1))
)
SELECT s_name, s_acctbal, n_name
FROM supplier
JOIN qualifying ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
ORDER BY s_name
"""


QUERIES_TPCH = {
    "q_tpch_q2": q_tpch_q2,
    "q_tpch_q11": q_tpch_q11,
    "q_tpch_q20": q_tpch_q20,
    "q_tpch_q1": q_tpch_q1,
    "q_tpch_q3": q_tpch_q3,
    "q_tpch_q5": q_tpch_q5,
    "q_tpch_q6": q_tpch_q6,
    "q_tpch_q10": q_tpch_q10,
    "q_tpch_q12": q_tpch_q12,
    "q_tpch_q14": q_tpch_q14,
    "q_tpch_q15": q_tpch_q15,
    "q_tpch_q17": q_tpch_q17,
    "q_tpch_q18": q_tpch_q18,
    "q_tpch_q4": q_tpch_q4,
    "q_tpch_q7": q_tpch_q7,
    "q_tpch_q8": q_tpch_q8,
    "q_tpch_q9": q_tpch_q9,
    "q_tpch_q13": q_tpch_q13,
    "q_tpch_q16": q_tpch_q16,
    "q_tpch_q19": q_tpch_q19,
    "q_tpch_q21": q_tpch_q21,
    "q_tpch_q22": q_tpch_q22,
}

ORACLE_TPCH = {
    "q_tpch_q2": ORACLE_TPCH_Q2,
    "q_tpch_q11": ORACLE_TPCH_Q11,
    "q_tpch_q20": ORACLE_TPCH_Q20,
    "q_tpch_q1": ORACLE_TPCH_Q1,
    "q_tpch_q3": ORACLE_TPCH_Q3,
    "q_tpch_q5": ORACLE_TPCH_Q5,
    "q_tpch_q6": ORACLE_TPCH_Q6,
    "q_tpch_q10": ORACLE_TPCH_Q10,
    "q_tpch_q12": ORACLE_TPCH_Q12,
    "q_tpch_q14": ORACLE_TPCH_Q14,
    "q_tpch_q15": ORACLE_TPCH_Q15,
    "q_tpch_q17": ORACLE_TPCH_Q17,
    "q_tpch_q18": ORACLE_TPCH_Q18,
    "q_tpch_q4": ORACLE_TPCH_Q4,
    "q_tpch_q7": ORACLE_TPCH_Q7,
    "q_tpch_q8": ORACLE_TPCH_Q8,
    "q_tpch_q9": ORACLE_TPCH_Q9,
    "q_tpch_q13": ORACLE_TPCH_Q13,
    "q_tpch_q16": ORACLE_TPCH_Q16,
    "q_tpch_q19": ORACLE_TPCH_Q19,
    "q_tpch_q21": ORACLE_TPCH_Q21,
    "q_tpch_q22": ORACLE_TPCH_Q22,
}
