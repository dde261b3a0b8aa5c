"""Correctness-query registry: name → (spark_impl, oracle_sql).

Each entry re-expresses one operator row from SURVEY.md §2 over the
driver's star-schema testdata (TESTDATA.md). The Spark implementation is
DataFrame-API via the operator library; the oracle is ANSI SQL that
DuckDB runs on the same parquet tables. The driver compares row count,
schema, and an order-insensitive value hash — so every computed column
is aliased identically on both sides.

Numeric-determinism policy (so hashes are reproducible across engines,
partitionings, and re-runs):
- SUM over float measures casts to DECIMAL(18,4) first → exact,
  association-order-independent arithmetic.
- DECIMAL stays INTERNAL: the driver's oracle side materializes
  decimals as float64, so a DecimalType column in a registered query's
  final schema diverges at the hash boundary on representation, not
  math (round-1 root cause: 8/50 hash fails, all decimal-output).
  Every registered query is therefore wrapped with
  ``finalize_decimals`` (decimal → plain double cast — exact IEEE
  nearest on both engines, no round() cross-engine ambiguity), and
  every oracle mirrors it with ``CAST(... AS DOUBLE)`` at the final
  select. ``tests/test_oracle_parity.py`` asserts no DecimalType
  escapes.
- AVG stays double (relative fp error ~1e-12) and is rounded to 4dp.
- double→int conversions go through explicit FLOOR/ROUND (Spark CAST
  truncates, DuckDB CAST rounds — never rely on CAST).
- Window/top-k orderings always end in a unique tiebreaker column.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import aggregate as agg_ops
from .operators import joins as join_ops
from .operators import transform as tf
from .operators import upsert as upsert_ops
from .operators import windows as win_ops
from .operators.layout import local_rows
from .session import apply_runtime_confs
from .sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# sum over a money-like double measure: exact decimal arithmetic
_DEC = "decimal(18,4)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    apply_runtime_confs(spark)
    return load_table(spark, sf_dir, name)


def reap_stale(pattern: str, keep: set[str], max_age_s: int = 3600) -> None:
    """Remove scratch artifacts from PAST sessions: anything matching
    ``pattern`` that is not in ``keep`` and is older than ``max_age_s``
    (old enough that no live session owns it). One shared policy for
    /tmp roundtrip dirs and warehouse bucketed-table data, so repeated
    runs don't fill the disk."""
    import glob as _glob
    import time as _time

    cutoff = _time.time() - max_age_s
    for old in _glob.glob(pattern):
        try:
            if old not in keep and os.path.getmtime(old) < cutoff:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass


def session_suffix(spark: SparkSession) -> str:
    """Sanitized per-session discriminator for scratch names."""
    import re as _re

    return _re.sub(r"[^A-Za-z0-9]", "", spark.sparkContext.applicationId).lower()


def _scratch(spark: SparkSession, name: str) -> str:
    """Session-unique scratch path. Roundtrip queries write temp data;
    fixed /tmp names collide when two sessions run concurrently (e.g.
    the parity suite next to a driver sim — observed as TASK_WRITE_FAILED
    on the shared path), so every session gets its own; stale siblings
    are reaped via :func:`reap_stale`."""
    path = os.path.join(tempfile.gettempdir(), f"aces_{name}_{session_suffix(spark)}")
    reap_stale(os.path.join(tempfile.gettempdir(), f"aces_{name}_*"), keep={path})
    return path


def has_decimal(dt: T.DataType) -> bool:
    """True if a DecimalType occurs ANYWHERE in the type tree (top-level
    column, array element, map key/value, struct field, nested)."""
    if isinstance(dt, T.DecimalType):
        return True
    if isinstance(dt, T.ArrayType):
        return has_decimal(dt.elementType)
    if isinstance(dt, T.MapType):
        return has_decimal(dt.keyType) or has_decimal(dt.valueType)
    if isinstance(dt, T.StructType):
        return any(has_decimal(f.dataType) for f in dt.fields)
    return False


def _undecimal(dt: T.DataType) -> T.DataType:
    """The same type tree with every DecimalType replaced by DoubleType."""
    if isinstance(dt, T.DecimalType):
        return T.DoubleType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_undecimal(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_undecimal(dt.keyType), _undecimal(dt.valueType), dt.valueContainsNull)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _undecimal(f.dataType), f.nullable) for f in dt.fields]
        )
    return dt


def finalize_decimals(df: DataFrame) -> DataFrame:
    """Driver-boundary normalization: cast every DecimalType in a final
    result — including decimals nested inside arrays/maps/structs — to
    double (exact IEEE-nearest on Spark and DuckDB alike). Decimal
    arithmetic stays internal to the plan — this only rewrites the last
    Project, which whole-stage codegen collapses into the existing one,
    so there is no extra stage or shuffle."""
    if not any(has_decimal(f.dataType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            F.col(f.name).cast(_undecimal(f.dataType)).alias(f.name)
            if has_decimal(f.dataType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------

def q_gold_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flagship — the reference's Gold rollup shape
    (`/root/reference/dags/coin_data_pipeline_optimized.py:795-804`) on
    lineitem: per (returnflag, linestatus) avg/min/max(price), avg(qty)."""
    li = _t(spark, sf_dir, "lineitem")
    out = agg_ops.gold_daily_metrics(
        li, keys=["l_returnflag", "l_linestatus"], price_col="l_extendedprice", volume_col="l_quantity"
    )
    return out


ORACLE_GOLD_DAILY = """
SELECT l_returnflag, l_linestatus,
       round(avg(l_extendedprice), 4) AS avg_price,
       min(l_extendedprice)           AS min_price,
       max(l_extendedprice)           AS max_price,
       round(avg(l_quantity), 4)      AS avg_volume,
       CAST(count(*) AS BIGINT)       AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_daily_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — date-truncated groupBy (`…optimized.py:703-715`)."""
    li = _t(spark, sf_dir, "lineitem")
    return agg_ops.daily_by_date(li, key="l_returnflag", ts_col="l_shipdate", measure="l_quantity")


ORACLE_DAILY_BY_DATE = """
SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date,
       round(avg(l_quantity), 4) AS avg_measure,
       min(l_quantity)           AS min_measure,
       max(l_quantity)           AS max_measure,
       CAST(count(*) AS BIGINT)  AS n_rows
FROM lineitem
GROUP BY l_returnflag, CAST(l_shipdate AS DATE)
"""


def q_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — one-pass conditional counts (`…optimized.py:961-974`)."""
    o = _t(spark, sf_dir, "orders")
    return agg_ops.conditional_counts(
        o,
        {
            "n_open": F.col("o_orderstatus") == "O",
            "n_finished": F.col("o_orderstatus") == "F",
            "n_urgent": F.col("o_orderpriority") == "1-URGENT",
            "n_high_value": F.col("o_totalprice") > 400000.0,
        },
    )


ORACLE_CONDITIONAL_COUNT = """
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(sum(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value
FROM orders
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group (engine extension; reference has
    none, SURVEY §2.5). Spark plans this as expand + two-stage agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_COUNT_DISTINCT = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (returnflag, linestatus)."""
    li = _t(spark, sf_dir, "lineitem").withColumn("qty_dec", F.col("l_quantity").cast(_DEC))
    return agg_ops.rollup_agg(li.select("l_returnflag", "l_linestatus", "qty_dec"),
                              ["l_returnflag", "l_linestatus"], "qty_dec", round_to=4)


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn("qty_dec", F.col("l_quantity").cast(_DEC))
    return agg_ops.cube_agg(li.select("l_returnflag", "l_linestatus", "qty_dec"),
                            ["l_returnflag", "l_linestatus"], "qty_dec", round_to=4)


ORACLE_CUBE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event values wide by type (explicit domain — no discovery scan)."""
    ev = _t(spark, sf_dir, "events").withColumn("val_dec", F.col("value").cast(_DEC))
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.sum("val_dec"))
    )
    return piv.select(
        "user_id",
        F.col("click").alias("sum_click"),
        F.col("view").alias("sum_view"),
        F.col("purchase").alias("sum_purchase"),
    )


ORACLE_PIVOT_EVENTS = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)    AS sum_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)     AS sum_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE) AS sum_purchase
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Projections / filters / contracts (SURVEY §2.3)
# ---------------------------------------------------------------------------

def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2 — project & rename (`…optimized.py:401-409`)."""
    o = _t(spark, sf_dir, "orders")
    out = tf.project(o, ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"])
    return tf.rename(out, {
        "o_orderkey": "order_id", "o_orderstatus": "status",
        "o_totalprice": "total_price", "o_orderpriority": "priority",
    })


ORACLE_PROJECTION = """
SELECT o_orderkey AS order_id, o_orderstatus AS status,
       o_totalprice AS total_price, o_orderpriority AS priority
FROM orders
"""


def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/F1/F2 — type casts with engine-portable double→int semantics."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("double").alias("line_no_d"),
        F.floor("l_quantity").alias("qty_floor"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date_str"),
    )


ORACLE_CAST = """
SELECT l_orderkey, l_linenumber,
       CAST(l_linenumber AS DOUBLE)     AS line_no_d,
       CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
       CAST(l_shipdate AS DATE)          AS ship_date,
       strftime(l_shipdate, '%Y-%m-%d')  AS ship_date_str
FROM lineitem
"""


def q_derived_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — derived/literal columns (`…optimized.py:807`)."""
    o = _t(spark, sf_dir, "orders")
    return tf.derive(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"),
        {
            "dt": F.date_format("o_orderdate", "yyyy-MM-dd"),
            "source": F.lit("api"),
            "price_with_tax": F.round(F.col("o_totalprice") * 1.1, 4),
        },
    )


ORACLE_DERIVED_COL = """
SELECT o_orderkey, o_totalprice, o_orderdate,
       strftime(o_orderdate, '%Y-%m-%d') AS dt,
       'api' AS source,
       round(o_totalprice * 1.1, 4) AS price_with_tax
FROM orders
"""


def q_filter_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — null-audit counts (quality gates `…optimized.py:1081-1118`)."""
    li = _t(spark, sf_dir, "lineitem")
    return agg_ops.conditional_counts(
        li,
        {
            "n_null_qty": F.col("l_quantity").isNull(),
            "n_null_flag": F.col("l_returnflag").isNull(),
            "n_null_ship": F.col("l_shipdate").isNull(),
        },
    )


ORACLE_FILTER_NULL = """
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_qty,
       CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_flag,
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_ship
FROM lineitem
"""


def q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F5 — range predicates + exact revenue (TPC-H Q6 shape; decimal
    sum so the result is partition-order independent)."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(_DEC)).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_FILTER_RANGE = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_contract_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — contract audit: total rows vs rows violating the Silver-style
    contract (not-null + positivity, `…optimized.py:20-27,419-429`)."""
    li = _t(spark, sf_dir, "lineitem")
    viol = tf.contract_violations(
        li, not_null=["l_orderkey", "l_shipdate"], positive=["l_quantity", "l_extendedprice"]
    )
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    bad = viol.agg(F.count(F.lit(1)).alias("n_violations"))
    return total.crossJoin(bad).withColumn("contract_ok", F.col("n_violations") == 0)


ORACLE_CONTRACT_ENFORCE = """
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN l_orderkey IS NULL OR l_shipdate IS NULL
                       OR NOT (l_quantity > 0) OR NOT (l_extendedprice > 0)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       sum(CASE WHEN l_orderkey IS NULL OR l_shipdate IS NULL
                  OR NOT (l_quantity > 0) OR NOT (l_extendedprice > 0)
                THEN 1 ELSE 0 END) = 0 AS contract_ok
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4)
# ---------------------------------------------------------------------------

def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact ⋈ dims revenue rollup (TPC-H Q5 shape). The fact side is
    pre-aggregated to one row per order key BEFORE the only shuffle join
    (partial-agg pushdown below the join: decimal sums re-sum exactly, so
    the result is bit-identical to aggregating after the join), then every
    dimension lookup is a broadcast. At 100 TB the orderkey shuffle carries
    ~#orders pre-reduced rows instead of ~4x that in raw line items; sf1
    probe: 2.3-4.1 s -> 1.4 s."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    pre = li.groupBy("l_orderkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)).alias("_rev"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    fact = pre.join(o, pre.l_orderkey == o.o_orderkey, "inner")
    full = join_ops.star_join(
        fact.withColumnRenamed("o_custkey", "c_custkey"),
        [(c, "c_custkey"), (n.withColumnRenamed("n_nationkey", "c_nationkey"), "c_nationkey"),
         (r.withColumnRenamed("r_regionkey", "n_regionkey"), "n_regionkey")],
    )
    return full.groupBy("r_name", "n_name").agg(
        F.sum("_rev").alias("revenue"),
        F.sum("_cnt").alias("n_rows"),
    )


ORACLE_STAR_JOIN = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface: customers with vs without orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_orders = c.join(o, "c_custkey", "left_semi").agg(F.count(F.lit(1)).alias("n"))
    without = c.join(o, "c_custkey", "left_anti").agg(F.count(F.lit(1)).alias("n"))
    return (
        with_orders.withColumn("kind", F.lit("with_orders"))
        .unionByName(without.withColumn("kind", F.lit("without_orders")))
        .select("kind", "n")
    )


ORACLE_SEMI_ANTI_JOIN = """
SELECT 'with_orders' AS kind, CAST(count(*) AS BIGINT) AS n
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'without_orders' AS kind, CAST(count(*) AS BIGINT) AS n
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_reconcile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — cross-system count reconciliation (`…optimized.py:996-1046`):
    base table vs its per-key rollup must agree on total rows."""
    li = _t(spark, sf_dir, "lineitem")
    dst = li.groupBy("l_orderkey", "l_linenumber").agg(F.first("l_quantity"))
    return join_ops.reconcile_counts(li, dst)


ORACLE_RECONCILE_COUNTS = """
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS src_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2)) AS dst_rows,
       (SELECT count(*) FROM lineitem) = (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2)) AS counts_match
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: bucket event values into fixed bands via a
    broadcast interval table."""
    ev = _t(spark, sf_dir, "events")
    buckets = local_rows(
        spark,
        [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e9)],
        T.StructType([
            T.StructField("band", T.StringType(), False),
            T.StructField("lo", T.DoubleType(), False),
            T.StructField("hi", T.DoubleType(), False),
        ]),
    )
    joined = join_ops.range_join(ev, buckets, "value", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
    )


ORACLE_RANGE_JOIN = """
SELECT band, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 200.0), ('high', 200.0, 1e9)) AS b(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the latest prior click by the
    same user (composed equi-join + window; SURVEY §2.4 note)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = join_ops.asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts", right_cols=["ts"]
    )
    return out.select("event_id", "user_id", "ts", F.col("r_ts").alias("last_click_ts"))


def q_asof_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JVM-only asof strategy (equi-join + unique-row-id max_by
    collapse) against the same DuckDB ASOF oracle — both compositions
    must agree exactly; `pairs` is the small/cold-key alternative, the
    cogrouped merge path is the default (hot keys make candidate
    enumeration quadratic)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = join_ops.asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["ts"], strategy="pairs",
    )
    return out.select("event_id", "user_id", "ts", F.col("r_ts").alias("last_click_ts"))


ORACLE_ASOF_JOIN = """
SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# Windows / sort / top-k (SURVEY §2.6, §2.7)
# ---------------------------------------------------------------------------

def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user (`…optimized.py:669` upsert-key semantics)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "value", "event_id")
    return win_ops.latest_per_key(ev, key="user_id", ts_col="ts", tiebreak="event_id")


ORACLE_LATEST_PER_KEY = """
SELECT user_id, ts, event_type, value, event_id
FROM (SELECT user_id, ts, event_type, value, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — sort semantics made value-visible: rank within status by
    price (deterministic tiebreak on key). o_orderstatus has THREE
    values, so a plain partitioned window is three giant sort tasks at
    100 TB — this is the DISTRIBUTED grouped rank instead
    (operators/rank.grouped_rank: price-quantile buckets × status
    partitions + literal carry-ins)."""
    from .operators import rank as rk

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    r = rk.grouped_rank(
        o,
        ["o_orderstatus"],
        [("o_totalprice", False), ("o_orderkey", True)],
        out="price_rank",
    )
    return r.withColumn("price_rank", F.col("price_rank").cast("int"))


ORACLE_SORT = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       CAST(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS price_rank
FROM orders
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2 — global top-10 by price. Spark plans orderBy+limit as
    TakeOrderedAndProject (per-partition top-k + driver merge — no full
    sort, no single-partition shuffle; scales to any input size)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority class (window top-k)."""
    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice")
    from pyspark.sql import Window
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return o.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


ORACLE_TOPK_PER_GROUP = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 3
"""


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window: 7-row trailing moving average of order totals
    per customer (SURVEY §2.6 — the time-series analytics the gold layer
    exists for)."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    return win_ops.moving_avg(o, key="o_custkey", order_cols=["o_orderdate", "o_orderkey"],
                              measure="o_totalprice", window_rows=7)


ORACLE_MOVING_AVG = """
SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
       round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mavg_o_totalprice
FROM orders
"""


# ---------------------------------------------------------------------------
# Set ops / scans / scalar functions (SURVEY §2.8, §2.1, §2.9)
# ---------------------------------------------------------------------------

def q_union_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit partition-union (SURVEY §2.8): two disjoint year slices
    unioned then rolled up — the multi-`dt` Bronze read."""
    li = _t(spark, sf_dir, "lineitem")
    y95 = li.filter(F.year("l_shipdate") == 1995)
    y96 = li.filter(F.year("l_shipdate") == 1996)
    return (
        y95.unionByName(y96)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"))
    )


ORACLE_UNION_PARTITIONS = """
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM (
  SELECT * FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1995
  UNION ALL
  SELECT * FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1996
)
GROUP BY 1
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT/INTERSECT surface: customer keys without orders (EXCEPT) and
    with orders (INTERSECT), as counts."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    ex = c.exceptAll(o.distinct()).agg(F.count(F.lit(1)).alias("n"))
    inter = c.intersect(o).agg(F.count(F.lit(1)).alias("n"))
    return (
        ex.withColumn("op", F.lit("except"))
        .unionByName(inter.withColumn("op", F.lit("intersect")))
        .select("op", "n")
    )


ORACLE_SET_OPS = """
SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT c_custkey FROM customer EXCEPT ALL SELECT DISTINCT o_custkey FROM orders)
UNION ALL
SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
"""


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — parquet scan with pushed-down predicate + pruned columns
    (`…optimized.py:791-792`). Explain shows PushedFilters + 4-col
    ReadSchema."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-03-01") & (F.col("l_shipdate") < "1995-04-01")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


ORACLE_SCAN_PARQUET = """
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-04-01'
"""


def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — CSV scan with explicit schema (`…optimized.py:221`): round-trip
    the region dim through CSV and read it back (no inference pass)."""
    r = _t(spark, sf_dir, "region")
    tmp = _scratch(spark, "csv_roundtrip")
    shutil.rmtree(tmp, ignore_errors=True)
    r.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    schema = T.StructType([
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ])
    return spark.read.option("header", "true").schema(schema).csv(tmp)


ORACLE_SCAN_CSV = "SELECT r_regionkey, r_name FROM region"


def q_rest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — the REST Python DataSource scanning recorded CoinGecko
    `/coins/markets` JSON end-to-end (`…optimized.py:158-183`): a real
    `spark.read.format("paged_rest")` scan node whose page partitions
    read the fixture instead of the network. The oracle reads the same
    fixture file with DuckDB's JSON reader."""
    from .sources.rest import FIXTURE_PATH, register_rest_source

    apply_runtime_confs(spark)
    if not register_rest_source(spark):  # pragma: no cover - old pyspark
        raise NotImplementedError("Python DataSource API unavailable")
    return (
        spark.read.format("paged_rest")
        .option("fixture_path", FIXTURE_PATH)
        .option("pages", "2")
        .option("per_page", "100")
        .load()
    )


def _rest_oracle() -> str:
    from .sources.rest import FIXTURE_PATH

    cols = (
        "{page: 'INTEGER', id: 'VARCHAR', symbol: 'VARCHAR', name: 'VARCHAR', "
        "current_price: 'DOUBLE', market_cap: 'DOUBLE', last_updated: 'VARCHAR'}"
    )
    return f"""
SELECT id, symbol, name, current_price, market_cap, last_updated
FROM read_json('{FIXTURE_PATH}', format='array', columns={cols})
WHERE page <= 2
"""


ORACLE_REST_SCAN = _rest_oracle()


def q_string_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — string/date formatting functions (`…optimized.py:139,224`)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.concat_ws(":", "c_mktsegment", "c_name").alias("tagged"),
        F.length("c_name").alias("name_len"),
    )


ORACLE_STRING_FMT = """
SELECT c_custkey, upper(c_name) AS uname, substr(c_name, 1, 8) AS prefix,
       concat(c_mktsegment, ':', c_name) AS tagged,
       CAST(length(c_name) AS INTEGER) AS name_len
FROM customer
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — JSON field extraction (`…optimized.py:229,398`) over
    events.props, rolled up per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_JSON_EXTRACT = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


def q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (engine extension): stddev/variance (rounded
    — accumulation order differs across engines) and exact-interpolation
    percentiles (rounded at 6dp for last-ulp interpolation differences)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_STATS = """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_samp(l_quantity), 6) AS var_qty,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS median_price,
       round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def q_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F4 extended — the calendar-function surface."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),  # 1=Sunday
        F.weekofyear("o_orderdate").alias("woy"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("plus30"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch0"),
    )


ORACLE_DATE_PARTS = """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mon,
       CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
       CAST(EXTRACT(week FROM o_orderdate) AS INTEGER) AS woy,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate AS DATE) + 30 AS plus30,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch0
FROM orders
"""


def q_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface (extension; reference has none — SURVEY §2.9):
    extract/replace/match over names and JSON-ish props."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_digits"),
        F.regexp_replace("c_name", r"\d", "#").alias("masked"),
        F.col("c_name").rlike(r"\d{3}").alias("has_3_digits"),
        F.regexp_extract("c_mktsegment", r"^([A-Z]+)", 1).alias("seg_word"),
    )


ORACLE_REGEX = r"""
SELECT c_custkey,
       regexp_extract(c_name, '(\d+)', 1) AS name_digits,
       regexp_replace(c_name, '\d', '#', 'g') AS masked,
       regexp_matches(c_name, '\d{3}') AS has_3_digits,
       regexp_extract(c_mktsegment, '^([A-Z]+)', 1) AS seg_word
FROM customer
"""


def q_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 extended — math function surface. ln/exp/pow/sqrt are
    correctly-rounded in both engines (bit-identical, no rounding
    needed); ceil/floor go through explicit BIGINT casts."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.ln("l_extendedprice").alias("ln_price"),
        F.exp("l_discount").alias("exp_disc"),
        F.pow("l_quantity", F.lit(1.5)).alias("qty_pow"),
        F.sqrt("l_extendedprice").alias("sqrt_price"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.abs(F.col("l_extendedprice") * -1.0).alias("abs_price"),
    )


ORACLE_MATH = """
SELECT l_orderkey, l_linenumber,
       ln(l_extendedprice) AS ln_price,
       exp(l_discount) AS exp_disc,
       pow(l_quantity, 1.5) AS qty_pow,
       sqrt(l_extendedprice) AS sqrt_price,
       CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
       abs(l_extendedprice * -1.0) AS abs_price
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Upsert semantics (SURVEY §2.2 K7/K8)
# ---------------------------------------------------------------------------

def _upsert_frames(spark: SparkSession, sf_dir: str):
    o = _t(spark, sf_dir, "orders")
    target = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", F.lit("t").alias("origin"), F.col("o_totalprice").alias("val"))
    )
    # plain IEEE add — bit-identical in any engine, unlike round(x*1.05, 2)
    updates = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", F.lit("u").alias("origin"),
                (F.col("o_totalprice") + 1000.0).alias("val"))
    )
    return target, updates


def q_upsert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — ON CONFLICT DO NOTHING (`…optimized.py:578-589,652-683`):
    first-writer-wins merge of a target and an update batch."""
    target, updates = _upsert_frames(spark, sf_dir)
    return upsert_ops.upsert_ignore(target, updates, keys=["o_orderkey"], tiebreak="val")


ORACLE_UPSERT_IGNORE = """
WITH t AS (SELECT o_orderkey, 't' AS origin, o_totalprice AS val
           FROM orders WHERE o_orderkey % 2 = 0),
     u AS (SELECT o_orderkey, 'u' AS origin, o_totalprice + 1000.0 AS val
           FROM orders WHERE o_orderkey % 3 = 0),
     m AS (SELECT *, 0 AS src FROM t UNION ALL SELECT *, 1 AS src FROM u)
SELECT o_orderkey, origin, val FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src ASC, val ASC) AS rn FROM m)
WHERE rn = 1
"""


def q_upsert_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — ON CONFLICT DO UPDATE (`…optimized.py:884-941`):
    last-writer-wins merge."""
    target, updates = _upsert_frames(spark, sf_dir)
    return upsert_ops.upsert_update(target, updates, keys=["o_orderkey"], tiebreak="val")


ORACLE_UPSERT_UPDATE = """
WITH t AS (SELECT o_orderkey, 't' AS origin, o_totalprice AS val
           FROM orders WHERE o_orderkey % 2 = 0),
     u AS (SELECT o_orderkey, 'u' AS origin, o_totalprice + 1000.0 AS val
           FROM orders WHERE o_orderkey % 3 = 0),
     m AS (SELECT *, 0 AS src FROM t UNION ALL SELECT *, 1 AS src FROM u)
SELECT o_orderkey, origin, val FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC, val ASC) AS rn FROM m)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QueryFn] = {
    "q_gold_daily": q_gold_daily,
    "q_daily_by_date": q_daily_by_date,
    "q_conditional_count": q_conditional_count,
    "q_count_distinct": q_count_distinct,
    "q_rollup": q_rollup,
    "q_cube": q_cube,
    "q_pivot_events": q_pivot_events,
    "q_projection": q_projection,
    "q_cast": q_cast,
    "q_derived_col": q_derived_col,
    "q_filter_null": q_filter_null,
    "q_filter_range": q_filter_range,
    "q_contract_enforce": q_contract_enforce,
    "q_star_join": q_star_join,
    "q_semi_anti_join": q_semi_anti_join,
    "q_reconcile_counts": q_reconcile_counts,
    "q_range_join": q_range_join,
    "q_asof_join": q_asof_join,
    "q_asof_join_pairs": q_asof_join_pairs,
    "q_latest_per_key": q_latest_per_key,
    "q_sort": q_sort,
    "q_topk": q_topk,
    "q_topk_per_group": q_topk_per_group,
    "q_moving_avg": q_moving_avg,
    "q_union_partitions": q_union_partitions,
    "q_set_ops": q_set_ops,
    "q_scan_parquet": q_scan_parquet,
    "q_scan_csv": q_scan_csv,
    "q_rest_scan": q_rest_scan,
    "q_string_fmt": q_string_fmt,
    "q_stats": q_stats,
    "q_date_parts": q_date_parts,
    "q_regex": q_regex,
    "q_math": q_math,
    "q_json_extract": q_json_extract,
    "q_upsert_ignore": q_upsert_ignore,
    "q_upsert_update": q_upsert_update,
}

ORACLE: dict[str, str] = {
    "q_gold_daily": ORACLE_GOLD_DAILY,
    "q_daily_by_date": ORACLE_DAILY_BY_DATE,
    "q_conditional_count": ORACLE_CONDITIONAL_COUNT,
    "q_count_distinct": ORACLE_COUNT_DISTINCT,
    "q_rollup": ORACLE_ROLLUP,
    "q_cube": ORACLE_CUBE,
    "q_pivot_events": ORACLE_PIVOT_EVENTS,
    "q_projection": ORACLE_PROJECTION,
    "q_cast": ORACLE_CAST,
    "q_derived_col": ORACLE_DERIVED_COL,
    "q_filter_null": ORACLE_FILTER_NULL,
    "q_filter_range": ORACLE_FILTER_RANGE,
    "q_contract_enforce": ORACLE_CONTRACT_ENFORCE,
    "q_star_join": ORACLE_STAR_JOIN,
    "q_semi_anti_join": ORACLE_SEMI_ANTI_JOIN,
    "q_reconcile_counts": ORACLE_RECONCILE_COUNTS,
    "q_range_join": ORACLE_RANGE_JOIN,
    "q_asof_join": ORACLE_ASOF_JOIN,
    "q_asof_join_pairs": ORACLE_ASOF_JOIN,
    "q_latest_per_key": ORACLE_LATEST_PER_KEY,
    "q_sort": ORACLE_SORT,
    "q_topk": ORACLE_TOPK,
    "q_topk_per_group": ORACLE_TOPK_PER_GROUP,
    "q_moving_avg": ORACLE_MOVING_AVG,
    "q_union_partitions": ORACLE_UNION_PARTITIONS,
    "q_set_ops": ORACLE_SET_OPS,
    "q_scan_parquet": ORACLE_SCAN_PARQUET,
    "q_scan_csv": ORACLE_SCAN_CSV,
    "q_rest_scan": ORACLE_REST_SCAN,
    "q_string_fmt": ORACLE_STRING_FMT,
    "q_stats": ORACLE_STATS,
    "q_date_parts": ORACLE_DATE_PARTS,
    "q_regex": ORACLE_REGEX,
    "q_math": ORACLE_MATH,
    "q_json_extract": ORACLE_JSON_EXTRACT,
    "q_upsert_ignore": ORACLE_UPSERT_IGNORE,
    "q_upsert_update": ORACLE_UPSERT_UPDATE,
}
