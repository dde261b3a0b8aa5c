"""The reference's 14-task DAG as plain, scheduler-free callables.

The reference chains 14 Airflow tasks
(`/root/reference/dags/coin_data_pipeline_optimized.py:1243`):

    create_tables >> extract >> upload_raw_to_s3
    >> transform_bronze_to_silver >> validate >> load_dim >> load_fact
    >> build_gold_minio >> load_gold_postgres >> validate_gold_row_count
    >> validate_gold_sanity >> validate_gold_freshness
    >> validate_gold_sla >> validate_gold

Here each stage is a plain function taking one ``ctx`` dict (the
engine's analogue of Airflow context + XCom): ``ds`` and ``lake_root``
parameterize every layer job exactly as the reference's templated
``{{ ds }}`` does, ``warehouse_url`` is the serving database (embedded
Derby in tests; any JDBC URL in production), and stages communicate
only through the lake/warehouse plus small ctx entries — so the same
callables run under Airflow's PythonOperator, a cron script, or a
test loop unchanged (``TASKS`` is the ordered chain).

Airflow itself stays optional: :func:`build_dag` (see
``airflow_dag_example``) wraps these same callables when a scheduler
is present.
"""

from __future__ import annotations

import os
from datetime import date, datetime, time, timedelta, timezone

from pyspark.sql import functions as F

from .. import checks
from ..sinks import writers
from ..sinks.jdbc_upsert import append_jdbc, execute_jdbc_statement, merge_upsert_jdbc
from ..sources.jdbc import read_jdbc
from ..sources.rest import FIXTURE_PATH, fetch_to_dataframe, fixture_fetcher
from . import medallion

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def create_tables(ctx: dict) -> None:
    """Stage 1 — serving-layer DDL (reference: SQLAlchemy create_all).
    Idempotent: existing tables are left in place (re-runs are the DAG
    norm)."""
    ddl = {
        "dim_coin": (
            "CREATE TABLE dim_coin ("
            '"coin_id" VARCHAR(64) PRIMARY KEY, "symbol" VARCHAR(32), '
            '"name" VARCHAR(128))'
        ),
        "fact_price": (
            "CREATE TABLE fact_price ("
            '"coin_id" VARCHAR(64), "dt" VARCHAR(10), '
            '"price_usd" DOUBLE, "market_cap" DOUBLE)'
        ),
        "gold_coins_daily": (
            "CREATE TABLE gold_coins_daily ("
            '"coin_id" VARCHAR(64), "dt" VARCHAR(10), '
            '"avg_price_usd" DOUBLE, "min_price_usd" DOUBLE, '
            '"max_price_usd" DOUBLE, "avg_market_cap" DOUBLE)'
        ),
    }
    for table, stmt in ddl.items():
        try:
            execute_jdbc_statement(ctx["spark"], ctx["warehouse_url"], stmt)
        except Exception as exc:  # Derby: "already exists" = X0Y32
            if "X0Y32" not in str(exc) and "already exists" not in str(exc):
                raise


def extract(ctx: dict) -> None:
    """Stage 2 — S1: paged REST extract through the custom DataSource
    (fixture-backed in this environment; a requests fetcher in prod)."""
    raw = fetch_to_dataframe(
        ctx["spark"],
        fetcher=fixture_fetcher(ctx.get("fixture_path", FIXTURE_PATH)),
        pages=ctx.get("pages", 1),
    )
    ctx["records"] = [r.asDict() for r in raw.collect()]


def upload_raw(ctx: dict) -> None:
    """Stage 3 — K2: verbatim Bronze JSON, dt-partitioned (the
    reference's upload_raw_to_s3; lake_root plays the bucket)."""
    bronze = medallion.bronze_ingest(ctx["spark"], ctx["records"])
    (
        bronze.withColumn("dt", F.lit(ctx["ds"]))
        .write.mode("overwrite")
        .partitionBy("dt")
        .json(os.path.join(ctx["lake_root"], "bronze", "coins"))
    )


def transform_bronze_to_silver(ctx: dict) -> None:
    """Stage 4 — the Silver contract transform + partitioned write,
    reading ONLY this ds's Bronze partition (partition pruning)."""
    bronze = medallion.bronze_read(ctx["spark"], ctx["lake_root"], ctx["ds"])
    silver = medallion.silver_transform(bronze.drop("dt"))
    ctx["silver_sidecar"] = medallion.silver_write(silver, ctx["lake_root"], ctx["ds"])


def _silver(ctx: dict):
    return (
        ctx["spark"]
        .read.parquet(os.path.join(ctx["lake_root"], "silver", "coins"))
        .filter(F.col("dt") == ctx["ds"])
    )


def validate(ctx: dict) -> None:
    """Stage 5 — the GE-style Silver gates (schema done at transform
    time; here row-level non-null/positivity, hard-fail on violation)."""
    checks.enforce(
        _silver(ctx),
        [
            checks.expect_not_null("coin_id"),
            checks.expect_not_null("timestamp"),
            checks.expect_positive("price_usd"),
            checks.expect_non_negative("market_cap"),
        ],
    )


def load_dim(ctx: dict) -> None:
    """Stage 6 — K7: dim_coin upsert-IGNORE (dims are append-new-keys;
    first writer wins, re-runs are no-ops)."""
    dim = _silver(ctx).select("coin_id", "symbol", "name").dropDuplicates(["coin_id"])
    # createTableColumnTypes: Spark's Derby dialect maps StringType to
    # CLOB, which MERGE cannot compare against the VARCHAR target —
    # pin the staging DDL to VARCHAR
    merge_upsert_jdbc(
        dim,
        ctx["warehouse_url"],
        "dim_coin",
        ["coin_id"],
        update=False,
        driver=DERBY_DRIVER,
        createTableColumnTypes="coin_id VARCHAR(64), symbol VARCHAR(32), name VARCHAR(128)",
    )


def _ds(ctx: dict) -> str:
    """``ctx["ds"]``, checked to be an ISO date (``YYYY-MM-DD``) before
    it is spliced into SQL text."""
    ds = ctx["ds"]
    try:
        if date.fromisoformat(ds).isoformat() == ds:
            return ds
    except (TypeError, ValueError):
        pass
    raise checks.CheckFailure(f"ds is not an ISO date: {ds!r}")


def load_fact(ctx: dict) -> None:
    """Stage 7 — K6: fact append (one batch of price observations per
    ds; idempotency guard = delete-this-ds-first, the reference's
    pattern for re-runs)."""
    execute_jdbc_statement(
        ctx["spark"],
        ctx["warehouse_url"],
        f"DELETE FROM fact_price WHERE \"dt\" = '{_ds(ctx)}'",
    )
    fact = _silver(ctx).select(
        "coin_id", F.lit(ctx["ds"]).alias("dt"), "price_usd", "market_cap"
    )
    append_jdbc(fact, ctx["warehouse_url"], "fact_price", driver=DERBY_DRIVER)


def build_gold(ctx: dict) -> None:
    """Stage 8 — A1: the Gold daily rollup, written dt-partitioned to
    the lake (the reference's build_gold_minio)."""
    gold = medallion.gold_build(_silver(ctx).drop("dt"), ctx["ds"])
    writers.write_partitioned(
        gold, os.path.join(ctx["lake_root"], "gold", "coins_daily"), ["dt"]
    )


def _gold(ctx: dict):
    return (
        ctx["spark"]
        .read.parquet(os.path.join(ctx["lake_root"], "gold", "coins_daily"))
        .filter(F.col("dt") == ctx["ds"])
    )


def load_gold_warehouse(ctx: dict) -> None:
    """Stage 9 — K8: Gold into the serving database, upsert-UPDATE
    (last writer wins so re-runs refresh the serving copy; the
    reference's load_gold_postgres ON CONFLICT DO UPDATE)."""
    merge_upsert_jdbc(
        _gold(ctx).select(
            "coin_id", "dt", "avg_price_usd", "min_price_usd", "max_price_usd", "avg_market_cap"
        ),
        ctx["warehouse_url"],
        "gold_coins_daily",
        ["coin_id", "dt"],
        update=True,
        driver=DERBY_DRIVER,
        createTableColumnTypes="coin_id VARCHAR(64), dt VARCHAR(10)",
    )


def validate_gold_row_count(ctx: dict) -> None:
    """Stage 10 — J2: Gold rows must reconcile 1:1 with Silver's
    distinct coins for the ds."""
    n_gold = _gold(ctx).count()
    n_coins = _silver(ctx).select("coin_id").distinct().count()
    if n_gold != n_coins:
        raise checks.CheckFailure(f"gold rows {n_gold} != distinct coins {n_coins}")


def validate_gold_sanity(ctx: dict) -> None:
    """Stage 11 — the Gold quality gates (positive prices, max≥min,
    unique key)."""
    checks.enforce(_gold(ctx), medallion.gold_expectations())


def validate_gold_freshness(ctx: dict) -> None:
    """Stage 12 — the freshest partition must be this run's ds."""
    checks.freshness(_gold(ctx), "dt", ctx["ds"])


def validate_gold_sla(ctx: dict) -> None:
    """Stage 13 — SLA gate: the run must complete before the deadline
    (09:00 UTC next day in the reference). ``now`` is injected via ctx
    so the gate is testable both ways."""
    ds = datetime.fromisoformat(ctx["ds"]).date()
    deadline = datetime.combine(ds, time(hour=9), tzinfo=timezone.utc) + ctx.get(
        "sla_grace", timedelta(days=1)
    )
    now = ctx.get("now") or datetime.now(timezone.utc)
    if now > deadline:
        raise checks.CheckFailure(f"gold SLA missed: {now} > {deadline}")


def validate_gold(ctx: dict) -> None:
    """Stage 14 — final end-to-end gate: the serving copy (warehouse)
    must value-match the lake's Gold for the ds."""
    back = read_jdbc(
        ctx["spark"],
        url=ctx["warehouse_url"],
        query=f"SELECT * FROM gold_coins_daily WHERE \"dt\" = '{_ds(ctx)}'",
        driver=DERBY_DRIVER,
    )
    checks.reconcile(back, _gold(ctx))


TASKS = [
    ("create_tables", create_tables),
    ("extract", extract),
    ("upload_raw", upload_raw),
    ("transform_bronze_to_silver", transform_bronze_to_silver),
    ("validate", validate),
    ("load_dim", load_dim),
    ("load_fact", load_fact),
    ("build_gold", build_gold),
    ("load_gold_warehouse", load_gold_warehouse),
    ("validate_gold_row_count", validate_gold_row_count),
    ("validate_gold_sanity", validate_gold_sanity),
    ("validate_gold_freshness", validate_gold_freshness),
    ("validate_gold_sla", validate_gold_sla),
    ("validate_gold", validate_gold),
]


def run_chain(ctx: dict, tasks=None) -> list[str]:
    """Invoke the chain in order (what the scheduler would do);
    returns the completed task ids."""
    done = []
    for task_id, fn in tasks or TASKS:
        fn(ctx)
        done.append(task_id)
    return done
