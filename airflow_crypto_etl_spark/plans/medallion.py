"""The medallion pipeline (Bronze → Silver → Gold → serving) as Spark jobs.

Re-expresses the reference's flagship DAG
(`/root/reference/dags/coin_data_pipeline_optimized.py:1243`, 14 Airflow
tasks) as three DataFrame transformation chains parameterized by
``ds`` and a lake root (SURVEY.md §3.4). Airflow (or any scheduler)
stays a thin control plane calling these functions.

Layer contracts (SURVEY.md §1.2):
- Bronze: schema-on-read, verbatim records, partitioned ``dt=``.
- Silver: fixed 6-column contract, hard-enforced
  (``SILVER_CONTRACT``; reference `…optimized.py:20-27`), Parquet.
- Gold: per-(dt, coin) daily metrics (`…optimized.py:795-807`).

Scale: each layer reads only its input ``dt=`` partition (partition
pruning), the Silver transform is narrow (no shuffle), the Gold rollup
shuffles one row per (coin, dt) after partial aggregation, and writes
use dynamic partition overwrite for idempotent re-runs.

Job budget: at the reference's size (one 100-record page a day) a
day's cost is per-job overhead, so :func:`run_pipeline` runs at most 8
Spark jobs, held by three rules:

- no Python-RDD source for in-memory records: Bronze is a
  JVM-local relation, parsed by the JSON reader without Python workers;
- a table is read back with the schema it was written with, so no job
  infers a parquet footer;
- one gate aggregation: the Gold quality suite's row total also serves
  the reconcile and freshness gates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .. import checks
from ..operators import aggregate as agg_ops
from ..operators import transform as tf
from ..operators.layout import local_rows
from ..session import apply_runtime_confs
from ..sinks import writers

BRONZE_COLUMNS = ["id", "symbol", "name", "current_price", "market_cap", "last_updated"]
SILVER_RENAME = {"id": "coin_id", "current_price": "price_usd", "last_updated": "timestamp"}
SILVER_CONTRACT = {
    "coin_id": "string",
    "symbol": "string",
    "name": "string",
    "price_usd": "double",
    "market_cap": "double",
    "timestamp": "timestamp",
}


def bronze_ingest(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Bronze from extracted records (S1 feeds this; schema-on-read —
    pyspark infers from the JSON structure, nothing enforced).

    The JSON lines become a JVM-local relation (``local_rows``, explicit
    ``value string`` schema so ``[]`` still yields ``struct<>``) and are
    parsed through the reader's ``Dataset[String]`` entry point: the
    same inference ``read.json(RDD)`` delegates to, without sending
    every task through a Python worker."""
    apply_runtime_confs(spark)
    import json

    lines = local_rows(spark, [(json.dumps(r),) for r in records], "value string")
    as_strings = getattr(lines._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(as_strings), spark)


def bronze_read(spark: SparkSession, lake_root: str, ds: str | None = None) -> DataFrame:
    """Bronze scan (S3): read the partitioned JSON tree; with ``ds``,
    partition pruning keeps the scan to one day."""
    apply_runtime_confs(spark)
    df = spark.read.option("multiLine", "true").json(os.path.join(lake_root, "bronze", "coins"))
    return df.filter(F.col("dt") == ds) if ds else df


def silver_transform(bronze: DataFrame) -> DataFrame:
    """P1+P2+P3+P7 — the Silver contract transform
    (`…optimized.py:401-429`): project 6 of 26, rename, cast
    (string→timestamp, →double), enforce non-null on every field."""
    out = tf.project(bronze, BRONZE_COLUMNS)
    out = tf.rename(out, SILVER_RENAME)
    out = tf.cast_columns(out, {"price_usd": "double", "market_cap": "double"})
    out = out.withColumn("timestamp", F.to_timestamp("timestamp"))
    checks.expect_schema(out, SILVER_CONTRACT)
    return tf.enforce_contract(out, not_null=list(SILVER_CONTRACT))


def silver_write(silver: DataFrame, lake_root: str, ds: str) -> dict:
    """K3+K4+K5 — partitioned, dynamically-overwritten write + sidecar."""
    out = silver.withColumn("dt", F.lit(ds))
    return writers.write_with_sidecar(
        out,
        os.path.join(lake_root, "silver", "coins"),
        ["dt"],
        dataset="coins_silver",
        source=f"bronze/coins/dt={ds}",
        ds=ds,
    )


def gold_build(silver: DataFrame, ds: str) -> DataFrame:
    """A1 — the Gold daily rollup (`…optimized.py:795-807`)."""
    g = agg_ops.gold_daily_metrics(
        silver, keys=["coin_id"], price_col="price_usd", volume_col="market_cap", round_to=None
    )
    return g.select(
        "coin_id",
        F.col("avg_price").alias("avg_price_usd"),
        F.col("min_price").alias("min_price_usd"),
        F.col("max_price").alias("max_price_usd"),
        F.col("avg_volume").alias("avg_market_cap"),
        F.lit(ds).alias("dt"),
    )


def gold_expectations() -> list:
    """The reference's Gold quality gates (`…optimized.py:1055-1123`).
    Built lazily — Column expressions need an active session."""
    return [
        checks.expect_not_null("coin_id"),
        checks.expect_positive("avg_price_usd"),
        checks.expect_non_negative("min_price_usd"),
        checks.expect_non_negative("avg_market_cap"),
        checks.Expectation("max_ge_min", F.col("max_price_usd") >= F.col("min_price_usd")),
        checks.expect_unique(["coin_id", "dt"]),
    ]


def run_pipeline(spark: SparkSession, records: list[dict], lake_root: str, ds: str) -> DataFrame:
    """The full chain for one execution date (the 14-task DAG; SURVEY.md
    §3.1). Returns the Gold frame read back from the lake.

    At most 8 Spark jobs: Bronze schema inference, the Bronze and
    Silver writes, the Gold write (2 under AQE: its shuffle, then the
    write) and one Gold gate aggregation (3 under AQE, one per query
    stage). No Python-RDD source; Silver and Gold are read back with
    the schema they were written with (``dt`` still inferred from the
    path); the row total of :func:`checks.enforce` is reconciled against
    the Gold write's observed count and must be non-zero (freshness)."""
    bronze = bronze_ingest(spark, records)
    bronze.withColumn("dt", F.lit(ds)).write.mode("overwrite").partitionBy("dt").json(
        os.path.join(lake_root, "bronze", "coins")
    )
    silver = silver_transform(bronze)
    silver_write(silver, lake_root, ds)
    silver_back = spark.read.schema(silver.schema).parquet(
        os.path.join(lake_root, "silver", "coins")
    ).filter(F.col("dt") == ds)
    gold = gold_build(silver_back.drop("dt"), ds)
    written = Observation("gold_written")
    writers.write_partitioned(
        gold.observe(written, F.count(F.lit(1)).alias("rows")),
        os.path.join(lake_root, "gold", "coins_daily"),
        ["dt"],
    )
    gold_back = spark.read.schema(gold.drop("dt").schema).parquet(
        os.path.join(lake_root, "gold", "coins_daily")
    ).filter(F.col("dt") == ds)
    rows = checks.enforce(gold_back, gold_expectations())
    checks.reconcile_counts(rows, written.get["rows"])
    checks.freshness_rows(rows, "dt", ds)
    return gold_back
