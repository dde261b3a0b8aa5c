"""Golden replay (SURVEY.md §5c): Bronze→Silver→Gold on the reference's
captured 2026-01-13 snapshot must value-match the captured Silver/Gold
parquet, plus an end-to-end pipeline run on a temp lake."""

from __future__ import annotations

import math

import pytest

from airflow_crypto_etl_spark.plans import medallion

from reference_lake import bronze_records, gold_table, silver_table

DS = "2026-01-13"


@pytest.fixture(scope="module")
def bronze(spark):
    return medallion.bronze_ingest(spark, bronze_records(DS))


def test_silver_golden_replay(spark, bronze):
    silver = medallion.silver_transform(bronze)
    got = {
        r["coin_id"]: r for r in silver.collect()
    }
    expected = silver_table(DS).to_pylist()
    assert len(got) == len(expected) == 100
    for e in expected:
        g = got[e["coin_id"]]
        assert g["symbol"] == e["symbol"] and g["name"] == e["name"]
        assert math.isclose(g["price_usd"], e["price_usd"], rel_tol=1e-12)
        assert math.isclose(g["market_cap"], e["market_cap"], rel_tol=1e-12)
        # captured is tz-aware ns; ours is session-UTC micros
        assert g["timestamp"].replace(tzinfo=None) == e["timestamp"].replace(tzinfo=None)


def test_gold_golden_replay(spark, bronze):
    gold = medallion.gold_build(medallion.silver_transform(bronze), DS)
    got = {r["coin_id"]: r for r in gold.collect()}
    expected = gold_table(DS).to_pylist()
    assert len(got) == len(expected) == 100
    for e in expected:
        g = got[e["coin_id"]]
        for c in ["avg_price_usd", "min_price_usd", "max_price_usd", "avg_market_cap"]:
            assert math.isclose(g[c], e[c], rel_tol=1e-12), (c, g[c], e[c])
        assert g["dt"] == e["dt"] == DS


def test_pipeline_end_to_end(spark, bronze, tmp_path):
    lake = str(tmp_path / "lake")
    gold = medallion.run_pipeline(spark, bronze_records(DS), lake, DS)
    assert gold.count() == 100
    # idempotent re-run (dynamic partition overwrite): same result
    gold2 = medallion.run_pipeline(spark, bronze_records(DS), lake, DS)
    assert gold2.count() == 100
    from airflow_crypto_etl_spark.sinks.writers import read_sidecar

    meta = read_sidecar(f"{lake}/silver/coins")
    assert meta["row_count"] == 100 and meta["schema_version"] == "v1"


def test_contract_enforcement_aborts_on_bad_rows(spark, bronze):
    import pyspark.sql.functions as F
    from py4j.protocol import Py4JJavaError

    bad = bronze.withColumn(
        "current_price", F.when(F.col("id") == "bitcoin", None).otherwise(F.col("current_price"))
    )
    silver = medallion.silver_transform(bad)
    with pytest.raises(Exception) as exc:
        silver.collect()
    assert "must not be null" in str(exc.value)


GE_SUITE = "/root/reference/great_expectations/expectations/coin_data_suite.json"
GE_CHECKPOINT_SUITE = "/root/reference/great_expectations/checkpoints/coin_data_checkpoint.yml"


def test_ge_suite_file_checkpoint_on_silver(spark, bronze):
    """The captured GE suite file, compiled and enforced on the replayed
    Silver snapshot — the reference's persistent-context checkpoint flow
    (`great_expectations.yml:27-41`, `crypto_etl_datawarehouse_day10.py:70-78`)
    driven from the suite FILE, not hand-written expectations."""
    import os

    from airflow_crypto_etl_spark import checks

    if not os.path.exists(GE_SUITE):
        pytest.skip("reference GE suite not available")
    silver = medallion.silver_transform(bronze)
    report = checks.enforce_ge_suite(silver, GE_SUITE).collect()
    assert report and all(r["passed"] for r in report)
    names = {r["check"] for r in report}
    assert {"coin_id_not_null", "timestamp_not_null", "price_usd_gt_0", "market_cap_gt_0"} <= names


def test_ge_checkpoint_suite_type_gate(spark, bronze):
    """The (misnamed) checkpoint-dir suite declares market_cap as int —
    the warehouse DDL's type. Against double Silver it must fail fast;
    against the warehouse-shaped cast it passes."""
    import os

    import pyspark.sql.functions as F

    from airflow_crypto_etl_spark import checks

    if not os.path.exists(GE_CHECKPOINT_SUITE):
        pytest.skip("reference GE checkpoint suite not available")
    silver = medallion.silver_transform(bronze)
    with pytest.raises(checks.CheckFailure, match="market_cap"):
        checks.enforce_ge_suite(silver, GE_CHECKPOINT_SUITE)
    warehouse_shaped = silver.withColumn("market_cap", F.col("market_cap").cast("bigint"))
    report = checks.enforce_ge_suite(warehouse_shaped, GE_CHECKPOINT_SUITE).collect()
    assert report and all(r["passed"] for r in report)


def test_json_quarantine_splits_good_and_malformed(spark, tmp_path):
    """PERMISSIVE Bronze ingest: parseable lines land typed, malformed
    lines (broken JSON, wrong shape) are quarantined verbatim, nothing
    is silently dropped, and FAILFAST on the same file raises — the
    contrast that justifies the quarantine path."""
    from pyspark.sql import types as T

    from airflow_crypto_etl_spark.sources.tables import read_json_with_quarantine

    p = tmp_path / "bronze.jsonl"
    lines = [
        '{"id": 1, "price": 10.5}',
        '{"id": 2, "price": 20.25}',
        '{"id": 3, "price": }',          # broken JSON
        'not json at all',               # garbage line
        '{"id": 4, "price": 40.0}',
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("price", T.DoubleType())]
    )
    good, bad = read_json_with_quarantine(spark, str(p), schema)
    good_rows = {r["id"]: r["price"] for r in good.collect()}
    assert good_rows == {1: 10.5, 2: 20.25, 4: 40.0}
    raw = sorted(r["raw_line"] for r in bad.collect())
    assert raw == sorted([lines[2], lines[3]])
    # conservation: every input line is either typed or quarantined
    assert good.count() + bad.count() == len(lines)

    # FAILFAST is the no-quarantine alternative: it must abort
    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema(schema).option("mode", "FAILFAST").json(str(p)).collect()


# A day's Bronze is a JVM-local relation parsed by the JSON reader's
# Dataset[String] entry point; it must infer exactly what the Python-RDD
# reader (spark.read.json over sc.parallelize) infers.
BRONZE_PARITY_CASES = {
    "roi_null_then_struct": [
        {"id": "a", "roi": None, "current_price": 1.5},
        {"id": "b", "roi": {"times": 2.5, "currency": "usd", "percentage": 150.0}, "current_price": 2},
    ],
    "missing_keys": [
        {"id": "a", "symbol": "aaa"},
        {"id": "b", "market_cap": 10},
        {"name": "only a name"},
    ],
    "mixed_value_types": [{"v": 1}, {"v": 1.5}, {"v": "text"}, {"v": [1, 2]}, {"v": None}],
    "non_ascii": [{"id": "ビットコイン", "name": "Ünïcödé ₿", "名前": "币"}, {"id": "ethereum"}],
    "empty": [],
}


@pytest.mark.parametrize("case", sorted(BRONZE_PARITY_CASES))
def test_bronze_ingest_matches_python_rdd_reader(spark, case):
    import json

    records = BRONZE_PARITY_CASES[case]
    want = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in records]))
    got = medallion.bronze_ingest(spark, records)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_pipeline_synthetic_days_and_rerun(spark, spark_jobs, tmp_path):
    """Two seeded days, then a re-run of day 1, on records that need no
    reference snapshot: per-day Gold rows and values, the returned
    schema, the Silver sidecar, idempotent lake counts and the job
    budget of one run_pipeline call."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from airflow_crypto_etl_spark.sinks.writers import read_sidecar
    from coin_feed import coin_page

    lake = str(tmp_path / "lake")
    day1 = ("2026-02-01", coin_page("2026-02-01", [f"coin-{i:03d}" for i in range(40)], seed=1))
    recs2 = coin_page("2026-02-02", [f"coin-{i:03d}" for i in range(5, 50)], seed=2)
    # three of day 1's rows delivered again with day 2's page: more
    # records than coins on day 2
    day2 = ("2026-02-02", recs2 + [{**r, "current_price": r["current_price"] * 1.001} for r in day1[1][5:8]])

    def lake_counts():
        rd = spark.read
        return {
            "bronze": rd.json(f"{lake}/bronze/coins").count(),
            "silver": rd.parquet(f"{lake}/silver/coins").count(),
            "gold": rd.parquet(f"{lake}/gold/coins_daily").count(),
        }

    for ds, records in (day1, day2):
        gold = medallion.run_pipeline(spark, records, lake, ds)
        assert gold.schema["dt"].dataType == T.DateType()
        got = {r["coin_id"]: r for r in gold.collect()}
        prices: dict[str, list[float]] = {}
        for r in records:
            prices.setdefault(r["id"], []).append(float(r["current_price"]))
        assert sorted(got) == sorted(prices)
        for c, ps in prices.items():
            g = got[c]
            assert g["min_price_usd"] == min(ps) and g["max_price_usd"] == max(ps)
            assert math.isclose(g["avg_price_usd"], sum(ps) / len(ps), rel_tol=1e-12)
            assert str(g["dt"]) == ds
        assert read_sidecar(f"{lake}/silver/coins")["row_count"] == len(records)
    gold_rows = spark.read.parquet(f"{lake}/gold/coins_daily").groupBy("dt").count().collect()
    assert {str(r["dt"]): r["count"] for r in gold_rows} == {"2026-02-01": 40, "2026-02-02": 45}

    before = lake_counts()
    assert before == {"bronze": 40 + 48, "silver": 40 + 48, "gold": 40 + 45}
    with spark_jobs() as jobs:
        gold = medallion.run_pipeline(spark, day1[1], lake, day1[0])
    assert jobs.n <= 8, f"run_pipeline ran {jobs.n} Spark jobs"
    assert gold.filter(F.col("dt") == day1[0]).count() == 40
    assert read_sidecar(f"{lake}/silver/coins")["row_count"] == 40
    assert lake_counts() == before
