"""The reference's 14-task DAG chain executed end-to-end as plain
callables (no scheduler) — r4 verdict item 8: prove the layer-job
parameterization (ds, lake root, warehouse URL) carries the whole
sequence, and that re-running the chain for the same ds is idempotent
where the reference's semantics say it must be (dim ignore, fact
delete+append, gold update)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from airflow_crypto_etl_spark.checks import CheckFailure
from airflow_crypto_etl_spark.plans import control_plane as cp
from airflow_crypto_etl_spark.sources.jdbc import read_jdbc

DS = "2026-01-13"


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("controlplane")
    return {
        "spark": spark,
        "ds": DS,
        "lake_root": str(base / "lake"),
        "warehouse_url": f"jdbc:derby:{base / 'warehouse_db'};create=true",
        # fixed clock inside the SLA window so the gate passes deterministically
        "now": datetime(2026, 1, 14, 8, 0, tzinfo=timezone.utc),
    }


def test_full_14_stage_chain(ctx):
    done = cp.run_chain(ctx)
    assert done == [t for t, _ in cp.TASKS] and len(done) == 14


def test_chain_is_rerunnable_for_same_ds(ctx):
    """Second run of the same ds: dims unchanged (upsert-ignore), fact
    not doubled (delete+append), gold refreshed in place (upsert-update),
    every validation still green."""
    first_dim = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="dim_coin", driver=cp.DERBY_DRIVER
    ).count()
    first_fact = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="fact_price", driver=cp.DERBY_DRIVER
    ).count()
    done = cp.run_chain(ctx)
    assert len(done) == 14
    assert (
        read_jdbc(
            ctx["spark"], url=ctx["warehouse_url"], table="dim_coin", driver=cp.DERBY_DRIVER
        ).count()
        == first_dim
    )
    assert (
        read_jdbc(
            ctx["spark"], url=ctx["warehouse_url"], table="fact_price", driver=cp.DERBY_DRIVER
        ).count()
        == first_fact
    )
    gold = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="gold_coins_daily", driver=cp.DERBY_DRIVER
    )
    assert gold.count() == first_dim  # one gold row per coin per ds


def test_sla_gate_fails_after_deadline(ctx):
    late = dict(ctx, now=datetime(2026, 1, 15, 9, 1, tzinfo=timezone.utc))
    with pytest.raises(Exception, match="SLA"):
        cp.validate_gold_sla(late)


def test_chain_parameterizes_by_ds(ctx):
    """A second execution date flows through the same callables into
    its own partitions and serving rows (the {{ ds }} contract)."""
    ds2 = "2026-01-14"
    ctx2 = dict(ctx, ds=ds2, now=datetime(2026, 1, 15, 8, 0, tzinfo=timezone.utc))
    done = cp.run_chain(ctx2)
    assert len(done) == 14
    gold = read_jdbc(
        ctx["spark"], url=ctx["warehouse_url"], table="gold_coins_daily", driver=cp.DERBY_DRIVER
    )
    dts = {r[0] for r in gold.select("dt").distinct().collect()}
    assert dts == {DS, ds2}


@pytest.mark.parametrize("ds", ["2026-01-13' OR '1'='1", "2026-1-13", "20260113", None])
def test_ds_is_checked_before_it_reaches_sql(ctx, ds):
    """A ``ds`` that is not an ISO date is refused before any statement
    runs: the fact rows stay as the chain left them."""
    def fact_rows() -> int:
        return read_jdbc(
            ctx["spark"], url=ctx["warehouse_url"], table="fact_price", driver=cp.DERBY_DRIVER
        ).count()

    before = fact_rows()
    assert before > 0
    bad = dict(ctx, ds=ds)
    for stage in (cp.load_fact, cp.validate_gold):
        with pytest.raises(CheckFailure, match="ISO date"):
            stage(bad)
    assert fact_rows() == before
