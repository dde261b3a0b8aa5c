"""Physical-plan assertions: the scale discipline (broadcasts, pushdown,
partial aggregation, top-k, single-shuffle windows) is enforced here so
a regression that silently de-optimizes a plan fails CI — 'correct but
10× slower at 100 TB' is a bug (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from airflow_crypto_etl_spark import queries as q
from airflow_crypto_etl_spark import queries_ext as qx


def plan_of(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def n_exchanges(plan: str) -> int:
    """Count shuffle nodes (formatted explain lists each node twice —
    once in the tree, once in the details — so count node ids)."""
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    p = plan_of(spark, q.q_star_join(spark, sf_dir))
    # customer, nation, region must all be broadcast — the fact side
    # never shuffles for a dimension lookup
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    p = plan_of(spark, q.q_scan_parquet(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p, p
    # 4-column projection must reach the reader (no full-width scan)
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema and "l_quantity" in read_schema


def test_gold_daily_partial_aggregates(spark, sf_dir):
    p = plan_of(spark, q.q_gold_daily(spark, sf_dir))
    # map-side partial agg before the exchange: shuffle carries groups,
    # not rows
    assert "partial_avg" in p or "partial_min" in p, p
    assert n_exchanges(p) == 1


def test_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    p = plan_of(spark, q.q_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_moving_avg_single_shuffle(spark, sf_dir):
    p = plan_of(spark, q.q_moving_avg(spark, sf_dir))
    assert n_exchanges(p) == 1, p


def test_latest_per_key_single_shuffle(spark, sf_dir):
    p = plan_of(spark, q.q_latest_per_key(spark, sf_dir))
    assert n_exchanges(p) == 1, p


def test_dedup_ops_have_no_cartesian_on_corpus(spark, sf_dir):
    # LSH candidate generation must be an equi-join on (band, signature)
    # buckets, never an all-pairs product over documents
    p = plan_of(spark, qx.q_dedup_minhash(spark, sf_dir))
    assert "CartesianProduct" not in p, p


def test_text_ops_stay_in_codegen(spark, sf_dir):
    # no Python UDFs in the text hot path: everything whole-stage codegen
    p = plan_of(spark, qx.q_quality_score(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ann_brute_force_broadcasts_queries(spark, sf_dir):
    p = plan_of(spark, qx.q_ann_topk(spark, sf_dir))
    # corpus side must not shuffle; the Q queries are the broadcast side
    assert "Broadcast" in p, p
    assert "SortMergeJoin" not in p


def test_embed_neardup_is_bucket_equijoin(spark, sf_dir):
    # round-2: the registered near-dup must be the LSH bucket equi-join,
    # not the O(N^2) cross-join kernel
    p = plan_of(spark, qx.q_embed_neardup(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "bucket" in p, p


def test_winnowing_is_one_arrow_map_without_shuffle(spark, sf_dir):
    # the winnowing kernel is a pure map over the scan: one Arrow batch
    # pass, no exchange, no row-at-a-time Python UDF
    import re

    from airflow_crypto_etl_spark.queries_selection import q_winnowing

    p = plan_of(spark, q_winnowing(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) MapInArrow", p)) == 1, p
    assert n_exchanges(p) == 0 and "Exchange" not in p, p
    assert "BatchEvalPython" not in p, p


def test_pq_encode_is_one_arrow_map_without_shuffle(spark, sf_dir):
    # the PQ assignment kernel is a pure map over the scan, its book
    # captured on the driver: no broadcast, no exchange
    import re

    from airflow_crypto_etl_spark.operators import similarity as sim
    from airflow_crypto_etl_spark.sources.tables import load_table

    p = plan_of(spark, sim.pq_encode(load_table(spark, sf_dir, "embeddings")))
    assert len(re.findall(r"\(\d+\) MapInArrow", p)) == 1, p
    assert "Exchange" not in p, p


def test_ivfpq_residual_encode_is_one_arrow_map(spark, sf_dir):
    # the IVFPQ residual codes come from the PQ assignment kernel, and
    # the coarse assignment and the probes from the nearest-centroid
    # kernel: three Arrow maps, and no array_min lambda over a
    # broadcast coarse or (rid, rv) book
    import re

    from airflow_crypto_etl_spark.operators import similarity as sim
    from airflow_crypto_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    p = plan_of(spark, sim.ivfpq_topk(emb, list(range(8)), k=10))
    assert len(re.findall(r"\(\d+\) MapInArrow", p)) == 3, p
    assert not re.search(r"lambda \w+#\d+\.rv", p), p
    assert "array_min" not in p and "ccb" not in p, p


def test_ivf_assignment_is_an_arrow_map_without_argmax_shuffle(spark, sf_dir):
    # the IVF corpus assignment and the probes are nearest-centroid
    # kernel passes: no centroid product join, no max_by aggregate
    import re

    from airflow_crypto_etl_spark.operators import similarity as sim
    from airflow_crypto_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    p = plan_of(spark, sim.ivf_topk(emb, list(range(8)), k=10))
    assert len(re.findall(r"\(\d+\) MapInArrow", p)) == 2, p
    assert "max_by" not in p and "BroadcastNestedLoopJoin" not in p, p
