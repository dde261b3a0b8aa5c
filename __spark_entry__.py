"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``airflow_crypto_etl_spark`` (see SURVEY.md §2
for the operator-by-operator mapping); this module is a thin adapter.

``MANIFEST.json`` (regenerate: ``python scripts/gen_manifest.py``)
groups the registry family → query names so a driver sampling K of the
331 queries can STRATIFY by family and hit every family each round; it
also records which entries are oracle-hash-checked vs rows-only
(currently: none rows-only). The parity suite asserts the committed
manifest matches the live registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from airflow_crypto_etl_spark import queries as q
from airflow_crypto_etl_spark import queries_analytics as qa
from airflow_crypto_etl_spark import queries_corpus as qc
from airflow_crypto_etl_spark import queries_experiments as qe
from airflow_crypto_etl_spark import queries_ext as qx
from airflow_crypto_etl_spark import queries_market as qm
from airflow_crypto_etl_spark import queries_pipeline as qp
from airflow_crypto_etl_spark import queries_quality as qq
from airflow_crypto_etl_spark import queries_scale as qs
from airflow_crypto_etl_spark import queries_selection as qsel
from airflow_crypto_etl_spark import queries_tpch as qt
from airflow_crypto_etl_spark import queries_udf as qu
from airflow_crypto_etl_spark import queries_window as qw

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's Gold daily rollup, SURVEY.md §2.5 A1)
    on /root/testdata/sf0.001."""
    return q.q_gold_daily(spark, SF_SMOKE)


def _finalized(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return q.finalize_decimals(fn(spark, sf_dir))

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    run.__wrapped__ = fn  # lets MANIFEST.json group queries by module
    return run


def _merge_unique(*dicts):
    """Merge registry dicts, REFUSING silent name collisions: a later
    module shadowing an earlier query would swap its semantics under the
    driver's nose (round-4: a new q_cdc_* nearly overrode the existing
    one — caught only by doc review)."""
    out: dict = {}
    for d in dicts:
        dup = out.keys() & d.keys()
        if dup:
            raise ValueError(f"duplicate query registrations: {sorted(dup)}")
        out |= d
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, plus the
    training-data extension set (dedup/similarity/text/windows).

    Every query is wrapped with ``finalize_decimals``: decimal
    arithmetic stays internal for exactness, but the published schema
    carries doubles — the driver's DuckDB oracle materializes decimals
    as float64, and each oracle mirrors the cast at its final select."""
    raw = _merge_unique(
        q.QUERIES,
        qx.QUERIES_EXT,
        qt.QUERIES_TPCH,
        qw.QUERIES_WINDOW,
        qu.QUERIES_UDF,
        qs.QUERIES_SCALE,
        qp.QUERIES_PIPELINE,
        qm.QUERIES_MARKET,
        qa.QUERIES_ANALYTICS,
        qq.QUERIES_QUALITY,
        qe.QUERIES_EXPERIMENTS,
        qsel.QUERIES_SELECTION,
        qc.QUERIES_CORPUS,
    )
    return {name: _finalized(fn) for name, fn in raw.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (same column names)."""
    return _merge_unique(
        q.ORACLE,
        qx.ORACLE_EXT,
        qt.ORACLE_TPCH,
        qw.ORACLE_WINDOW,
        qu.ORACLE_UDF,
        qs.ORACLE_SCALE,
        qp.ORACLE_PIPELINE,
        qm.ORACLE_MARKET,
        qa.ORACLE_ANALYTICS,
        qq.ORACLE_QUALITY,
        qe.ORACLE_EXPERIMENTS,
        qsel.ORACLE_SELECTION,
        qc.ORACLE_CORPUS,
    )
