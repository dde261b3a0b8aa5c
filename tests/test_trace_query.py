"""scripts/trace_query.py attributes every Spark job of a query's
construct and execute to a span, finds as many jobs as an independent
job-group count does, and leaves the package's functions as they were,
also when the query raises."""

from __future__ import annotations

import inspect
import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
_SCRIPTS = str(ROOT / "scripts")
sys.path.insert(0, _SCRIPTS)
try:
    import trace_query as tq
finally:
    sys.path.remove(_SCRIPTS)

from tracing import PKG, Tracer  # noqa: E402  (importable once trace_query is)

import __spark_entry__ as entry  # noqa: E402
from airflow_crypto_etl_spark.operators import dedup  # noqa: E402
from airflow_crypto_etl_spark.sources import tables  # noqa: E402


@pytest.fixture(scope="module")
def tracer(spark):
    return Tracer(spark)


def _functions() -> dict:
    """Every function bound at module level in the package's loaded modules."""
    return {(mod, fname): fn for mod, m in list(sys.modules.items()) if m is not None and mod.startswith(PKG)
            for fname, fn in vars(m).items() if inspect.isfunction(fn)}


def _assert_untraced(tracer, before: dict) -> None:
    after = _functions()
    assert {k: after[k] for k in before} == before
    wrapper = tracer._wrap(len, "", "").__code__
    assert not [k for k, fn in after.items() if fn.__code__ is wrapper]
    assert not tracer.enabled
    assert tracer.sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize("name", ["q_gold_daily", "q_ann_pq_index_lookup"])
def test_every_job_is_attributed(spark, sf_dir, spark_jobs, tracer, name):
    fn = entry.queries()[name]
    before = _functions()
    rec = tq.trace(tracer, name, fn, sf_dir)
    _assert_untraced(tracer, before)

    with spark_jobs() as ref:
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    try:
        assert rec["rows"] == df.count()
    finally:
        dedup.release_caches()
    assert ref.ungrouped == 0
    assert rec["jobs"] == len(rec["timeline"]) == ref.n
    assert rec["jobs_outside_spans"] == 0
    assert "execute" in {j["span"] for j in rec["timeline"]}


def test_tracer_is_uninstalled_when_the_query_raises(sf_dir, tracer):
    calls = []

    def flaky(spark, sf_dir):
        calls.append(1)
        df = tables.load_table(spark, sf_dir, "nation")
        if len(calls) == 2:
            raise RuntimeError("query failed")
        return df

    before = _functions()
    mark = len(tracer.spans)
    with pytest.raises(RuntimeError, match="query failed"):
        tq.trace(tracer, "flaky", flaky, sf_dir)
    assert len(calls) == 2
    # the traced run went through the wrapped load_table
    assert "sources.tables.load_table" in {s["name"] for s in tracer.spans[mark:]}
    _assert_untraced(tracer, before)
