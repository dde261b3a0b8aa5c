"""The benchmark's own tests, at tiny scale (sf0.001, a short coin feed).

    python -m pytest perfbench -q

Each CLI run starts its own JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

# Layer -> the workload on which it must record at least one span.
LAYER_WORKLOAD = {
    "queries": "corpus_build",
    "sources": "corpus_build",
    "cache": "corpus_build",
    "plans": "daily_medallion",
    "plans.medallion": "daily_medallion",
    "plans.warehouse": "daily_medallion",
    "sinks": "daily_medallion",
    "checks": "daily_medallion",
}
# Layers measured by counters rather than spans -> (counter, workload).
LAYER_COUNTERS = {
    "operators": ("operators.tasks", "corpus_build"),
    "functions": ("functions.python_rows", "corpus_build"),
    "sources": ("sources.input_rows", "corpus_build"),
    "cache": ("cache.storage_peak_mb", "corpus_build"),
    "sinks": ("sinks.files_written", "daily_medallion"),
}


def run_cli(workload: str, trace: int, tmp_path) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout.strip().splitlines()


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    cache: dict = {}

    def get(workload: str, trace: int) -> list[str]:
        if (workload, trace) not in cache:
            cache[workload, trace] = run_cli(workload, trace, tmp_path_factory.mktemp("cwd"))
        return cache[workload, trace]

    return get


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed_and_no_op_fails(runs, workload):
    result = json.loads(runs(workload, 0)[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    assert len(result["metrics"]) == len(SPEC["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric_and_its_spans(runs, workload):
    lines = runs(workload, 1)
    result = json.loads(lines[-1])
    assert result["correct"]
    assert [m["name"] for m in SPEC["per_layer"]] == list(result["metrics"])
    assert result["metrics"]["error_rate"]["value"] == 0
    spans_file = json.loads(lines[-2])["spans"]
    with open(os.path.join(ROOT, spans_file)) as fh:
        spans = json.load(fh)["spans"]
    layers = {s["layer"] for s in spans}
    for layer, where in LAYER_WORKLOAD.items():
        if where == workload:
            assert layer in layers, f"no {layer} span on {workload}; layers seen: {sorted(layers)}"
    for counter, where in LAYER_COUNTERS.values():
        if where == workload:
            assert result["metrics"][counter]["value"] > 0, counter
    assert all(s["end"] >= s["start"] and s["self_s"] >= -1e-6 for s in spans)


def test_named_layer_functions_still_exist():
    """A renamed function would silently zero its layer metric."""
    import importlib

    sys.path.insert(0, ROOT)
    from tracing import PKG, WRAPPED, WRAPPED_FUNCS

    for mod_name, _ in WRAPPED:
        importlib.import_module(mod_name)
    for mod_name, fname, _ in WRAPPED_FUNCS:
        assert callable(getattr(importlib.import_module(mod_name), fname))
    plans = importlib.import_module(f"{PKG}.plans.medallion")
    for fname in ("run_pipeline", "bronze_ingest", "silver_transform", "gold_build"):
        assert callable(getattr(plans, fname)), fname


def test_wrong_expected_hash_counts_as_failed_op(tmp_path, monkeypatch):
    import run as bench
    from tracing import Tracer

    sys.path.insert(0, ROOT)
    os.makedirs(tmp_path / "tmp")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    spark = bench.start_session(str(tmp_path), 2)
    try:
        r = bench.Run(spark, Tracer(spark), "corpus_build", 5, "tiny", str(tmp_path))
        r.ops = ("q_multimodal_jpeg", "q_winnowing")
        rows, _ = r.oracle.expected("q_multimodal_jpeg")
        r.oracle._expected["q_multimodal_jpeg"] = (rows, "0" * 64)
        r.warm_up()
    finally:
        bench.stop_session(spark)
    assert (r.attempted, r.failed) == (2, 1)
    assert r.failures[0].startswith("q_multimodal_jpeg")


def test_exits_nonzero_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the run
    refuses before printing any result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
