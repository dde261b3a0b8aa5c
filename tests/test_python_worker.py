"""The fixed cost of a Python-worker op: the lean worker import path
(`pyworker`), Python ops from any working directory, and driver-held
books as JVM-local relations (`layout.local_rows`)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pyspark

from airflow_crypto_etl_spark.operators.layout import local_rows
from airflow_crypto_etl_spark.pyworker import prune_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_imports_pyspark_from_a_directory(spark):
    """A task's ``sys.path`` holds no archive without Python, and
    pyspark comes from a directory at the driver's version."""
    import pyarrow as pa

    def probe(it):
        import os
        import sys
        import zipfile

        import pyspark as ps

        for _ in it:
            pass
        no_py = [
            p for p in sys.path
            if os.path.isfile(p) and zipfile.is_zipfile(p)
            and not any(n.endswith(".py") for n in zipfile.ZipFile(p).namelist())
        ]
        yield pa.RecordBatch.from_pylist([{"no_py": no_py, "file": ps.__file__, "version": ps.__version__}])

    r = spark.range(1).coalesce(1).mapInArrow(
        probe, "no_py array<string>, file string, version string"
    ).collect()[0]
    assert r.no_py == []
    assert ".zip" not in r.file and os.path.isfile(r.file)
    assert r.version == pyspark.__version__


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    return str(path)


def test_prune_path_drops_only_redundant_archives(tmp_path):
    site = tmp_path / "site"
    for pkg, version in (("same", "1.0"), ("moved", "2.0")):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")
    jar = _zip(tmp_path / "core.jar", {"org/A.class": "x", "META-INF/MANIFEST.MF": "m"})
    same = _zip(tmp_path / "same.zip", {"same/__init__.py": "", "same/version.py": "__version__ = '1.0'\n"})
    moved = _zip(tmp_path / "moved.zip", {"moved/__init__.py": "", "moved/version.py": "__version__ = '2.1'\n"})
    alone = _zip(tmp_path / "alone.zip", {"alone/__init__.py": "", "alone/version.py": "__version__ = '1'\n"})
    path = [jar, same, moved, alone, str(tmp_path / "missing.zip"), str(site)]
    assert prune_path(path) == [moved, alone, str(tmp_path / "missing.zip"), str(site)]


def test_python_ops_work_from_any_directory(tmp_path):
    """From a directory outside the repo, with ``PYTHONPATH`` unset, a
    plain lambda and a library kernel both run in the Python workers."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from airflow_crypto_etl_spark.session import get_spark
        from airflow_crypto_etl_spark.operators import text

        spark = get_spark(app_name="any-dir", master="local[1]", shuffle_partitions=1, driver_memory="1g")
        n = spark.range(5).mapInArrow(lambda it: (b for b in it), "id bigint").count()
        docs = spark.createDataFrame([(1, "the quick brown fox jumps over the lazy dog " * 3)], "doc_id bigint, text string")
        fp = text.winnow_fingerprints(docs).count()
        print("RESULT", n, fp > 0)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "RESULT 5 True" in out.stdout, out.stderr[-3000:]


def test_local_rows_book_collects_without_a_job(spark, spark_jobs):
    rows = [(i, [float(i), 0.5]) for i in range(16)]
    book = local_rows(spark, rows, "cid bigint, cv array<double>")
    with spark_jobs() as jobs:
        got = book.collect()
    assert jobs.n == 0
    assert [tuple(r) for r in got] == rows
    assert local_rows(spark, [], book.schema).schema == book.schema


def test_local_rows_round_trips_collected_rows(spark):
    """Rows collected from a frame come back equal, nested values,
    timestamps and decimals included."""
    src = spark.sql(
        "SELECT timestamp'2024-01-02 03:04:05.000006' AS t, 1.2345BD AS d, 'x' AS s, "
        "date'2024-01-01' AS dt, named_struct('a', 1L, 'b', array(2.0D)) AS st"
    )
    got = src.collect()
    assert local_rows(spark, got, src.schema).collect() == got
