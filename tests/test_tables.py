"""Parquet schema cache: its key must change whenever a read would see a
different footer, and stay as it was for flat tables."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from airflow_crypto_etl_spark.sources import tables


def _flat_key(path: str):
    """The key of a file or a flat directory: (path, mtime, size) plus
    its direct children's (name, mtime, size)."""
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        key += (tuple(sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in os.scandir(path))),)
    return key


def test_schema_key_unchanged_for_flat_tables(sf_dir, tmp_path):
    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    assert tables._schema_key(lineitem) == _flat_key(lineitem)
    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"a": [i]}), flat / f"part-{i}.parquet")
    assert tables._schema_key(str(flat)) == _flat_key(str(flat))


def test_schema_key_sees_rewrite_inside_partition(spark, tmp_path):
    """A part file rewritten in place inside a ``key=val`` partition
    bumps neither the table's nor the partition's directory mtime; the
    key must still change and the cached schema be re-inferred."""
    part = tmp_path / "t" / "dt=2026-01-01"
    part.mkdir(parents=True)
    f = part / "part-0.parquet"
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), f)
    table, d = str(tmp_path / "t"), os.stat(part)
    before = tables._schema_key(table)
    assert [fld.name for fld in tables.parquet_schema(spark, table).fields] == ["a", "dt"]

    t_stat = os.stat(table)
    pq.write_table(pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), f)
    # pin both directories' times: only the part file itself changed
    os.utime(part, ns=(d.st_atime_ns, d.st_mtime_ns))
    os.utime(table, ns=(t_stat.st_atime_ns, t_stat.st_mtime_ns))
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))

    assert tables._schema_key(table) != before
    assert [fld.name for fld in tables.parquet_schema(spark, table).fields] == ["a", "b", "dt"]
