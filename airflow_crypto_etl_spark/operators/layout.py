"""Data layout: Z-order (Morton) clustering for data-skipping scans,
the widening repartition, the synthetic-payload generator and the
JVM-local relation of driver rows.

A 100 TB fact table is usually range-partitioned on ONE key (date); a
query filtering on a second key (customer) then reads every file. A
Z-order layout interleaves the bits of both keys into one clustering
value, so sorting by it keeps files tight in BOTH dimensions at once —
parquet min/max footer stats then prune most files for either
predicate (the technique Delta/Iceberg expose as `OPTIMIZE ZORDER BY`,
originally Morton 1966).

The Z-value is integer bit arithmetic generated as ONE SQL string
(engine-portable: a DuckDB twin renders the same bits), evaluated
inside whole-stage codegen — no UDF.

:func:`widen` is the one caller-gated repartition that spreads a narrow
scan over every core before CPU-heavy per-row work. :func:`payload_rows`
makes the media attach verbs' payloads inside the task that consumes
them, so payload bytes never cross an exchange. :func:`local_rows` is
how a book the driver already holds goes back into a plan. Nothing here imports
from the package, so any operator module can import it at top level.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema

Z_BITS = 16


def zvalue_sql(a: str, b: str, bits: int = Z_BITS) -> str:
    """Spark-SQL text of the Morton interleave of two non-negative
    integer expressions (``a`` into odd bit positions, ``b`` even).
    Values are masked to ``bits`` bits first, so the result fits in
    ``2*bits`` bits of a BIGINT."""
    mask = (1 << bits) - 1
    am, bm = f"(cast({a} as bigint) & {mask})", f"(cast({b} as bigint) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({am}, {i}) & 1, {2 * i + 1})")
        terms.append(f"shiftleft(shiftright({bm}, {i}) & 1, {2 * i})")
    return "(" + " + ".join(terms) + ")"


def zvalue_duck_sql(a: str, b: str, bits: int = Z_BITS) -> str:
    """DuckDB twin of :func:`zvalue_sql` (same value, same inputs)."""
    mask = (1 << bits) - 1
    am, bm = f"(CAST({a} AS BIGINT) & {mask})", f"(CAST({b} AS BIGINT) & {mask})"
    terms = []
    for i in range(bits):
        terms.append(f"((({am} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({bm} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def with_zvalue(df: DataFrame, a: str, b: str, bits: int = Z_BITS, out: str = "zval") -> DataFrame:
    return df.withColumn(out, F.expr(zvalue_sql(a, b, bits)))


def zorder_layout(
    df: DataFrame, a: str, b: str, num_files: int = 16, bits: int = Z_BITS
) -> DataFrame:
    """Re-layout ``df`` for two-dimensional data skipping: compute the
    Z-value, range-partition on it (contiguous Z-ranges per output
    file — this is the shuffle that buys every later scan its pruning),
    and sort within partitions so parquet row-group stats are tight
    too. Write the result with any writer; each file's (a, b) min/max
    envelope is then a small sub-rectangle of the key space instead of
    the full range."""
    z = with_zvalue(df, a, b, bits)
    return z.repartitionByRange(num_files, "zval").sortWithinPartitions("zval")


def widen(df: DataFrame, spread: bool = True) -> DataFrame:
    """Round-robin ``df`` onto ``defaultParallelism`` partitions (the
    session's core count, not a local-mode constant) before CPU-heavy
    per-row work: a small parquet input arrives as 1-2 splits and would
    otherwise run on as many cores.

    ``spread=False`` is the 100 TB setting: a corpus-scale scan already
    has thousands of partitions, and the exchange would be a full extra
    pass of the corpus for nothing. The choice is the caller's; there is
    no ``df.rdd.getNumPartitions()`` probe, which would cost an
    RDD-conversion analyzer pass on every call."""
    if not spread:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def payload_rows(ids: DataFrame, make: Callable[[int], bytes]) -> DataFrame:
    """``(id, payload binary)`` rows, ``payload = make(id)``, from a
    one-column id frame whose field (name, type, nullability) the
    output keeps. Whether ``ids`` is widened first is the caller's."""
    id_field = ids.schema.fields[0]
    name = id_field.name

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            col = pdf[name]
            yield pd.DataFrame({name: col, "payload": [make(int(i)) for i in col]})

    schema = T.StructType([id_field, T.StructField("payload", T.BinaryType())])
    return ids.mapInPandas(batches, schema)


def _nested_nullable(t: T.DataType) -> T.DataType:
    """``t`` with every struct field nullable; arrays and maps keep
    their own null flags."""
    if isinstance(t, T.StructType):
        return T.StructType([T.StructField(f.name, _nested_nullable(f.dataType), True, f.metadata) for f in t])
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_nested_nullable(t.elementType), t.containsNull)
    if isinstance(t, T.MapType):
        return T.MapType(_nested_nullable(t.keyType), _nested_nullable(t.valueType), t.valueContainsNull)
    return t


def local_rows(spark: SparkSession, rows: list, schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples or Rows the driver holds) as a JVM-local Arrow
    relation of ``schema`` (a ``StructType`` or DDL text).

    ``createDataFrame(list)`` is RDD-backed in classic PySpark: every
    collect or broadcast of it runs a Spark job and a Python task. This
    relation is a ``LocalTableScan``, so collecting it runs no job.
    Values convert as Spark Connect converts local rows: a naive
    timestamp is local time, as ``createDataFrame(list)`` reads it.

    A struct field below the top level comes back nullable: pyspark's
    Arrow path rebuilds nested struct arrays without their non-null
    flags and then cannot cast them back. Top-level fields keep theirs.

    Catalyst evaluates a projection over this relation on the driver,
    and plans built on one lambda projection of it share its lambda
    variables: never run two such plans from two threads at once (see
    ``similarity.ivf_centroids_trained``)."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    schema = T.StructType(
        [T.StructField(f.name, _nested_nullable(f.dataType), f.nullable, f.metadata) for f in schema]
    )
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)
