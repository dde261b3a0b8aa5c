"""Table sources.

Scan operators S2-S4 from SURVEY.md §2.1: the reference reads CSV with
`pd.read_csv` (`/root/reference/dags/coin_data_pipeline_optimized.py:221`),
JSON with `pd.read_json` (`:398`) and parquet partitions with
`pq.read_table` (`:791-792`). Spark-first equivalents: declarative
`spark.read.*` scans that Catalyst can push filters/projections into.

At 100 TB, the scan is the operator that matters most: always pass an
explicit schema (no inference job), read the partitioned *root* and let
partition pruning pick `dt=` directories, and never materialize
driver-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver's star-schema testdata (TESTDATA.md): one parquet per table.
STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan (S4). Column pruning is expressed with .select so the
    scan's ReadSchema carries only what downstream needs."""
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, header: bool = True
) -> DataFrame:
    """CSV scan (S2). Schema is explicit by default — `inferSchema` runs a
    full extra pass over the data, unacceptable at scale."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")  # convenience only
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """JSON scan (S3, the Bronze layer read). Schema-on-read when schema is
    None, matching Bronze's no-enforcement regime (SURVEY.md §1.2)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Bronze ingest with a malformed-record quarantine: PERMISSIVE
    parse routes every unparseable line into ``_corrupt_record``
    instead of failing the batch (the reference's API-JSON ingest has
    no such guard — one bad line aborts the day's load). Returns
    (good rows, quarantined raw lines).

    The parsed frame is cached before the split: Spark refuses a
    filter that references ONLY the internal corrupt column on a raw
    file scan (it could not know which other columns to parse), and
    the cache also makes good/bad two reads of one parse rather than
    two parses. The cache is registered in the session-scoped registry
    (``operators.dedup.register_cache``) so repeated bronze ingests do
    not pin parses until driver GC — ``release_caches()`` reclaims
    them once consumers are done (r5 ADVICE). At 100 TB the quarantine
    side is a trickle written to its own path for replay after a
    parser fix."""
    from ..operators.dedup import register_cache

    aug = T.StructType(schema.fields + [T.StructField("_corrupt_record", T.StringType())])
    df = register_cache(
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad


def _restore_nanos_timestamps(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Parquet TIMESTAMP(NANOS) columns arrive as epoch-nanos longs (see
    session.RUNTIME_CONFS); convert to microsecond timestamp_ntz with the
    same floor-truncation DuckDB applies, so both engines see identical
    wall-clock values. `div` is exact integer division — no float detour."""
    fixes = {
        c: F.expr(f"cast(timestamp_micros({c} div 1000) as timestamp_ntz)")
        for c in cols
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType)
    }
    return df.withColumns(fixes) if fixes else df


# Inferred-SCHEMA cache (metadata only — never rows): every query calls
# load_table inside its timed region, and schema inference re-reads the
# parquet footer per call (~0.1 s of driver time per slot, guide §1.5's
# "know what you are timing"). Keyed on (path, mtime, size) so a
# rewritten file re-infers; for DIRECTORY paths the key also folds in
# the direct children's (name, mtime, size) — a part file rewritten in
# place does not bump the directory mtime (r11 ADVICE item 2) — and,
# for a child directory (a ``key=val`` partition), its own children's;
# a flat table's key is unchanged by that one level of recursion. Bounded
# FIFO so a long-lived session scanning many paths cannot grow it
# without limit; a schema-supplied read plans the identical scan
# (parquet is self-describing per file — the footer is still the
# row-group source of truth at execution).
_SCHEMA_CACHE: dict = {}
_SCHEMA_CACHE_MAX = 256


def _listing(path: str, depth: int) -> tuple:
    """Sorted (name, mtime, size) of a directory's entries; a child
    directory also carries its own listing while ``depth`` remains."""
    out = []
    with os.scandir(path) as it:
        for e in it:
            cst = e.stat()
            entry = (e.name, cst.st_mtime_ns, cst.st_size)
            if depth and e.is_dir():
                entry += (_listing(e.path, depth - 1),)
            out.append(entry)
    return tuple(sorted(out))


def _schema_key(path: str):
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if os.path.isdir(path):
        key = key + (_listing(path, 1),)
    return key


def _schema_cache_put(key, sch) -> None:
    if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
        _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)))
    _SCHEMA_CACHE[key] = sch


def parquet_schema(spark: SparkSession, path: str):
    """Inferred physical schema of a parquet path, cached on
    (path, mtime, size[, children]) — for callers that only need the
    schema (the streaming file sources re-inferred the footer per
    query)."""
    try:
        key = _schema_key(path)
    except OSError:
        return spark.read.parquet(path).schema
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _schema_cache_put(key, sch)
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One star-schema table from a scale-factor directory."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = _schema_key(path)
    except OSError:
        key = None
    sch = _SCHEMA_CACHE.get(key) if key is not None else None
    if sch is not None:
        df = spark.read.schema(sch).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _schema_cache_put(key, df.schema)
    if name == "events":
        df = _restore_nanos_timestamps(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = STAR_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
