"""SparkSession factory.

The reference runs single-process pandas inside Airflow tasks
(`/root/reference/dags/coin_data_pipeline_optimized.py:168`); here the
equivalent execution substrate is one SparkSession shared by all layer
jobs. Everything the reference hand-codes as an "optimization" (column
pruning, partition pruning, batched writes — SURVEY.md §4) is delegated
to Catalyst; this module only pins the configuration that makes those
built-ins effective.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- `shuffle.partitions` here is a *local* default (≈ cores); on a real
  cluster AQE coalesces from a high initial number, so the knob that
  matters is `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
- Dynamic partition overwrite gives the reference's atomic
  partition-swap semantics (K4) per job without a tmp-key dance.
- Session timezone is pinned UTC so timestamp semantics are stable
  across driver hosts (and match the UTC-naive oracle).

Python workers (local masters): ``spark.python.daemon.module`` is
``airflow_crypto_etl_spark.pyworker``, which drops the archives Spark
puts on the worker path that hold no Python or that ``site-packages``
shadows at the same version, then runs pyspark's daemon. Each task
then skips re-reading those archives' directories, about 0.1 s a task.
``spark.executorEnv.PYTHONPATH`` carries the package root, so workers
import the daemon and the library's kernels whatever the working
directory. A cluster deployment ships the package to its executors
(``--py-files`` or an image) and sets these two confs itself.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs every entry point re-asserts, so behavior does
# not depend on who created the session (the driver creates its own).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. pandas-written event streams) is
    # illegal for Spark's reader; surface it as epoch-nanos long and let
    # the source layer convert to timestamp_ntz (sources.tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_runtime_confs(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Assert engine confs on an existing session (all runtime-settable)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not recognized on this build — non-fatal
            pass
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark


def get_spark(
    app_name: str = "airflow-crypto-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine SparkSession.

    Local mode is one JVM with N executor threads; ``driver_memory`` is
    the only memory knob. On a cluster, pass ``master=None`` with
    ``$SPARK_GRAFT_MASTER`` unset and let spark-submit own the topology.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    if master.startswith("local"):
        # Scan-split sizing is scale-relative: the default 128 MiB split /
        # 4 MiB open-cost floor is right for a 100 TB lake (keeps task
        # count sane, amortizes opens), but leaves MB-sized local test
        # files as 1-3 splits — idling all but a few cores. Locally,
        # split small and cheap so #splits ≈ cores; cluster deployments
        # keep the defaults.
        b = (
            b.config("spark.sql.files.maxPartitionBytes", "1m")
            .config("spark.sql.files.openCostInBytes", "64k")
        )
        # Python workers start from the lean-path daemon (pyworker), found
        # through the package root whatever the working directory.
        b = (
            b.config("spark.python.daemon.module", "airflow_crypto_etl_spark.pyworker")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session with other confs.
    return apply_runtime_confs(spark, shuffle_partitions)


def configure_object_store(
    spark: SparkSession,
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
) -> SparkSession:
    """S3A configuration for a MinIO-style object store.

    Replaces the reference's S3Hook/Minio clients
    (`/root/reference/dags/coin_data_pipeline_optimized.py:175,226,387`;
    endpoint/creds in `docker-compose.yaml:48-59`) with Hadoop S3A conf —
    after this, ``s3a://bucket/key`` works in any read/write path. No
    effect on local parquet paths; safe to skip in tests.
    """
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("fs.s3a.endpoint", endpoint)
    hc.set("fs.s3a.access.key", access_key)
    hc.set("fs.s3a.secret.key", secret_key)
    hc.set("fs.s3a.path.style.access", "true" if path_style else "false")
    hc.set("fs.s3a.connection.ssl.enabled", "false" if endpoint.startswith("http:") else "true")
    return spark
