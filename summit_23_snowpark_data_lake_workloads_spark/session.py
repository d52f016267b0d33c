"""SparkSession factory.

Mirrors the reference's environment bootstrap
(``code/ingest/1_env_setup.sql:7-38``, ``code/curate/01_setup.sql:5-16``):
where Snowflake has warehouses + databases, we have one tuned SparkSession
plus catalog namespaces (see ``sources.catalog``).

The config is written for a real multi-executor cluster and merely *runs*
on local[N] here: AQE handles runtime coalesce/skew, broadcast threshold is
explicit, shuffle partition count tracks core count (not the 200 default),
and Arrow is on for every pandas boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: repo root (parent of this package) — must be importable on Python workers
#: so pickled UDFs resolve. Local mode: inherit via PYTHONPATH. Real cluster:
#: ship the package with --py-files / a wheel (the Spark-native equivalent of
#: the reference's staged-import ``imports=('@.../common_utils.py')``,
#: SURVEY §2.8 U3).
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_package_to_workers() -> None:
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_REPO_ROOT}{os.pathsep}{existing}" if existing else _REPO_ROOT
        )


def _half_physical_memory() -> str:
    """Default driver heap: half the host's physical memory, so a test or
    tool JVM never asks for more heap than the machine has."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "summit23_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB target):
    - ``spark.sql.adaptive.*`` — AQE re-plans at runtime: coalesces tiny
      shuffle partitions, splits skewed join partitions, and converts
      sort-merge joins to broadcast when a side turns out small.
    - ``spark.sql.autoBroadcastJoinThreshold=64m`` — all dimension tables
      (region/nation/supplier/part at any SF, product-master style dims)
      broadcast instead of shuffling the fact table.
    - ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
      cluster this should be ~2-3x total executor cores (AQE coalesces
      down, so erring high is safe).
    - ``spark.sql.files.maxPartitionBytes=128m`` — scan parallelism at
      multi-TB inputs without tiny-task overhead.
    """
    _export_package_to_workers()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # lakehouse scans pass their live data files as explicit local
        # paths; past the default threshold (32 paths) Spark lists them
        # with a distributed job, one extra job before every such read
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _half_physical_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.caseSensitive", "false")
        # testdata events.parquet vintages: TIMESTAMP(NANOS) (read as long,
        # converted at the source loader) or timezone-less TIMESTAMP(MICROS)
        # (inferTimestampNTZ=false reads it as plain TimestampType —
        # TIMESTAMP_NTZ breaks event-time watermarks and unix_micros paths)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
