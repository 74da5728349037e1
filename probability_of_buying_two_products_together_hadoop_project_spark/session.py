"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM; the host's
``os.cpu_count()`` when unset); the configs below are chosen so the same
code scales to a real cluster:

- AQE on (coalesce + skew-join): runtime re-planning replaces the
  reference's static hand-tuned reducer counts
  (/root/reference/src/CrystalBallPair.java:247 ``setNumReduceTasks(3)``).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalescing makes the initial number mostly a ceiling.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for any Pandas-UDF path (the slow path; rarely used).
- The Python workers get this package's parent directory on their
  ``PYTHONPATH``, so an Arrow kernel (``applyInPandas``/``mapInArrow``)
  also runs from a driver script outside the repo.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, or the host's CPU count when unset."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def get_spark(
    app_name: str = "crystalball-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count() or 1
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # events.parquet stores TIMESTAMP(NANOS), which Spark otherwise
        # rejects (PARQUET_TYPE_ILLEGAL); sessions built here carry the
        # legacy conf from the start so readers never mutate a live session
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

