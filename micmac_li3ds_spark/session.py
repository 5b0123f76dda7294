"""SparkSession factory with the engine's standard configuration.

Tuned for the driver environment (single JVM, local[N]) but every setting
is the one we would ship to a 1000-executor cluster as well: AQE on
(coalescing + skew-join splitting), UTC session time zone (oracle parity,
SURVEY.md §5.3), Arrow for any pandas-UDF exchange.

The engine is a long-lived session that runs the same registered query
shapes again and again (bench min-of-N, the test session, tools/check.py,
warm benchmark passes). Spark caches the classes it generates for a plan,
but only ``spark.sql.codegen.cache.maxEntries`` of them, 100 by default.
Two sweeps of all registered queries at sf0.001 generate ~2.6k distinct
classes, so at 100 the LRU evicts every class before its shape runs
again, and each repeat re-runs Janino and re-JITs the new class.
``get_spark`` raises the cap to ``CODEGEN_CACHE_ENTRIES`` so a shape is
compiled once per JVM. That conf is static: Spark reads it once per JVM,
when code is first generated, so it only takes effect on the builder.
A session the caller built (the driver's) keeps Spark's default 100, and
``configure_session`` cannot change that.

Both entry points also put the package's parent directory on the Python
workers' ``PYTHONPATH``, so UDFs and Python data sources import the
package whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache size: ~1.5x the ~2.6k distinct classes that two
# full registry sweeps generate in one JVM (Metaspace grew 219 -> 235 MB).
CODEGEN_CACHE_ENTRIES = 4000

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ship_package(spark: SparkSession) -> None:
    """Prepend the package's parent dir to the Python workers' PYTHONPATH.

    Workers get ``SparkContext.environment`` with every Python function
    wrapped after this call (UDFs, Python data sources)."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])


def get_spark(
    app_name: str = "micmac-li3ds-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or return) the engine's local session.

    Besides the runtime conventions this sets the static
    ``spark.sql.codegen.cache.maxEntries`` to ``CODEGEN_CACHE_ENTRIES``
    (see the module docstring). Spark reads it once per JVM, so it has
    no effect if this JVM already generated code under another session."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    if shuffle_partitions is None:
        # Small local corpora: fewer shuffle partitions cut latency; AQE
        # coalesces further. At 100 TB this would be sized to
        # data / (executor-mem-safe partition size ~128-256 MB).
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an int, tolerant of
    deployments that set ``spark.sql.shuffle.partitions=auto`` (AQE
    advisory mode): non-numeric values fall back to the cluster's
    ``defaultParallelism`` instead of raising ValueError."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conventions to an externally
    provided session (the driver owns its own SparkSession).

    Static confs cannot be set here: ``spark.conf.set`` raises
    ``CANNOT_MODIFY_STATIC_CONFIG`` for them on a running session. So a
    driver-owned session keeps Spark's default codegen cache of 100
    classes; only ``get_spark`` sets the larger cap."""
    _ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # static confs on a running session — ignore
    return spark
