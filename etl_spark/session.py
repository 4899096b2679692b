"""SparkSession builder tuned for the CDC ingest engine.

Design notes (100 TB target):
- AQE on, with skew-join splitting: hot repos produce skewed merge joins;
  AQE splits oversized partitions at runtime.
- ``spark.sql.shuffle.partitions`` defaults sized for local test runs;
  production submit overrides via ``--conf`` (rule of thumb: 2-3x total
  executor cores, and partitions <= ~200 MB post-shuffle).
- Arrow enabled for pandas_udf paths (content normalization).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("ETL_SPARK_SHUFFLE_PARTITIONS", "32"))


def _external_jvm(env=None) -> bool:
    """True when the driver JVM already exists — spark-submit exports the
    gateway port before exec'ing the Python driver, and that is the ONLY
    reliable launch-path signal (spark-submit sets no ``SPARK_SUBMIT``-
    style env var). When true, JVM-launch-time settings belong to
    spark-submit's own flags: builder-set driver memory / GC options are
    silently ignored by a running JVM, and a builder-set master would
    OVERRIDE the submitted ``--master`` and pull a cluster job back to
    ``local[*]``."""
    e = os.environ if env is None else env
    return "PYSPARK_GATEWAY_PORT" in e


def build_session(
    app_name: str = "etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS|*]`` when not running
    under spark-submit (which supplies its own master — see
    ``_external_jvm``). Driver memory / GC flags are likewise only set
    when this process launches the JVM itself; under spark-submit pass
    ``--driver-memory`` / ``--driver-java-options``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    external = _external_jvm()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
        # granularity knobs: production defaults (64m/128m) assume data >>
        # cores x partition size; sandbox-scale benches override via env so
        # stage parallelism stays proportional to what a 100 TB run sees
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("ETL_SPARK_ADVISORY_PARTITION", "64m"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("ETL_SPARK_MAX_PARTITION_BYTES", "128m"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if not external:
        # JVM-launch-time settings — effective only because plain-python
        # launches forward builder conf into the gateway command line;
        # a pre-existing (spark-submit) JVM would silently ignore them
        builder = builder.config(
            "spark.driver.memory", os.environ.get("ETL_SPARK_DRIVER_MEM", "8g")
        ).config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                # throughput collector, GC threads capped: batch ingest
                # allocates fast with no latency SLO, and on a real
                # cluster each executor has few cores — uncapped GC
                # threads on a many-core single JVM just contend
                "ETL_SPARK_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:ParallelGCThreads=8",
            ),
        )
    if master is not None:
        builder = builder.master(master)
    elif not external and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_session() -> SparkSession:
    """Return the active session or build a default one."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
