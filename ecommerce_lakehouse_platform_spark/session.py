"""SparkSession factory.

The reference runs on Databricks and never builds its own session
(/root/reference/01_bronze/01_bronze_ingest.py uses the ambient
``spark``). Here we own session construction: local[N] for tests and
bench, UTC timezone for deterministic date semantics, AQE on so that
runtime stats pick broadcast/skew strategies at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "ecommerce-lakehouse-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session used by tests and bench.

    On a real cluster the master/memory settings come from
    spark-submit; everything set here is safe under any deployment.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Python workers (UDFs, the minidelta streaming sources) import
    # this package by name: hand them its parent directory so they
    # find it from any working directory (Spark merges this with the
    # worker environment's own PYTHONPATH)
    package_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", package_root)
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable determinism/perf settings to a session we
    did not create (the driver passes its own session to ``queries()``).

    Session timezone is runtime-mutable and is the one setting that
    changes observable results (timestamp→date boundaries); everything
    else is a performance knob.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # The events fixture stores ts as parquet TIMESTAMP(NANOS), which
    # Spark's vectorized reader rejects; read it as a long and convert
    # explicitly (sources read nanos → timestamp_micros(ts div 1000)).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
