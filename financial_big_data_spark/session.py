"""SparkSession construction tuned for this engine.

Local runs use ``local[N]`` (one JVM); the configuration below is written so
the same code scales to a multi-executor cluster: AQE re-plans shuffles at
runtime (partition coalescing + skew-join splitting), Arrow accelerates every
pandas exchange, and shuffle partitioning is sized from the parallelism knob
instead of Spark's 200 default.

The session timezone is pinned to UTC so timestamp semantics match
UTC-naive engines (DuckDB oracle, parquet wall-clock times) exactly.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def build_session(
    app_name: str = "financial_big_data_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to the core count: with AQE partition
    coalescing enabled this is a ceiling, not a fixed width, so the same
    setting works from sf0.001 up — on a real cluster you'd raise it to
    2-3x total cores and let AQE coalesce.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Some testdata generations ship events.ts as TIMESTAMP(NANOS),
        # which Spark's parquet reader rejects; the conf makes such columns
        # scannable as long ns (sources.tables.load_table sniffs the footer
        # and converts). Harmless for micros files.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def temp_conf(spark: SparkSession, confs: dict[str, str]):
    """Set session ``confs`` for the ``with`` block, then put each key back
    exactly as it was: its previous value, or unset if it had none."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, p in prev.items():
            if p is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)
