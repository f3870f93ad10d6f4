"""SparkSession factory with scale-appropriate defaults.

Scale posture (100 TB / 1000-executor design, tested on local[*]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast-join demotion/promotion replace hand tuning.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces down. For a real cluster set it ~2-3x total cores.
- Session timezone pinned to UTC so date_trunc/window semantics match
  an ANSI oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for the Pandas-UDF paths (vectorized, not per-row).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Conf that is safe to (re)apply on an existing session at runtime.
RUNTIME_CONF = {
    # Runtime-settable, so tune() can fix it on an externally-built
    # session too: Spark's default of 200 shuffle partitions means 200
    # scheduled tasks per shuffle regardless of data size — pure
    # overhead at local scale.  AQE coalescing trims further at runtime.
    "spark.sql.shuffle.partitions": str(default_parallelism()),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_driver_memory() -> str:
    """Half the host RAM in whole GiB, 1g-24g: local mode runs the whole
    engine in this ONE JVM heap (8g starved 32 tasks on 100x inputs into
    GC-locker OOM); the rest is for the Python workers and the OS."""
    gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    return f"{min(24, max(1, gib // 2))}g"


def get_spark(app_name: str = "team-aragon-spark") -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{default_parallelism()}]"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """The one place where query-run storage is released.

    Enclose a query's run AND the consumption of its lazy result, which
    still reads what the query persisted or checkpointed.  On exit:
    ``clearCache()``, which drops EVERY DataFrame cache, made before entry
    too; then unpersist each RDD that became persistent inside the scope
    (local checkpoints, ``rdd.cache()``; older ones survive).  Non-blocking.
    """
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        yield
    finally:
        spark.catalog.clearCache()
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(False)


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition a DataFrame that arrived under-split.

    Small parquet files scan as 1 split, which serializes CPU-heavy
    per-row operators (hashing, shingling, decode) on one core.  A
    round-robin repartition costs one tiny shuffle and buys full
    cluster width.  At 100 TB inputs are already wide, so this is a
    no-op there (the check is partition count, not size).
    """
    n = min_partitions or default_parallelism()
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to a session we did not create.

    The driver harness hands ``entry(spark)`` an externally-built
    session; static conf (memory, master) can't change, but AQE /
    timezone / Arrow can and must (UTC pinning is required for oracle
    comparison correctness, not just performance).
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by a strict harness
            pass
    return spark
