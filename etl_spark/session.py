"""SparkSession factory with scale-appropriate defaults.

Single place where engine-wide Spark tuning lives so tests, bench, and the
driver harness all execute with the same physical configuration:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing);
- Arrow on (vectorized pandas UDF exchange — the only Python execution path
  this engine permits, per the no-per-row-Python rule);
- shuffle partitions sized to cores for local runs (on a real cluster this is
  overridden to ~2-3x total executor cores via spark-submit conf);
- session time zone pinned to UTC so results compare bit-exactly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 4


def get_session(
    app_name: str = "etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    spark-submit on a cluster the submitted master wins (we never override an
    externally-provided master).
    """
    par = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{par}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else par

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # tz-naive parquet timestamps (e.g. pyarrow-written WAL segments)
        # read as TimestampType, not timestamp_ntz: with the session pinned
        # to UTC the semantics are identical, and the engine keeps ONE
        # timestamp type across sources, lake tables, and the DuckDB oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # TIMESTAMP_MICROS, not the legacy INT96 default: INT96 columns
        # carry NO parquet min/max statistics, which would silently
        # disable the lake table's zone-map pruning on timestamp columns
        # (and INT96 is deprecated everywhere outside Hive compat).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Files: 32 MiB split target, NOT the stock 128 MiB. This engine's
        # scan tasks are CPU-heavy (snappy decompress + regex normalize +
        # hash dedup combine, ~4-5x expansion from compressed bytes), so
        # 128 MiB splits under-partition the WAL — a 2 GB micro-batch
        # becomes 18 tasks and half a 32-core executor pool sits idle.
        # 32 MiB keeps ~3-4 waves per core at the same batch size; on a
        # 1000-executor cluster the same reasoning holds per executor.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Lake reads hand spark.read.parquet the exact file list from the
        # table manifest; past the stock threshold of 32 paths Spark would
        # launch a file-listing JOB (one task per path) to stat files the
        # manifest already names. List on the driver instead, always.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
