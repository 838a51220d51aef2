"""SparkSession factory with the engine's scale-oriented defaults.

These settings are what we would ship in spark-defaults.conf on a real
cluster; locally they make local[N] behave like a small cluster:

  * AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to cores (driver may override per job),
  * Arrow enabled with a bounded batch size — source-code ``content``
    rows can exceed 100 KB, so the default 10k records/batch would blow
    up Python-worker memory (SURVEY.md §4).

Plus :func:`pushed_filters`, the one reader of a plan's pushdown that
the tests and the plan audit share.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH = 2048


def get_spark(
    app_name: str = "xsearch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # >= 4x parallelism so AQE has room to coalesce and skew-split
        n = _master_cores(master, cores)
        shuffle_partitions = max(32, 4 * n)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # zstd for every parquet the engine writes: measured 36% fewer
        # bytes than snappy on the ids checkpoint (the build's largest
        # materialization — text content) at equal-or-better wall, and
        # the host's disk-bandwidth windows are the dominant build-wall
        # noise on this box (BENCH/BASELINE.md round-5 notes). At 100 TB
        # this is also simply the right cold-data codec.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    return builder.getOrCreate()


def _master_cores(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return default
        try:
            return int(inner)
        except ValueError:
            return default
    return default


def pushed_filters(df) -> list[str]:
    """The ``PushedFilters`` of every file scan in ``df``'s physical
    plan, one string per scan, untruncated. A printed plan cuts each
    scan's metadata at ``spark.sql.maxMetadataStringLength`` (~100)
    characters, so a filter behind a long ``In`` list is missing from
    the plan text although parquet receives it."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            out.append(leaf.metadata().apply("PushedFilters"))
    return out
