"""SparkSession factory with the engine's scale-oriented defaults.

These settings are what we would ship in spark-defaults.conf on a real
cluster; locally they make local[N] behave like a small cluster:

  * AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized to cores (driver may override per job),
  * Arrow enabled with a bounded batch size — source-code ``content``
    rows can exceed 100 KB, so the default 10k records/batch would blow
    up Python-worker memory (SURVEY.md §4),
  * every JVM <-> Python worker link on a Unix-domain socket, set by
    :func:`start_session`, which the spark-submit scripts use too.

Plus :func:`pushed_filters`, the one reader of a plan's pushdown that
the tests and the plan audit share.
"""

from __future__ import annotations

import os
import uuid

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

ARROW_BATCH = 2048

SOCKET_DIR_KEY = "spark.python.unix.domain.socket.dir"
# where the sockets go unless the submitter sets SOCKET_DIR_KEY. Spark's
# own default, java.io.tmpdir, is often too long: perfbench sets it to
# <checkout>/.bench_work/<run>/tmp, and a YARN container's lies under
# its application cache directory
SOCKET_DIR = "/tmp"
# AF_UNIX's sun_path is 108 bytes, and the JDK takes a socket path of at
# most 106: a 63-byte directory binds, a 64-byte one fails every Python
# task with "Unix domain path too long"
SOCKET_PATH_MAX = 106
# Spark names each socket <dir>/.<uuid4>.sock
_SOCKET_NAME = f".{uuid.UUID(int=0)}.sock"


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
    conf = (
        SparkConf()
        .setAppName(app_name)
        .setMaster(master)
        .set("spark.sql.adaptive.enabled", "true")
        .set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .set("spark.sql.adaptive.skewJoin.enabled", "true")
        .set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .set("spark.sql.execution.arrow.pyspark.enabled", "true")
        .set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .set("spark.sql.files.maxPartitionBytes", "128m")
        .set("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .set("spark.ui.enabled", "false")
        # zstd for every parquet the engine writes: measured 36% fewer
        # bytes than snappy on the ids checkpoint (the build's largest
        # materialization — text content) at equal-or-better wall, and
        # the host's disk-bandwidth windows are the dominant build-wall
        # noise on this box (BENCH/BASELINE.md round-5 notes). At 100 TB
        # this is also simply the right cold-data codec.
        .set("spark.sql.parquet.compression.codec", "zstd")
    )
    return start_session(conf)


def start_session(conf: SparkConf) -> SparkSession:
    """``getOrCreate`` a session on ``conf`` with every JVM <-> Python
    worker link on a Unix-domain socket.

    The socket directory is ``spark.python.unix.domain.socket.dir`` when
    the submitter set it (read from the JVM, started here or by
    spark-submit), else :data:`SOCKET_DIR`; it is checked before the
    SparkContext binds its first socket, and executors get the same
    directory."""
    # Over loopback TCP a warm Python task waits ~40 ms for its first
    # input batch: the JVM writes the task in several small pieces and
    # the worker holds its ACK for Linux's minimum delayed-ACK time. A
    # Unix-domain socket has no Nagle or delayed ACK, so the wait is
    # ~1 ms (tests/test_worker_floor.py). No TCP fallback: a socket
    # directory too long for AF_UNIX raises.
    conf.set("spark.python.unix.domain.socket.enabled", "true")
    SparkContext._ensure_initialized(conf=conf)
    directory = (
        conf.get(SOCKET_DIR_KEY)
        or SparkContext._jvm.java.lang.System.getProperty(SOCKET_DIR_KEY)
        or SOCKET_DIR
    )
    conf.set(SOCKET_DIR_KEY, check_socket_dir(directory))
    return SparkSession.builder.config(conf=conf).getOrCreate()


def check_socket_dir(directory: str) -> str:
    """``directory`` if a Spark worker socket in it fits the Unix-domain
    socket path limit, else a ``ValueError`` naming the directory and the
    limit."""
    path = os.path.join(directory, _SOCKET_NAME)
    if len(os.fsencode(path)) > SOCKET_PATH_MAX:
        raise ValueError(
            f"Python worker socket directory {directory!r} is too long: "
            f"its sockets ({path!r}, {len(os.fsencode(path))} bytes) exceed "
            f"the {SOCKET_PATH_MAX}-byte Unix-domain socket path limit; set "
            f"{SOCKET_DIR_KEY} to a shorter directory"
        )
    return directory


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
