"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the ones that matter on a 1000-executor cluster at 100 TB:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats)
- session timezone pinned UTC so timestamp semantics match the DuckDB
  correctness oracle and are cluster-TZ-independent
- Arrow enabled so any Pandas-UDF path is batch-vectorized
- shuffle partitions sized to cores locally; at cluster scale AQE's
  coalescing makes the static number far less critical
- Python workers forked from ``reindexer_spark.pyworker``, pyspark's own
  daemon with zip importers that re-read an archive only when it changes
  (saves ~0.1 s of archive re-reads per Python task; see that module).
  Executors must import ``reindexer_spark``, as the engine's UDFs
  already require.
- ``file:`` paths served by the engine's local file system
  (``reindexer_spark/jvm/``, a jar of Hadoop ``LocalFileSystem`` and
  FileContext ``LocalFs`` subclasses).  Without libhadoop, which pyspark
  does not ship, stock Hadoop forks ``chmod``, ``ls -ld`` or ``readlink``
  to set a permission, read a status's permission, owner or group, or
  read a link: about ten child processes (~30 ms) per offset-log,
  commit-log or state-store file a stream writes.  The engine's file
  system makes those calls through java.nio and keeps everything else:
  Hadoop's ``.crc`` sidecars, Spark's checkpoint file checksums, atomic
  rename and permission bits.  Local mode runs every task in the
  driver JVM, so only the driver classpath gets the jar; a non-local
  master keeps the stock file system.

``spark.python.daemon.module`` and ``spark.driver.extraClassPath`` are
static confs: only a session that ``get_spark`` builds gets them, and
``tune`` cannot apply them.  A session a host hands in (e.g. to
``__spark_entry__.entry``) keeps pyspark's daemon and Hadoop's file
system; it gives the same results, without those savings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Hadoop local file system whose permission and link calls go through
# java.nio (sources and build: reindexer_spark/jvm/, tools/build_jvm.py)
FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "reindexer-fs.jar")

# Runtime-settable confs applied even when the caller (e.g. the verify
# driver) hands us an already-built session.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the ndjson_chunks Python DataSource implements pushFilters;
    # Spark 4.1 gates Python-source pushdown behind this flag
    "spark.sql.python.filterPushdown.enabled": "true",
    # INT64 TIMESTAMP(NANOS) parquet columns (older events.parquet
    # vintages) read as raw longs instead of failing the scan;
    # catalog.load_table and streaming.stream_events convert them
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set (the
    deployment override), else a quarter of physical RAM, at least 1g.
    In local mode the driver JVM also runs every task, so a default
    larger than the host invites the kernel's OOM killer instead of a
    JVM OutOfMemoryError."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, ram // 4 // 2**20)}m"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Every registered query calls this, so correctness does not depend on
    who built the SparkSession.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host session; proceed with its value
    return spark


def local_fs_confs(master: str, extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Static confs that mount the engine's local file system on a
    ``master`` session: the jar appended to the caller's driver classpath,
    if any, and the two ``file:`` implementations.  Empty for a non-local
    master, whose executors would not have the jar."""
    if not master.startswith("local"):
        return {}
    classpath = (extra_conf or {}).get("spark.driver.extraClassPath")
    return {
        # tasks run in the driver JVM, so the driver classpath is enough
        "spark.driver.extraClassPath": (
            f"{classpath}{os.pathsep}{FS_JAR}" if classpath else FS_JAR
        ),
        "spark.hadoop.fs.file.impl": "reindexer_spark.jvm.NioLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "reindexer_spark.jvm.NioLocalFs",
    }


def get_spark(
    app_name: str = "reindexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers must be able to import this package regardless of the
    # driver's cwd (mapInPandas/foreachPartition ship references to it).
    # Local mode workers inherit the driver's PYTHONPATH; on a cluster the
    # same var rides along via spark.executorEnv.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cores = default_parallelism()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "reindexer_spark.pyworker")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in {**(extra_conf or {}), **local_fs_confs(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
