"""Table catalog: the driver's synthetic star schema (TESTDATA.md) plus
loading helpers.

At test scale tables are parquet files under ``{sf_dir}``; in production the
``documents`` relation is a JDBC source (the reference pulls it from
PostgreSQL — /root/reference/driver.go:153, config/config.go:78).  The
loading surface is identical either way: callers get a DataFrame and
Catalyst handles pushdown into whichever source is behind it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (app_id, resolved path, source mtime) → lazy DataFrame.  Building a
# parquet DataFrame reads footers for schema inference — ~30-100 ms of
# driver/JVM work PER TABLE PER CALL, and every registered query calls
# load_table for each table it touches (register_views: all 10), so the
# bench paid it hundreds of times per sweep (optimization r16, guide
# §1.2 driver-side work).  The cached object is an UNMATERIALIZED plan
# — no rows are cached, every execution still scans the parquet — so
# this is plan reuse, not result caching.  The mtime key invalidates
# when a test regenerates a fixture dir in place; the app-id key drops
# plans bound to a stopped session.
#
# ASSUMPTIONS (ADVICE r16): invalidation scans ONE directory level —
# the flat layout every TABLES source uses (single file or one level
# of part files; nothing here writes Hive-partitioned table dirs).  A
# nested/partitioned dataset rewritten in place deeper than one level,
# or rewritten within the filesystem's mtime granularity tick, would
# serve a stale plan — recurse _source_mtime before pointing TABLES at
# such a layout.  The app-id key is also shared across
# spark.newSession() siblings (same applicationId); that is safe
# because a plan built in one sibling resolves the same files, but a
# sibling-specific catalog (temp views shadowing a table name) must
# not rely on load_table seeing it.
_TABLE_PLANS: dict[tuple[str, str, float], DataFrame] = {}


def _source_mtime(path: str) -> float:
    """Newest mtime under ``path`` (single parquet file in the testdata
    layout; one directory level for Spark-written datasets)."""
    try:
        mt = os.path.getmtime(path)
        if os.path.isdir(path):
            with os.scandir(path) as it:
                for entry in it:
                    m = entry.stat().st_mtime
                    if m > mt:
                        mt = m
        return mt
    except OSError:
        return -1.0


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``sf_dir`` as a DataFrame.

    Parquet scan → columnar vectorized reader, predicate pushdown and
    column pruning apply automatically to downstream plans.

    ``events.ts`` has changed physical type across testdata vintages:
    TIMESTAMP(NANOS) (rejected by Spark's vectorized reader — read as
    raw nanos under session.RUNTIME_CONFS' legacy nanosAsLong conf and
    converted), then TIMESTAMP(MICROS)
    without timezone (read as TIMESTAMP_NTZ — cast to TIMESTAMP so
    downstream ``unix_micros``/interval arithmetic sees one type; the
    session timezone is pinned UTC, so the cast is the identity mapping
    DuckDB applies).  Either way callers always see ``ts: timestamp``.
    """
    path = f"{sf_dir}/{name}.parquet"
    key = (spark.sparkContext.applicationId, path, _source_mtime(path))
    cached = _TABLE_PLANS.get(key)
    if cached is not None:
        return cached
    if name == "events":
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns values exceed 2^53, double division
            # would corrupt the low microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(path)
    if len(_TABLE_PLANS) >= 256:  # fixture-regenerating test loops
        _TABLE_PLANS.clear()
    _TABLE_PLANS[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register catalog tables as temp views so ``spark.sql`` (the Tier B10
    'arbitrary user SQL' surface — /root/reference/config/config.go:20) can
    address them by name."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
