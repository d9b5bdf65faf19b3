"""Fixed-size chunk writing (Tier A4/A5).

The reference counts rows in a cursor loop and cuts a new temp file
every ``chunkSize`` records (/root/reference/driver.go:192-207), then
appends ``content`` verbatim (driver.go:197 — bug B10: no newline is
added, so files are NDJSON only by luck).

Spark-native: the row loop disappears; chunk size is enforced by
``spark.sql.files.maxRecordsPerFile`` (per-file cap, any partitioning)
plus a partition count sized to the data, and the text writer emits
exactly one record per line (B10 fixed by construction).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def write_ndjson_chunks(
    df: DataFrame,
    path: str,
    chunk_size: int,
    content_col: str = "content",
    exact: bool = False,
) -> int:
    """Write ``content_col`` as NDJSON chunk files of ≤ ``chunk_size``
    records under ``path``; returns the record count.

    Newlines embedded in a record would corrupt NDJSON framing, so they
    are stripped defensively (the reference would silently emit a broken
    chunk — B10).

    ``exact=False`` (default, the scale path): one pass, no extra
    shuffle — ``maxRecordsPerFile`` splits oversized partitions at write
    time, so files are ≤ chunk_size but partition boundaries may leave
    some short.  ``exact=True`` adds a repartition so file count is
    ⌈n/chunk_size⌉ — costs a shuffle + a count job, only worth it when
    downstream bills per file (as the reference's one-subprocess-per-
    chunk worker pool did — driver.go:166-171).
    """
    out = df.select(
        F.regexp_replace(F.col(content_col).cast("string"), r"[\r\n]+", " ").alias(
            "value"
        )
    )
    n = -1
    if exact:
        n = out.count()
        out = out.repartition(max(1, math.ceil(n / chunk_size)))
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", chunk_size)
        .text(path)
    )
    return n


def chunk_ids(df: DataFrame, id_col: str, chunk_size: int) -> DataFrame:
    """Deterministic chunk assignment by dense key rank — the declarative
    analogue of the reference's "every chunkSize rows" counter, usable
    for per-chunk bookkeeping (min/max id per chunk drives resume).

    Scalable two-phase rank (no global window): range-partition by the
    key, rank within each partition, then add broadcast cumulative
    offsets.  A plain ``row_number() OVER (ORDER BY id)`` funnels the
    whole table through one task — the classic global-window bottleneck
    — while this shape is a range shuffle plus per-partition sorts.
    """
    from pyspark.sql import Window

    parts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    # localCheckpoint, not a releasable persist: repartitionByRange picks
    # boundaries by SAMPLING, so a RECOMPUTE can yield a different
    # partitioning than the one the driver-collected offsets were built
    # from (observed as ±100-row chunk drift at 100k rows).  A tracked
    # persist is released at the next query start and would silently
    # recompute for a caller still holding the result; the checkpoint
    # severs lineage so the materialized partitioning IS the data.
    ranged = (
        df.repartitionByRange(parts, F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # cumulative row offset per range partition (tiny driver-side table)
    counts = (
        ranged.groupBy("__pid").agg(F.count("*").alias("__n")).collect()
    )
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__n"]
    offset_df = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy(id_col)
    return (
        ranged.join(F.broadcast(offset_df), "__pid")
        .withColumn(
            "chunk_id",
            F.floor(
                (F.row_number().over(w) - 1 + F.col("__offset")) / chunk_size
            ).cast("bigint"),
        )
        .drop("__pid", "__offset")
    )

