"""Streaming sources and the one stream driver.

``stream_events`` / ``stream_documents`` expose the catalog's tables as
streaming DataFrames (file source; schema supplied explicitly —
streaming sources cannot infer).  ``maxFilesPerTrigger`` keeps several
micro-batches flowing, so state (watermarks, dedup, sessions) is
exercised across batches, not satisfied by one batch holding everything.

``drive_stream`` is how every stream in the package runs: availableNow
trigger, drained synchronously, then stopped, joined and forgotten by
the session's query manager; it returns the query's recent
per-micro-batch progress reports.  ``spark.sql.shuffle.partitions`` is set to
the stream's state-partition count for that run only.
``run_stream_to_memory`` drives a plan into a memory sink and returns
the result as a batch DataFrame — the local analogue of a Kafka→sink
deployment; only the source/sink formats change in production.

A stream keeps no state in the session after it returns: no running
query, no terminated-query record, no temp view, no conf change.
Streams are assumed to run one at a time on a session.
"""

from __future__ import annotations

import uuid

from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress

# parquet matches columns by name; `ts` arrives either as a proper
# TIMESTAMP(MICROS) column (current generator) or as TIMESTAMP(NANOS),
# which Spark's vectorized reader only accepts as a raw long under the
# legacy nanosAsLong conf (session.RUNTIME_CONFS).  The writer's choice
# is probed from the file footer so both vintages of the testdata
# stream correctly.
EVENTS_SCHEMA_TS = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
EVENTS_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.parquet stores ts as TIMESTAMP(NANOS).  Footer
    read only — no data pages touched.  events.parquet may be a single
    file (driver testdata) or a Spark-written directory dataset (the
    scale corpora) — probe the first part file in the latter case."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(
            n for n in os.listdir(path) if n.endswith(".parquet")
        )
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    # the physical type matters: pyarrow reports BOTH INT64-nanos and
    # legacy INT96 as timestamp[ns], but only INT64-nanos needs the
    # read-as-bigint workaround (INT96 reads natively as timestamp).
    # One footer open supplies both schemas.
    pf = pq.ParquetFile(path)
    arrow_schema = pf.schema_arrow
    col = pf.schema.column(arrow_schema.get_field_index("ts"))
    t = arrow_schema.field("ts").type
    return (
        col.physical_type == "INT64" and getattr(t, "unit", None) == "ns"
    )


# Shuffle partitions a stream runs with, hence state stores per stateful
# operator.  Every micro-batch loads and commits each store, so the
# count tracks state volume, not cores: the stream-stream join measured
# 8.0 s/batch with 32 stores vs 1.4 s with 8 on identical data (on Hadoop's
# stock local file system, which forked shell commands for every store
# file; session.py's java.nio one makes each store cheaper).
STATE_PARTITIONS = 8


def _stream_table_source(spark, sf_dir: str, name: str, schema: str,
                         max_files_per_trigger: int):
    """File-source reader for ``<sf_dir>/<name>.parquet`` whether it is
    a single file (the streaming file source requires a DIRECTORY path,
    so a pathGlobFilter selects the file out of the shared dir) or a
    Spark-written directory dataset (streamed directly — its part files
    would never match the glob)."""
    import os

    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """events.parquet as a streaming source, ts normalized to a
    microsecond TIMESTAMP regardless of the writer's physical unit
    (same adaptivity as catalog.load_table's batch path)."""
    if _events_ts_is_nanos(sf_dir):
        raw = _stream_table_source(
            spark, sf_dir, "events", EVENTS_SCHEMA_NANOS,
            max_files_per_trigger,
        )
        # integer division: ns values exceed 2^53, double division
        # would corrupt the low microseconds
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _stream_table_source(
        spark, sf_dir, "events", EVENTS_SCHEMA_TS, max_files_per_trigger
    )


DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_documents(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """documents.parquet as a streaming source — the ingest stream the
    streaming packer / decode lanes consume.  Schema supplied
    explicitly (streaming sources cannot infer)."""
    return _stream_table_source(
        spark, sf_dir, "documents", DOCS_SCHEMA, max_files_per_trigger
    )


def drive_stream(
    writer: DataStreamWriter,
    spark: SparkSession,
    state_partitions: int = STATE_PARTITIONS,
) -> list[StreamingQueryProgress]:
    """Run ``writer`` (a configured ``writeStream``) once, availableNow,
    to completion, and return the finished query's ``recentProgress``:
    one report per micro-batch, with its ``durationMs`` phases and each
    state operator's rows and commit time — the most recent reports
    only, up to ``spark.sql.streaming.numRecentProgressUpdates`` (100
    by default), for a stream with more batches than that.
    ``spark.sql.shuffle.partitions`` is ``state_partitions`` for this
    stream only (a restarted checkpoint keeps the count it was created
    with); the query is stopped and joined, and its terminated-query
    record dropped, whether it finished or failed — a failure re-raises
    here, its message ending with its innermost cause's."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.trigger(availableNow=True).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            try:
                q.awaitTermination()
            finally:
                spark.streams.resetTerminated()
        return q.recentProgress
    except CapturedException as exc:
        _name_root_cause(exc)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _name_root_cause(exc: CapturedException) -> None:
    """Append the innermost cause's message to ``exc``'s own.  A failed
    stream raises STREAM_FAILED naming only the failing operator's
    error class; what went wrong (e.g. a checkpoint file that fails its
    checksum, and its path) is in the text of a cause further down."""
    root = exc
    while root._cause is not None:
        root = root._cause
    if root is not exc:
        exc._desc = f"{exc._desc}\nCaused by: {root._desc}"


def run_stream_to_memory(
    streaming_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int = STATE_PARTITIONS,
) -> DataFrame:
    """Run a streaming plan to completion into a memory sink; returns a
    batch DataFrame over the final result.  The sink's temp view is
    dropped before returning (the frame keeps the rows), so the session
    catalog ends as it started, also when the stream fails.

    Lanes whose micro-batch cost is Python compute rather than store
    bookkeeping (the bucketed fingerprint-dedup operators) pass the
    session core count as ``state_partitions``, so their state tasks run
    in one wave: on a 4-core host stream_cdc_dedup_live at sf0.001
    measured 0.74 s at 4 partitions against 0.87 s at the default 8
    (medians of 6 alternating runs after 2 warm-up pairs, one session;
    1.27 s against 1.57 s while every store commit forked Hadoop's
    permission shell commands)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = streaming_df.sparkSession
    writer = streaming_df.writeStream.outputMode(output_mode).format("memory")
    try:
        drive_stream(writer.queryName(name), spark, state_partitions)
        return spark.sql(f"SELECT * FROM {name}")
    finally:
        spark.catalog.dropTempView(name)
