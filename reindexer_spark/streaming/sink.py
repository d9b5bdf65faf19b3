"""Idempotent streaming file sink via ``foreachBatch``.

Structured Streaming delivers each micro-batch AT LEAST once to a
``foreachBatch`` function: after a crash between "sink written" and
"checkpoint committed", the same (batchId, data) pair is re-delivered on
restart.  The standard exactly-once recipe — used by every warehouse
sink that lacks a transactional commit protocol — is to make the write
a deterministic, self-overwriting function of ``batchId``:

    stream.writeStream.foreachBatch(sink.write_batch) ...

Each batch lands in its own ``batch_id=N`` subdirectory with
``mode="overwrite"``, so a replayed batch replaces its own previous
(possibly partial) output instead of appending duplicates.  Readers see
exactly-once output by construction; the directory layout doubles as a
partition column on read.

At 100 TB the same shape holds: the per-batch overwrite touches only
that batch's partition directory (dynamic partition overwrite), never
the table, and the sink commits are idempotent under Spark's task AND
query retries.  Reference anchor: the reference's Solr ingest
(ingest.go:17-38) is at-least-once with client-side retry; this is the
file-sink analogue that upgrades the guarantee to exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from reindexer_spark.streaming.runner import drive_stream


class IdempotentParquetSink:
    """``foreachBatch`` target writing each micro-batch to
    ``<base>/batch_id=<id>/`` with overwrite semantics."""

    def __init__(self, base_path: str) -> None:
        self.base_path = base_path

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{self.base_path}/batch_id={batch_id}"
            )
        )

    def read_all(self, spark) -> DataFrame:
        """Everything the sink has committed, batch dirs unioned by the
        reader (basePath keeps batch_id available as a column)."""
        return (
            spark.read.option("basePath", self.base_path)
            .parquet(f"{self.base_path}/batch_id=*")
        )


def run_stream_to_parquet(
    streaming_df: DataFrame, base_path: str, checkpoint_dir: str
) -> None:
    """Drive a streaming plan to completion through the idempotent sink
    (availableNow trigger, synchronous)."""
    sink = IdempotentParquetSink(base_path)
    drive_stream(
        streaming_df.writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", checkpoint_dir),
        streaming_df.sparkSession,
    )
