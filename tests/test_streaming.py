"""Structured Streaming tests: the same window plans that are
oracle-checked in batch (operators.windows_time) must produce identical
results under real streaming execution with multi-batch state, plus the
streaming-only operators (watermark late-data drop,
dropDuplicatesWithinWatermark)."""

from __future__ import annotations

import datetime as dt
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from reindexer_spark.streaming import (
    drive_stream,
    run_stream_to_memory,
    stream_events,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_files(spark, tmp_path, batches):
    """Write each batch of (event_id, minutes_offset, user_id, type, value)
    as its own parquet file so maxFilesPerTrigger=1 yields one
    micro-batch per file, in filename order."""
    root = tmp_path / "stream_src"
    root.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (eid, BASE + dt.timedelta(minutes=m), uid, typ, val)
                for (eid, m, uid, typ, val) in rows
            ],
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
        )
        df.coalesce(1).write.parquet(str(root / f"batch_{i:03d}.parquet"))
    return str(root)


def _read_stream(spark, root):
    return (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )


def test_stream_tumbling_matches_batch(spark, tmp_path):
    batches = [
        [(1, 0, 1, "click", 1.0), (2, 5, 1, "view", 2.0)],
        [(3, 12, 2, "click", 3.0), (4, 25, 1, "click", 4.0)],
        [(5, 41, 2, "view", 5.0), (6, 55, 3, "click", 6.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = lambda df: (  # noqa: E731
        df.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
    )
    stream_out = run_stream_to_memory(agg(_read_stream(spark, root)))
    batch_out = agg(spark.read.parquet(f"{root}/batch_*.parquet"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )


def test_stream_session_matches_batch(spark, tmp_path):
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 10, 1, "c", 1.0)],
        [(3, 100, 1, "c", 1.0), (4, 105, 2, "c", 1.0)],
        [(5, 300, 1, "c", 1.0), (6, 111, 2, "c", 1.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = lambda df: (  # noqa: E731
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("ws"), "n")
    )
    stream_out = run_stream_to_memory(agg(_read_stream(spark, root)))
    batch_out = agg(spark.read.parquet(f"{root}/batch_*.parquet"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )
    # user 1: events at 0,10 (one session) and 100,300 (two more)
    assert stream_out.filter(F.col("user_id") == 1).count() == 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    """The same event id arriving in two micro-batches within the
    watermark window must survive exactly once (stateful dedup across
    batches — the streaming analogue of dropDuplicates)."""
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 1, 1, "c", 1.0)],
        [(1, 0, 1, "c", 1.0), (3, 2, 1, "c", 1.0)],  # id=1 replayed
        [(4, 3, 1, "c", 1.0), (2, 1, 1, "c", 1.0)],  # id=2 replayed
    ]
    root = _mk_files(spark, tmp_path, batches)
    deduped = (
        _read_stream(spark, root)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_stream_to_memory(deduped, output_mode="append")
    assert sorted(r.event_id for r in out.collect()) == [1, 2, 3, 4]


def test_stream_watermark_drops_late_data(spark, tmp_path):
    """An event arriving after the watermark has passed its window is
    dropped from an append-mode windowed aggregation."""
    batches = [
        [(1, 0, 1, "c", 1.0), (2, 9, 1, "c", 1.0)],      # window [0,10)
        [(3, 120, 1, "c", 1.0)],                          # advances event time to 120
        [(6, 121, 1, "c", 1.0)],                          # watermark (=110) now in force
        [(4, 1, 1, "c", 100.0), (5, 122, 1, "c", 1.0)],   # id=4 is ~2h late → dropped
    ]
    root = _mk_files(spark, tmp_path, batches)
    agg = (
        _read_stream(spark, root)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )
    out = run_stream_to_memory(agg, output_mode="append")
    rows = {r.ws: (r.n, r.total) for r in out.collect()}
    first_window = BASE
    # the late event (value=100.0) must NOT appear in the first window
    assert rows[first_window] == (2, 2.0)


def test_stream_events_source_matches_batch_count(spark, sf_dir):
    out = run_stream_to_memory(
        stream_events(spark, sf_dir).groupBy("event_type").count()
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    assert out.agg(F.sum("count")).collect()[0][0] == batch.count()


def test_nanos_events_read_without_setting_session_confs(spark, tmp_path):
    """An events.parquet whose ts is INT64 TIMESTAMP(NANOS): building
    the batch table and the stream sets no session conf (the session
    declares nanosAsLong up front), and both read ``ts: timestamp`` at
    the exact microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from reindexer_spark.catalog import load_table
    from reindexer_spark.session import tune
    from reindexer_spark.streaming.runner import _events_ts_is_nanos

    # past 2^53 ns: a double division would round the microseconds
    ns = [1_700_000_000_123_456_789, 1_700_000_123_000_001_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["a", "b"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }),
        tmp_path / "events.parquet",
    )
    sf_dir = str(tmp_path)
    assert _events_ts_is_nanos(sf_dir)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    tune(spark)
    before = spark.conf.getAll
    batch = load_table(spark, sf_dir, "events")
    stream = stream_events(spark, sf_dir)
    assert spark.conf.getAll == before
    assert dict(batch.dtypes)["ts"] == dict(stream.dtypes)["ts"] == "timestamp"
    micros = [(1, ns[0] // 1000), (2, ns[1] // 1000)]
    pick = ["event_id", F.unix_micros("ts").alias("us")]
    assert sorted(map(tuple, batch.select(*pick).collect())) == micros
    streamed = run_stream_to_memory(stream.select(*pick), output_mode="append")
    assert sorted(map(tuple, streamed.collect())) == micros


def test_stateful_quota_alerts_across_batches(spark, tmp_path):
    """applyInPandasWithState: running totals must carry across
    micro-batches; alerts fire exactly when a threshold multiple is
    crossed, including mid-batch and multi-multiple jumps."""
    from reindexer_spark.streaming.stateful import quota_alerts

    batches = [
        # user 1 reaches 70; user 2 reaches 90 — no alerts yet
        [(1, 0, 1, "click", 70.0), (2, 1, 2, "view", 90.0)],
        # user 1: 70+40=110 → crosses 100; user 2: 90+5=95 → nothing
        [(3, 10, 1, "click", 40.0), (4, 11, 2, "view", 5.0)],
        # user 2: 95+210=305 → jumps two multiples (emit one alert at 300);
        # user 1: 110+95=205 → crosses 200
        [(5, 20, 2, "buy", 210.0), (6, 21, 1, "click", 95.0)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    alerts = run_stream_to_memory(
        quota_alerts(_read_stream(spark, root), threshold=100.0),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_id): (r.total, r.crossed)
        for r in alerts.collect()
    }
    assert got == {
        (1, 3): (110.0, 100.0),
        (1, 6): (205.0, 200.0),
        (2, 5): (305.0, 300.0),
    }


def test_stateful_quota_alerts_no_state_no_alert(spark, tmp_path):
    """Keys that never cross the threshold emit nothing."""
    from reindexer_spark.streaming.stateful import quota_alerts

    batches = [[(1, 0, 7, "click", 10.0)], [(2, 5, 7, "view", 20.0)]]
    root = _mk_files(spark, tmp_path, batches)
    alerts = run_stream_to_memory(
        quota_alerts(_read_stream(spark, root), threshold=100.0),
        output_mode="append",
    )
    assert alerts.count() == 0


def test_stateful_quota_alerts_cents_across_batches(spark, tmp_path):
    """Integer-cents variant: totals carry across micro-batches and the
    emitted totals/crossings are exact decimal arithmetic."""
    from pyspark.sql import functions as F

    from reindexer_spark.streaming.stateful import quota_alerts_cents

    batches = [
        [(1, 0, 1, "click", 99.99)],
        # 99.99 + 0.01 = exactly 100.00 → crossing multiple 1
        [(2, 10, 1, "click", 0.01)],
        # jump across two multiples → single alert at the higher one
        [(3, 20, 1, "buy", 250.00)],
    ]
    root = _mk_files(spark, tmp_path, batches)
    stream = _read_stream(spark, root).withColumn(
        "v", F.col("value").cast("decimal(12,2)")
    )
    alerts = run_stream_to_memory(
        quota_alerts_cents(stream, threshold_cents=10_000),
        output_mode="append",
    )
    got = {
        (r.user_id, r.event_id): (r.total, r.crossed)
        for r in alerts.collect()
    }
    assert got == {(1, 2): (100.0, 100.0), (1, 3): (350.0, 300.0)}


def test_idempotent_sink_exactly_once_output(spark, tmp_path):
    """End-to-end through the foreachBatch parquet sink: per-batch
    directories, and the read-back equals the batch answer."""
    from reindexer_spark.streaming.sink import (
        IdempotentParquetSink,
        run_stream_to_parquet,
    )

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 10.0), (2, 5, 2, "view", 1.0)],
            [(3, 10, 1, "click", 20.0)],
            [(4, 15, 3, "error", 5.0)],
        ],
    )
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_parquet(_read_stream(spark, root), out, ckpt)
    sink = IdempotentParquetSink(out)
    got = sink.read_all(spark)
    assert got.count() == 4
    # one directory per micro-batch (maxFilesPerTrigger=1 → 3 batches)
    assert got.select("batch_id").distinct().count() == 3


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path):
    """The at-least-once failure mode: the same (batchId, data) pair
    delivered twice must leave exactly one copy in the sink."""
    from reindexer_spark.streaming.sink import IdempotentParquetSink

    sink = IdempotentParquetSink(str(tmp_path / "sink_out"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "event_id bigint, payload string"
    )
    sink.write_batch(df, 7)
    sink.write_batch(df, 7)  # replay after simulated crash
    got = sink.read_all(spark)
    assert got.count() == 2
    assert got.select("batch_id").distinct().collect()[0][0] == 7


def test_stateful_rate_limit_counts_across_batches(spark, tmp_path):
    """Trailing-window counts must span micro-batch boundaries: user 1
    sends 2 events in batch 0 and a 3rd within the window in batch 1 —
    the 3rd event alone crosses the limit of 3."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 10, 1, "click", 1.0)],
            [(3, 20, 1, "click", 1.0), (4, 25, 2, "click", 1.0)],
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root),
        window_us=3_600_000_000,  # 1h window, all 3 events inside
        limit=3,
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    assert [(r.user_id, r.event_id, r.n_window) for r in got] == [(1, 3, 3)]


def test_stateful_rate_limit_state_evicts_old_batches(spark, tmp_path):
    """Events older than the window must leave state: the batch-1 event
    arrives 2h after batch 0's, so with a 1h window its count restarts
    at 1 and never alerts."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 5, 1, "click", 1.0)],
            [(3, 125, 1, "click", 1.0)],  # 2h05m later
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root), window_us=3_600_000_000, limit=2
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    # batch 0: second event reaches 2-in-window → alert; batch 1: state
    # evicted, count 1 → silent
    assert [(r.event_id, r.n_window) for r in got] == [(2, 2)]


def test_stateful_rate_limit_flags_late_batch(spark, tmp_path):
    """An out-of-order micro-batch (event time behind the per-user
    high-watermark) must be FLAGGED late with a null count — never
    silently undercounted against evicted state — while later on-time
    events still count the late event as a frame peer."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0), (2, 10, 1, "click", 1.0)],
            [(3, 5, 1, "click", 1.0)],   # LATE: hw is minute 10
            [(4, 12, 1, "click", 1.0)],  # on-time; peers = all 4
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root),
        window_us=3_600_000_000,  # 1h window covers every event
        limit=4,
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    flagged = [(r.event_id, r.n_window, r.late) for r in got]
    # batch 1: event 3 flagged late, count withheld; batch 2: event 4
    # reaches the limit of 4 BECAUSE the late event entered state
    assert flagged == [(3, None, True), (4, 4, False)]


def test_stateful_rate_limit_on_time_rows_never_flagged(spark, tmp_path):
    """Monotone batches never produce late rows (hw semantics are
    strict '<', so timestamp ties with the watermark stay on-time)."""
    from reindexer_spark.streaming import run_stream_to_memory
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    root = _mk_files(
        spark,
        tmp_path,
        [
            [(1, 0, 1, "click", 1.0)],
            [(2, 0, 1, "click", 1.0)],  # ties the watermark: on-time
            [(3, 1, 1, "click", 1.0)],
        ],
    )
    alerts = rate_limit_alerts(
        _read_stream(spark, root), window_us=3_600_000_000, limit=2
    )
    got = run_stream_to_memory(alerts, output_mode="append").collect()
    assert [(r.event_id, r.n_window, r.late) for r in got] == [
        (2, 2, False),
        (3, 3, False),
    ]


def _run_checkpointed(streaming_df, out_dir: str, ckpt: str) -> list:
    """Run an append-mode stream into a parquet sink with a durable
    checkpoint — the restartable analogue of run_stream_to_memory.
    Returns the run's per-batch progress reports."""
    return drive_stream(
        streaming_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt),
        streaming_df.sparkSession,
    )


def _append_batch(spark, root: str, idx: int, rows) -> None:
    df = spark.createDataFrame(
        [
            (eid, BASE + dt.timedelta(minutes=m), uid, typ, val)
            for (eid, m, uid, typ, val) in rows
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    df.coalesce(1).write.parquet(f"{root}/batch_{idx:03d}.parquet")


def test_stateful_checkpoint_recovery_across_restart(spark, tmp_path):
    """Custom applyInPandasWithState state must survive a full
    stop/restart against the same checkpointLocation: the post-restart
    event alerts ONLY if the pre-restart running total was recovered
    (60 + 50 crosses 100; a fresh state would sit at 50), and the
    pre-restart file is not reprocessed (exactly one output row)."""
    from reindexer_spark.streaming.stateful import quota_alerts

    root = _mk_files(spark, tmp_path, [[(1, 0, 1, "c", 60.0)]])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        _run_checkpointed(
            quota_alerts(_read_stream(spark, root), threshold=100.0),
            out_dir,
            ckpt,
        )

    run()  # batch 0: total 60, below threshold → no alert
    _append_batch(spark, root, 1, [(2, 10, 1, "c", 50.0)])
    run()  # restarted query: recovered total 60 + 50 = 110 → alert
    got = spark.read.parquet(out_dir).collect()
    assert [(r.user_id, r.event_id, r.total, r.crossed) for r in got] == [
        (1, 2, 110.0, 100.0)
    ]


def test_windowed_checkpoint_recovery_across_restart(spark, tmp_path):
    """Watermarked window state must survive restart: the [0,10) window
    absorbs two events before the stop, and finalizes (append-mode
    emission) only after post-restart batches advance the watermark —
    its count proves the pre-restart state was recovered, since the
    pre-restart files are never re-read (source offsets checkpointed)."""
    root = _mk_files(
        spark, tmp_path, [[(1, 0, 1, "c", 1.0), (2, 5, 1, "c", 1.0)]]
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def agg(df):
        return (
            df.withWatermark("ts", "1 second")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )

    def run():
        _run_checkpointed(agg(_read_stream(spark, root)), out_dir, ckpt)

    run()  # watermark 4:59 — window [0,10) still open, nothing emitted
    _append_batch(spark, root, 1, [(3, 30, 1, "c", 1.0)])
    _append_batch(spark, root, 2, [(4, 31, 1, "c", 1.0)])
    run()  # watermark passes 10:00 → [0,10) finalizes with BOTH events
    got = spark.read.parquet(out_dir).collect()
    assert [(r.ws, r.n) for r in got] == [(BASE, 2)]


def _mk_doc_files(spark, tmp_path, batches):
    """Write each batch of (doc_id, text) as its own parquet file."""
    root = tmp_path / "doc_stream_src"
    root.mkdir()
    for i, rows in enumerate(batches):
        _append_doc_batch(spark, str(root), i, rows)
    return str(root)


def _append_doc_batch(spark, root: str, idx: int, rows) -> None:
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df.coalesce(1).write.parquet(f"{root}/batch_{idx:03d}.parquet")


def _doc_stream(spark, root: str):
    """One micro-batch per file written by _mk_doc_files."""
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )


def _cdc_instances(docs):
    """(doc_id, idx, h, clen) chunk instances of a (doc_id, text) frame,
    cut by the row-wise md5 CDC splitter — cdc_dedup_stream's input."""
    from reindexer_spark.operators.dedup import _cdc_chunks

    return docs.select(
        "doc_id",
        F.posexplode(_cdc_chunks(F.col("text"))).alias("idx", "chunk"),
    ).select(
        "doc_id", "idx", F.md5("chunk").alias("h"),
        F.length("chunk").alias("clen"),
    )


def test_stateful_pack_greedy_carries_cursor_across_batches(spark, tmp_path):
    """The streaming packer's (seq_id, fill) cursor must carry across
    micro-batches: packing the same docs as one batch or as three
    batches (in the same per-shard arrival order) yields the same
    assignments, and equals a driver-side greedy replay."""
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS, pack_tokens
    from reindexer_spark.streaming.stateful import pack_greedy_stream

    BUDGET = 10
    docs = [(i, " ".join(["w"] * (2 + i % 5))) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)

    def read_stream():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/batch_*.parquet")
        )

    out = run_stream_to_memory(
        pack_greedy_stream(pack_tokens(read_stream()), budget=BUDGET),
        output_mode="append",
    )
    got = {r.doc_id: (r.shard, r.seq_id, r.fill_after) for r in out.collect()}
    assert len(got) == len(docs)

    # driver-side replay: same shard fn, same per-batch (h, doc_id)
    # order, one cursor per shard carried across batches
    def shard_of(doc_id):
        h4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        return int(h4, 16) % N_SHARDS

    cursors = {}
    expect = {}
    for batch in batches:
        per_shard = {}
        for doc_id, text in batch:
            per_shard.setdefault(shard_of(doc_id), []).append(doc_id)
        for shard, ids in per_shard.items():
            ids.sort(
                key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
            )
            seq, fill = cursors.get(shard, (0, 0))
            for d in ids:
                n = 2 + d % 5
                if fill + n <= BUDGET:
                    fill += n
                else:
                    seq += 1
                    fill = n
                expect[d] = (shard, seq, fill)
            cursors[shard] = (seq, fill)
    assert got == expect


def test_stream_pack_greedy_single_batch_equals_batch_packer(spark, sf_dir):
    """With the whole table in one micro-batch (one parquet file), the
    streaming packer must reproduce corpus_pack_greedy exactly — the
    premise of its shared oracle."""
    from reindexer_spark import get_query

    stream_rows = sorted(
        map(
            tuple,
            get_query("stream_pack_greedy_live").fn(spark, sf_dir).collect(),
        )
    )
    batch_rows = sorted(
        map(tuple, get_query("corpus_pack_greedy").fn(spark, sf_dir).collect())
    )
    assert stream_rows == batch_rows


def test_pack_greedy_cursor_survives_restart(spark, tmp_path):
    """The streaming packer's per-shard cursor must survive a full
    stop/restart against the same checkpointLocation: post-restart docs
    continue filling the pre-restart sequence (fill_after proves the
    recovered cursor), and pre-restart files are not reprocessed."""
    from reindexer_spark.operators.sampling import pack_tokens
    from reindexer_spark.streaming.stateful import pack_greedy_stream

    # single-shard setup: find doc ids that hash into one shard so the
    # cursor interaction is deterministic and visible
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS

    ids = [i for i in range(200) if int(
        hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % N_SHARDS == 0][:4]
    assert len(ids) == 4
    root = tmp_path / "docsrc"
    root.mkdir()

    def write(idx, batch_ids, n_words):
        spark.createDataFrame(
            [(i, " ".join(["w"] * n_words)) for i in batch_ids],
            "doc_id bigint, text string",
        ).coalesce(1).write.parquet(str(root / f"b{idx:03d}.parquet"))

    write(0, ids[:2], 4)  # two 4-token docs -> fill 8 of budget 10
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        _run_checkpointed(
            pack_greedy_stream(pack_tokens(stream), budget=10),
            out_dir,
            ckpt,
        )

    run()
    write(1, ids[2:], 4)  # 8+4 > 10 -> new sequence; then 4+4=8 fits
    run()  # restarted query must resume from (seq 0, fill 8)
    got = {r.doc_id: (r.seq_id, r.fill_after)
           for r in spark.read.parquet(out_dir).collect()}
    first, second = sorted(ids[:2], key=lambda d: (
        hashlib.md5(str(d).encode()).hexdigest(), d)), sorted(
        ids[2:], key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
    assert got[first[0]] == (0, 4) and got[first[1]] == (0, 8)
    # recovered cursor (0, 8): next doc overflows into sequence 1
    assert got[second[0]] == (1, 4) and got[second[1]] == (1, 8)
    assert len(got) == 4  # pre-restart docs not reprocessed


def test_stateful_minhash_dedup_carries_bucket_state_across_batches(
    spark, tmp_path
):
    """The streaming LSH dedup's bucket-representative state must carry
    across micro-batches: duplicates of a batch-1 document arriving in
    batches 2 and 3 each pair against the ORIGINAL's doc_id, and the
    cap keeps later copies out of state (pairs always name the first
    `cap` arrivals as d1)."""
    from reindexer_spark.operators.windows_time import _rowwise_md5_bands
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    text_a = "alpha beta gamma delta epsilon zeta"
    text_b = "one two three four five six seven"
    # doc 0/10/20 share text_a; 1/11 share text_b; others unique noise
    def doc(i):
        if i % 10 == 0:
            return (i, text_a)
        if i % 10 == 1:
            return (i, text_b)
        return (i, f"unique{i} filler{i} tail{i} pad{i}")

    docs = [doc(i) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/batch_*.parquet")
    )
    out = run_stream_to_memory(
        minhash_dedup_stream(_rowwise_md5_bands(stream), cap=1),
        output_mode="append",
    )
    pairs = {(r.d1, r.d2) for r in out.collect()}
    # identical texts share every band; cap=1 keeps only the FIRST
    # arrival as representative, so copies pair with it and never with
    # each other (20 pairs with 10, not with 0, would break this)
    assert (0, 10) in pairs and (0, 20) in pairs
    assert (1, 11) in pairs
    assert (10, 20) not in pairs  # 10 never entered state (cap=1)
    assert all(d1 in (0, 1) for d1, _ in pairs), pairs


def test_stateful_minhash_dedup_out_of_order_arrival_semantics(
    spark, tmp_path
):
    """Pin the documented cross-batch semantics (round-11, per review):
    bucket representatives are the first ``cap`` ARRIVALS, not the
    smallest doc_ids.  A duplicate arriving in a later batch with a
    SMALLER doc_id than a full bucket's resident emits no pair (the
    operator's d1 < d2 output contract cannot hold against a larger
    resident) and does not enter state — this is where the live lane
    deliberately diverges from the batch ROW_NUMBER-by-doc_id oracle,
    which would rank by id regardless of arrival.  With free capacity
    the late small id still joins state and pairs as d1 with later
    arrivals."""
    from reindexer_spark.operators.windows_time import _rowwise_md5_bands
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    text_a = "alpha beta gamma delta epsilon zeta"

    def run(batches, cap):
        base = tmp_path / f"cap{cap}"
        base.mkdir()
        root = _mk_doc_files(spark, base, batches)
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/batch_*.parquet")
        )
        out = run_stream_to_memory(
            minhash_dedup_stream(_rowwise_md5_bands(stream), cap=cap),
            output_mode="append",
        )
        return {(r.d1, r.d2) for r in out.collect()}

    # cap=1: doc 10 arrives first and fills the bucket; the later,
    # smaller doc 0 emits NOTHING (not (0, 10) — oracle would) and is
    # not admitted, so a third copy (20) still pairs only with 10.
    pairs = run([[(10, text_a)], [(0, text_a)], [(20, text_a)]], cap=1)
    assert (10, 20) in pairs
    assert all(d1 == 10 for d1, _ in pairs), pairs
    assert not any(0 in p for p in pairs), pairs

    # cap=2: the late small id is admitted into free capacity and then
    # pairs as d1 with later arrivals — first-arrival order, id-ordered
    # output within what the d1 < d2 contract allows.
    pairs = run([[(10, text_a)], [(0, text_a)], [(20, text_a)]], cap=2)
    assert (10, 20) in pairs and (0, 20) in pairs
    assert (0, 10) not in pairs and (10, 0) not in pairs


def test_stream_minhash_dedup_single_batch_equals_oracle_shape(spark, sf_dir):
    """With the whole table in one micro-batch, the live lane equals
    its DuckDB oracle (the premise the gate builds on)."""
    from reindexer_spark.oracle import compare_query

    assert compare_query(spark, "stream_minhash_dedup_live", sf_dir) == []


def test_stateful_dsir_select_carries_counters_across_batches(
    spark, tmp_path
):
    """The streaming DSIR selector's per-shard (seen, kept) counters
    must carry across micro-batches AND survive a full stop/restart
    against the same checkpointLocation: batch-2 docs continue the
    batch-1 counts (seen_so_far proves the recovered state), and
    pre-restart files are not reprocessed."""
    import hashlib

    from reindexer_spark.operators.sampling import N_SHARDS
    from reindexer_spark.streaming.stateful import dsir_select_stream

    # four doc ids landing in ONE shard so the counter chain is visible
    ids = [i for i in range(400) if int(
        hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % N_SHARDS == 3][:4]
    assert len(ids) == 4
    scores = {ids[0]: 10, ids[1]: 3, ids[2]: 7, ids[3]: 99}
    root = tmp_path / "scoredsrc"
    root.mkdir()

    def write(idx, batch_ids):
        spark.createDataFrame(
            [(i, 3, scores[i]) for i in batch_ids],
            "doc_id bigint, shard int, score bigint",
        ).coalesce(1).write.parquet(str(root / f"b{idx:03d}.parquet"))

    write(0, ids[:2])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, shard int, score bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        _run_checkpointed(dsir_select_stream(stream, 7), out_dir, ckpt)

    run()
    write(1, ids[2:])
    run()  # restart must resume from (seen=2, kept=1)
    got = {r.doc_id: (r.is_kept, r.seen_so_far, r.kept_so_far)
           for r in spark.read.parquet(out_dir).collect()}
    a, b = sorted(ids[:2])
    c, d = sorted(ids[2:])
    by_doc = {i: scores[i] >= 7 for i in ids}
    assert got[a] == (int(by_doc[a]), 1, int(by_doc[a]))
    assert got[b] == (int(by_doc[b]), 2, int(by_doc[a]) + int(by_doc[b]))
    k2 = int(by_doc[a]) + int(by_doc[b])
    assert got[c] == (int(by_doc[c]), 3, k2 + int(by_doc[c]))
    assert got[d] == (
        int(by_doc[d]), 4, k2 + int(by_doc[c]) + int(by_doc[d]))
    assert len(got) == 4  # pre-restart docs not reprocessed


def test_dsir_select_stream_none_threshold_keeps_nothing(spark, tmp_path):
    """threshold=None (an empty batch keep set) must drop every doc
    while still counting arrivals."""
    from reindexer_spark.streaming.stateful import dsir_select_stream

    root = tmp_path / "nonesrc"
    root.mkdir()
    spark.createDataFrame(
        [(1, 0, 100), (2, 0, 200)], "doc_id bigint, shard int, score bigint"
    ).coalesce(1).write.parquet(str(root / "b0.parquet"))
    stream = (
        spark.readStream.schema("doc_id bigint, shard int, score bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/b*.parquet")
    )
    _run_checkpointed(
        dsir_select_stream(stream, None),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    rows = sorted(
        spark.read.parquet(str(tmp_path / "out")).collect(),
        key=lambda r: r.doc_id,
    )
    assert [(r.is_kept, r.seen_so_far, r.kept_so_far) for r in rows] == [
        (0, 1, 0),
        (0, 2, 0),
    ]


def test_stateful_cdc_dedup_carries_fingerprints_across_batches(
    spark, tmp_path
):
    """The streaming chunk dedup's per-fingerprint state must carry
    across micro-batches: a chunk introduced in batch 1 marks every
    later arrival of the same content as a duplicate of the ORIGINAL
    document — including arrivals two batches later — while novel
    chunks stay is_new=1."""
    from reindexer_spark.streaming.stateful import cdc_dedup_stream

    shared = "the quick brown fox jumps over the lazy dog " * 4
    def doc(i):
        if i % 10 == 0:
            return (i, shared)  # docs 0, 10, 20 share every chunk
        return (i, f"unique{i} body text for document number {i} " * 3)

    docs = [doc(i) for i in range(30)]
    batches = [docs[:10], docs[10:20], docs[20:]]
    root = _mk_doc_files(spark, tmp_path, batches)
    out = run_stream_to_memory(
        cdc_dedup_stream(_cdc_instances(_doc_stream(spark, root))),
        output_mode="append",
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0 introduced every shared chunk (its text repeats a phrase,
    # so SOME of its own chunks are internal duplicates — still
    # attributed to doc 0)
    assert all(r.first_doc == 0 for r in by_doc[0])
    assert any(r.is_new == 1 for r in by_doc[0])
    # docs 10 and 20 (batches 2 and 3) are fully duplicate OF DOC 0
    for d in (10, 20):
        assert all(
            r.is_new == 0 and r.first_doc == 0 for r in by_doc[d]
        ), d
    # a unique doc's chunks are self-attributed and none predate it
    assert all(r.first_doc == 5 for r in by_doc[5])
    assert any(r.is_new == 1 for r in by_doc[5])
    # chunks tile: per-doc clen sums equal text lengths
    for i, text in docs:
        assert sum(r.clen for r in by_doc[i]) == len(text), i


def _unique_text(i: int, words: int = 60) -> str:
    return " ".join(f"w{i}x{k}" for k in range(words))


@pytest.mark.parametrize("cap", [1, 2, 3])
def test_bucket_steps_match_per_key_reference(monkeypatch, cap):
    """The two bucketed steps, fed batch after batch through the state
    round trip (flat bytes out, ``np.frombuffer`` back in), emit exactly
    what a per-key loop emits — over random fingerprints that grow the
    key width, hold non-ASCII text and NUL or 0x01 bytes (which
    fixed-width numpy bytes and pandas string hashing mishandle), and
    fall into 1, 3 or 64 buckets."""
    import random

    import numpy as np
    import pandas as pd

    from reindexer_spark.streaming import stateful

    steps = {}
    monkeypatch.setattr(
        stateful,
        "_by_fingerprint_bucket",
        lambda df, keys, step, out: steps.__setitem__(keys[-1], step),
    )
    stateful.cdc_dedup_stream(None)
    stateful.minhash_dedup_stream(None, cap=cap)
    empty = (np.empty(0, "S1"), np.empty(0, np.int64))

    def run(step, batches, columns, n_buckets):
        tables, outs = {}, []
        for rows in batches:
            pdf = pd.DataFrame(rows, columns=columns)
            pdf = pdf.astype({c: "int32" for c in ("idx", "clen", "band")
                              if c in columns})
            key = pdf[columns[2]].map(lambda h: hash(h) % n_buckets)
            for b, g in pdf.groupby(key):
                held, vals = tables.get(b, empty)
                out, held, vals = step(g.reset_index(drop=True), held, vals)
                tables[b] = (
                    np.frombuffer(held.tobytes(), held.dtype),
                    np.frombuffer(vals.tobytes(), np.int64),
                )
                outs.extend(map(tuple, out.itertuples(index=False)))
        return sorted(outs)

    def batches_of(rng, row):
        doc, out = 0, []
        for _ in range(rng.randint(1, 4)):
            rows = []
            for _ in range(rng.randint(1, 6)):
                doc += rng.randint(1, 3)
                rows.extend(row(doc, i) for i in range(rng.randint(1, 5)))
            rng.shuffle(rows)
            out.append(rows)
        return out

    rng = random.Random(cap)
    for _ in range(100):
        n_buckets = rng.choice([1, 3, 64])
        vocab = [
            rng.choice(
                ["a", "x", "x\x00", "é", "a\x01", "abc" * rng.randint(1, 4)]
            )
            + rng.choice(["", str(rng.randint(0, 30))])
            for _ in range(40)
        ]
        batches = batches_of(rng, lambda d, i: (d, i, rng.choice(vocab), 5))
        first, want = {}, []
        for rows in batches:
            for d, i, h, n in sorted(rows):
                new = h not in first
                want.append((d, i, h, n, first.setdefault(h, d), int(new)))
        got = run(steps["h"], batches, ["doc_id", "idx", "h", "clen"],
                  n_buckets)
        assert got == sorted(want)

        batches = batches_of(rng, lambda d, i: (d, i, rng.choice(vocab[:8])))
        members, want = {}, []
        for rows in batches:
            for d, band, sig in sorted(rows):
                m = members.setdefault((band, sig), [])
                want.extend((band, x, d) for x in m if x < d)
                if len(m) < cap:
                    m.append(d)
        got = run(steps["sig"], batches, ["doc_id", "band", "sig"], n_buckets)
        assert got == sorted(want)


def test_drive_stream_reports_each_batch_and_cdc_state_is_bucketed(
    spark, tmp_path
):
    """drive_stream returns one progress report per micro-batch, and the
    CDC operator holds one state row per touched bucket — more than 10x
    fewer rows (and state-function calls) than distinct fingerprints."""
    from reindexer_spark.streaming.stateful import (
        FINGERPRINT_BUCKETS,
        cdc_dedup_stream,
    )

    docs = [(i, _unique_text(i)) for i in range(30)]
    root = _mk_doc_files(spark, tmp_path, [docs[:10], docs[10:20], docs[20:]])
    progress = drive_stream(
        cdc_dedup_stream(_cdc_instances(_doc_stream(spark, root)))
        .writeStream.outputMode("append")
        .format("noop"),
        spark,
    )
    assert [p.batchId for p in progress] == [0, 1, 2]
    assert all(p.numInputRows > 0 for p in progress)
    assert all("addBatch" in p.durationMs for p in progress)
    ops = progress[-1].stateOperators
    assert len(ops) == 1 and ops[0].commitTimeMs >= 0
    distinct = (
        _cdc_instances(spark.read.parquet(f"{root}/batch_*.parquet"))
        .select("h").distinct().count()
    )
    assert ops[0].numRowsTotal <= FINGERPRINT_BUCKETS
    assert distinct > 10 * ops[0].numRowsTotal, (distinct, ops[0])


def test_cdc_dedup_state_survives_restart(spark, tmp_path):
    """Four batches, stop, four more batches on the same
    checkpointLocation: a post-restart copy of a batch-1 document is
    attributed to the batch-1 doc, the restarted run processes only the
    new files (batches 4-7), state stays one row per bucket as the
    table grows, and the whole output equals the batch
    FIRST_VALUE/ROW_NUMBER window over all eight files."""
    from pyspark.sql import Window

    from reindexer_spark.streaming.stateful import (
        FINGERPRINT_BUCKETS,
        cdc_dedup_stream,
    )

    docs = [(i, _unique_text(i, 20)) for i in range(20)]
    root = _mk_doc_files(
        spark, tmp_path, [docs[k:k + 5] for k in range(0, 20, 5)]
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        return _run_checkpointed(
            cdc_dedup_stream(_cdc_instances(_doc_stream(spark, root))),
            out_dir,
            ckpt,
        )

    assert [p.batchId for p in run()] == [0, 1, 2, 3]
    later = [
        [(25, docs[3][1]), (26, _unique_text(26))],
        [(27, _unique_text(26)), (28, "déjà vu " + docs[17][1])],
        [(29, docs[12][1]), (30, _unique_text(30, 90))],
        [(31, _unique_text(30, 90) + " tail"), (32, docs[0][1])],
    ]
    for k, rows in enumerate(later, start=4):
        _append_doc_batch(spark, root, k, rows)
    progress = run()
    assert [p.batchId for p in progress] == [4, 5, 6, 7]
    assert all(
        p.stateOperators[0].numRowsTotal <= FINGERPRINT_BUCKETS
        for p in progress
    )
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    # (idx, first_doc, is_new) per chunk; a short chunk doc 3 shares with
    # an earlier doc keeps that doc as its first_doc
    orig = [(r[1], r[4]) for r in got if r[0] == 3]
    copy = [(r[1], r[4], r[5]) for r in got if r[0] == 25]
    assert copy == [(i, d, 0) for i, d in orig]
    assert any(d == 3 for _, d in orig)
    w = Window.partitionBy("h").orderBy("doc_id", "idx")
    want = sorted(
        map(
            tuple,
            _cdc_instances(spark.read.parquet(f"{root}/batch_*.parquet"))
            .select(
                "doc_id", "idx", "h", "clen",
                F.first("doc_id").over(w).alias("first_doc"),
                (F.row_number().over(w) == 1).cast("int").alias("is_new"),
            )
            .collect(),
        )
    )
    assert got == want


def test_cdc_dedup_restart_refuses_a_corrupted_state_file(spark, tmp_path):
    """One flipped byte in the newest state delta of a finished CDC
    checkpoint: the restart fails on Spark's checkpoint file checksum
    instead of loading the corrupt table."""
    from reindexer_spark.streaming.stateful import cdc_dedup_stream

    docs = [(i, _unique_text(i, 20)) for i in range(10)]
    root = _mk_doc_files(spark, tmp_path, [docs[:5], docs[5:]])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        return _run_checkpointed(
            cdc_dedup_stream(_cdc_instances(_doc_stream(spark, root))),
            out_dir,
            ckpt,
        )

    assert [p.batchId for p in run()] == [0, 1]
    deltas = [
        p for p in (tmp_path / "ckpt" / "state").rglob("*.delta")
        if p.stat().st_size > 0
    ]
    newest = max(int(p.stem) for p in deltas)
    victim = max(
        (p for p in deltas if int(p.stem) == newest),
        key=lambda p: p.stat().st_size,
    )
    data = bytearray(victim.read_bytes())
    data[len(data) // 2] ^= 0xFF
    victim.write_bytes(bytes(data))
    _append_doc_batch(spark, root, 2, [(20, _unique_text(20, 20))])
    with pytest.raises(StreamingQueryException) as failed:
        run()
    # drive_stream names the innermost cause in the error it re-raises
    assert "[CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED]" in str(failed.value)


def test_minhash_dedup_state_survives_restart(spark, tmp_path):
    """Stop after batch 2, restart on the same checkpointLocation: the
    batch-3 copy of a batch-1 document pairs with the batch-1 doc in
    every band (cap=1 kept the batch-2 copy out of state), and no
    pre-restart file is reprocessed (each pair is emitted once)."""
    from reindexer_spark.operators.dedup import MH_MD5_BANDS
    from reindexer_spark.operators.windows_time import _rowwise_md5_bands
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    text_a = "alpha beta gamma delta epsilon zeta"

    def doc(i):
        return (i, text_a if i % 10 == 0 else _unique_text(i, 8))

    root = _mk_doc_files(
        spark, tmp_path, [[doc(i) for i in range(10)],
                          [doc(i) for i in range(10, 20)]]
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        _run_checkpointed(
            minhash_dedup_stream(
                _rowwise_md5_bands(_doc_stream(spark, root)), cap=1
            ),
            out_dir,
            ckpt,
        )

    run()
    _append_doc_batch(spark, root, 2, [doc(i) for i in range(20, 30)])
    run()
    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    assert got == sorted(
        (b, 0, d) for b in range(MH_MD5_BANDS) for d in (10, 20)
    )


def test_stream_cdc_dedup_live_twice_on_one_session(spark, sf_dir):
    """Two runs of the lane on one session return identical rows: each
    run starts from empty bucket state (its own temporary checkpoint),
    so the second run still sees every fingerprint as new once."""
    from reindexer_spark import get_query

    q = get_query("stream_cdc_dedup_live")
    first = [tuple(r) for r in q.fn(spark, sf_dir).collect()]
    second = [tuple(r) for r in q.fn(spark, sf_dir).collect()]
    assert any(r[-1] == 1 for r in first)
    assert second == first


# ---------------------------------------------------------------------------
# Stream lifecycle: a run leaves no state in the session
# ---------------------------------------------------------------------------


def _stream_views(spark) -> list[str]:
    return [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("stream_out_")
    ]


def _counts(spark, root):
    return (
        _read_stream(spark, root)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
    )


_LIFECYCLE_BATCHES = [
    [(1, 0, 1, "click", 1.0), (2, 1, 2, "view", 1.0)],
    [(3, 2, 1, "click", 1.0)],
]


def test_failed_stream_leaves_session_clean(spark, tmp_path):
    """A stream whose Python UDF raises: run_stream_to_memory raises,
    and afterwards no memory-sink view, no active or terminated query
    and no changed shuffle-partition conf remain; the next stream runs
    correctly."""
    from pyspark.errors import StreamingQueryException

    root = _mk_files(spark, tmp_path, _LIFECYCLE_BATCHES)

    @F.udf("bigint")
    def boom(x):
        raise ValueError("boom")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException):
        run_stream_to_memory(
            _read_stream(spark, root).select(boom("event_id").alias("x")),
            output_mode="append",
        )
    assert _stream_views(spark) == []
    assert spark.streams.active == []
    # the failed query's record was reset: nothing terminated to report
    assert spark.streams.awaitAnyTermination(0.1) is False
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    got = run_stream_to_memory(_counts(spark, root)).collect()
    assert sorted(map(tuple, got)) == [(1, 2), (2, 1)]


def test_finished_stream_drops_its_view_and_frame_stays_readable(
    spark, tmp_path
):
    """The memory-sink view is gone once run_stream_to_memory returns;
    the returned frame still collects the same rows, twice."""
    root = _mk_files(spark, tmp_path, _LIFECYCLE_BATCHES)
    out = run_stream_to_memory(_counts(spark, root))
    assert _stream_views(spark) == []
    first = sorted(map(tuple, out.collect()))
    assert first == [(1, 2), (2, 1)]
    assert sorted(map(tuple, out.collect())) == first


class _StatePartitionLog(StreamingQueryListener):
    """``numShufflePartitions`` of each progress report's first state
    operator, per query name, in the order the queries ran (listener
    events arrive asynchronously but in order)."""

    def __init__(self):
        self.runs: dict[str, set[int]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        ops = event.progress.stateOperators
        if ops:
            self.runs.setdefault(event.progress.name, set()).add(
                ops[0].numShufflePartitions
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def partitions(self, k: int, timeout: float = 10.0) -> set[int]:
        """What the k-th query (1-based) reported."""
        deadline = time.monotonic() + timeout
        while len(self.runs) < k and time.monotonic() < deadline:
            time.sleep(0.05)
        return list(self.runs.values())[k - 1]


def test_state_partitions_default_explicit_and_no_cross_sizing(
    spark, tmp_path, sf_dir
):
    """State stores per operator: STATE_PARTITIONS (8) by default, n
    when state_partitions=n — also for a stream run after two other
    sources were constructed but never run."""
    from reindexer_spark.streaming import stream_documents
    from reindexer_spark.streaming.runner import STATE_PARTITIONS

    assert STATE_PARTITIONS == 8
    root = _mk_files(spark, tmp_path, _LIFECYCLE_BATCHES)
    log = _StatePartitionLog()
    spark.streams.addListener(log)
    try:
        run_stream_to_memory(_counts(spark, root))
        run_stream_to_memory(_counts(spark, root), state_partitions=3)
        stream_events(spark, sf_dir)
        stream_documents(spark, sf_dir)
        run_stream_to_memory(_counts(spark, root), state_partitions=5)
        stream_events(spark, sf_dir)
        stream_documents(spark, sf_dir)
        run_stream_to_memory(_counts(spark, root))
        assert [log.partitions(k) for k in (1, 2, 3, 4)] == [
            {8}, {3}, {5}, {8}
        ]
    finally:
        spark.streams.removeListener(log)
