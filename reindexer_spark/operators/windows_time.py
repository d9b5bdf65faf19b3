"""Tier C13 — event-time windowing over ``events``, batch-mode semantics.

``window()`` / ``session_window()`` produce identical results in batch
and streaming execution; these oracle-checked batch queries pin the
semantics, and ``reindexer_spark.streaming`` runs the same plans through
Structured Streaming (readStream → memory sink) in the test suite to
prove batch/stream equivalence (watermarks, late data, stateful dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reindexer_spark.catalog import load_table
from reindexer_spark.functions import dec
from reindexer_spark.registry import query
from reindexer_spark.operators.sampling import _PACK_GREEDY_ORACLE

SESSION_GAP = "2 hours"


@query(
    "window_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "window_sliding",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS slot_start, value, ts FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value, ts
      FROM events
    )
    SELECT strftime(slot_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY 1
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour wide, 30-minute slide): each event lands in
    two windows.  The oracle replicates Spark's assignment rule (window
    starts are the two 30-minute-aligned slots covering each event)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )


@query(
    "window_session",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 2 HOUR
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (2-hour inactivity gap) per user.  Spark's
    session_window merges events closer than the gap; the oracle is the
    classic gaps-and-islands rewrite.  Session end = last event + gap
    (Spark's definition)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "window_dedup_latest",
    oracle="""
    SELECT user_id, event_type,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts,
           COUNT(*) AS n_superseded
    FROM events
    GROUP BY user_id, event_type
    """,
)
def window_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (the batch analogue of streaming
    dropDuplicates state: one row per (user, type), latest event wins)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
        F.count("*").alias("n_superseded"),
    )


@query(
    "stream_tumbling_live",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same tumbling aggregation as window_tumbling, but executed by
    the ACTUAL Structured Streaming engine (readStream file source →
    availableNow trigger → memory sink) rather than as a batch plan.
    Shares window_tumbling's oracle: batch/stream equivalence is not a
    test-only claim here, it is checked value-for-value at the
    correctness gate."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    events = stream_events(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_sliding_live",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS slot_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE, value
      FROM events
    )
    SELECT strftime(slot_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY 1
    """,
)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_sliding executed by the real Structured Streaming engine:
    overlapping 1-hour/30-minute windows mean every event feeds TWO
    window states concurrently — the state-store shape the batch plan
    never exercises.  Same oracle as the batch query: batch/stream
    equivalence checked value-for-value."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    events = stream_events(spark, sf_dir)
    agg = (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_static_join_live",
    oracle="""
    WITH profile AS (
      SELECT user_id, COUNT(*) AS user_total_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           CASE WHEN p.user_total_events >= 400 THEN 'heavy' ELSE 'light' END
             AS user_tier,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN profile p ON p.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, the Kafka→dimension-table staple:
    each micro-batch of the event stream joins a STATIC user-profile
    dimension (batch-computed snapshot, re-read per batch; broadcast-
    sized by definition), then aggregates per (event_type, tier).  The
    oracle computes the same snapshot + join as plain SQL — the stream
    path and the batch path must agree value-for-value.
    """
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total_events"))
    )
    tier = F.when(
        F.col("user_total_events") >= 400, F.lit("heavy")
    ).otherwise(F.lit("light"))
    events = stream_events(spark, sf_dir)
    agg = (
        events.join(F.broadcast(profile), "user_id")
        .groupBy("event_type", tier.alias("user_tier"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "events_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           (t_signup IS NOT NULL) AS did_signup,
           (t_signup IS NOT NULL AND t_click IS NOT NULL
            AND t_click >= t_signup) AS clicked_after_signup,
           (t_signup IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
            AND t_click >= t_signup AND t_purchase >= t_click)
             AS completed_funnel,
           strftime(t_signup, '%Y-%m-%d %H:%M:%S') AS first_signup
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (signup → click → purchase, in order): one
    conditional-aggregation pass per user, no joins or self-joins — the
    shape that holds up when 'users' is billions of keys."""
    e = load_table(spark, sf_dir, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    firsts = e.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    sgn, clk, pur = F.col("t_signup"), F.col("t_click"), F.col("t_purchase")
    return firsts.select(
        "user_id",
        sgn.isNotNull().alias("did_signup"),
        (sgn.isNotNull() & clk.isNotNull() & (clk >= sgn)).alias(
            "clicked_after_signup"
        ),
        (
            sgn.isNotNull()
            & clk.isNotNull()
            & pur.isNotNull()
            & (clk >= sgn)
            & (pur >= clk)
        ).alias("completed_funnel"),
        F.date_format(sgn, "yyyy-MM-dd HH:mm:ss").alias("first_signup"),
    )


@query(
    "stream_session_live",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 2 HOUR
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), numbered AS (
      SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS session_seq
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def stream_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under the REAL streaming engine: session_window
    state merges adjacent sessions as new events arrive within the gap
    — the one windowed-aggregation state shape (variable-width, merge
    on update) that tumbling/sliding never exercise.  Same 2-hour gap
    and gaps-and-islands oracle as the batch query (window_session);
    batch/stream equivalence checked value-for-value."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    events = stream_events(spark, sf_dir)
    agg = (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_dedup_live",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_unique,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once from at-least-once delivery, run by the real
    Structured Streaming engine: the event stream unioned with itself
    simulates duplicate delivery (every event arrives twice, the Kafka
    redelivery shape), ``dropDuplicatesWithinWatermark`` on the event
    key keeps one copy per event with state bounded by the watermark —
    the dedup state for keys older than the watermark horizon is
    reclaimed, which is what makes the operator viable on an unbounded
    stream — and the downstream aggregate must equal a plain batch
    aggregate over the ORIGINAL (undoubled) table, value for value.
    Dedup survivors are indistinguishable (copies are identical), so
    the post-dedup aggregate is deterministic and oracle-checkable."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    events = stream_events(spark, sf_dir)
    doubled = events.union(events)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count("*").alias("n_unique"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_quota_alerts_live",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    ), run AS (
      SELECT user_id, event_id, v,
             SUM(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS total
      FROM seq
    )
    SELECT user_id, event_id,
           CAST(total AS DOUBLE) AS total,
           CAST(FLOOR(CAST(total * 100 AS BIGINT) / 10000.0) * 100
                AS DOUBLE) AS crossed
    FROM run
    WHERE FLOOR(CAST(total * 100 AS BIGINT) / 10000.0)
        > FLOOR(CAST((total - v) * 100 AS BIGINT) / 10000.0)
    """,
)
def stream_quota_alerts_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (``applyInPandasWithState``) run by
    the REAL streaming engine and checked value-exact against a SQL
    oracle: per-user running totals in integer cents, one alert row each
    time the total crosses another 100-unit multiple.

    The batch equivalent is a window cumsum + first-crossing filter —
    expressible in SQL, which is exactly why it can gate the custom
    operator: the stateful transition function must reproduce, event for
    event, what the declarative form computes.  Integer-cents state (see
    ``quota_alerts_cents``) removes float-accumulation drift, the one
    thing that would make a stateful Python loop and a SQL window differ.
    State is O(|users|) longs; alerts stream out append-mode — the shape
    that survives unbounded event volume at 100 TB."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events
    from reindexer_spark.streaming.stateful import quota_alerts_cents

    events = stream_events(spark, sf_dir).withColumn(
        "v", F.col("value").cast("decimal(12,2)")
    )
    alerts = quota_alerts_cents(events, threshold_cents=10_000)
    return run_stream_to_memory(alerts, output_mode="append")


@query("stream_pack_greedy_live", oracle=_PACK_GREEDY_ORACLE)
def stream_pack_greedy_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD custom stateful operator at the value gate: NO-SPLIT
    greedy sequence packing run by the real streaming engine
    (applyInPandasWithState) — a streaming data loader that assigns
    every document to a training sequence the moment it arrives, each
    hash shard carrying its packer cursor (seq_id, fill) as two longs
    of state across micro-batches.

    The batch twin corpus_pack_greedy expresses the identical
    recurrence as a recursive CTE, which is exactly why it can gate
    this operator: with deterministic batch boundaries and the same
    within-batch (h, doc_id) order, stream ≡ batch per document —
    sequence ids, fill levels, everything.  Cross-batch cursor carry
    (the genuinely incremental part one batch cannot prove) is pinned
    in multi-batch unit tests (tests/test_streaming.py).

    State is O(|shards|) regardless of stream volume — the
    bounded-state survival property; the payload text never enters the
    stateful operator (only token counts do)."""
    from reindexer_spark.operators.sampling import GREEDY_BUDGET, pack_tokens
    from reindexer_spark.streaming import (
        run_stream_to_memory,
        stream_documents,
    )
    from reindexer_spark.streaming.stateful import pack_greedy_stream

    toks = pack_tokens(stream_documents(spark, sf_dir))
    packed = pack_greedy_stream(toks, budget=GREEDY_BUDGET)
    return run_stream_to_memory(packed, output_mode="append").orderBy(
        "doc_id"
    )


@query(
    "stream_stream_join_live",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join under the real engine — the attribution
    staple (click ⋈ purchase within an hour, per user) and the one join
    shape where BOTH inputs are unbounded: each side buffers state keyed
    on user_id, and the pair of watermarks plus the time-range join
    condition is what lets the engine evict a click's state once no
    qualifying purchase can still arrive — without them the state grows
    forever, which is why Spark refuses the query unless both are
    declared.  Output pairs carry the exact integer-microsecond gap, so
    the result is engine-exact against the batch self-join oracle
    (stream ≡ batch once every micro-batch has drained)."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return run_stream_to_memory(joined, output_mode="append")


@query(
    "scd2_status_history",
    oracle="""
    WITH changes AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             LAG(o_orderstatus) OVER w AS prev_status,
             LEAD(o_orderdate)  OVER w AS next_date
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderstatus AS status,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(next_date, '%Y-%m-%d'), '9999-12-31') AS valid_to,
           (next_date IS NULL) AS is_current
    FROM changes
    WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    """,
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension) history emulation without MERGE
    (no Delta in this stack — README 'CDC/SCD2' pattern): change rows
    detected with LAG, validity ranges closed with LEAD, open ranges
    marked current.  One window pass; at scale this is the standard
    dimension-history rebuild."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
        F.lead("o_orderdate").over(w).alias("next_date"),
    ).filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    )
    return changes.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(
            F.date_format("next_date", "yyyy-MM-dd"), F.lit("9999-12-31")
        ).alias("valid_to"),
        F.col("next_date").isNull().alias("is_current"),
    )


RATE_WINDOW_US = 86_400_000_000  # trailing 24h, integer microseconds
RATE_LIMIT = 8


@query(
    "events_rate_limit_audit",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {RATE_WINDOW_US} PRECEDING AND CURRENT ROW
             ) AS n_window
      FROM events
    )
    SELECT user_id, event_id, ts_s, n_window
    FROM r WHERE n_window >= {RATE_LIMIT}
    """,
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst / rate-limit audit: events whose user sent >= 8 events in
    the trailing 24 hours — the sliding-count primitive behind API rate
    limiting, fraud velocity checks, and crawler detection.  Unlike the
    row-frame and numeric-range windows elsewhere in the family, the
    frame here is a TIME range over integer epoch-microseconds, so two
    events 24h01m apart never share a window no matter how many rows
    sit between them.

    Scale shape: one hash exchange on user_id, per-user time-sorted
    range frame (Spark keeps a sliding aggregate over the frame — cost
    per row is amortized O(1), state bounded by the 24h span).  Integer
    microsecond bounds make the frame edge exact on both engines; no
    timestamp arithmetic in doubles anywhere."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RATE_WINDOW_US, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.count("*").over(w).alias("n_window"),
        )
        .filter(F.col("n_window") >= RATE_LIMIT)
    )


@query(
    "stream_rate_limit_live",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {RATE_WINDOW_US} PRECEDING AND CURRENT ROW
             ) AS n_window
      FROM events
    )
    SELECT user_id, event_id, ts_s, n_window
    FROM r WHERE n_window >= {RATE_LIMIT}
    """,
)
def stream_rate_limit_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_rate_limit_audit executed by the REAL streaming engine
    through the custom stateful operator: per-user trailing-24h event
    counts maintained in ``applyInPandasWithState``, with the state — a
    per-user timestamp list — PRUNED each batch to the trailing window.
    The second custom stateful operator at the value gate (after
    quota_alerts), and the one that demonstrates bounded-state
    eviction: quota state is one long forever, rate-limit state must
    forget or die.  Emitted rows equal the batch time-range-frame
    query's rows exactly (timestamp peers counted per RANGE frame
    semantics), which is what the shared oracle checks.  The operator
    additionally flags out-of-order events (``late = true`` quarantine
    rows — see stateful.py); the sorted fixture replay produces none,
    and the projection below excludes the flag column so the oracle
    contract is unchanged."""
    from reindexer_spark.streaming import run_stream_to_memory, stream_events
    from reindexer_spark.streaming.stateful import rate_limit_alerts

    events = stream_events(spark, sf_dir)
    alerts = rate_limit_alerts(
        events, window_us=RATE_WINDOW_US, limit=RATE_LIMIT
    )
    out = run_stream_to_memory(alerts, output_mode="append")
    return out.filter(~F.col("late")).select(
        "user_id", "event_id", "ts_s", "n_window"
    )


# Left-outer stream-stream join: the watermark-frontier margin.  Spark
# emits an unmatched click's null row when the global watermark passes
# c_ts + <join window>; the exact frontier sits at (min over both
# sides of that side's max event time - watermark delay - join window)
# plus engine-internal millisecond truncation and unit adjustments.  Rather than model that to the microsecond (and
# break on every testdata regeneration near the boundary), BOTH engines
# keep only null rows strictly older than the frontier minus a 10 s
# safety margin — every such row is GUARANTEED emitted, and boundary
# rows are excluded identically on both sides, so the gate stays
# value-exact without depending on watermark internals.
SS_LEFT_MARGIN_US = (3 * 3600 + 10) * 1_000_000  # join window + delay + 10 s


@query(
    "stream_stream_left_join_live",
    oracle=f"""
    WITH c AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    -- the GLOBAL watermark is the min of the two sides' frontiers: each
    -- side's watermark tracks the max event time of ITS OWN filtered
    -- stream, so the frontier is bounded by the slower side
    m AS (SELECT LEAST((SELECT MAX(ts) FROM c),
                       (SELECT MAX(ts) FROM p)) AS mx),
    matched AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ),
    expired AS (
      SELECT c.user_id, c.event_id AS click_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM c, m
      WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
      AND epoch_us(c.ts) < epoch_us(m.mx) - {SS_LEFT_MARGIN_US}
    )
    SELECT * FROM matched UNION ALL SELECT * FROM expired
    """,
)
def stream_stream_left_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM **left outer** join under the real engine — the
    attribution query that also has to answer "which clicks never
    converted": matched (click, purchase) pairs emit as they join, and
    an unmatched click emits a NULL-purchase row only once the global
    watermark proves no qualifying purchase can still arrive (state
    eviction IS the emission trigger — the semantics that make outer
    stream-stream joins harder than inner ones).  Both sides' state is
    watermark-bounded exactly as in stream_stream_join_live.

    The result keeps null rows strictly below the watermark frontier
    minus a 10 s margin (see SS_LEFT_MARGIN_US above), excluded
    identically in the oracle, so stream ≡ batch stays value-exact
    without modeling engine-internal watermark truncation."""
    from reindexer_spark.catalog import load_table
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        F.unix_micros("c_ts").alias("c_ts_us"),
    )
    out = run_stream_to_memory(joined, output_mode="append")
    ev_batch = load_table(spark, sf_dir, "events")
    frontier = (
        ev_batch.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("side_max"))
        .agg((F.min("side_max") - SS_LEFT_MARGIN_US).alias("cut_us"))
    )
    return (
        out.crossJoin(F.broadcast(frontier))
        .filter(
            F.col("purchase_id").isNotNull()
            | (F.col("c_ts_us") < F.col("cut_us"))
        )
        .select("user_id", "click_id", "purchase_id", "gap_us")
    )


# Full-outer frontier margins are ASYMMETRIC: a click's state can match
# purchases up to c_ts + 1h, so its null emits once the watermark
# passes c_ts + 1h (margin = delay + window + 10 s); a purchase only
# matches clicks with c_ts in [p_ts - 1h, p_ts], i.e. nothing FUTURE,
# so its null emits once the watermark passes p_ts itself
# (margin = delay + 10 s).
SS_FULL_CLICK_MARGIN_US = (2 * 3600 + 3600 + 10) * 1_000_000
SS_FULL_PURCHASE_MARGIN_US = (2 * 3600 + 10) * 1_000_000


@query(
    "stream_stream_full_join_live",
    oracle=f"""
    WITH c AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    m AS (SELECT LEAST((SELECT MAX(ts) FROM c),
                       (SELECT MAX(ts) FROM p)) AS mx),
    matched AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ),
    click_nulls AS (
      SELECT c.user_id, c.event_id AS click_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM c, m
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      AND epoch_us(c.ts) < epoch_us(m.mx) - {SS_FULL_CLICK_MARGIN_US}
    ),
    purchase_nulls AS (
      SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id,
             p.event_id AS purchase_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM p, m
      WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      AND epoch_us(p.ts) < epoch_us(m.mx) - {SS_FULL_PURCHASE_MARGIN_US}
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM click_nulls
    UNION ALL SELECT * FROM purchase_nulls
    """,
)
def stream_stream_full_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM **full outer** join under the real engine — both
    unmatched sides surface: clicks that never converted AND purchases
    with no attributable click (the orphan-revenue question).  The two
    null classes expire at DIFFERENT watermark frontiers because the
    time-interval condition is asymmetric (see the margin constants
    above) — the detail that makes full-outer the completion exam of
    the streaming join zoo.  Frontier-adjacent null rows are excluded
    by margin identically on both engines, as in the left-outer
    variant."""
    from reindexer_spark.catalog import load_table
    from reindexer_spark.streaming import run_stream_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        F.unix_micros("c_ts").alias("c_ts_us"),
        F.unix_micros("p_ts").alias("p_ts_us"),
    )
    out = run_stream_to_memory(joined, output_mode="append")
    frontier = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max(F.unix_micros("ts")).alias("side_max"))
        .agg(F.min("side_max").alias("wm_us"))
    )
    keep_matched = F.col("click_id").isNotNull() & F.col(
        "purchase_id"
    ).isNotNull()
    keep_click_null = F.col("purchase_id").isNull() & F.col(
        "click_id"
    ).isNotNull() & (
        F.col("c_ts_us") < F.col("wm_us") - SS_FULL_CLICK_MARGIN_US
    )
    keep_purchase_null = F.col("click_id").isNull() & (
        F.col("p_ts_us") < F.col("wm_us") - SS_FULL_PURCHASE_MARGIN_US
    )
    return (
        out.crossJoin(F.broadcast(frontier))
        .filter(keep_matched | keep_click_null | keep_purchase_null)
        .select("user_id", "click_id", "purchase_id", "gap_us")
    )


@query(
    "events_resample_ffill",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS h,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM hourly),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT g.h, COALESCE(x.n_events, 0) AS n_events, x.total_value
      FROM grid g LEFT JOIN hourly x ON g.h = x.h
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS slot_ts,
           n_events,
           total_value,
           last_value(total_value IGNORE NULLS) OVER (
             ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM joined
    """,
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to a regular 15-minute grid with forward
    fill — the metrics/feature-engineering staple (downstream models
    want dense regular series; event streams are sparse and bursty).
    The purchase stream is sparse enough that empty slots actually
    occur at every sf: they appear with n_events = 0 and carry the
    last observed value forward, so the fill path is exercised by the
    gate, not just present in the plan.

    Scale shape: the aggregation is the only corpus-sized pass; the
    grid is (max-min)/step rows — bounded by the TIME RANGE, not the
    data — built with sequence() from a 1-row bounds aggregate and
    exploded, so no driver-side loop materializes timestamps.  The
    forward fill is one global-ordered window over the grid-sized
    relation; at 100 TB you would window per series key, keeping each
    partition grid-sized."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hourly = e.groupBy(
        F.window("ts", "15 minutes").alias("w")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    ).select(F.col("w.start").alias("h"), "n_events", "total_value")
    bounds = hourly.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 15 MINUTES"))
        ).alias("h")
    )
    joined = grid.join(hourly, "h", "left").select(
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "total_value",
    )
    w = (
        Window.orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("slot_ts"),
        "n_events",
        "total_value",
        F.last("total_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# --- streaming MinHash-LSH dedup on ingest (round 10) ----------------------

from reindexer_spark.operators.dedup import (  # noqa: E402
    MH_MD5_P as _MH_P,
    MH_MD5_PERMS as _MH_PERMS,
    MH_MD5_ROWS as _MH_ROWS,
)

STREAM_LSH_CAP = 2  # per-bucket representative cap AT THE GATE: small
# enough that sf fixtures (buckets of 3-4 near-dup docs exist at every
# sf) exercise the cap branch under the oracle; production would run
# banding.HOT_BUCKET_CAP — the cap is a parameter of the operator, not
# of the algorithm.


def _rowwise_md5_bands(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, band, sig) MinHash LSH band rows computed
    ROW-WISE (array expressions only, no aggregation), which is what
    makes the banding STREAM-SAFE: a per-doc groupBy would be a second
    stateful operator in front of the dedup state, which Spark's
    streaming planner refuses to chain.  Same md5 Kirsch-Mitzenmacher
    arithmetic as dedup.​_md5_shingle_bands, minus the corpus-level DF
    cap (a corpus statistic an on-ingest operator cannot know); the
    oracle replicates from ex_all accordingly."""
    from reindexer_spark.operators.dedup import (
        MH_MD5_BANDS,
        MH_MD5_P,
        MH_MD5_PERMS,
        MH_MD5_ROWS,
        word_shingles,
    )

    assert MH_MD5_PERMS == MH_MD5_BANDS * MH_MD5_ROWS
    d = docs.withColumn("toks", F.split("text", " ")).withColumn(
        "grams", word_shingles(F.col("toks"))
    )
    # ONE md5 per gram (the batch twin's stated optimization), then
    # split the digest — a single transform computing md5 twice would
    # double the digest work per arriving gram (higher-order lambdas
    # get no codegen subexpression elimination)
    d = (
        d.filter(F.size("grams") > 0)
        .withColumn("digs", F.transform("grams", lambda g: F.md5(g)))
        .withColumn(
            "hs",
            F.transform(
                "digs",
                lambda m: F.struct(
                    F.conv(F.substring(m, 1, 8), 16, 10)
                    .cast("bigint")
                    .alias("h1"),
                    F.conv(F.substring(m, 9, 8), 16, 10)
                    .cast("bigint")
                    .alias("h2"),
                ),
            ),
        )
    )

    def mh(i: int):
        return F.array_min(
            F.transform(
                "hs", lambda s: (s["h1"] + F.lit(i) * s["h2"]) % MH_MD5_P
            )
        )

    sigs = [
        F.concat_ws(
            ":",
            *[
                mh(b * MH_MD5_ROWS + r).cast("string")
                for r in range(MH_MD5_ROWS)
            ],
        )
        for b in range(MH_MD5_BANDS)
    ]
    return d.select(
        "doc_id", F.posexplode(F.array(*sigs)).alias("band", "sig")
    )


@query(
    "stream_minhash_dedup_live",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      WHERE len(t) >= 3
    ),
    ex_all AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    dig AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM ex_all
    ),
    mh AS (
      SELECT doc_id, i, MIN((h1 + i * h2) % {_MH_P}) AS mhv
      FROM dig CROSS JOIN range({_MH_PERMS}) r(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {_MH_ROWS} AS band,
             string_agg(mhv::VARCHAR, ':' ORDER BY i) AS sig
      FROM mh GROUP BY doc_id, i // {_MH_ROWS}
    ),
    ranked AS MATERIALIZED (
      SELECT doc_id, band, sig,
             ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id)
               AS rn
      FROM bands
    )
    SELECT CAST(a.band AS INT) AS band, a.doc_id AS d1, b.doc_id AS d2
    FROM ranked a JOIN ranked b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
     AND a.rn <= {STREAM_LSH_CAP}
    """,
)
def stream_minhash_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOURTH custom stateful operator at the value gate: MinHash
    LSH near-dup detection ON INGEST under the real streaming engine
    (applyInPandasWithState) — every arriving document immediately
    pairs against the representatives already resident in its LSH band
    buckets, each bucket carrying its first STREAM_LSH_CAP arrivals as
    state.  This is crawl-time dedup: the alternative — re-running
    corpus dedup per landed batch — rescans the corpus.  The band
    buckets are grouped into ``FINGERPRINT_BUCKETS`` hash buckets: a
    micro-batch makes one Python call per touched hash bucket and
    rewrites its whole resident table, so per-batch cost is
    O(batch) plus O(resident entries the stream has kept): once those
    run into the millions a per-key layout is cheaper (the CDC
    operator's measured crossover is in
    ``stateful._by_fingerprint_bucket``).

    Gate: band signatures are md5 Kirsch-Mitzenmacher arithmetic
    computed ROW-WISE (stream-safe: no aggregation before the stateful
    operator), which DuckDB replays exactly; the emitted pair relation
    must equal the batch ranked self-join (a pair emits iff the
    earlier doc is among its bucket's first-cap arrivals — fixtures
    carry 3-4-member buckets at every sf, so the representative-cap
    branch is value-checked, not just the pairing).  Cross-batch state
    carry is pinned in multi-batch unit tests (the property one
    deterministic batch cannot prove)."""
    from reindexer_spark.streaming import (
        run_stream_to_memory,
        stream_documents,
    )
    from reindexer_spark.streaming.stateful import minhash_dedup_stream

    bands = _rowwise_md5_bands(stream_documents(spark, sf_dir))
    pairs = minhash_dedup_stream(bands, cap=STREAM_LSH_CAP)
    # Python-compute stateful lane: one wave of state tasks (see
    # run_stream_to_memory's state_partitions note)
    from reindexer_spark.session import default_parallelism

    return run_stream_to_memory(
        pairs, output_mode="append",
        state_partitions=default_parallelism(),
    ).orderBy("band", "d1", "d2")


from reindexer_spark.operators.mlprep import (  # noqa: E402
    _DSIR_CORE_SQL,
    DSIR_KEEP_DIV,
)
from reindexer_spark.operators.sampling import N_SHARDS  # noqa: E402

_STREAM_DSIR_ORACLE = f"""
    WITH {_DSIR_CORE_SQL}, thr AS (
      SELECT MIN(score) AS s FROM ranked
      WHERE rnk <= n_pool // {DSIR_KEEP_DIV}
    ), dec AS (
      SELECT r.doc_id,
             CAST(('0x' || substr(md5(r.doc_id::VARCHAR), 1, 4))::BIGINT
                  % {N_SHARDS} AS INT) AS shard,
             r.score,
             COALESCE(CAST(r.score >= t.s AS INT), 0) AS is_kept
      FROM ranked r CROSS JOIN thr t
    )
    SELECT doc_id, shard, score, is_kept,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id)
                AS BIGINT) AS seen_so_far,
           CAST(SUM(is_kept) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS kept_so_far
    FROM dec
    ORDER BY doc_id
    """


@query("stream_dsir_select_live", oracle=_STREAM_DSIR_ORACLE)
def stream_dsir_select_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIFTH custom stateful operator at the value gate: DSIR-style
    quality/selection gating ON INGEST under the real streaming engine
    (round-12 VERDICT next #7) — the batch selection surface's missing
    streaming half.  The importance-weight table (at most DSIR_NB
    integer rows, learned batch-side from the static reference corpus
    by ``dsir_weight_map``) rides into the stream as a map literal, so
    each arriving document's score is a JVM-side fold over its hashed
    bigrams — no aggregation precedes the stateful operator (the
    stream-safety constraint) and no Python touches the hot path
    before the Arrow-batched selector.

    The keep decision compares against the batch lane's boundary score
    (``score >= threshold`` — the whole boundary class passes; an
    online selector cannot tie-split a class it has not finished
    seeing), and ``dsir_select_stream`` carries per-shard ``(seen,
    kept)`` counters as state — the live acceptance-rate audit.
    Oracle: DuckDB recomputes weights, scores, the batch threshold,
    md5 shards, and the (shard, doc_id)-ordered running counters;
    restart safety rides the same checkpoint machinery as the other
    stateful lanes and cross-batch counter carry is pinned in
    multi-batch unit tests (tests/test_streaming.py)."""
    from reindexer_spark.operators.mlprep import (
        DSIR_KEEP_DIV,
        DSIR_TARGET_LANG,
        _dsir_bucket_arr,
        dsir_weight_map,
    )
    from reindexer_spark.streaming import (
        run_stream_to_memory,
        stream_documents,
    )
    from reindexer_spark.streaming.stateful import dsir_select_stream

    wmap, wdef = dsir_weight_map(spark, sf_dir)
    keys = sorted(wmap)
    if keys:
        wcol = F.map_from_arrays(
            F.lit([int(k) for k in keys]).cast("array<bigint>"),
            F.lit([int(wmap[k]) for k in keys]).cast("array<bigint>"),
        )
    else:
        wcol = F.expr("cast(map() as map<bigint,bigint>)")

    def _score_col():
        # the EXACT scoring fold the stream runs (map-literal lookup
        # with the unseen-bucket default) — the setup threshold and
        # the live selector can never drift
        return F.aggregate(
            _dsir_bucket_arr(F.split("text", " ")),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc
            + F.coalesce(F.element_at(wcol, b), F.lit(int(wdef))),
        )

    # Boundary score straight from the static pool's score HISTOGRAM
    # (one corpus scan — round-13 review: re-running the whole batch
    # dsir_select lane here re-scanned the corpus twice for a scalar):
    # with ranks ordered (score DESC, doc_id), the rank-(n_pool//K)
    # document's score is the LARGEST score whose descending
    # cumulative class count reaches the keep budget; the batch lane's
    # min-kept-score is exactly that, and the oracle (which recomputes
    # the threshold independently) pins the equivalence every round.
    hist = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") != DSIR_TARGET_LANG)
        .select(_score_col().alias("score"))
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wdesc = (
        Window.orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    thr_row = (
        hist.select(
            "score",
            F.sum("c").over(wdesc).alias("cum"),
            F.sum("c").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n_pool"),
        )
        .filter(
            (F.col("n_pool") >= DSIR_KEEP_DIV)
            & (F.col("cum") >= F.floor(F.col("n_pool") / DSIR_KEEP_DIV))
        )
        .agg(F.max("score").alias("s"))
        .collect()[0]
    )
    threshold = None if thr_row.s is None else int(thr_row.s)
    docs = stream_documents(spark, sf_dir).filter(
        F.col("lang") != DSIR_TARGET_LANG
    )
    scored = docs.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % N_SHARDS
        )
        .cast("int")
        .alias("shard"),
        F.aggregate(
            _dsir_bucket_arr(F.split("text", " ")),
            F.lit(0).cast("bigint"),
            lambda acc, b: acc
            + F.coalesce(F.element_at(wcol, b), F.lit(int(wdef))),
        ).alias("score"),
    )
    out = dsir_select_stream(scored, threshold)
    return run_stream_to_memory(out, output_mode="append").orderBy("doc_id")


@query(
    "stream_cdc_dedup_live",
    oracle="""
    WITH c AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ), cut AS (
      SELECT doc_id,
        list_transform(
          list_zip(
            list_prepend(1, list_transform(cuts, p -> p + 1)),
            list_append(cuts, n)
          ),
          se -> substring(text, se[1], se[2] - se[1] + 1)
        ) AS chunks
      FROM (
        SELECT doc_id, text, n,
          list_filter(
            range(CAST(16 AS BIGINT), CAST(n + 1 AS BIGINT)),
            p -> substring(md5(substring(text, CAST(p - 15 AS INT), 16)),
                           32, 1) = '0'
                 AND p < n
          ) AS cuts
        FROM c
      )
    ), inst AS (
      SELECT doc_id,
             CAST(s['i'] AS INT) AS idx,
             md5(s['c']) AS h,
             CAST(length(s['c']) AS INT) AS clen
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(len(chunks)),
                 i -> {'i': i, 'c': chunks[CAST(i + 1 AS INT)]}
               )) AS s
        FROM cut
      )
    )
    SELECT doc_id, idx, h, clen,
           FIRST_VALUE(doc_id) OVER w AS first_doc,
           CAST(ROW_NUMBER() OVER w = 1 AS INT) AS is_new
    FROM inst
    WINDOW w AS (PARTITION BY h ORDER BY doc_id, idx)
    ORDER BY doc_id, idx
    """,
)
def stream_cdc_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIXTH custom stateful operator at the value gate:
    content-defined-chunk dedup ON INGEST under the real streaming
    engine (applyInPandasWithState) — the streaming half of
    ``dedup_cdc_chunks``.  Every arriving document is split at the
    SAME rolling md5-window boundaries (row-wise higher-order
    functions — stream-safe, no aggregation precedes the stateful
    operator, no Python before the Arrow-batched classifier) and each
    chunk instance is classified the moment it lands: new fingerprint
    or a duplicate of ``first_doc``.  This is transfer/storage dedup
    at crawl time: a landing page ships only the chunks the corpus
    lacks.  State is one fingerprint table per hash bucket
    (``FINGERPRINT_BUCKETS`` of them): each micro-batch makes at most
    that many Python calls and rewrites the tables it touches, so its
    cost grows with every fingerprint the stream has kept — past about
    1-3M of them (more for larger batches) a per-key layout is cheaper
    (measured in ``stateful._by_fingerprint_bucket``).

    Gate: the emitted relation must equal the batch window
    FIRST_VALUE/ROW_NUMBER over (PARTITION BY fingerprint ORDER BY
    doc_id, idx) — DuckDB rebuilds the chunks, fingerprints and
    arrival order independently.  Cross-batch state carry (a chunk
    seen in batch 1 marks arrivals dup in batch 2) is pinned in
    tests/test_streaming.py, and so is a restart from a checkpoint."""
    from reindexer_spark.operators.dedup import (
        _gear_chunks_from_cuts,
        _md5_cuts_vec,
    )
    from reindexer_spark.streaming import (
        run_stream_to_memory,
        stream_documents,
    )
    from reindexer_spark.streaming.stateful import cdc_dedup_stream

    d = stream_documents(spark, sf_dir)
    # cut scan vectorized (optimization r17, §4.2 — one Arrow pass of
    # numpy single-block MD5 over every window of the micro-batch
    # replaces the interpreted per-position JVM md5 HOF; byte-equal by
    # tests/test_dedup_cdc.py and this lane's unchanged oracle).  A
    # stateless projection UDF is stream-safe — only aggregations may
    # not precede applyInPandasWithState.
    cuts_udf = F.pandas_udf(_md5_cuts_vec, "array<int>")
    ex = d.select(
        "doc_id", "text", cuts_udf(F.col("text")).alias("cuts")
    ).select(
        "doc_id",
        F.posexplode(
            _gear_chunks_from_cuts(F.col("text"), F.col("cuts"))
        ).alias("idx", "chunk"),
    ).select(
        "doc_id",
        "idx",
        F.md5("chunk").alias("h"),
        F.length("chunk").alias("clen"),
    )
    out = cdc_dedup_stream(ex)
    # Python-compute stateful lane: one wave of state tasks — 4
    # partitions measured 0.74 s against 0.87 s at the default 8 on a
    # 4-core host (see run_stream_to_memory's state_partitions note)
    from reindexer_spark.session import default_parallelism

    return run_stream_to_memory(
        out, output_mode="append",
        state_partitions=default_parallelism(),
    ).orderBy("doc_id", "idx")
