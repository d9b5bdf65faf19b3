"""Custom stateful streaming operator via ``applyInPandasWithState``
(Tier C14 × C13): per-key quota alerting — emit an alert each time a
user's cumulative value crosses another multiple of the threshold.

This is the operator class the built-in windows genuinely cannot
express (the emission condition depends on an unbounded running total,
not on event-time buckets): custom per-key state, arbitrary Python
transition logic, Arrow-batched.  State is one float per key, so
executor state-store memory is O(|keys|) regardless of event volume;
keys are hash-partitioned, so the operator scales exactly like a
streaming aggregation.

The reference has no streaming at all (BASELINE.json: "real-time
indexing does not [map]"); this is north-star surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALERT_SCHEMA = (
    "user_id bigint, event_id bigint, total double, crossed double"
)
STATE_SCHEMA = "total double"


def quota_alerts(events: DataFrame, threshold: float = 100.0) -> DataFrame:
    """Per-user cumulative-value threshold alerts over a (possibly
    streaming) events DataFrame with columns
    (event_id, ts, user_id, value, ...).

    Within a micro-batch, events are applied in (ts, event_id) order —
    deterministic given deterministic batch boundaries (the tests pin
    them with one file per trigger).
    """

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (total,) = state.get if state.exists else (0.0,)
        out: list[tuple] = []
        # A group's rows can span several Arrow chunks; sorting each chunk
        # independently would interleave out of (ts, event_id) order, so
        # gather the whole micro-batch for this key before sorting.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                before = int(total // threshold)
                total += float(val)
                after = int(total // threshold)
                if after > before:
                    out.append((key[0], int(eid), total, after * threshold))
        state.update((total,))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "total", "crossed"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=ALERT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quota_alerts_cents(
    events: DataFrame, threshold_cents: int = 10_000
) -> DataFrame:
    """Oracle-exact variant of :func:`quota_alerts`: the running total is
    carried as INTEGER CENTS (the input must provide a ``v`` column of
    DECIMAL(12,2), which Arrow delivers to pandas as ``decimal.Decimal``),
    so every crossing decision is integer arithmetic — bit-identical to a
    SQL window cumsum over the same decimal column, which is what lets a
    custom stateful streaming operator pass a value-exact DuckDB gate.

    The float variant above keeps the reference-free float semantics for
    unit tests; this one trades generality for cross-engine exactness
    (floor division on ints ≡ SQL FLOOR; cents/100.0 ≡ CAST(decimal AS
    DOUBLE), both correctly-rounded from the same rational).
    """

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        (cents,) = state.get if state.exists else (0,)
        out = pd.DataFrame(
            columns=["user_id", "event_id", "total", "crossed"]
        )
        # Concatenate all Arrow chunks for this key before sorting so the
        # crossing is attributed under a global (ts, event_id) order, not
        # a per-chunk one (matches the SQL window oracle exactly).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            # Vectorized crossing detection (the hot path: one numpy
            # cumsum instead of a per-event Python loop).  cents stay
            # exact: DECIMAL(12,2)*100 ≤ 1e14 < 2^53, so the float64
            # round-trip through rint is the same integer the Decimal
            # arithmetic yields.
            deltas = np.rint(
                pdf["v"].astype("float64").to_numpy() * 100
            ).astype(np.int64)
            cum = cents + np.cumsum(deltas)
            after = cum // threshold_cents
            before = (cum - deltas) // threshold_cents
            mask = after > before
            if mask.any():
                out = pd.DataFrame(
                    {
                        "user_id": key[0],
                        "event_id": pdf["event_id"].to_numpy()[mask],
                        "total": cum[mask] / 100.0,
                        "crossed": after[mask] * (threshold_cents / 100.0),
                    }
                )
            cents = int(cum[-1])
        state.update((cents,))
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=ALERT_SCHEMA,
        stateStructType="cents bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RATE_SCHEMA = (
    "user_id bigint, event_id bigint, ts_s string, n_window bigint, "
    "late boolean"
)


def rate_limit_alerts(
    events: DataFrame,
    window_us: int = 86_400_000_000,
    limit: int = 8,
) -> DataFrame:
    """Streaming rate-limit detector with BOUNDED state: per user, emit
    every event whose trailing-``window_us`` event count reaches
    ``limit``.  Unlike quota_alerts (whose running-total state is one
    long forever), the state here is the timestamp list inside the
    trailing window — and it is PRUNED on every batch to timestamps
    newer than (batch max ts - window), so state size is bounded by a
    user's max event rate, not stream length.  That eviction is the
    pattern every sliding-window stateful operator needs to survive an
    unbounded stream.

    Counts are computed vectorized (np.searchsorted over the sorted
    within-window timestamps) and the emitted rows equal the batch
    time-range-frame window query row for row, which is what lets the
    DuckDB oracle value-gate a custom stateful streaming operator.

    LATE DATA: the state carries a per-user high-watermark (the max
    event time of all prior batches).  An event older than that
    watermark cannot be counted exactly — peers inside its trailing
    frame may already be evicted (exactly when its ts precedes the
    watermark, since eviction keeps [hw - window, hw]) — so instead of
    silently undercounting it, the operator EMITS it with
    ``late = true`` and a null ``n_window``: an explicit quarantine
    row, the A9 error-channel convention applied to streaming.  Late
    events that still fall inside the kept window DO enter state, so
    later on-time events count them as frame peers (matching the batch
    RANGE-frame oracle, which sees all rows); on-time rows emit with
    ``late = false`` and the exact count.  This mirrors the watermark
    semantics of the windowed family in windows_time.py, with flag
    instead of drop."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        cols = ["user_id", "event_id", "ts_s", "n_window", "late"]
        # hw sentinel = "no events seen yet" (below any real epoch-us)
        prior, hw = state.get if state.exists else ([], -(1 << 62))
        prior = list(prior)
        out = pd.DataFrame(columns=cols)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            new_us = (
                pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            )
            # late = strictly before the prior-batch high-watermark:
            # exactly the rows whose frame start may predate eviction
            late = new_us < hw
            all_us = np.sort(
                np.concatenate([np.asarray(prior, dtype=np.int64), new_us])
            )
            # trailing count for each NEW event: elements with ts in
            # [t - window, t].  hi uses side="right" so ALL timestamp
            # peers count, matching the SQL RANGE frame (whose CURRENT
            # ROW extends through peers), not just rows sorted earlier.
            lo = np.searchsorted(all_us, new_us - window_us, side="left")
            hi = np.searchsorted(all_us, new_us, side="right")
            n_window = hi - lo
            mask = (n_window >= limit) & ~late
            emit = mask | late
            if emit.any():
                ts_s = (
                    pdf["ts"]
                    .dt.strftime("%Y-%m-%d %H:%M:%S")
                    .to_numpy()[emit]
                )
                out = pd.DataFrame(
                    {
                        "user_id": key[0],
                        "event_id": pdf["event_id"].to_numpy()[emit],
                        "ts_s": ts_s,
                        "n_window": [
                            int(n) if ok else None
                            for n, ok in zip(n_window[emit], mask[emit])
                        ],
                        "late": late[emit],
                    }
                )
            # evict state strictly older than the window behind the
            # newest event (>= keeps the inclusive [t-window, t] bound
            # correct for a future event sharing the newest timestamp)
            cutoff = int(all_us[-1]) - window_us
            keep = all_us[all_us >= cutoff]
            prior = [int(x) for x in keep]
            hw = max(int(new_us.max()), hw)
        state.update((prior, hw))
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=RATE_SCHEMA,
        stateStructType="stamps array<bigint>, hw bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming greedy sequence packer ---------------------------------

PACK_STATE_SCHEMA = "seq_id bigint, fill bigint"


def pack_greedy_stream(toks: DataFrame, budget: int) -> DataFrame:
    """Streaming NO-SPLIT greedy sequence packing — the stateful-stream
    twin of ``corpus_pack_greedy``: documents arrive as an unbounded
    stream, each hash shard carries its packer cursor ``(seq_id, fill)``
    across micro-batches, and every document is assigned to a training
    sequence the moment it arrives — the shape of a streaming data
    loader that packs as it ingests instead of re-packing the corpus.

    Input columns: (doc_id, shard, h, n_tokens) — the relation
    ``operators.sampling.pack_tokens`` builds.  Within a micro-batch,
    rows apply in (h, doc_id) order — the batch packer's deterministic
    md5-shuffle order — so with deterministic batch boundaries the
    stream reproduces the batch assignment exactly (the gate), while
    across batches the carried cursor makes the packing genuinely
    incremental (pinned in multi-batch unit tests).

    State is two longs per shard — O(|shards|) regardless of stream
    volume, the bounded-state survival property."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        from reindexer_spark.operators.sampling import greedy_fold

        seq, fill = state.get if state.exists else (0, 0)
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["h", "doc_id"])
            seq_ids, fills, seq, fill = greedy_fold(
                pdf["n_tokens"], seq, fill, budget
            )
            out = [
                (int(d), key[0], int(n), s_, f_)
                for d, n, s_, f_ in zip(
                    pdf["doc_id"], pdf["n_tokens"], seq_ids, fills
                )
            ]
        state.update((int(seq), int(fill)))
        yield pd.DataFrame(
            out,
            columns=["doc_id", "shard", "n_tokens", "seq_id", "fill_after"],
        )

    from reindexer_spark.operators.sampling import PACK_OUT_SCHEMA

    return toks.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Hash buckets the two fingerprint-dedup operators below key their state
# by: each micro-batch makes at most this many Python calls, however many
# distinct fingerprints it carries.  The count is fixed into a checkpoint
# (it decides which bucket holds a fingerprint), so changing it
# invalidates existing checkpoints of these operators.
FINGERPRINT_BUCKETS = 64


def _table_keys(s: pd.Series, held: np.ndarray):
    """``s`` as fixed-width UTF-8 bytes, and ``held`` widened to match.
    Each key ends in a 0x01 byte, so numpy's fixed-width bytes (which
    drop trailing NULs) keep distinct strings distinct and sort them in
    one consistent byte order."""
    keys = (s + "\x01").str.encode("utf-8").to_numpy().astype(bytes)
    width = max(keys.dtype.itemsize, held.dtype.itemsize)
    return (
        held.astype(f"S{width}", copy=False),
        keys.astype(f"S{width}", copy=False),
    )


def _ranges(start: np.ndarray, count: np.ndarray):
    """Flatten the index ranges ``[start[i], start[i] + count[i])``:
    returns ``(i, j)`` with one entry per index ``j`` of range ``i``."""
    row = np.repeat(np.arange(len(count)), count)
    at = np.repeat(start - np.cumsum(count) + count, count)
    return row, at + np.arange(len(row))


def _by_fingerprint_bucket(
    df: DataFrame,
    keys: list[str],
    step,
    out_schema: str,
) -> DataFrame:
    """Group ``df`` by ``pmod(xxhash64(*keys), FINGERPRINT_BUCKETS)`` and
    call ``step(pdf, held, vals) -> (out, held, vals)`` once per touched
    bucket per micro-batch: ``pdf`` holds every row of the bucket in
    that batch; ``held`` (sorted fixed-width byte keys, see
    ``_table_keys``) and ``vals`` (int64, aligned) are the bucket's
    table, a sorted multimap, stored as three flat values (key width,
    key bytes, value bytes), so no Python object is made per entry.

    Per-batch cost: at most FINGERPRINT_BUCKETS calls, O(rows x log)
    lookups, and a rewrite of every touched bucket's whole table, about
    (key width + 8) bytes per kept fingerprint.  A batch with more than
    ~64 distinct keys touches nearly every bucket, so per-batch cost
    grows with all the fingerprints the stream has kept, and the total
    cost of an unbounded stream grows quadratically.  Measured for
    cdc_dedup_stream on a 4-core host (median of the last 5 of 10
    batches, 4 state partitions) while every state-store commit still
    forked Hadoop's permission shell commands, ~0.25 s of each batch
    that session.py's local file system has since removed from both
    layouts alike (one delta file per state partition either way), so
    these times are high and the crossovers stale.  1,000-row batches:
    0.60 s at an empty table, 0.72 s at 1M kept fingerprints, 1.30 s at
    3M (~0.23 us per kept fingerprint); keyed per fingerprint (one call
    per distinct key) the same batches took 0.97-1.00 s at 0 and 100k
    kept, flat in the table size.  100-row batches: bucketed 0.54 / 0.72 / 1.22 s at
    0 / 1M / 3M kept, per-key 0.55-0.60 s.  The per-key layout
    therefore wins past about 2M kept fingerprints at 1,000-row batches
    and past about 0.3M at 100-row batches.  The grouping key is
    planned once and fixed into the checkpoint, so a running stream
    cannot move between the layouts;
    ``transformWithStateInPandas`` with a ``MapState`` (64 calls and
    O(batch) state traffic per batch) is the route past the crossover
    once its ``google.protobuf`` dependency is installed."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            width, held, vals = state.get
            held = np.frombuffer(held, f"S{width}")
            vals = np.frombuffer(vals, np.int64)
        else:
            held, vals = np.empty(0, "S1"), np.empty(0, np.int64)
        out, held, vals = step(pdf, held, vals)
        state.update((held.dtype.itemsize, held.tobytes(), vals.tobytes()))
        yield out

    bucket = F.pmod(F.xxhash64(*keys), F.lit(FINGERPRINT_BUCKETS))
    return (
        df.withColumn("_bucket", bucket)
        .groupBy("_bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType="width int, held binary, vals binary",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def minhash_dedup_stream(bands: DataFrame, cap: int) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidates — dedupe ON INGEST,
    the fourth custom stateful operator: band rows ``(doc_id, band,
    sig)`` arrive as an unbounded stream, each (band, sig) bucket
    carries the doc_ids of its first ``cap`` members as state, and
    every arriving document immediately pairs with the members already
    resident in its bucket.  This is the crawl-ingest shape: a new
    page is checked against the standing corpus the moment it lands,
    instead of re-running dedup over the corpus per batch.

    Semantics (oracle-replicable): a pair ``(d1, d2)`` emits for a
    band iff d1 arrived before d2 in that bucket AND d1 is among the
    bucket's first ``cap`` arrivals — the same first-k-representatives
    cap dedup_minhash_incremental applies to its corpus buckets, so a
    boilerplate bucket costs O(cap) state and O(cap) pairs per
    arrival, never O(members).  Within a micro-batch rows apply in
    doc_id order; with deterministic batch boundaries and doc_id-
    ordered arrival the emitted relation equals the batch ranked
    self-join row for row (the gate), while cross-batch state carry is
    pinned in multi-batch unit tests.

    State: (band, sig) buckets are hashed into FINGERPRINT_BUCKETS
    groups; a group's state is its resident table: key ``band:sig``,
    value a member doc_id, at most ``cap`` members per key, in
    admission order.  A micro-batch rewrites the tables of the groups
    it touches, so its cost grows with every resident entry the stream
    has kept, not only with the batch (see ``_by_fingerprint_bucket``
    for the measured cost and its crossover)."""

    def step(pdf: pd.DataFrame, held: np.ndarray, member: np.ndarray):
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        held, key = _table_keys(
            pdf["band"].astype(str) + ":" + pdf["sig"], held
        )
        # by bucket, each bucket's arrivals in doc_id order
        order = np.argsort(key, kind="stable")
        key = key[order]
        doc = pdf["doc_id"].to_numpy()[order]
        band = pdf["band"].to_numpy()[order]
        lo = np.searchsorted(held, key, "left")
        n_held = np.searchsorted(held, key, "right") - lo
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        first = np.repeat(starts, np.diff(np.r_[starts, len(key)]))
        rank = np.arange(len(key)) - first
        # an arrival pairs with every resident of its bucket, then with
        # the earlier arrivals admitted under the cap
        r1, i1 = _ranges(lo, n_held)
        r2, i2 = _ranges(
            first, np.clip(np.minimum(rank, cap - n_held), 0, None)
        )
        row = np.r_[r1, r2]
        d1 = np.r_[member[i1], doc[i2]]
        hit = d1 < doc[row]
        out = pd.DataFrame(
            {"band": band[row[hit]], "d1": d1[hit], "d2": doc[row[hit]]}
        )
        admit = n_held + rank < cap
        at = np.searchsorted(held, key[admit], "right")
        return (
            out,
            np.insert(held, at, key[admit]),
            np.insert(member, at, doc[admit]),
        )

    return _by_fingerprint_bucket(
        bands, ["band", "sig"], step, "band int, d1 bigint, d2 bigint"
    )


DSIR_SELECT_OUT_SCHEMA = (
    "doc_id bigint, shard int, score bigint, is_kept int, "
    "seen_so_far bigint, kept_so_far bigint"
)
DSIR_SELECT_STATE_SCHEMA = "seen bigint, kept bigint"


def dsir_select_stream(scored: DataFrame, threshold: int | None) -> DataFrame:
    """Streaming DSIR-style data selection — the FIFTH custom stateful
    operator: pre-scored documents ``(doc_id, shard, score)`` arrive as
    an unbounded stream and each one is kept or dropped THE MOMENT IT
    ARRIVES by comparing its integer importance score against a fixed
    ``threshold`` learned from the static reference corpus (the batch
    ``dsir_select``'s boundary score).  Each hash shard carries two
    longs of state — ``(seen, kept)`` running selection counters, the
    live acceptance-rate audit a crawl-selection pipeline alarms on —
    so state is O(|shards|) regardless of stream volume, the
    bounded-state survival property.

    Semantics (oracle-replicable): ``is_kept = score >= threshold`` —
    the whole boundary score class passes, unlike the batch lane's
    exact top-quarter tie-split, because an online selector cannot
    rank inside a class it has not finished seeing (``threshold=None``
    — an empty keep set batch-side — keeps nothing).  Within a
    micro-batch rows apply in doc_id order; with deterministic batch
    boundaries the emitted counters equal the batch running counts
    ordered by (shard, doc_id) row for row (the gate), while
    cross-batch counter carry is pinned in multi-batch unit tests."""

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        seen, kept = state.get if state.exists else (0, 0)
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("doc_id")
            for d, s in zip(pdf["doc_id"], pdf["score"]):
                seen += 1
                ok = int(threshold is not None and int(s) >= threshold)
                kept += ok
                out.append((int(d), key[0], int(s), ok, seen, kept))
        state.update((int(seen), int(kept)))
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id",
                "shard",
                "score",
                "is_kept",
                "seen_so_far",
                "kept_so_far",
            ],
        )

    return scored.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=DSIR_SELECT_OUT_SCHEMA,
        stateStructType=DSIR_SELECT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_dedup_stream(chunks: DataFrame) -> DataFrame:
    """Streaming CONTENT-DEFINED-CHUNK dedup — the sixth custom
    stateful operator: chunk instances ``(doc_id, idx, h, clen)``
    arrive as an unbounded stream (h = the chunk fingerprint from the
    row-wise CDC splitter — no aggregation precedes the stateful
    operator) and every instance is classified THE MOMENT IT ARRIVES:
    ``is_new=1`` iff its fingerprint was never seen before,
    ``first_doc`` = the document that introduced it.  This is
    chunk-level storage/transfer dedup at ingest (the LBFS/casync/Xet
    shape): a landing page only ships the chunks the corpus lacks.

    State: fingerprints are hashed into FINGERPRINT_BUCKETS groups; a
    group's state is its fingerprint table: key ``h``, value
    ``first_doc`` — bounded by DISTINCT chunks, never by stream volume.
    A micro-batch rewrites the tables of the groups it touches, so its
    cost grows with every fingerprint the stream has kept (see
    ``_by_fingerprint_bucket`` for the measured cost and its
    crossover).

    Semantics (oracle-replicable): within a micro-batch rows apply in
    (doc_id, idx) order; with deterministic batch boundaries the
    emitted relation equals the batch window
    ``FIRST_VALUE/ROW_NUMBER OVER (PARTITION BY h ORDER BY doc_id,
    idx)`` row for row — the gate; cross-batch state carry and
    checkpoint restart are pinned in tests/test_streaming.py."""

    def step(pdf: pd.DataFrame, held: np.ndarray, first_doc: np.ndarray):
        pdf = pdf.sort_values(["doc_id", "idx"], ignore_index=True)
        held, h = _table_keys(pdf["h"], held)
        doc = pdf["doc_id"].to_numpy()
        # one entry per distinct fingerprint: its first row in the batch
        keys, first, inverse = np.unique(
            h, return_index=True, return_inverse=True
        )
        at = np.searchsorted(held, keys)
        known = at < len(held)
        known[known] = held[at[known]] == keys[known]
        key_doc = doc[first]
        key_doc[known] = first_doc[at[known]]
        new = ~known
        out = pd.DataFrame(
            {
                "doc_id": doc,
                "idx": pdf["idx"],
                "h": pdf["h"],
                "clen": pdf["clen"],
                "first_doc": key_doc[inverse],
                "is_new": (
                    new[inverse] & (first[inverse] == np.arange(len(pdf)))
                ).astype(np.int32),
            }
        )
        return (
            out,
            np.insert(held, at[new], keys[new]),
            np.insert(first_doc, at[new], key_doc[new]),
        )

    return _by_fingerprint_bucket(
        chunks,
        ["h"],
        step,
        "doc_id bigint, idx int, h string, clen int, "
        "first_doc bigint, is_new int",
    )
