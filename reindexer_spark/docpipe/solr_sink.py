"""Bulk-upsert sink (Tier B8) — the Solr submission stage.

The reference forks ``argot ingest -s SOLR_URL chunkfile`` per chunk
(/root/reference/ingest/ingest.go:27-33), which posts the flattened
records to Solr; re-running overwrites by document id (README.md:84-87
relies on that for resume).  Contract: **at-least-once delivery,
idempotent by id** — exactly-once is explicitly out of scope (SURVEY §7).

How ``SolrSink.write`` runs, as one Spark action:

- every row is encoded JVM-side as one JSON object by
  ``to_json(struct(*))``: null fields are omitted, timestamps are UTC
  ISO-8601 ending in ``Z``, dates are midnight UTC in the same form,
  decimals are JSON numbers and maps are JSON objects;
- a ``mapInArrow`` over that one string column joins at most
  ``batch_size`` encoded documents into one JSON-array body,
  ``[doc,doc,...]``, and hands it to the transport; it yields no rows,
  so the ``collect()`` that drives it brings nothing back;
- a transport is a callable ``send(body: bytes)``, built on the
  executor by ``transport_factory`` so connections never serialize from
  the driver.  ``http_transport`` posts the body to Solr's JSON update
  endpoint; ``DirectoryCaptureTransport`` writes it to a file;
- only transient failures are retried: a 5xx, a connection error or a
  timeout gets up to ``max_retries`` attempts in all, with a bounded
  exponential backoff between them.  Any other error, an HTTP 4xx
  included, fails the write on its first attempt.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass
from time import sleep

from py4j.protocol import Py4JJavaError
from pyspark.errors import PythonException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Wait before retry k (k = 1, 2, ...): min(_BACKOFF_S * 2**(k-1), _BACKOFF_MAX_S).
_BACKOFF_S = 0.1
_BACKOFF_MAX_S = 5.0

# to_json options that fix the wire form whatever the session's settings.
_JSON_OPTIONS = {
    "ignoreNullFields": "true",
    "timeZone": "UTC",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "dateFormat": "yyyy-MM-dd'T00:00:00Z'",
}


def http_transport(solr_url: str):
    """POST JSON-array bodies to Solr's JSON update endpoint via stdlib
    (pysolr is not in this container; the wire format is the same).
    Raises ``urllib.error.HTTPError`` on an HTTP error status.

    ``send`` also takes a list of documents as Python objects and
    encodes it, for callers outside the sink that build documents in
    Python."""
    endpoint = f"{solr_url.rstrip('/')}/update?commitWithin=10000"

    def send(body: bytes | list[dict]) -> None:
        if isinstance(body, list):
            body = json.dumps(body).encode("utf-8")
        req = urllib.request.Request(
            endpoint,
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            if resp.status >= 300:
                raise IOError(f"solr update failed: HTTP {resp.status}")

    return send


class DirectoryCaptureTransport:
    """Dry-run transport: records each body (a JSON array of documents)
    as a file under a local directory instead of posting to Solr.  Used
    by tests and for inspecting exactly what would be submitted
    (executors share the filesystem in local mode; on a cluster point it
    at shared storage)."""

    def __init__(self, root: str):
        self.root = root

    def __call__(self, body: bytes) -> None:
        import tempfile

        with tempfile.NamedTemporaryFile(
            "wb", dir=self.root, suffix=".json", delete=False
        ) as fh:
            fh.write(body)


def _send_with_retry(send: Callable[[bytes], None], body: bytes, attempts: int) -> None:
    """``send(body)``, retrying a transient failure (5xx, connection
    error, timeout) up to ``attempts`` tries in all; the last failure,
    or the first other one (an HTTP 4xx included), is raised."""
    for attempt in range(1, max(attempts, 1) + 1):
        try:
            send(body)
            return
        except (urllib.error.URLError, TimeoutError, ConnectionError) as exc:
            client_error = isinstance(exc, urllib.error.HTTPError) and exc.code < 500
            if client_error or attempt >= attempts:
                raise
        sleep(min(_BACKOFF_S * 2 ** (attempt - 1), _BACKOFF_MAX_S))


@dataclass
class SolrSink:
    solr_url: str
    batch_size: int = 1000
    max_retries: int = 3
    # () -> callable(bytes) -> None; defaults to http_transport
    transport_factory: Callable | None = None

    def write(self, df: DataFrame, id_col: str = "id") -> None:
        """At-least-once batched upsert of ``df`` (one Solr doc per row,
        nulls dropped, keyed by ``id_col``).  A failed delivery raises the
        failed Spark job's ``Py4JJavaError``."""
        if id_col not in df.columns:
            raise ValueError(f"id column {id_col!r} not in DataFrame")
        factory = self.transport_factory or (
            lambda: http_transport(self.solr_url)
        )
        batch_size, attempts = self.batch_size, self.max_retries

        def post_partition(batches):
            send = factory()

            def post(docs: list[str]) -> None:
                body = ("[" + ",".join(docs) + "]").encode("utf-8")
                _send_with_retry(send, body, attempts)

            pending: list[str] = []
            for batch in batches:
                pending.extend(batch.column(0).to_pylist())
                while len(pending) >= batch_size:
                    post(pending[:batch_size])
                    del pending[:batch_size]
            if pending:
                post(pending)
            yield from ()  # posting is the side effect; the action gets no rows

        docs = df.select(F.to_json(F.struct("*"), _JSON_OPTIONS).alias("doc"))
        try:
            docs.mapInArrow(post_partition, "posted long").collect()
        except PythonException as exc:
            # pyspark turns a Python-worker failure inside a SQL operator
            # into PythonException; raise the failed job's Py4JJavaError
            # instead, the error every other failed docpipe job raises
            if isinstance(exc.__context__, Py4JJavaError):
                raise exc.__context__ from None
            raise


class SolrBatchLedger:
    """Committed-batch markers on shared storage — the missing half of
    the exactly-once recipe for a sink without a transactional commit
    protocol.  One empty marker file per committed micro-batch, created
    ATOMICALLY (write-temp-then-rename) only after every partition of
    that batch posted successfully; readers (the replay check) see a
    marker either fully or not at all.

    Markers are garbage-collected: ``commit`` keeps only the
    ``retain`` highest batch ids (default 100, mirroring Spark's
    retained-checkpoint-batch window).  Safe because Structured
    Streaming only ever replays the LAST uncommitted batch after a
    restart — a marker ``retain`` batches old can no longer be asked
    about (round-8 ADVICE: unbounded one-marker-per-micro-batch
    growth on long-running streams)."""

    def __init__(self, path: str, retain: int = 100) -> None:
        import os

        self.path = path
        self.retain = retain
        os.makedirs(path, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        import os

        return os.path.join(self.path, f"batch-{batch_id}.committed")

    def committed(self, batch_id: int) -> bool:
        import os

        return os.path.exists(self._marker(batch_id))

    def commit(self, batch_id: int) -> None:
        import os
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        os.close(fd)
        os.replace(tmp, self._marker(batch_id))
        self._gc()

    def _gc(self) -> None:
        """Drop all but the ``retain`` highest-numbered markers."""
        import os

        ids = []
        for name in os.listdir(self.path):
            if name.startswith("batch-") and name.endswith(".committed"):
                try:
                    ids.append(int(name[len("batch-") : -len(".committed")]))
                except ValueError:
                    continue
        for bid in sorted(ids)[: max(0, len(ids) - self.retain)]:
            try:
                os.remove(self._marker(bid))
            except FileNotFoundError:
                pass  # concurrent GC from another writer already removed it


class EffectivelyOnceSolrSink:
    """``foreachBatch`` target upgrading the Solr sink from
    at-least-once to EFFECTIVELY-ONCE (round-7 VERDICT item #5): the
    same batch-id ledger recipe the parquet sink uses
    (streaming/sink.py), applied to a non-transactional HTTP sink.

    Replay semantics after a crash between "posted" and "checkpoint
    committed": Structured Streaming re-delivers the same (batchId,
    data) pair; the ledger check skips batches that fully posted, so a
    committed batch is never re-sent.  A batch that failed MID-post has
    no marker and re-posts entirely — Solr's upsert-by-id absorbs the
    overlap, which is exactly the reference's own idempotence contract
    (README.md:84-87) now scoped to the one failure window the ledger
    can't close."""

    def __init__(
        self, sink: SolrSink, ledger_path: str, id_col: str = "id"
    ) -> None:
        self.sink = sink
        self.ledger = SolrBatchLedger(ledger_path)
        self.id_col = id_col

    def write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.ledger.committed(batch_id):
            return  # replayed after a successful post: skip, no dupes
        self.sink.write(batch_df, id_col=self.id_col)
        self.ledger.commit(batch_id)
