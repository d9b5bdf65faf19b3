"""In-process stub of the Solr update endpoint.

Accepts the JSON array that ``docpipe.solr_sink.http_transport`` posts to
``<core>/update``, keeps every body as it arrived, and records bytes,
batches and handler time.  Handlers run on a pool of at most ``threads``
threads, like a server sized to the host.
"""

from __future__ import annotations

import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

CORE_PATH = "/solr/bench"


class _PooledServer(ThreadingHTTPServer):
    """ThreadingHTTPServer whose requests run on a bounded pool instead of
    one new thread each."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(threads, thread_name_prefix="stub-solr")

    def process_request(self, request, client_address):
        self.pool.submit(self.process_request_thread, request, client_address)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


class StubSolr:
    """``with StubSolr(threads) as solr: ...`` serves on 127.0.0.1 at a free
    port; ``solr.url`` is the core URL to hand the sink."""

    def __init__(self, threads: int):
        self._lock = threading.Lock()
        self.reset()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep the benchmark's stderr clean
                pass

            def do_POST(self):
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers["Content-Length"]))
                if not self.path.startswith(f"{CORE_PATH}/update"):
                    self.send_error(404)
                    return
                # recorded before the reply, so a batch the sink saw
                # acknowledged is always in the record
                stub._record(body, time.perf_counter() - t0)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self._server = _PooledServer(("127.0.0.1", 0), Handler, threads)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="stub-solr-accept", daemon=True
        )

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}{CORE_PATH}"

    def __enter__(self) -> "StubSolr":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=30)

    def reset(self) -> None:
        """Start a new job's record."""
        with self._lock:
            self._bodies: list[bytes] = []
            self._handler_s: list[float] = []

    def _record(self, body: bytes, seconds: float) -> None:
        with self._lock:
            self._bodies.append(body)
            self._handler_s.append(seconds)

    def received(self) -> list[list[dict]]:
        """Every accepted batch of the current record, in arrival order (a
        re-posted batch appears twice)."""
        with self._lock:
            bodies = list(self._bodies)
        return [json.loads(body) for body in bodies]

    def stats(self) -> dict:
        with self._lock:
            return {
                "requests": len(self._bodies),
                "bytes": sum(len(b) for b in self._bodies),
                "handler_s": list(self._handler_s),
            }
