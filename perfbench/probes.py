"""Measurement helpers that observe the engine from outside: a process-tree
resident-memory sampler, a streaming progress listener, and timing
wrappers around the engine's public functions and sink."""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


def _pss(pid: int) -> int:
    """The proportional set size of ``pid`` in bytes: its resident pages,
    each shared page divided among the processes that map it."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss line for {pid}")


def _tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid → (command, resident bytes) for ``root`` and all its
    descendants, from /proc.  Resident memory is counted as PSS, not RSS:
    a child forked from the JVM (to run a shell command) or from the
    Python worker daemon shares its parent's pages, and RSS would count
    them once per process."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # the process ended between listing and reading
            # comm may hold spaces or parens: fields resume after the last ')'
            parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, int]] = {}
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            out[pid] = (comm, _pss(pid))
        except (OSError, ValueError):
            continue  # the process ended between listing and reading
    return out


class PeakRss:
    """Samples the summed resident memory of this process tree (driver,
    JVM, Python workers) every ``period`` seconds on a background thread,
    and keeps the peak and its split by command; ``with`` scoped, or ended
    early with ``stop``, which takes one last sample."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        tree = _tree_rss(os.getpid())
        total = sum(size for _, size in tree.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_command = {}
            for comm, size in tree.values():
                self.peak_by_command[comm] = self.peak_by_command.get(comm, 0) + size

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()
        self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def __exit__(self, *exc) -> None:
        self.stop()


class ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's ``StreamingQueryProgress`` figures."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        row = {
            "input_rows": p.numInputRows,
            "batch_ms": p.durationMs.get("triggerExecution", p.batchDuration),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "commit_ms": sum(op.commitTimeMs for op in ops),
            "state_rows": sum(op.numRowsTotal for op in ops),
        }
        with self._lock:
            self.batches.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, expected: int, timeout: float = 10.0) -> list[dict]:
        """Wait until ``expected`` batches arrived (events are delivered
        asynchronously), then return and clear them."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                if len(self.batches) >= expected or time.monotonic() > deadline:
                    out, self.batches = self.batches, []
                    return out
            time.sleep(0.05)


class Timed:
    """Wraps a callable and keeps the wall time of each call."""

    def __init__(self, fn):
        self.fn = fn
        self.calls: list[float] = []

    def __call__(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return self.fn(*args, **kwargs)
        finally:
            self.calls.append(time.perf_counter() - t0)


class TimedSink:
    """Delegating sink: forwards ``write`` to the engine's sink and notes
    when it started and returned."""

    def __init__(self, sink):
        self.sink = sink
        self.start = self.end = 0.0

    def write(self, df, id_col: str = "id") -> None:
        self.start = time.perf_counter()
        try:
            self.sink.write(df, id_col=id_col)
        finally:
            self.end = time.perf_counter()


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
