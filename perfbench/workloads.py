"""The benchmark's workloads.  Each one owns its inputs, its job, the check
of a job's output, and a traced job that splits the wall into layers.

- ``full_reindex``: the reference's own job (scan → resume → parse →
  flatten → suffix → enrich → sink) over a seeded corpus, with authority
  enrichment, the default chunk size and the real ``http_transport``
  posting to an in-process stub Solr.  Parsing, shaping, the authority
  join and the sink take about half of each job; fixed per-job costs
  (schema inference, the count pass, planning) take the rest.
- ``cdc_stream_dedup``: ``stream_cdc_dedup_live``, the Python-stateful
  stream, over a few part files, one micro-batch each.  It bypasses every
  docpipe layer; the docpipe workload bypasses every streaming layer.
"""

from __future__ import annotations

import os
import time

import check
import gen
from probes import ProgressLog, Timed, TimedSink, median
from stub_solr import StubSolr

# every docpipe and streaming layer metric, in reporting order; a workload
# reports 0 for the layers it does not run
LAYER_METRICS = {
    "sources.scan_s": "s",
    "resume.filter_s": "s",
    "resume.kept_ratio": "ratio",
    "flatten.infer_schema_s": "s",
    "flatten.parse_s": "s",
    "flatten.shape_s": "s",
    "flatten.quarantine_ratio": "ratio",
    "authority.enrich_s": "s",
    "authority.hit_ratio": "ratio",
    "pipeline.count_s": "s",
    "solr_sink.write_s": "s",
    "solr_sink.server_busy_s": "s",
    "solr_sink.bytes_per_doc": "B",
    "solr_sink.request_p50_ms": "ms",
    "solr_sink.requests": "count",
    "solr_sink.retries": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.commit_p50_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.input_rows_per_batch": "count",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_ratio": "ratio",
}


def _noop(df) -> float:
    """Force every column of ``df`` through the ``noop`` sink; seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class FullReindex:
    name = "full_reindex"
    docs = 20_000
    part_rows = 5_000
    warmup = 2
    auth_key = "subject_uri_a"

    def __init__(self, seed: int, input_root: str, threads: int):
        self.dir = gen.cached(
            input_root,
            f"{self.name}-seed{seed}-n{self.docs}",
            lambda out: gen.build_reindex_base(seed, self.docs, self.part_rows, out),
        )
        self.docs_dir = os.path.join(self.dir, "docs")
        self.auth_dir = os.path.join(self.dir, "authorities")
        self.expected = check.expected_reindex(self.docs_dir, self.auth_dir)
        self.solr = StubSolr(threads).__enter__()
        self.sizes = {
            "docs": self.docs,
            "files": -(-self.docs // self.part_rows),
            "bytes": _dir_bytes(self.dir),
            "expected_posted": len(self.expected),
        }

    def close(self) -> None:
        self.solr.__exit__(None, None, None)

    def register(self, spark) -> None:
        self.spark = spark
        self.docs_df = spark.read.parquet(self.docs_dir)
        self.auth_df = spark.read.parquet(self.auth_dir)

    def _conf(self):
        from reindexer_spark.docpipe.config import ReindexConfig

        return ReindexConfig(solr_url=self.solr.url)

    def _release(self) -> None:
        # run_reindex persists its two outcome frames; a registered query
        # releases them when the next one starts, so a loop of jobs must
        # too, or the next job would read the previous job's cache
        from reindexer_spark.cache import release_all

        release_all()
        self.spark.catalog.clearCache()
        self.solr.reset()

    def job(self, sink=None) -> tuple[float, int, object]:
        from reindexer_spark.docpipe.pipeline import run_reindex

        self._release()
        t0 = time.perf_counter()
        result = run_reindex(
            self.docs_df, self._conf(), sink=sink,
            authorities=self.auth_df, auth_doc_key=self.auth_key,
        )
        self.job_end = time.perf_counter()
        return self.job_end - t0, self.docs, result

    def check(self, result) -> list[str]:
        problems = check.compare_reindex(self.solr.received(), self.expected)
        if result.ingested != len(self.expected):
            problems.append(f"ingested {result.ingested}, expected {len(self.expected)}")
        return problems

    def traced(self) -> tuple[float, dict, list[str]]:
        """One traced job: the pipeline's prefixes forced one by one through
        the ``noop`` sink (a layer's self time is the difference between
        successive prefixes), then ``run_reindex`` with its stages timed
        from outside: schema inference through a wrapper, the sink through
        a delegating object, the count pass as the time after the sink.
        Returns the traced wall, its layer figures and its check."""
        from pyspark.sql import functions as F
        from reindexer_spark.docpipe import pipeline
        from reindexer_spark.docpipe.authority import enrich_with_authorities
        from reindexer_spark.docpipe.flatten import (
            flatten_struct_columns,
            infer_content_schema,
            parse_content,
            suffix_columns,
        )
        from reindexer_spark.docpipe.resume import apply_resume
        from reindexer_spark.docpipe.solr_sink import SolrSink

        conf = self._conf()
        self._release()
        scan = self.spark.read.parquet(self.docs_dir)
        t_scan = _noop(scan)
        resumed = apply_resume(scan.filter(~F.col("deleted")), "id", conf.start_id)
        t_resume = _noop(resumed)
        good, _ = parse_content(resumed, infer_content_schema(resumed))
        t_parse = _noop(good)
        shaped = suffix_columns(flatten_struct_columns(good, keep=["id"]), exclude=("id",))
        t_shape = _noop(shaped)
        t_enrich = _noop(enrich_with_authorities(shaped, self.auth_df, self.auth_key))
        kept = resumed.count() / max(scan.count(), 1)

        infer = Timed(infer_content_schema)
        sink = TimedSink(SolrSink(conf.solr_url, batch_size=conf.chunk_size))
        pipeline.infer_content_schema = infer
        try:
            wall, _, result = self.job(sink=sink)
        finally:
            pipeline.infer_content_schema = infer_content_schema
        write_s = sink.end - sink.start
        count_s = self.job_end - sink.end
        stats = self.solr.stats()
        batches = self.solr.received()
        posted = [d for b in batches for d in b]
        firsts = [b[0]["id"] for b in batches if b]
        uris = sum(len(set(d.get(self.auth_key, []))) for d in posted)
        hits = sum(len(d.get(check.ENRICHED_FIELD, [])) for d in posted)
        problems = self.check(result)
        # differences of separately timed walls: below the timer's noise a
        # layer can come out slightly negative, read as zero
        layers = {
            "sources.scan_s": t_scan,
            "resume.filter_s": max(t_resume - t_scan, 0.0),
            "resume.kept_ratio": kept,
            "flatten.infer_schema_s": sum(infer.calls),
            "flatten.parse_s": max(t_parse - t_resume, 0.0),
            "flatten.shape_s": max(t_shape - t_parse, 0.0),
            "flatten.quarantine_ratio": result.quarantined
            / max(result.ingested + result.quarantined, 1),
            "authority.enrich_s": max(t_enrich - t_shape, 0.0),
            "authority.hit_ratio": hits / max(uris, 1),
            "pipeline.count_s": count_s,
            # the sink's wall minus the upstream stages it drives
            "solr_sink.write_s": max(write_s - t_enrich, 0.0),
            "solr_sink.server_busy_s": sum(stats["handler_s"]),
            "solr_sink.bytes_per_doc": stats["bytes"] / max(len(posted), 1),
            "solr_sink.request_p50_ms": 1000 * median(stats["handler_s"]),
            "solr_sink.requests": stats["requests"],
            "solr_sink.retries": len(firsts) - len(set(firsts)),
            "trace.unattributed_ratio": (wall - sum(infer.calls) - write_s - count_s)
            / wall,
        }
        return wall, layers, problems


class CdcStream:
    name = "cdc_stream_dedup"
    query = "stream_cdc_dedup_live"
    files = 2
    per_file = 50
    warmup = 2

    def __init__(self, seed: int, input_root: str, threads: int):
        self.dir = gen.cached(
            input_root,
            f"{self.name}-seed{seed}-{self.files}x{self.per_file}",
            lambda out: gen.build_stream_dir(seed, self.files, self.per_file, out),
        )
        from reindexer_spark import get_query

        self.q = get_query(self.query)
        self.expected = check.expected_stream(self.q.oracle, self.dir)
        self.progress = ProgressLog()
        self.sizes = {
            "docs": self.files * self.per_file,
            "files": self.files,
            "bytes": _dir_bytes(self.dir),
            "expected_rows": len(self.expected[1]),
        }

    def close(self) -> None:
        pass

    def register(self, spark) -> None:
        self.spark = spark

    def job(self) -> tuple[float, int, object]:
        t0 = time.perf_counter()
        df = self.q.fn(self.spark, self.dir)
        rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t0, self.files * self.per_file, (df.columns, rows)

    def check(self, result) -> list[str]:
        columns, rows = result
        return check.compare_rows(columns, rows, self.expected)

    def traced(self) -> tuple[float, dict, list[str]]:
        """One job with a ``StreamingQueryListener`` registered; the layer
        figures are its per-micro-batch progress reports."""
        self.spark.streams.addListener(self.progress)
        try:
            wall, _, result = self.job()
            batches = self.progress.take(self.files)
        finally:
            self.spark.streams.removeListener(self.progress)
        layers = {
            "streaming.batches": len(batches),
            "streaming.batch_p50_ms": median(b["batch_ms"] for b in batches),
            "streaming.add_batch_p50_ms": median(b["add_batch_ms"] for b in batches),
            "streaming.commit_p50_ms": median(b["commit_ms"] for b in batches),
            "streaming.state_rows": batches[-1]["state_rows"] if batches else 0,
            "streaming.input_rows_per_batch": median(b["input_rows"] for b in batches),
            "trace.unattributed_ratio": (wall - sum(b["batch_ms"] for b in batches) / 1000)
            / wall,
        }
        return wall, layers, self.check(result)


WORKLOADS = {w.name: w for w in (FullReindex, CdcStream)}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )
