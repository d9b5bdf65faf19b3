"""End-to-end reindex pipeline — the reference's ``main()``
(/root/reference/driver.go:119-220) as one declarative Spark job.

Reference stage → here:

- Postgres scan + WHERE/ORDER (driver.go:178, config.go:78)
    → source DataFrame + filter/sort plan (pushdown does the rest)
- resume splice (config.go:29-34)           → resume.apply_resume
- chunk temp files (driver.go:192-207)      → sink-side batches
- worker pool + argot exec (driver.go:166-171, ingest.go:27-33)
    → flatten/suffix/enrich column algebra + SolrSink.write
- error channel (driver.go:160)             → quarantine DataFrame
- lockfile (driver.go:94-111)               → not ported (scheduler concern)

``run_reindex`` runs one Spark action, the sink's, over scan → resume →
parse → flatten → suffix → enrich → post; the only other job is the
small schema-inference sample.  Each row is read and parsed once: the
ingested and quarantined counts come from a ``DataFrame.observe`` on
that same pass, and nothing is persisted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from reindexer_spark.docpipe.authority import (
    enrich_with_authorities,
    load_authority_snapshot,
)
from reindexer_spark.docpipe.config import ReindexConfig
from reindexer_spark.docpipe.flatten import (
    QUARANTINE_FLAG,
    flatten_struct_columns,
    infer_content_schema,
    parse_flagged,
    suffix_columns,
)
from reindexer_spark.docpipe.resume import apply_resume
from reindexer_spark.docpipe.solr_sink import SolrSink


@dataclass
class ReindexResult:
    ingested: int = 0
    quarantined: int = 0
    quarantine: DataFrame | None = None
    shaped: DataFrame | None = None


def documents_as_spofford(docs: DataFrame) -> DataFrame:
    """testdata ``documents`` → the reference's source relation shape
    (driver.go:21-26: id / txn_id / owner / content-JSON / deleted).

    Pure column algebra — to_json(struct(...)) builds the nested
    Argot-style payload JVM-side, so an end-to-end run over this view
    measures the PIPELINE (parse→flatten→suffix→sink), not Python
    fixture code.  ~3% of payloads are corrupted (truncated JSON) to
    keep the quarantine lane honest, and ~10% of rows are soft-deleted,
    both deterministic in doc_id."""
    did = F.col("doc_id")
    sid = F.format_string("id%07d", did)
    payload = F.to_json(
        F.struct(
            sid.alias("id"),
            F.struct(
                F.substring("text", 1, 40).alias("main"),
                F.col("lang").alias("sub"),
            ).alias("title"),
            F.slice(F.split("text", " "), 1, 3).alias("authors"),
            F.col("source").alias("publisher"),
            (did % 30 + 1990).alias("publication_year"),
            F.col("n_chars").alias("n_chars"),
        )
    )
    corrupt = did % 31 == 3
    return docs.select(
        sid.alias("id"),
        F.format_string("txn%d", did % 10).alias("txn_id"),
        F.col("source").alias("owner"),
        F.when(corrupt, F.substring(payload, 1, 20)).otherwise(payload).alias(
            "content"
        ),
        (did % 10 == 9).alias("deleted"),
    )


def shape_documents(
    docs: DataFrame,
    conf: ReindexConfig,
    authorities: DataFrame | None = None,
    auth_doc_key: str | None = None,
    id_col: str = "id",
    deleted_col: str | None = "deleted",
) -> tuple[DataFrame, DataFrame]:
    """scan-filter-resume-parse-flatten-suffix-enrich; returns
    (flagged, quarantine).

    ``flagged`` holds every live row shaped as a Solr document plus the
    boolean ``QUARANTINE_FLAG`` column, true for a row whose payload
    failed to parse; ``quarantine`` is those rows in source shape."""
    live = docs
    if deleted_col and deleted_col in docs.columns:
        live = live.filter(~F.col(deleted_col))
    live = apply_resume(live, id_col, conf.start_id, conf.resume_inclusive)

    parsed = parse_flagged(live, infer_content_schema(live))
    quarantine = parsed.filter(F.col(QUARANTINE_FLAG)).drop("doc", QUARANTINE_FLAG)
    keep = [c for c in (id_col, QUARANTINE_FLAG) if c in parsed.columns]
    flat = flatten_struct_columns(parsed, keep=keep)
    flagged = suffix_columns(flat, exclude=(id_col, QUARANTINE_FLAG))
    if authorities is not None and auth_doc_key is not None:
        flagged = enrich_with_authorities(flagged, authorities, auth_doc_key)
    return flagged, quarantine


def run_reindex(
    docs: DataFrame,
    conf: ReindexConfig,
    sink: SolrSink | None = None,
    authorities: DataFrame | None = None,
    auth_doc_key: str | None = None,
    id_col: str = "id",
) -> ReindexResult:
    """The full pipeline as one action: ``sink.write`` runs it, and must
    run an action over the frame it is given.

    The ingested and quarantined counts are observed on the frame the
    sink runs, after the enrichment shuffle, so they sit in the job's
    final stage: Spark applies a result task's metrics once, where a
    re-run shuffle-map stage would apply them again.  Quarantined rows
    ride along to that point and are dropped just before the sink
    encodes.  ``result.shaped`` and ``result.quarantine`` are lazy; using
    them runs the pipeline again.

    Authority enrichment follows the reference's ``-a --redis-url`` flag
    pair (ingest.go:28-30): when ``conf.authorities`` is on and no
    snapshot DataFrame is passed explicitly, ``conf.redis_url`` is
    resolved via :func:`load_authority_snapshot` (file-backed snapshot,
    or a live redis:// store where the client exists)."""
    if authorities is None and conf.authorities and conf.redis_url:
        authorities = load_authority_snapshot(docs.sparkSession, conf.redis_url)
    flagged, quarantine = shape_documents(
        docs, conf, authorities, auth_doc_key, id_col=id_col
    )
    bad = F.col(QUARANTINE_FLAG)
    observation = Observation("reindex_counts")
    observed = flagged.observe(
        observation,
        F.count_if(~bad).alias("ingested"),
        F.count_if(bad).alias("quarantined"),
    )
    sink = sink or SolrSink(conf.solr_url, batch_size=conf.chunk_size)
    sink.write(observed.filter(~bad).drop(QUARANTINE_FLAG), id_col=id_col)
    counts = observation.get
    return ReindexResult(
        ingested=counts["ingested"],
        quarantined=counts["quarantined"],
        quarantine=quarantine,
        shaped=flagged.filter(~bad).drop(QUARANTINE_FLAG),
    )
