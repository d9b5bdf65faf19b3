"""Tier A/B — the reference pipeline's relational surface, natively.

The reference pushes these semantics into PostgreSQL as SQL text
(/root/reference/config/config.go:78: ``select id, txn_id, owner, content
from documents WHERE NOT deleted ORDER BY id ASC``, resume splice at
config.go:29-34) — here they are Catalyst plans over the ``documents``
table, so predicate pushdown / column pruning reach the scan no matter
which source (parquet locally, JDBC in production) backs it.

Divergences from the reference, by design (SURVEY §0.1):
- resume uses strict ``>`` (README.md:80-82 intent) not ``>=`` (bug B5),
  and is a real filter expression, not a case-sensitive string splice
  (bug B3);
- the global ORDER BY is kept for reference fidelity in the flagship
  query but is NOT required for the sink: the Solr-style sink is
  idempotent per doc id, so at 100 TB the sort is dropped and resume uses
  per-batch max-id bookkeeping instead (see docpipe.resume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reindexer_spark.catalog import load_table
from reindexer_spark.docpipe.resume import apply_resume
from reindexer_spark.registry import query

# The testdata `documents` table has no `deleted` column (all rows live)
# and an int64 key; the resume predicate below exercises the same
# asciibetical/strict-> semantics on the int key.
RESUME_START_ID = 41


def reindex_scan_plan(
    docs: DataFrame,
    start_id=None,
    id_col: str = "doc_id",
    deleted_col: str | None = None,
    ordered: bool = True,
) -> DataFrame:
    """The reference's driving query as a reusable plan builder.

    filter(not deleted) → resume(strict >) → project → optional total sort.
    All four steps collapse into the source scan via Catalyst (pushed
    filters + pruned columns); the sort is a range-partitioned exchange
    only when requested.
    """
    out = docs
    if deleted_col is not None:
        out = out.filter(~F.col(deleted_col))
    out = apply_resume(out, id_col, start_id)
    if ordered:
        out = out.orderBy(id_col)
    return out


@query(
    "reindex_scan",
    oracle=f"""
    SELECT doc_id, source, lang, text
    FROM documents
    WHERE doc_id > {RESUME_START_ID}
    """,
)
def reindex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's default driving query (config.go:78) with a
    resume predicate (config.go:29-34, strict-> per README.md:80-82)."""
    docs = load_table(spark, sf_dir, "documents")
    plan = reindex_scan_plan(docs, start_id=RESUME_START_ID)
    return plan.select("doc_id", "source", "lang", "text")


@query(
    "resume_highwater",
    oracle="SELECT MAX(doc_id) AS max_id, COUNT(*) AS n_docs FROM documents",
)
def resume_highwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier B9 max-key probe: the resume high-water mark the reference reads
    back from Solr (README.md:84-87), as a native aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.max("doc_id").alias("max_id"), F.count("*").alias("n_docs")
    )


@query(
    "chunk_plan",
    oracle="""
    SELECT CAST(FLOOR(doc_id / 100) AS BIGINT) AS chunk_id,
           COUNT(*) AS n_records,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id,
           CAST(SUM(n_chars) AS BIGINT) AS chunk_bytes
    FROM documents
    GROUP BY 1
    """,
)
def chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier A4 fixed-size chunking (driver.go:192-207) re-expressed
    declaratively: assign each record to a chunk of ``chunkSize`` by key
    range and describe each chunk.  The physical analogue for file output
    is ``spark.sql.files.maxRecordsPerFile`` (see docpipe.chunker)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "chunk_id", F.floor(F.col("doc_id") / F.lit(100)).cast("bigint")
        )
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n_records"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("n_chars").cast("bigint").alias("chunk_bytes"),
        )
    )
