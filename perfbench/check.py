"""Expected outputs computed without Spark, and the comparisons.

Reindex: the expected Solr documents are derived from the generated
parquet with pyarrow and the stdlib JSON parser, following the engine's
documented shaping contract (``docpipe.flatten``): drop soft-deleted rows
and payloads that do not parse, flatten nested objects to ``a_b``, turn
arrays of objects into one array per leaf, rename the payload's own
``id`` to ``doc_id`` beside the row key, append the dynamic-field suffix
by JSON type, and add the authority labels of ``subject_uri_a`` as a set.

Stream: the expected rows are the lane's registered oracle SQL, run in
DuckDB over the generated ``documents.parquet`` directory.

Every comparison returns a list of problems; an empty list is a match.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

ENRICHED_FIELD = "subject_label_a"
ENRICH_KEY_FIELD = "subject_uri_a"
_MAX_REPORTED = 5


def _suffix(value) -> str:
    if isinstance(value, bool):
        return "_b"
    if isinstance(value, int):
        return "_i"
    if isinstance(value, float):
        return "_f"
    if isinstance(value, list):
        return "_a"
    return "_t"


def _flatten(obj: dict, prefix: str = "") -> dict:
    out: dict = {}
    for key, value in obj.items():
        name = f"{prefix}_{key}" if prefix else key
        if isinstance(value, dict):
            out.update(_flatten(value, name))
        elif value and isinstance(value, list) and all(isinstance(v, dict) for v in value):
            leaves = dict.fromkeys(k for v in value for k in v)
            for leaf in leaves:
                out[f"{name}_{leaf}"] = [v.get(leaf) for v in value]
        else:
            out[name] = value
    return out


def shape_payload(row_id: str, payload: dict) -> dict:
    """One parsed payload as the Solr document the pipeline should post."""
    doc = {"id": row_id}
    for name, value in _flatten(payload).items():
        if value is None:
            continue
        if name == "id":
            name = "doc_id"
        doc[f"{name}{_suffix(value)}"] = value
    return doc


def expected_reindex(docs_dir: str, authorities_dir: str) -> dict[str, dict]:
    """id → expected Solr document for a full reindex of ``docs_dir``."""
    labels = dict(
        zip(
            *pq.read_table(authorities_dir, columns=["key", ENRICHED_FIELD])
            .to_pydict()
            .values()
        )
    )
    table = pq.read_table(docs_dir, columns=["id", "content", "deleted"]).to_pydict()
    out: dict[str, dict] = {}
    for row_id, content, deleted in zip(table["id"], table["content"], table["deleted"]):
        if deleted or content is None:
            continue
        try:
            payload = json.loads(content)
        except ValueError:
            continue  # quarantined, never posted
        doc = shape_payload(row_id, payload)
        doc[ENRICHED_FIELD] = sorted(
            {labels[k] for k in doc.get(ENRICH_KEY_FIELD, []) if k in labels}
        )
        out[row_id] = doc
    return out


def compare_reindex(batches: list[list[dict]], expected: dict[str, dict]) -> list[str]:
    """Check what the stub received against ``expected``: no missing ids,
    no extra ids, no value differences, and re-posts of an id identical.
    The enrichment array is compared as a set: its order comes from a
    ``collect_list`` after a shuffle, which the engine does not fix."""
    got: dict[str, dict] = {}
    problems: list[str] = []
    for batch in batches:
        for doc in batch:
            labels = doc.get(ENRICHED_FIELD)
            if isinstance(labels, list) and len(labels) > 1:
                doc = {**doc, ENRICHED_FIELD: sorted(labels)}
            prev = got.setdefault(doc.get("id"), doc)
            if prev is not doc and prev != doc:
                problems.append(f"id {doc.get('id')!r} posted twice with different values")
    missing = sorted(expected.keys() - got.keys())
    extra = sorted(got.keys() - expected.keys())
    if missing:
        problems.append(f"{len(missing)} missing ids, first {missing[:_MAX_REPORTED]}")
    if extra:
        problems.append(f"{len(extra)} extra ids, first {extra[:_MAX_REPORTED]}")
    diffs = [i for i in expected.keys() & got.keys() if got[i] != expected[i]]
    for i in sorted(diffs)[:_MAX_REPORTED]:
        keys = sorted(
            k for k in expected[i].keys() | got[i].keys()
            if expected[i].get(k) != got[i].get(k)
        )
        problems.append(f"id {i!r} differs in {keys}")
    if len(diffs) > _MAX_REPORTED:
        problems.append(f"{len(diffs)} ids differ in total")
    return problems


def expected_stream(oracle_sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """The lane's oracle over ``sf_dir/documents.parquet/*.parquet``: its
    column names and its rows as sorted tuples of Python values."""
    import duckdb

    pattern = os.path.join(sf_dir, "documents.parquet", "*.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pattern}')")
        rel = con.sql(oracle_sql)
        columns = rel.columns
        rows = rel.fetchall()
    finally:
        con.close()
    return columns, sorted(rows)


def compare_rows(
    columns: list[str], rows: list[tuple], expected: tuple[list[str], list[tuple]]
) -> list[str]:
    exp_columns, exp_rows = expected
    if list(columns) != list(exp_columns):
        return [f"columns {list(columns)} != expected {list(exp_columns)}"]
    rows = sorted(rows)
    if rows == exp_rows:
        return []
    got, want = set(rows), set(exp_rows)
    problems = [f"{len(rows)} rows, expected {len(exp_rows)}"]
    missing, extra = sorted(want - got), sorted(got - want)
    if missing:
        problems.append(f"{len(missing)} expected rows missing, first {missing[:_MAX_REPORTED]}")
    if extra:
        problems.append(f"{len(extra)} unexpected rows, first {extra[:_MAX_REPORTED]}")
    return problems
