"""Unit tests for the argot-equivalent document pipeline, using the
reference-faithful in-memory fixtures from FIXTURES.md §11-13
(spofford_documents / argot_record / authorities)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from reindexer_spark.docpipe import (
    ReindexConfig,
    SolrSink,
    apply_resume,
    enrich_with_authorities,
    flatten_struct_columns,
    highwater,
    infer_content_schema,
    parse_content,
    suffix_columns,
    write_ndjson_chunks,
)
from reindexer_spark.docpipe.config import ConfigError
from reindexer_spark.docpipe.pipeline import run_reindex


def argot_record(i: int) -> str:
    """Fixture 12: the nested Argot-style payload."""
    return json.dumps(
        {
            "id": f"DOC{i:05d}",
            "title": {"main": f"Title {i}", "sub": f"Sub {i % 3}"},
            "authors": [f"Author {i % 5}", f"Author {i % 7}"],
            "subjects": [
                {"value": f"Subject {i % 4}", "uri": f"uri:{i % 4}"},
            ],
            "publisher": f"Pub {i % 2}",
            "publication_year": 1990 + (i % 30),
            "isbn": [f"978-{i:07d}"],
        }
    )


@pytest.fixture(scope="module")
def spofford(spark):
    """Fixture 11: the reference's source relation (driver.go:21-26),
    zero-padded mixed-case string ids, ~10% soft-deleted."""
    rows = [
        (
            f"id{'A' if i % 4 == 0 else 'a'}{i:05d}",
            f"txn{i % 10}",
            f"owner{i % 3}",
            argot_record(i) if i % 17 != 3 else "{not valid json!",
            i % 10 == 9,
        )
        for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "id string, txn_id string, owner string, content string, deleted boolean"
    )


@pytest.fixture(scope="module")
def authorities(spark):
    """Fixture 13: the Redis authority store as a relation."""
    return spark.createDataFrame(
        [(f"uri:{i}", [f"Variant {i}a", f"Variant {i}b"]) for i in range(4)],
        "key string, variant_names array<string>",
    )


# ---------- config (reference config.go semantics) ----------

def test_config_defaults_and_validate(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps({"password": "x", "solrUrl": "http://s/solr/c"}))
    conf = ReindexConfig.load(str(p))
    assert conf.chunk_size == 20_000  # config.go:80
    assert conf.effective_workers() >= 1
    assert conf.jdbc_url() == "jdbc:postgresql://localhost:5432/spofford"
    assert "WHERE NOT deleted" in conf.query  # config.go:78


@pytest.mark.parametrize(
    "payload",
    [
        {"password": "x", "solrUrl": "u", "workers": -1},  # config.go:56-58
        {"password": "x", "solrUrl": "u", "chunkSize": 5},  # config.go:52-54
        {"solrUrl": "u"},  # missing password, config.go:60-62
        {"password": "x"},  # missing solrUrl
        {"password": "x", "solrUrl": "u", "authorities": True},  # no redisUrl
    ],
)
def test_config_rejects_bad(tmp_path, payload):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(payload))
    with pytest.raises(ConfigError):
        ReindexConfig.load(str(p))


def test_config_query_override_fixes_bug_b2(tmp_path):
    """Reference bug B2: the query key could never override (unexported
    field).  Ours must."""
    p = tmp_path / "config.json"
    p.write_text(
        json.dumps(
            {"password": "x", "solrUrl": "u", "query": "select 1 as one"}
        )
    )
    assert ReindexConfig.load(str(p)).query == "select 1 as one"


def test_config_unknown_key_rejected(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps({"password": "x", "solrUrl": "u", "quury": "q"}))
    with pytest.raises(ConfigError, match="unknown config key"):
        ReindexConfig.load(str(p))


# ---------- resume (strict > per README.md:80-82; B3/B5 fixed) ----------

def test_resume_strict_and_inclusive(spofford):
    hw = highwater(spofford, "id")
    assert apply_resume(spofford, "id", hw).count() == 0  # strict >
    assert apply_resume(spofford, "id", hw, inclusive=True).count() == 1
    some_id = "ida00050"
    strict = apply_resume(spofford, "id", some_id).count()
    inclusive = apply_resume(spofford, "id", some_id, inclusive=True).count()
    assert inclusive == strict + 1  # the B5 off-by-one, made explicit


def test_resume_asciibetical_ordering(spark):
    """Mixed-case ids compare binarily ('Z' < 'a'), matching the
    reference's asciibetical contract (README.md:77-78)."""
    df = spark.createDataFrame([("Zed",), ("apple",)], "id string")
    assert apply_resume(df, "id", "Zed").collect()[0].id == "apple"


# ---------- parse / flatten / suffix (B5, B6) ----------

def test_parse_content_quarantines_bad_json(spofford):
    schema = infer_content_schema(spofford)
    good, quarantine = parse_content(spofford, schema)
    n_bad = quarantine.count()
    assert n_bad == spofford.filter(F.col("content").startswith("{not")).count()
    assert good.count() + n_bad == spofford.count()
    # quarantine keeps the raw record for replay (A9 analogue)
    assert "content" in quarantine.columns


def test_flatten_and_suffix(spofford):
    schema = infer_content_schema(spofford)
    good, _ = parse_content(spofford, schema)
    flat = flatten_struct_columns(good, keep=["id"])
    assert "title_main" in flat.columns and "title_sub" in flat.columns
    # arrays of structs → parallel arrays of scalars, no fan-out
    assert "subjects_uri" in flat.columns and "subjects_value" in flat.columns
    assert flat.count() == good.count()
    shaped = suffix_columns(flat, exclude=("id",))
    cols = set(shaped.columns)
    assert {"title_main_t", "title_sub_t", "publisher_t"} <= cols
    assert "publication_year_i" in cols
    assert "authors_a" in cols and "isbn_a" in cols
    assert "id" in cols  # excluded stays bare
    row = shaped.filter(F.col("id") == "idA00000").collect()[0]
    assert row.title_main_t == "Title 0"
    assert row.authors_a == ["Author 0", "Author 0"]


def test_suffix_idempotent(spofford):
    schema = infer_content_schema(spofford)
    good, _ = parse_content(spofford, schema)
    shaped = suffix_columns(flatten_struct_columns(good, keep=["id"]), exclude=("id",))
    again = suffix_columns(shaped, exclude=("id",))
    assert shaped.columns == again.columns


# ---------- authority enrichment (B7) ----------

def test_enrich_scalar_key(spark, authorities):
    docs = spark.createDataFrame(
        [("d1", "uri:1"), ("d2", "uri:3"), ("d3", "uri:999")],
        "id string, subject string",
    )
    out = enrich_with_authorities(docs, authorities, "subject")
    got = {r.id: r.variant_names for r in out.collect()}
    assert got["d1"] == ["Variant 1a", "Variant 1b"]
    assert got["d3"] is None  # left join keeps unmatched


def test_enrich_array_key(spark, authorities):
    docs = spark.createDataFrame(
        [("d1", ["uri:0", "uri:2"]), ("d2", ["uri:9"]), ("d3", [])],
        "id string, uris array<string>",
    )
    out = enrich_with_authorities(docs, authorities, "uris")
    got = {r.id: r.variant_names for r in out.collect()}
    assert sorted(got["d1"]) == [
        "Variant 0a", "Variant 0b", "Variant 2a", "Variant 2b",
    ]
    assert got["d2"] == []
    assert out.count() == 3  # one row per doc, no fan-out leak


# ---------- chunker (A4/A5, B10 fixed) ----------

def test_write_ndjson_chunks(spofford, tmp_path):
    out = str(tmp_path / "chunks")
    n = write_ndjson_chunks(
        spofford.filter(~F.col("deleted")), out, chunk_size=25, exact=True
    )
    files = sorted(glob.glob(os.path.join(out, "part-*")))
    assert n == 90
    assert len(files) == 4  # ceil(90/25)
    total_lines = 0
    for f in files:
        with open(f) as fh:
            lines = fh.read().splitlines()
        assert len(lines) <= 25
        total_lines += len(lines)
        for line in lines:
            assert "\n" not in line
    assert total_lines == 90


def test_chunk_newline_embedded_record(spark, tmp_path):
    """B10: a record containing a newline must still produce valid
    one-record-per-line NDJSON."""
    df = spark.createDataFrame([('{"a":\n 1}',), ('{"b": 2}',)], "content string")
    out = str(tmp_path / "nl")
    write_ndjson_chunks(df, out, chunk_size=10)
    lines = []
    for f in glob.glob(os.path.join(out, "part-*")):
        with open(f) as fh:
            lines += fh.read().splitlines()
    assert sorted(lines) == ['{"a":  1}', '{"b": 2}']


# ---------- sink (B8) + pipeline ----------

# Executors must be able to import the transport — it lives in the
# library (the test module is not on the workers' import path).
from reindexer_spark.docpipe.solr_sink import DirectoryCaptureTransport as CaptureTransport  # noqa: E402


def test_solr_sink_batches_and_ids(spofford, tmp_path):
    cap = str(tmp_path / "cap")
    os.makedirs(cap)
    sink = SolrSink(
        "http://unused", batch_size=7, transport_factory=lambda: CaptureTransport(cap)
    )
    df = spofford.select("id", "owner").limit(20).coalesce(1)
    sink.write(df, id_col="id")
    batches = [json.load(open(f)) for f in glob.glob(os.path.join(cap, "*.json"))]
    assert sum(len(b) for b in batches) == 20
    assert max(len(b) for b in batches) <= 7
    assert all("id" in d for b in batches for d in b)


def test_solr_sink_requires_id(spofford):
    sink = SolrSink("http://unused")
    with pytest.raises(ValueError):
        sink.write(spofford.select("owner"))


def test_solr_sink_encodes_dates_decimals_and_maps(spark, tmp_path):
    """Every column type the suffix table names reaches the wire: dates
    and timestamps as UTC ISO-8601 ending in Z (whatever the session
    time zone), decimals as JSON numbers, maps as JSON objects, and
    null fields dropped."""
    from datetime import date, datetime, timezone
    from decimal import Decimal

    cap = str(tmp_path / "cap_types")
    os.makedirs(cap)
    df = spark.createDataFrame(
        [
            (
                "d1",
                date(2024, 2, 29),
                datetime(2024, 2, 29, 23, 45, 6, 789000, tzinfo=timezone.utc),
                Decimal("12.50"),
                {"a": 1, "b": 2},
                None,
            )
        ],
        "id string, day_dt date, at_dt timestamp, price_f decimal(10,2), "
        "attrs_m map<string,int>, gone_t string",
    )
    sink = SolrSink("http://unused", transport_factory=lambda: CaptureTransport(cap))
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sink.write(df, id_col="id")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    (path,) = glob.glob(os.path.join(cap, "*.json"))
    with open(path) as fh:
        assert json.load(fh) == [
            {
                "id": "d1",
                "day_dt": "2024-02-29T00:00:00Z",
                "at_dt": "2024-02-29T23:45:06.789Z",
                "price_f": 12.5,
                "attrs_m": {"a": 1, "b": 2},
            }
        ]


@pytest.mark.parametrize("enrich", [True, False], ids=["enriched", "plain"])
def test_run_reindex_is_one_pass_with_exact_counts(
    spark, spofford, authorities, tmp_path, enrich
):
    """run_reindex leaves no persisted frame behind, and its observed
    counts match counts taken independently — also when the parsed
    frame reaches both sides of the array-key enrichment self-join,
    where a doubled or dropped observation would show."""
    cap = str(tmp_path / "cap_counts")
    os.makedirs(cap)
    conf = ReindexConfig(password="x", solr_url="http://unused", chunk_size=50)
    sink = SolrSink(
        conf.solr_url, batch_size=50, transport_factory=lambda: CaptureTransport(cap)
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    result = run_reindex(
        spofford,
        conf,
        sink=sink,
        authorities=authorities if enrich else None,
        auth_doc_key="subjects_uri_a" if enrich else None,
    )
    assert set(persisted().keys()) == before

    live = spofford.filter(~F.col("deleted"))
    n_bad = live.filter(F.col("content").startswith("{not")).count()
    assert n_bad > 0
    assert result.quarantined == n_bad
    assert result.ingested == live.count() - n_bad
    sent = [
        d
        for f in glob.glob(os.path.join(cap, "*.json"))
        for d in json.load(open(f))
    ]
    assert sorted(d["id"] for d in sent) == sorted(
        r.id for r in live.filter(~F.col("content").startswith("{not")).collect()
    )
    assert ("variant_names" in result.shaped.columns) == enrich


def test_run_reindex_end_to_end(spofford, authorities, tmp_path):
    """The reference's full main() path: filter deleted → resume → parse
    → flatten → suffix → enrich → batched sink, with quarantine."""
    cap = str(tmp_path / "cap2")
    os.makedirs(cap)
    conf = ReindexConfig(
        password="x", solr_url="http://unused", chunk_size=50, start_id="idA00000"
    )
    sink = SolrSink(
        conf.solr_url, batch_size=50, transport_factory=lambda: CaptureTransport(cap)
    )
    result = run_reindex(
        spofford,
        conf,
        sink=sink,
        authorities=authorities,
        auth_doc_key="subjects_uri_a",
    )
    # 100 rows: -10 deleted, -1 strict-> start id (idA00000 itself), -bad json
    live = spofford.filter(~F.col("deleted")).filter(F.col("id") > "idA00000")
    n_bad = live.filter(F.col("content").startswith("{not")).count()
    assert result.ingested == live.count() - n_bad
    assert result.quarantined == n_bad
    sent = [
        d
        for f in glob.glob(os.path.join(cap, "*.json"))
        for d in json.load(open(f))
    ]
    assert len(sent) == result.ingested
    sample = next(d for d in sent if d.get("variant_names"))
    assert "title_main_t" in sample and "id" in sample


def test_authority_snapshot_loader(spark, tmp_path):
    """File-backed snapshot loading: parquet and json-lines forms of the
    exported Redis store (ingest.go:28-30), plus the failure modes."""
    from reindexer_spark.docpipe.authority import load_authority_snapshot

    auth = spark.createDataFrame(
        [(f"uri:{i}", f"Label {i}") for i in range(4)],
        "key string, pref_label string",
    )
    pq = str(tmp_path / "auth.parquet")
    auth.write.parquet(pq)
    loaded = load_authority_snapshot(spark, pq)
    assert sorted(r.key for r in loaded.collect()) == [f"uri:{i}" for i in range(4)]

    jl = str(tmp_path / "auth.json")
    auth.write.json(jl)
    assert load_authority_snapshot(spark, jl).count() == 4

    with pytest.raises(ValueError, match="no 'key' column"):
        bad = str(tmp_path / "bad.parquet")
        auth.selectExpr("key AS k", "pref_label").write.parquet(bad)
        load_authority_snapshot(spark, bad)
    with pytest.raises((RuntimeError, Exception)):
        load_authority_snapshot(spark, "redis://localhost:6379/0")


class _FakeRedis:
    """Minimal scan_iter/type/get surface for the live-scan path."""

    def __init__(self, n_keys: int, value: str = "v"):
        self._keys = [f"uri:{i}" for i in range(n_keys)]
        self._value = value

    def scan_iter(self):
        yield from self._keys

    def type(self, key):
        return "string"

    def get(self, key):
        return self._value


def test_redis_live_scan_caps_protect_the_driver(spark):
    """The live redis path collects driver-side; a store past the
    key/byte caps must fail fast with the export-to-parquet hint, not
    OOM the driver (round-2 VERDICT 'what's wrong' #2)."""
    from reindexer_spark.docpipe import authority
    from reindexer_spark.docpipe.authority import _scan_redis_capped

    small = _scan_redis_capped(spark, _FakeRedis(5), "redis://x", "key")
    assert small.count() == 5

    over_keys = _FakeRedis(authority.REDIS_MAX_KEYS + 2)
    with pytest.raises(RuntimeError, match="export the store to parquet"):
        _scan_redis_capped(spark, over_keys, "redis://x", "key")

    big_vals = _FakeRedis(100, value="x" * (1 << 20))  # 100 MB total
    with pytest.raises(RuntimeError, match="export the store to parquet"):
        _scan_redis_capped(spark, big_vals, "redis://x", "key")


def test_run_reindex_loads_snapshot_from_config(spofford, spark, tmp_path):
    """conf.authorities + conf.redis_url pointing at an exported snapshot
    file enriches without a caller-supplied DataFrame — the config-driven
    equivalent of the reference's `-a --redis-url` pair."""
    snap = str(tmp_path / "authsnap.parquet")
    spark.createDataFrame(
        [(f"uri:{i}", [f"Variant {i}a", f"Variant {i}b"]) for i in range(4)],
        "key string, variant_names array<string>",
    ).write.parquet(snap)
    cap = str(tmp_path / "cap3")
    os.makedirs(cap)
    conf = ReindexConfig(
        password="x",
        solr_url="http://unused",
        chunk_size=50,
        authorities=True,
        redis_url=snap,
    )
    sink = SolrSink(
        conf.solr_url, batch_size=50, transport_factory=lambda: CaptureTransport(cap)
    )
    result = run_reindex(
        spofford, conf, sink=sink, auth_doc_key="subjects_uri_a"
    )
    assert result.ingested > 0
    sent = [
        d
        for f in glob.glob(os.path.join(cap, "*.json"))
        for d in json.load(open(f))
    ]
    assert any(d.get("variant_names") for d in sent)
