"""Tests of the benchmark's own parts at tiny sizes; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

import check
import gen
from stub_solr import StubSolr


def test_reindex_generator_is_a_function_of_the_seed():
    a = gen.reindex_docs(7, 0, 200)
    assert a.equals(gen.reindex_docs(7, 0, 200))
    assert not a.equals(gen.reindex_docs(8, 0, 200))
    # ids are zero-padded, so string order is id order
    ids = a.column("id").to_pylist()
    assert ids == sorted(ids) and ids[0] == gen.doc_id(0)


def test_reindex_generator_mixes_deleted_and_truncated_payloads():
    t = gen.reindex_docs(3, 0, 4000).to_pydict()
    deleted = sum(t["deleted"]) / 4000
    broken = 0
    for content in t["content"]:
        try:
            json.loads(content)
        except ValueError:
            broken += 1
    assert 0.07 < deleted < 0.13
    assert 0.015 < broken / 4000 < 0.045


def test_stream_generator_is_seeded_and_repeats_content():
    a = gen.stream_docs(5, 0, 100)
    assert a.equals(gen.stream_docs(5, 0, 100))
    assert not a.equals(gen.stream_docs(6, 0, 100))
    texts = a.column("text").to_pylist()
    # documents splice spans of shared passages: some 40-char window recurs
    windows = [t[i : i + 40] for t in texts for i in range(0, len(t) - 40, 40)]
    assert len(set(windows)) < len(windows)


def test_stream_dir_parts_arrive_in_doc_id_order(tmp_path):
    gen.build_stream_dir(1, 3, 10, str(tmp_path))
    parts = sorted((tmp_path / "documents.parquet").iterdir(), key=os.path.getmtime)
    firsts = [pq.read_table(p).column("doc_id")[0].as_py() for p in parts]
    assert firsts == [0, 10, 20]


def test_cached_builds_once(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        open(os.path.join(out, "f"), "w").close()

    first = gen.cached(str(tmp_path), "k", build)
    assert gen.cached(str(tmp_path), "k", build) == first
    assert len(calls) == 1 and os.listdir(first) == ["f"]


def _corpus(tmp_path):
    gen.build_reindex_base(11, 300, 100, str(tmp_path))
    return check.expected_reindex(str(tmp_path / "docs"), str(tmp_path / "authorities"))


def test_expected_reindex_shapes_live_parseable_docs(tmp_path):
    expected = _corpus(tmp_path)
    table = pq.read_table(tmp_path / "docs").to_pydict()
    assert 0 < len(expected) < 300
    for row_id, content, deleted in zip(table["id"], table["content"], table["deleted"]):
        if row_id in expected:
            assert not deleted
            payload = json.loads(content)
            doc = expected[row_id]
            assert doc["doc_id_t"] == payload["id"]
            assert doc["title_main_t"] == payload["title"]["main"]
            assert doc["names_role_a"] == [n["role"] for n in payload["names"]]
            assert doc["year_i"] == payload["year"]
            assert doc["subject_label_a"] == sorted(doc["subject_label_a"])


def test_checker_flags_a_missing_id_and_an_altered_field(tmp_path):
    expected = _corpus(tmp_path)
    docs = [dict(d) for d in expected.values()]
    for d in docs:
        d["subject_label_a"] = list(reversed(d["subject_label_a"]))
    assert check.compare_reindex([docs[:150], docs[150:]], expected) == []

    dropped = docs[0]["id"]
    altered = dict(docs[1], title_main_t="not the title")
    problems = check.compare_reindex([[altered] + docs[2:]], expected)
    assert any("missing" in p and dropped in p for p in problems)
    assert any(docs[1]["id"] in p and "title_main_t" in p for p in problems)


def test_checker_flags_an_extra_id_and_a_conflicting_repost(tmp_path):
    expected = _corpus(tmp_path)
    docs = list(expected.values())
    extra = dict(docs[0], id="id999999999")
    conflict = dict(docs[0], year_i=-1)
    problems = check.compare_reindex([docs, [extra, conflict]], expected)
    assert any("extra" in p for p in problems)
    assert any("posted twice" in p for p in problems)


def test_row_comparison_flags_one_changed_row():
    expected = (["a", "b"], [(1, "x"), (2, "y")])
    assert check.compare_rows(["a", "b"], [(2, "y"), (1, "x")], expected) == []
    problems = check.compare_rows(["a", "b"], [(1, "x"), (2, "z")], expected)
    assert problems and any("(2, 'y')" in p for p in problems)
    assert check.compare_rows(["a", "c"], [], expected)


def test_stub_records_what_the_engine_transport_posts():
    from reindexer_spark.docpipe.solr_sink import http_transport

    with StubSolr(2) as solr:
        send = http_transport(solr.url)
        send([{"id": "a", "x_t": "1"}, {"id": "b"}])
        send([{"id": "c"}])
        assert solr.received() == [[{"id": "a", "x_t": "1"}, {"id": "b"}], [{"id": "c"}]]
        stats = solr.stats()
        assert stats["requests"] == 2 and len(stats["handler_s"]) == 2
        solr.reset()
        assert solr.received() == [] and solr.stats()["bytes"] == 0
