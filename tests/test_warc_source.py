"""WARC custom DataSource: spec-shaped crawl archives (plain and gzip)
read with per-file parallelism, HTTP envelope stripping, planning-time
file pruning, and a loud failure mode for truncated archives."""

from __future__ import annotations

import io

import pytest
from pyspark.sql import functions as F

from reindexer_spark.codecs import encode_bmp
from reindexer_spark.sources.warc import (
    WarcDataSource,
    parse_warc_records,
    split_http_payload,
    write_warc_records,
)


def _bmp(w=4, h=2, c=7) -> bytes:
    return encode_bmp(w, h, bytes([c]) * (w * h * 3))


def _records(n=5):
    recs = [
        {
            "warc_type": "warcinfo",
            "record_id": "<urn:uuid:info>",
            "block": b"software: test-crawler\r\n",
            "content_type": "application/warc-fields",
        }
    ]
    for i in range(n):
        recs.append(
            {
                "warc_type": "request",
                "record_id": f"<urn:uuid:req{i}>",
                "target_uri": f"https://ex.com/p{i}",
                "block": b"GET /p HTTP/1.1\r\n\r\n",
                "content_type": "application/http; msgtype=request",
            }
        )
        recs.append(
            {
                "warc_type": "response",
                "record_id": f"<urn:uuid:resp{i}>",
                "target_uri": f"https://ex.com/p{i}",
                "http": (
                    200 if i % 2 == 0 else 404,
                    [("Content-Type", "image/bmp" if i % 2 == 0 else "text/html")],
                    _bmp(c=i) if i % 2 == 0 else b"<html>gone</html>",
                ),
            }
        )
    return recs


def test_roundtrip_plain_and_gzip(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    write_warc_records(str(d / "a.warc"), _records(5))
    write_warc_records(str(d / "b.warc.gz"), _records(3), compress=True)
    spark.dataSource.register(WarcDataSource)
    got = spark.read.format("warc").load(str(d))
    rows = got.collect()
    assert len(rows) == (1 + 10) + (1 + 6)
    # one scan partition per archive file
    assert got.rdd.getNumPartitions() == 2
    by_type = {
        (r.warc_file, r.warc_type): r for r in rows if r.warc_type == "warcinfo"
    }
    assert set(by_type) == {("a.warc", "warcinfo"), ("b.warc.gz", "warcinfo")}
    # responses: HTTP envelope stripped, status + page content-type
    # surfaced, payload is the actual body bytes
    resp = [r for r in rows if r.warc_file == "a.warc" and r.warc_type == "response"]
    assert [r.http_status for r in resp] == [200, 404, 200, 404, 200]
    ok = [r for r in resp if r.http_status == 200]
    assert all(r.content_type == "image/bmp" for r in ok)
    assert bytes(ok[1].payload) == _bmp(c=2)
    assert ok[1].n_bytes == len(_bmp(c=2))
    # non-response records keep their raw block and WARC-level type
    info = [r for r in rows if r.warc_type == "warcinfo"][0]
    assert bytes(info.payload) == b"software: test-crawler\r\n"
    assert info.http_status is None
    assert info.content_type == "application/warc-fields"


def test_pushdown_prunes_files_conjunctively(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    write_warc_records(str(d / "a.warc"), _records(2))
    write_warc_records(str(d / "b.warc"), _records(2))
    spark.dataSource.register(WarcDataSource)
    df = spark.read.format("warc").load(str(d))
    one = df.filter(F.col("warc_file") == "a.warc")
    assert one.rdd.getNumPartitions() == 1
    assert one.count() == 5
    # conjunctive pushed filters: f='a' AND f='b' is EMPTY, not a union
    none = df.filter(
        (F.col("warc_file") == "a.warc") & (F.col("warc_file") == "b.warc")
    )
    assert none.count() == 0


def test_warc_payloads_flow_into_decode_lane(spark, tmp_path):
    """The crawl→multimodal integration: WARC response bodies feed the
    Arrow-batched decode stage and produce real features; non-image
    bodies quarantine per-row."""
    from reindexer_spark.multimodal import LibraryCodec, extract_media_features

    d = tmp_path / "warcs"
    d.mkdir()
    write_warc_records(str(d / "a.warc"), _records(6))
    spark.dataSource.register(WarcDataSource)
    media = (
        spark.read.format("warc")
        .load(str(d))
        .filter(F.col("warc_type") == "response")
        .select(
            F.monotonically_increasing_id().alias("media_id"),
            F.col("content_type").alias("kind"),
            "payload",
            F.create_map(F.lit("uri"), "target_uri").alias("meta"),
        )
    )
    feats = extract_media_features(media, codec=LibraryCodec()).collect()
    decoded = [r for r in feats if r.width is not None]
    failed = [r for r in feats if r.width is None]
    assert len(decoded) == 3 and all(r.width == 4 for r in decoded)
    assert len(failed) == 3  # html bodies quarantine, don't fail the stage


def test_truncated_archive_fails_loudly():
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "x.warc")
        write_warc_records(p, _records(2))
        data = open(p, "rb").read()
        # cut inside the last record's block
        cut = io.BytesIO(data[: len(data) - 30])
        with pytest.raises(ValueError, match="truncated"):
            list(parse_warc_records(cut, where="x.warc"))
        # a header line that never terminates
        bad = io.BytesIO(b"WARC/1.0\r\nWARC-Type: response")
        with pytest.raises(ValueError, match="truncated WARC header"):
            list(parse_warc_records(bad))
        # garbage where a version line should be
        with pytest.raises(ValueError, match="version line"):
            list(parse_warc_records(io.BytesIO(b"NOT-WARC\r\n")))
        # missing Content-Length
        nolen = io.BytesIO(b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\n")
        with pytest.raises(ValueError, match="Content-Length"):
            list(parse_warc_records(nolen))


def test_http_split_degrades_per_record():
    assert split_http_payload(b"not http at all") == (None, None, b"not http at all")
    s, t, b = split_http_payload(
        b"HTTP/1.1 301 Moved\r\nLocation: /x\r\nContent-Type: a/b\r\n\r\nBODY"
    )
    assert (s, t, b) == (301, "a/b", b"BODY")
    # header block without the blank-line separator → raw passthrough
    s, t, b = split_http_payload(b"HTTP/1.1 200 OK\r\nX: 1")
    assert s is None and b == b"HTTP/1.1 200 OK\r\nX: 1"


def test_lf_only_padding_tolerated():
    """Real archives vary in inter-record padding; LF-only gaps parse."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "x.warc")
        write_warc_records(p, _records(1))
        data = open(p, "rb").read().replace(b"\r\n\r\nWARC/", b"\n\nWARC/")
        recs = list(parse_warc_records(io.BytesIO(data), where="x"))
        assert len(recs) == 3


def test_split_http_chunked_and_compressed_bodies():
    """Crawl archives record wire bytes verbatim — chunked framing is
    stripped and gzip/deflate bodies decompress; malformed encodings
    degrade to the raw bytes (record-level, never a task failure)."""
    import gzip as _gz
    import zlib as _zl

    page = b"<html>hello crawl</html>"
    # Transfer-Encoding: chunked
    def frame(*parts: bytes) -> bytes:
        out = b""
        for p in parts:
            out += hex(len(p))[2:].encode() + b"\r\n" + p + b"\r\n"
        return out + b"0\r\n\r\n"

    chunked = frame(b"<html>hello", b" crawl</html", b">")
    s, t, b = split_http_payload(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked
    )
    assert (s, t, b) == (200, "text/html", page)
    # Content-Encoding: gzip
    s, t, b = split_http_payload(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
        + _gz.compress(page)
    )
    assert (s, b) == (200, page)
    # chunked + gzip together (framing first, then representation)
    gz = _gz.compress(page)
    framed = frame(gz)
    s, t, b = split_http_payload(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + framed
    )
    assert b == page
    # deflate, both zlib-wrapped and raw
    raw = _zl.compressobj(wbits=-15)
    for payload in (_zl.compress(page), raw.compress(page) + raw.flush()):
        s, t, b = split_http_payload(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + payload
        )
        assert b == page
    # malformed gzip degrades to raw
    s, t, b = split_http_payload(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
    )
    assert b == b"not gzip"
    # malformed chunk framing degrades to raw
    bad = b"zz\r\nhuh"
    s, t, b = split_http_payload(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + bad
    )
    assert b == bad


def test_crawl_corpus_e2e_wire_forms_on_disk(spark, sf_dir):
    """The flagship e2e genuinely rotates wire encodings: after a run,
    the written shards contain gzip, chunked AND identity response
    bodies, and the source decodes all three back to parseable HTML."""
    import os

    from reindexer_spark import get_query
    from reindexer_spark.operators.crawl import _fixture_dir
    from reindexer_spark.sources.warc import WarcDataSource

    out = get_query("crawl_corpus_e2e").fn(spark, sf_dir)
    n_corpus = out.count()
    assert n_corpus > 0
    # recompute the pid-keyed landing dir (the helper resets it, so
    # re-synthesize the shards it just cleared)
    crawl_dir = _fixture_dir("crawl", sf_dir)
    from reindexer_spark.catalog import load_table
    from reindexer_spark.operators.crawl import _synth_warc_shards

    _synth_warc_shards(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        crawl_dir,
    )
    shards = sorted(os.listdir(crawl_dir))
    assert len(shards) == 8 and all(s.endswith(".warc.gz") for s in shards)
    spark.dataSource.register(WarcDataSource)
    raw = spark.read.format("warc").load(crawl_dir).collect()
    types = {r.warc_type for r in raw}
    assert types == {"response", "request"}
    # every wire form appears, and every 200-html payload decoded to
    # tag-structured HTML regardless of how it was encoded on disk
    forms = set()
    for r in raw:
        if r.warc_type != "response":
            continue
        doc_id = int(r.record_id.split(":")[-1].rstrip(">"))
        forms.add(doc_id % 3)
        if r.http_status == 200 and r.content_type.startswith("text/html"):
            body = bytes(r.payload)
            assert body.startswith(b"<html>") and body.endswith(b"</html>")
    assert forms == {0, 1, 2}


def test_gzip_member_per_record_archives_parse():
    """Common Crawl writes .warc.gz with EACH RECORD as its own gzip
    member so readers can seek; stdlib gzip reads the concatenation
    transparently and the parser must see one continuous stream."""
    import gzip
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        # build per-record members by writing singleton archives
        members = []
        for i in range(4):
            p = os.path.join(td, f"one{i}.warc")
            write_warc_records(p, _records(1))
            members.append(gzip.compress(open(p, "rb").read()))
        multi = os.path.join(td, "multi.warc.gz")
        with open(multi, "wb") as fh:
            fh.write(b"".join(members))
        with gzip.open(multi, "rb") as fh:
            recs = list(parse_warc_records(fh, where="multi"))
        assert len(recs) == 4 * 3  # warcinfo + request + response each


def test_crawl_media_harvest_stage_attrition(spark, sf_dir):
    """The media-crawl curation stages behave: junk claiming image/bmp
    dies at the PROBE (never reaching decode), every probe survivor
    decodes, and probe dimensions agree with the decoder's on every
    image row — the probe-before-decode ordering a 100 TB crawl relies
    on."""
    from reindexer_spark import get_query
    from reindexer_spark.operators.crawl import HARVEST_DOCS

    rows = get_query("crawl_media_harvest").fn(spark, sf_dir).collect()
    # expected junk: %11==7 (checked before the html decoy branch),
    # surviving the 404 drop (%13==4) and the doc_id<HARVEST_DOCS window
    expect_junk = {
        i for i in range(HARVEST_DOCS) if i % 11 == 7 and i % 13 != 4
    }
    got_junk = {r.media_id for r in rows if r.probe_ok == 0}
    assert got_junk == expect_junk
    survivors = [r for r in rows if r.probe_ok == 1]
    assert survivors and all(r.checksum is not None for r in survivors)
    for r in survivors:
        if r.kind.startswith("image/") or r.kind.startswith("video/"):
            assert (r.dec_w, r.dec_h) == (r.probe_w, r.probe_h), r
    # every media modality made it through end-to-end
    assert {k.split("/")[0] for k in {r.kind for r in survivors}} == {
        "image", "audio", "video",
    }


def test_stream_reader_offsets_ingest_each_file_once(tmp_path):
    """The streaming reader's offset is the ingested file set: files
    present at an offset exchange land in exactly one batch's
    partitions; files arriving later appear only in the next batch;
    a replayed (start, end) pair re-reads exactly the same files."""
    from reindexer_spark.sources.warc import (
        WarcStreamReader,
        write_warc_records,
    )

    def shard(path, ids):
        write_warc_records(
            str(path),
            [
                {
                    "warc_type": "response",
                    "record_id": f"<urn:doc:{i}>",
                    "target_uri": f"https://x/{i}",
                    "http": (200, [("Content-Type", "text/plain")], b"hi"),
                }
                for i in ids
            ],
        )

    shard(tmp_path / "a.warc", [1, 2])
    shard(tmp_path / "b.warc", [3])
    rdr = WarcStreamReader({"path": str(tmp_path)})
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert o1 == {"b": "", "recent": ["a.warc", "b.warc"]}
    parts1 = rdr.partitions(o0, o1)
    assert sorted(p.path.split("/")[-1] for p in parts1) == [
        "a.warc",
        "b.warc",
    ]
    rows1 = [r for p in parts1 for r in rdr.read(p)]
    assert sorted(r[1] for r in rows1) == [
        "<urn:doc:1>",
        "<urn:doc:2>",
        "<urn:doc:3>",
    ]

    shard(tmp_path / "c.warc", [4])
    o2 = rdr.latestOffset()
    parts2 = rdr.partitions(o1, o2)
    assert [p.path.split("/")[-1] for p in parts2] == ["c.warc"]
    rows2 = [r for p in parts2 for r in rdr.read(p)]
    assert [r[1] for r in rows2] == ["<urn:doc:4>"]

    # replay: the same (start, end) pair yields the same files
    replay = rdr.partitions(o0, o1)
    assert sorted(p.path for p in replay) == sorted(p.path for p in parts1)


def test_stream_matches_batch_over_same_dir(spark, tmp_path):
    """availableNow streaming over a shard directory must deliver the
    exact record set the batch reader sees."""
    from reindexer_spark.sources.warc import (
        WarcDataSource,
        write_warc_records,
    )
    from reindexer_spark.streaming import run_stream_to_memory

    for fname, ids in (("s0.warc", [1, 2]), ("s1.warc", [3, 4, 5])):
        write_warc_records(
            str(tmp_path / fname),
            [
                {
                    "warc_type": "response",
                    "record_id": f"<urn:doc:{i}>",
                    "target_uri": f"https://x/{i}",
                    "http": (200, [("Content-Type", "text/plain")], b"p" * i),
                }
                for i in ids
            ],
        )
    spark.dataSource.register(WarcDataSource)
    stream = run_stream_to_memory(
        spark.readStream.format("warc")
        .load(str(tmp_path))
        .select("warc_file", "record_id", "n_bytes"),
        output_mode="append",
    )
    batch = (
        spark.read.format("warc")
        .load(str(tmp_path))
        .select("warc_file", "record_id", "n_bytes")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_offsets_survive_restart(spark, tmp_path):
    """The custom streaming reader's offset (the ingested file set)
    must round-trip through the checkpoint: after a stop/restart with
    the same checkpointLocation, only shards that landed after the
    first run are ingested — no re-reads, no gaps."""
    from reindexer_spark.sources.warc import (
        WarcDataSource,
        write_warc_records,
    )
    from reindexer_spark.streaming import drive_stream

    src = tmp_path / "landing"
    src.mkdir()

    def shard(name, ids):
        write_warc_records(
            str(src / name),
            [
                {
                    "warc_type": "response",
                    "record_id": f"<urn:doc:{i}>",
                    "target_uri": f"https://x/{i}",
                    "http": (200, [("Content-Type", "text/plain")], b"b"),
                }
                for i in ids
            ],
        )

    spark.dataSource.register(WarcDataSource)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        drive_stream(
            spark.readStream.format("warc")
            .load(str(src))
            .select("warc_file", "record_id")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt),
            spark,
        )

    shard("a.warc", [1, 2])
    run()
    shard("b.warc", [3])
    run()
    got = sorted(
        (r.warc_file, r.record_id)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [
        ("a.warc", "<urn:doc:1>"),
        ("a.warc", "<urn:doc:2>"),
        ("b.warc", "<urn:doc:3>"),
    ]


def test_stream_over_empty_landing_dir_completes(spark, tmp_path):
    """A landing directory with no shards yet must stream to completion
    with zero rows (the tail-the-bucket deployment starts before the
    crawler writes anything) — not hang, not fail."""
    from reindexer_spark.sources.warc import WarcDataSource
    from reindexer_spark.streaming import run_stream_to_memory

    spark.dataSource.register(WarcDataSource)
    out = run_stream_to_memory(
        spark.readStream.format("warc").load(str(tmp_path)),
        output_mode="append",
    )
    assert out.count() == 0


def test_dechunk_requires_chunk_terminating_crlf():
    """The CRLF after each chunk's data is load-bearing: garbage there
    means corrupt framing, which must raise (degrading the record to
    raw bytes) rather than silently swallowing two arbitrary bytes and
    mis-assembling the body."""
    from reindexer_spark.sources.warc import _dechunk

    good = b"5\r\nhello\r\n3\r\nfoo\r\n0\r\n\r\n"
    assert _dechunk(good) == b"hellofoo"
    bad = b"5\r\nhelloXX3\r\nfoo\r\n0\r\n\r\n"
    with pytest.raises(ValueError):
        _dechunk(bad)


def test_main_content_drops_chrome_keeps_body(spark, sf_dir):
    """Boilerplate removal teeth: every page sheds exactly its 3 chrome
    blocks (plus short body lines), and the surviving digest equals the
    digest of the document's own qualifying lines — nav/footer text can
    never leak into the kept content."""
    import hashlib

    from pyspark.sql import functions as F

    from reindexer_spark import get_query
    from reindexer_spark.catalog import load_table
    from reindexer_spark.operators.crawl import (
        LINE_WORDS,
        MIN_LINE_WORDS,
        _page_lines,
    )

    out = get_query("crawl_main_content").fn(spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows
    # chrome is always boilerplate: at least nav+related+footer dropped
    assert all(r["n_boiler"] >= 3 for r in rows.values())
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(*list(rows)[:20]))
        .collect()
    }
    for doc_id, text in docs.items():
        lines = _page_lines(text)
        good = [
            ln
            for li, ln in enumerate(lines)
            if len(ln.split(" ")) >= MIN_LINE_WORDS
            and (li % 4 != 0 or 3 * len(ln.split(" ")[0]) < len(ln))
        ]
        r = rows[doc_id]
        assert r["n_paras"] == len(lines) + 3
        assert r["n_content"] == len(good)
        if good:
            want = hashlib.md5("\n".join(good).encode()).hexdigest()
            assert r["content_digest"] == want
        else:
            assert r["content_digest"] is None


def test_stream_resumes_from_legacy_checkpoint_offset(spark, tmp_path):
    """Upgrade path for the offset compaction: a checkpoint written by
    the pre-compaction reader carried {"files": [...]} — the new
    reader must resume from it without re-reading or skipping."""
    import json
    import os

    from reindexer_spark.sources.warc import (
        WarcDataSource,
        write_warc_records,
    )
    from reindexer_spark.streaming import drive_stream

    src = tmp_path / "landing"
    src.mkdir()

    def shard(name, ids):
        write_warc_records(
            str(src / name),
            [
                {
                    "warc_type": "response",
                    "record_id": f"<urn:doc:{i}>",
                    "target_uri": f"https://x/{i}",
                    "http": (200, [("Content-Type", "text/plain")], b"b"),
                }
                for i in ids
            ],
        )

    spark.dataSource.register(WarcDataSource)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        drive_stream(
            spark.readStream.format("warc")
            .load(str(src))
            .select("warc_file", "record_id")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt),
            spark,
        )

    shard("a.warc", [1, 2])
    run()

    # rewrite the committed offset into the legacy full-list format the
    # pre-compaction reader checkpointed
    odir = os.path.join(ckpt, "offsets")
    latest = max(
        (n for n in os.listdir(odir) if n.isdigit()), key=int
    )
    path = os.path.join(odir, latest)
    # stale CRC would fail the rewritten file's read; drop it
    crc = os.path.join(odir, f".{latest}.crc")
    if os.path.exists(crc):
        os.unlink(crc)
    lines = open(path).read().splitlines()
    rewritten = False
    for i, ln in enumerate(lines):
        try:
            off = json.loads(ln)
        except json.JSONDecodeError:
            continue
        if isinstance(off, dict) and "recent" in off:
            lines[i] = json.dumps({"files": off["recent"]})
            rewritten = True
    assert rewritten, "did not find the source offset line to rewrite"
    with open(path, "w") as fh:
        fh.write("\n".join(lines))

    shard("b.warc", [3])
    run()
    got = sorted(
        (r.warc_file, r.record_id)
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [
        ("a.warc", "<urn:doc:1>"),
        ("a.warc", "<urn:doc:2>"),
        ("b.warc", "<urn:doc:3>"),
    ]
