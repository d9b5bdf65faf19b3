"""Seeded input generator for the reindex-path benchmark.

Everything the engine reads is made here, from ``seed`` alone, as parquet
files on local disk: the engine never sees the generator, only the files.

- ``reindex_docs``: the reference's source relation (``driver.go:21-26``:
  id / txn_id / owner / content JSON / deleted) holding Argot-shaped
  payloads.  Ids are zero-padded, so string order is id order.  About 3 %
  of payloads are truncated JSON and about 10 % of rows are soft-deleted.
- ``authority_table``: the ``key`` → label snapshot the enrichment joins on.
- ``stream_docs``: the catalog ``documents`` shape that
  ``stream_cdc_dedup_live`` streams, where about half of the documents
  append a span of a passage shared by the whole seed, so chunk
  fingerprints really repeat, within and across part files.

Each row block is drawn from its own ``random.Random`` keyed on
``(seed, kind, start)``, so a block of rows is the same whichever run
makes it.  ``cached`` keeps generated files under a directory keyed on
(seed, sizes), so generation is paid once per input and never inside a
timed region.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

ID_WIDTH = 9
CORRUPT_SHARE = 0.03
DELETED_SHARE = 0.10
AUTHORITY_KEYS = 1000
# subject URIs are drawn from a range a quarter wider than the snapshot,
# so roughly four in five lookups hit
SUBJECT_RANGE = 1250
SUBJECT_PREFIX = "http://id.example.org/subject/"

_WORDS = (
    "archive atlas ballad border canal census charter chronicle colony "
    "compass council diary estate fable ferry folio garden harbor herbal "
    "journal lantern ledger manor map meadow memoir mill minute notebook "
    "orchard parish pamphlet pasture portrait quarry railway register "
    "river sermon sketch survey tavern temple textile theatre timber "
    "treaty valley village voyage warrant weaver whaling witness"
).split()
_ROLES = ("author", "editor", "translator", "illustrator")
_OWNERS = ("unc", "duke", "ncsu", "nccu", "trln")
_FORMATS = ("Book", "Journal", "Map", "Score", "Manuscript")
_LANGS = ("en", "es", "de", "fr", "zh")

REINDEX_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("txn_id", pa.string()),
        ("owner", pa.string()),
        ("content", pa.string()),
        ("deleted", pa.bool_()),
    ]
)
STREAM_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

_KIND_REINDEX, _KIND_STREAM, _KIND_POOL = 1, 2, 3
_POOL_PASSAGES = 64


def doc_id(n: int) -> str:
    return f"id{n:0{ID_WIDTH}d}"


def _rng(seed: int, kind: int, start: int) -> random.Random:
    # string seeds hash through sha512: stable across processes and runs
    return random.Random(f"{seed}:{kind}:{start}")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def reindex_docs(seed: int, start: int, n: int) -> pa.Table:
    """Rows ``start .. start+n-1`` of the id-ordered source relation."""
    rng = _rng(seed, _KIND_REINDEX, start)
    ids, txns, owners, contents, deleted = [], [], [], [], []
    for i in range(start, start + n):
        did = doc_id(i)
        payload = {
            "id": did,
            "title": {"main": _words(rng, 5), "sub": _words(rng, 3)},
            "names": [
                {"name": _words(rng, 2), "role": role}
                for role in rng.choices(_ROLES, k=rng.randint(1, 3))
            ],
            "subject_uri": [
                f"{SUBJECT_PREFIX}{rng.randrange(SUBJECT_RANGE)}" for _ in range(2)
            ],
            "format": rng.choice(_FORMATS),
            "year": rng.randint(1850, 2023),
            "body": _words(rng, 70),
        }
        content = json.dumps(payload)
        if rng.random() < CORRUPT_SHARE:
            content = content[: rng.randint(10, len(content) // 2)]
        ids.append(did)
        txns.append(f"txn{i % 10}")
        owners.append(rng.choice(_OWNERS))
        contents.append(content)
        deleted.append(bool(rng.random() < DELETED_SHARE))
    return pa.table([ids, txns, owners, contents, deleted], schema=REINDEX_SCHEMA)


def authority_table() -> pa.Table:
    """The authority snapshot: one label per subject URI key."""
    keys = [f"{SUBJECT_PREFIX}{k}" for k in range(AUTHORITY_KEYS)]
    labels = [f"Subject heading {k}" for k in range(AUTHORITY_KEYS)]
    return pa.table({"key": keys, "subject_label_a": labels})


def stream_docs(seed: int, start: int, n: int) -> pa.Table:
    """Documents ``start .. start+n-1`` for the CDC stream.  About half of
    them append a span of one of a few passages shared by the whole seed,
    so chunk fingerprints repeat within and across files."""
    prng = _rng(seed, _KIND_POOL, 0)
    pool = [_words(prng, 40) for _ in range(_POOL_PASSAGES)]
    rng = _rng(seed, _KIND_STREAM, start)
    texts: list[str] = []
    for _ in range(n):
        text = _words(rng, rng.randint(20, 50))
        if rng.random() < 0.5:
            donor = rng.choice(pool)
            text = f"{text} {donor[rng.randrange(len(donor) // 2):]}"
        texts.append(text)
    return pa.table(
        [
            list(range(start, start + n)),
            texts,
            rng.choices(_LANGS, k=n),
            [f"src{rng.randrange(4)}" for _ in range(n)],
            [len(t) for t in texts],
        ],
        schema=STREAM_SCHEMA,
    )


def write_parts(path: str, tables: list[pa.Table], mtime0: float | None = None) -> None:
    """Write one ``part-NNNNN.parquet`` per table under ``path``.  With
    ``mtime0`` the files get strictly increasing modification times, the
    order a streaming file source takes them in."""
    os.makedirs(path, exist_ok=True)
    for i, table in enumerate(tables):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, f, row_group_size=5000)
        if mtime0 is not None:
            os.utime(f, (mtime0 + i, mtime0 + i))


def cached(root: str, key: str, build) -> str:
    """Return ``root/key``, running ``build(tmp_dir)`` first when absent.
    The build lands in a temporary sibling that is renamed into place, so
    an interrupted build never leaves a half-written input behind."""
    final = os.path.join(root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


def build_reindex_base(seed: int, n: int, part_rows: int, out: str) -> None:
    write_parts(
        os.path.join(out, "docs"),
        [
            reindex_docs(seed, s, min(part_rows, n - s))
            for s in range(0, n, part_rows)
        ],
    )
    os.makedirs(os.path.join(out, "authorities"))
    pq.write_table(
        authority_table(), os.path.join(out, "authorities", "part-00000.parquet")
    )


def build_stream_dir(seed: int, files: int, per_file: int, out: str) -> None:
    """``out/documents.parquet``: ``files`` part files of ``per_file``
    documents, doc ids ascending across files and mtimes ascending, so
    one micro-batch per file arrives in doc-id order."""
    write_parts(
        os.path.join(out, "documents.parquet"),
        [stream_docs(seed, f * per_file, per_file) for f in range(files)],
        mtime0=1_600_000_000.0,
    )
