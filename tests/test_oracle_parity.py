"""The local replica of the driver's correctness gate: every registered
query with an oracle must match DuckDB exactly at sf0.001; rows-only
queries must execute and return a stable schema."""

from __future__ import annotations

import pytest
from conftest import FOLDED_TIFF_LANES

from reindexer_spark import all_queries
from reindexer_spark.oracle import (
    canonicalize,
    compare_query,
    run_oracle_duckdb,
    value_hash,
)
from reindexer_spark.registry import get_query
from reindexer_spark.tiff import TIFF_VARIANTS

QUERY_NAMES = sorted(all_queries())

_TIFF_MATRIX: dict[str, tuple] = {}


def tiff_family_problems(spark, sf_dir: str, family: str) -> list[str]:
    """Oracle parity of one variant family's rows of image_tiff_matrix:
    every variant of the family present, each row equal to the
    oracle's.  Both sides are computed once per sf_dir."""
    if sf_dir not in _TIFF_MATRIX:
        q = get_query("image_tiff_matrix")
        _TIFF_MATRIX[sf_dir] = (
            canonicalize(q.fn(spark, sf_dir).toPandas()),
            canonicalize(run_oracle_duckdb(q.oracle, sf_dir)),
        )
    names = sorted(n for n in TIFF_VARIANTS if n.startswith(family + "-"))
    spdf, opdf = (
        pdf[pdf["variant"].isin(names)].reset_index(drop=True)
        for pdf in _TIFF_MATRIX[sf_dir]
    )
    problems = []
    if sorted(spdf["variant"]) != names:
        problems.append(f"variants: spark={sorted(spdf['variant'])} "
                        f"table={names}")
    if value_hash(spdf) != value_hash(opdf):
        problems.append(
            f"rows differ: spark={spdf.to_dict('records')!r} "
            f"oracle={opdf.to_dict('records')!r}"
        )
    return problems


@pytest.mark.parametrize("name", sorted(QUERY_NAMES + list(FOLDED_TIFF_LANES)))
def test_query_matches_oracle(spark, sf_dir, name):
    if name in FOLDED_TIFF_LANES:
        problems = tiff_family_problems(spark, sf_dir, FOLDED_TIFF_LANES[name])
    else:
        problems = compare_query(spark, name, sf_dir)
    assert not problems, f"{name}: " + "; ".join(p[:500] for p in problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "source", "lang", "text"]


def test_contract_shapes(spark):
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle-less query is intentionally approximate
    rows_only = set(qs) - set(oracles)
    assert rows_only <= {
        "dedup_minhash",
        "dedup_simhash",
        "agg_approx_sketches",
        "multimodal_decode_features",
        "multimodal_frame_sample",
        "multimodal_thumbnail",
        "multimodal_phash_dedup",
        "audio_dedup_fingerprint",
        "video_scene_cuts",
        "multimodal_probe_meta",
        "crawl_media_harvest",
    }
