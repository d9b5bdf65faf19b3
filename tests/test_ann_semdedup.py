"""Semantic properties of the round-7 curation operators: SemDeDup's
keep-rule invariants and the IVF-ADC recall contract (beyond the exact
oracle parity the driver gate already checks)."""

from __future__ import annotations

import pytest

from reindexer_spark import get_query
from reindexer_spark.operators.mlprep import SEMDEDUP_TAU
from reindexer_spark.operators.similarity import ADC_NQ, ADC_TOPK


def test_semdedup_keep_rule_invariants(spark, sf_dir):
    rows = get_query("embed_semdedup").fn(spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(rows)
    for cid, members in by_cluster.items():
        members.sort(key=lambda r: r.vec_id)
        # the lowest vec_id of every cluster has no prior → always kept
        assert members[0].max_prior_cos == -1.0
        assert members[0].is_kept == 1
        for r in members:
            assert (r.is_kept == 1) == (r.max_prior_cos < SEMDEDUP_TAU)
            assert r.n_cluster == len(members)
    # the threshold actually bites on this corpus (non-trivial attrition)
    removed = sum(1 for r in rows if r.is_kept == 0)
    assert 0 < removed < len(rows) // 2


@pytest.mark.filterwarnings("error::UserWarning")
def test_ivf_adc_recall_contract(spark, sf_dir):
    # the driver-side threads carry the session: pyspark warns (here:
    # fails) when a thread target is wrapped without it, and such
    # threads' jobs lose the query's tags
    rows = get_query("knn_ivf_adc").fn(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(ADC_NQ))
    for qid, hits in per_q.items():
        assert len(hits) == ADC_TOPK
        assert sorted(r.rnk for r in hits) == list(range(1, ADC_TOPK + 1))
        # recall column is exactly the per-query hit fraction
        frac = sum(r.hit for r in hits) / ADC_TOPK
        for r in hits:
            assert r.recall_at_k == frac
        # ADC distances are ranked ascending (ties broken by vec_id)
        ds = [r.adc_dist_q for r in sorted(hits, key=lambda r: r.rnk)]
        assert ds == sorted(ds)
        # a query must never find itself
        assert all(r.neighbor_id != qid for r in hits)
    # int8 error is small vs inter-point distances: macro recall is high
    macro = sum(v[0].recall_at_k for v in per_q.values()) / len(per_q)
    assert macro >= 0.7


def test_pq_adc_rerank_contract(spark, sf_dir):
    from reindexer_spark.operators.similarity import PQ_NQ, PQ_TOPK

    rows = get_query("knn_pq_adc").fn(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(PQ_NQ))
    for qid, hits in per_q.items():
        assert len(hits) == PQ_TOPK
        # re-rank orders by EXACT distance, not the PQ estimate
        by_rank = sorted(hits, key=lambda r: r.rnk)
        ds = [r.exact_dist_q for r in by_rank]
        assert ds == sorted(ds)
        assert all(r.neighbor_id != qid for r in hits)
        frac = sum(r.hit for r in hits) / PQ_TOPK
        assert all(r.recall_at_k == frac for r in hits)
    macro = sum(v[0].recall_at_k for v in per_q.values()) / len(per_q)
    assert macro >= 0.4  # re-ranked; ADC-alone sits well below this


def test_logreg_training_actually_learns(spark, sf_dir):
    """The distilled quality classifier's accuracy is non-decreasing
    across GD iterations and ends well above the all-positive baseline
    — the trainer genuinely optimizes, it doesn't just execute."""
    from reindexer_spark.operators.text import LOGREG_ITERS

    rows = sorted(
        get_query("quality_logreg_train").fn(spark, sf_dir).collect(),
        key=lambda r: r.iter,
    )
    assert [r.iter for r in rows] == list(range(1, LOGREG_ITERS + 1))
    accs = [r.n_correct for r in rows]
    losses = [r.loss for r in rows]
    assert all(b >= a for a, b in zip(accs, accs[1:]))
    assert all(b <= a for a, b in zip(losses, losses[1:]))
    # iteration 1 scores the zero-weight model: p = 0.5 everywhere →
    # n_correct equals the positive-class count (the baseline)
    assert accs[-1] > accs[0] * 1.1


def test_ivfadc_residual_beats_flat_pq(spark, sf_dir):
    """Residual encoding concentrates codebook precision: at the same
    code budget the full IVFADC's re-ranked recall is at least the flat
    PQ scan's, despite probing only 3 of 8 lists."""
    from reindexer_spark.operators.similarity import IVFR_NQ, IVFR_TOPK

    def macro(name: str) -> float:
        rows = get_query(name).fn(spark, sf_dir).collect()
        per_q = {}
        for r in rows:
            per_q[r.query_id] = r.recall_at_k
        return sum(per_q.values()) / len(per_q)

    rows = get_query("knn_ivfadc_residual").fn(spark, sf_dir).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(IVFR_NQ))
    for qid, hits in per_q.items():
        assert len(hits) == IVFR_TOPK
        assert all(r.neighbor_id != qid for r in hits)
    m_res = macro("knn_ivfadc_residual")
    m_flat = macro("knn_pq_adc")
    assert m_res >= m_flat - 0.05  # same-or-better, tolerance one hit
    assert m_res >= 0.6


def test_dedup_nbits_width_rule():
    """The adaptive LSH width rule: smallest nbits in [8, MAX] keeping
    mean bucket occupancy ≤ DEDUP_TARGET_BUCKET, computed with integer
    comparisons only (the oracle's _NBITS_SQL mirrors it on COUNT(*))."""
    from reindexer_spark.operators.similarity import (
        DEDUP_MAX_PLANES,
        DEDUP_TARGET_BUCKET,
        dedup_nbits,
    )

    assert dedup_nbits(0) == 8
    assert dedup_nbits(DEDUP_TARGET_BUCKET * 256) == 8  # boundary stays 8
    assert dedup_nbits(DEDUP_TARGET_BUCKET * 256 + 1) == 9
    assert dedup_nbits(DEDUP_TARGET_BUCKET * (1 << 12)) == 12
    assert dedup_nbits(10**15) == DEDUP_MAX_PLANES
    for n in (100, 2048, 5000, 100_000, 10**7):
        b = dedup_nbits(n)
        assert 8 <= b <= DEDUP_MAX_PLANES
        if b < DEDUP_MAX_PLANES:
            assert n / (1 << b) <= DEDUP_TARGET_BUCKET
        if b > 8:  # minimality: one bit narrower would overflow TARGET
            assert n / (1 << (b - 1)) > DEDUP_TARGET_BUCKET


def _wide_embeddings_dir(sf_dir, tmp_path, n: int) -> str:
    """A copy of sf_dir whose embeddings table is replaced by n
    synthetic vectors (with planted near-dups) — big enough to push the
    adaptive-width / adaptive-K rules past their floor values."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sfwide"
    d.mkdir()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sf_dir, f), d / f)
    rng = np.random.default_rng(20260815)
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs[1050:1100] = vecs[:50] + 0.01 * rng.standard_normal(
        (50, 64)
    ).astype(np.float32)  # planted near-dups → non-trivial result
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 10 for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, d / "embeddings.parquet")
    return str(d)


def test_dedup_embedding_lsh_adaptive_width_matches_oracle(
    spark, sf_dir, tmp_path
):
    """Past TARGET·2^8 vectors the bucket key widens (nbits=9 here); the
    widened path must stay hash-identical to the DuckDB oracle — i.e.
    the SQL's CASE-gated plane sums agree with the driver-side integer
    width and the broadcast plane relation."""
    from reindexer_spark.operators.similarity import (
        DEDUP_TARGET_BUCKET,
        dedup_nbits,
    )
    from reindexer_spark.oracle import compare_query

    n = DEDUP_TARGET_BUCKET * 256 + 52  # 2100 → nbits 9
    assert dedup_nbits(n) == 9
    d = _wide_embeddings_dir(sf_dir, tmp_path, n)
    assert compare_query(spark, "dedup_embedding_lsh", d) == []


def test_semdedup_k_rule():
    """The adaptive cluster-count rule: K = max(8, ceil(n/TARGET)),
    integer arithmetic only (the oracle's _SEMDEDUP_K_SQL mirrors it
    on COUNT(*))."""
    from reindexer_spark.operators.mlprep import (
        SEMDEDUP_MIN_K,
        SEMDEDUP_TARGET_CLUSTER,
        semdedup_k,
    )

    t = SEMDEDUP_TARGET_CLUSTER
    assert semdedup_k(0) == SEMDEDUP_MIN_K
    assert semdedup_k(500) == SEMDEDUP_MIN_K  # sf0.001/0.01 stay K=8
    assert semdedup_k(SEMDEDUP_MIN_K * t) == SEMDEDUP_MIN_K
    assert semdedup_k(SEMDEDUP_MIN_K * t + 1) == SEMDEDUP_MIN_K + 1
    assert semdedup_k(2000) == 32  # sf0.1 widened path
    for n in (1000, 2100, 20_000, 10**6):
        k = semdedup_k(n)
        # mean cluster size bounded by TARGET (K never undershoots)
        assert n / k <= t
        # minimality above the floor: one fewer cluster would overshoot
        if k > SEMDEDUP_MIN_K:
            assert n / (k - 1) > t


def test_semdedup_kc_rule():
    """The coarse-group rule: kc = max(4, ceil(sqrt(kf))), exact
    integer ceil-sqrt (the oracle's _SEMDEDUP_KC_SQL mirrors it via
    CEIL(SQRT(..)) on COUNT(*)) — and the sublinear-collect contract:
    the driver-side coarse-seed collect is O(sqrt(n/64)) rows."""
    import math

    from reindexer_spark.operators.mlprep import (
        SEMDEDUP_MIN_KC,
        semdedup_k,
        semdedup_kc,
    )

    assert semdedup_kc(8) == SEMDEDUP_MIN_KC    # fixture scales stay 4
    assert semdedup_kc(16) == SEMDEDUP_MIN_KC
    assert semdedup_kc(17) == 5
    assert semdedup_kc(33) == 6                 # the widened-path kf
    assert semdedup_kc(313) == 18               # emb-20k
    assert semdedup_kc(3125) == 56              # emb-200k
    for kf in (8, 33, 100, 3125, 10**6, 10**6 + 1):
        kcv = semdedup_kc(kf)
        assert kcv >= math.isqrt(kf)            # ceil, never floor-short
        assert (kcv - 1) ** 2 < kf or kcv == SEMDEDUP_MIN_KC
    # sublinear: a 100x corpus grows the collect ~10x, not 100x
    c_small = semdedup_kc(semdedup_k(20_000))
    c_big = semdedup_kc(semdedup_k(2_000_000))
    assert c_big <= 12 * c_small


def test_embed_semdedup_adaptive_k_matches_oracle(spark, sf_dir, tmp_path):
    """Past MIN_K·TARGET vectors the cluster count grows (K=33 at
    n=2100); the widened assignment path — map-side pandas-UDF argmax
    over the broadcast seed matrix — must stay hash-identical to the
    DuckDB oracle's crossJoin + ROW_NUMBER form."""
    from reindexer_spark.operators.mlprep import semdedup_k
    from reindexer_spark.oracle import compare_query

    n = 2100
    assert semdedup_k(n) == 33
    d = _wide_embeddings_dir(sf_dir, tmp_path, n)
    assert compare_query(spark, "embed_semdedup", d) == []


def test_dsir_select_semantics(spark, sf_dir):
    """DSIR selection invariants beyond oracle parity: the pool is
    exactly the non-target docs, exactly floor(pool/4) docs are kept,
    the kept set is precisely the top slice of the (score DESC, doc_id)
    order — i.e. the histogram-threshold plan reproduces the total
    order's keep set — and the kept mean score strictly exceeds the
    dropped mean (the selection actually selects)."""
    from reindexer_spark import get_query
    from reindexer_spark.operators.mlprep import (
        DSIR_KEEP_DIV,
        DSIR_TARGET_LANG,
    )

    rows = sorted(
        get_query("dsir_select").fn(spark, sf_dir).collect(),
        key=lambda r: (-r.score, r.doc_id),
    )
    from reindexer_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    n_pool = d.filter(d.lang != DSIR_TARGET_LANG).count()
    assert len(rows) == n_pool
    assert len({r.doc_id for r in rows}) == n_pool
    n_keep = n_pool // DSIR_KEEP_DIV
    # the kept set IS the prefix of the global (score DESC, doc_id)
    # order — boundary-class tie-splitting included
    assert [bool(r.is_kept) for r in rows] == (
        [True] * n_keep + [False] * (n_pool - n_keep)
    )
    kept, dropped = rows[:n_keep], rows[n_keep:]
    assert (sum(r.score for r in kept) / len(kept)
            > sum(r.score for r in dropped) / len(dropped))
