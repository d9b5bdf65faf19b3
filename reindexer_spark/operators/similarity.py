"""Tier C10 — similarity search over the ``embeddings`` table.

Two paths:

- ``knn_bruteforce``: exact cosine top-k — the correctness baseline.
  O(|Q|·|N|) with the query side broadcast; right answer at any scale
  where |Q| is small, and the oracle for the approximate path.
- ``knn_ivf_lsh``: random-hyperplane LSH bucketing (sign bits of 8 fixed
  projections → 256 buckets), exact re-rank within the probed bucket.
  This is the 100 TB path: candidates shrink ~256× and the bucket join
  is a plain equi-join (shuffle on bucket id, or broadcast the bucketed
  queries).  The hyperplanes are deterministic module constants, so the
  DuckDB oracle replicates the bucketing exactly and the result is
  fully checkable — no "approximate, trust me" gap.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reindexer_spark.cache import track
from reindexer_spark.catalog import load_table
from reindexer_spark.functions import cosine_similarity
from reindexer_spark.operators.banding import (
    banded_pairs,
    banded_pairs_sql,
    bstat_sql,
)
from reindexer_spark.registry import query

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
EMBED_DIM = 64
N_PLANES = 8

# Deterministic random hyperplanes (fixed seed → identical in the oracle).
_rng = random.Random(20240813)
HYPERPLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(EMBED_DIM)]
    for _ in range(N_PLANES)
]


def _dot_literal_sql(col: str, plane: list[float]) -> str:
    """Spark-SQL text for the dot product of an array<float> column with
    a literal plane, in DOUBLE, accumulated in array order (matches
    DuckDB list_dot_product).  Rendered as ONE SQL string instead of a
    Py4J expression forest: building array(64 lits) + two lambda HOFs
    per plane through Py4J cost ~2 s of driver time per 16-plane lane
    at ANY scale (optimization r16, guide §1.2 — the Catalyst tree the
    JVM parses from this text is identical to the old F.aggregate/
    F.zip_with form, literal for literal, so results are bit-equal)."""
    arr = ", ".join(f"{v!r}D" for v in plane)
    return (
        f"aggregate(zip_with({col}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def _bucket_expr_sql(col: str, planes: list[list[float]]) -> str:
    """SQL text for an LSH bucket id: bit i = sign of projection onto
    plane i — the F.when(dot >= 0, 1<<i) chain as one parseable string."""
    terms = " + ".join(
        f"(CASE WHEN {_dot_literal_sql(col, plane)} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    return f"CAST(({terms}) AS INT)"


def bucket_expr(col: str = "embedding") -> Column:
    """LSH bucket id: bit i = sign of projection onto hyperplane i.
    Takes the embedding COLUMN NAME (the expression is rendered as SQL
    text — see :func:`_dot_literal_sql`)."""
    return F.expr(_bucket_expr_sql(col, HYPERPLANES))


def _bucket_sql(col: str) -> str:
    terms = []
    for i, plane in enumerate(HYPERPLANES):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "knn_bruteforce",
    oracle=f"""
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id
             ) AS rnk
      FROM embeddings q JOIN embeddings c ON c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector: broadcast the
    (tiny) query side, scan candidates once, per-query top-k via window.
    Ties break on neighbor id for determinism."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        "neighbor_label",
        cosine_similarity(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rnk")
    )


@query(
    "knn_ivf_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT * FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.bucket AS bucket,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id
             ) AS rnk
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rnk <= {TOP_K}
    """,
)
def knn_ivf_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via random-hyperplane LSH: compare only within the query's
    bucket, then exact cosine re-rank.  One narrow projection pass to
    bucket everything, one equi-join on bucket id — the shape that
    survives a 100×-scale-up where brute force cannot."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", bucket_expr("embedding")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("bucket"),
        F.col("embedding").alias("c_emb"),
    )
    scored = c.join(F.broadcast(q), F.col("q_bucket") == F.col("bucket")).select(
        "query_id",
        "neighbor_id",
        "bucket",
        cosine_similarity(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "bucket", "cosine", "rnk")
    )


EMBED_LSH_THRESHOLD = 0.4

# Adaptive multiband LSH for embedding DEDUP (round-11 VERDICT #1: the
# fixed 8-bit bucket key goes chance-hot once the corpus outgrows
# cap·256 and verify cost turns O(n²/256) — shuffle records grew 68.9×
# at 10× data in SCALE_SWEEP).  Fix: the bucket key WIDTH scales with
# the corpus — band b uses the first nbits sign-bits of its own plane
# set, where nbits is the smallest width in [8, 20] keeping the mean
# bucket at ≤ DEDUP_TARGET_BUCKET members (integer thresholds, so both
# engines compute the identical width: nbits = 8 + |{b in 8..19 :
# n > TARGET·2^b}|).  Candidates per band stay ~n·TARGET/2 — LINEAR in
# n — and the recall a wider key forfeits is bought back the standard
# way: DEDUP_N_BANDS independent plane sets unioned (1-(1-p^nbits)^r),
# the same ladder knn_multiband_lsh demonstrates.
DEDUP_N_BANDS = 4
DEDUP_MAX_PLANES = 20  # 2^20 buckets/band ≈ 8M vectors at TARGET=8
DEDUP_TARGET_BUCKET = 8
_rng_dd = random.Random(20260815)
DEDUP_PLANES: list[list[list[float]]] = [
    [
        [round(_rng_dd.uniform(-1.0, 1.0), 6) for _ in range(EMBED_DIM)]
        for _ in range(DEDUP_MAX_PLANES)
    ]
    for _ in range(DEDUP_N_BANDS)
]

_NBITS_SQL = "8 + " + " + ".join(
    f"(CASE WHEN n > {DEDUP_TARGET_BUCKET * (1 << b)} THEN 1 ELSE 0 END)"
    for b in range(8, DEDUP_MAX_PLANES)
)


def dedup_nbits(n: int) -> int:
    """Adaptive band width: smallest nbits in [8, DEDUP_MAX_PLANES] with
    mean bucket occupancy n/2^nbits ≤ DEDUP_TARGET_BUCKET.  Pure integer
    comparisons — the oracle computes the identical value from COUNT(*)
    (see _NBITS_SQL)."""
    return 8 + sum(
        1
        for b in range(8, DEDUP_MAX_PLANES)
        if n > DEDUP_TARGET_BUCKET * (1 << b)
    )


def _dedup_band_bucket_sql(col: str, band: int) -> str:
    terms = []
    for i, plane in enumerate(DEDUP_PLANES[band]):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN {i} < nbits THEN"
            f" (CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0"
            f" THEN {1 << i} ELSE 0 END) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_DEDUP_BANDS_SQL = "\n      UNION ALL\n      ".join(
    f"SELECT vec_id, embedding, {bd} AS band,"
    f" {_dedup_band_bucket_sql('embedding', bd)} AS bucket"
    f" FROM embeddings, nb"
    for bd in range(DEDUP_N_BANDS)
)


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH nb AS MATERIALIZED (
      SELECT {_NBITS_SQL} AS nbits
      FROM (SELECT COUNT(*) AS n FROM embeddings)
    ),
    b AS MATERIALIZED (
      {_DEDUP_BANDS_SQL}
    ),
    bstat AS MATERIALIZED (
      {bstat_sql("b", ("band", "bucket"), "vec_id", ("embedding",))}
    ),
    cand AS (
      {banded_pairs_sql("bstat", ("band", "bucket"), "vec_id")}
    )
    SELECT d1 AS v1, d2 AS v2,
           list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) AS cosine
    FROM cand
    JOIN embeddings x ON x.vec_id = d1
    JOIN embeddings y ON y.vec_id = d2
    WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[])
          >= {EMBED_LSH_THRESHOLD}
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at scale: candidate pairs within same
    random-hyperplane LSH buckets, exact cosine verification inside the
    bucket — with the bucket key WIDTH adaptive to corpus size and
    recall recovered through {DEDUP_N_BANDS} independent bands (see the
    DEDUP_PLANES block comment).  Unlike typical ANN this is still
    fully oracle-checkable: the planes are deterministic module
    constants and the width rule is integer arithmetic on COUNT(*), so
    'approximate' means a defined candidate set, not an unreproducible
    one.

    Scale shape: one projection pass buckets every row into
    {DEDUP_N_BANDS} (band, bucket) keys (nbits dot products each, CASE-
    gated), one guarded equi-self-join per the banding module, pair
    dedup across bands, exact re-rank join.  Because 2^nbits grows with
    n (mean bucket ≤ {DEDUP_TARGET_BUCKET}), candidate volume — and the
    shuffle — is ~n·{DEDUP_TARGET_BUCKET}/2 per band: linear, where the
    old fixed-256-bucket key was quadratic past cap·256 vectors
    (SCALE_SWEEP r10: shuffle ×68.9 at 10×; the adaptive key's leg is
    re-measured in SCALE_SWEEP r11)."""
    e = load_table(spark, sf_dir, "embeddings")
    # Width from one scalar count (the B9 max-key-probe pattern): a
    # driver-side integer, not a per-row CASE over 80 literal plane
    # expressions — the literal form cost ~40 s of Py4J expression
    # construction alone.  The plane matrices ride in as a 4-row
    # broadcast relation instead, so the bucket expression is ONE
    # nested higher-order fold regardless of width.
    nbits = dedup_nbits(e.count())
    # Arrow-vectorized projection (the 4×nbits catalyst HOF dots cost
    # ~4 s at sf0.1): one pandas UDF computes every band's bucket id.
    # Bit-exactness with the oracle's list_dot_product is preserved by
    # accumulating the dot product SEQUENTIALLY over the 64 dims
    # (vectorized across rows) — mul-then-add per dim in float64,
    # identical IEEE op order to DuckDB's and to zip_with/aggregate.
    pmats = [
        np.asarray(DEDUP_PLANES[bd][:nbits], dtype=np.float64)
        for bd in range(DEDUP_N_BANDS)
    ]
    weights = (1 << np.arange(nbits, dtype=np.int64))[None, :]

    @F.pandas_udf("array<int>")
    def _bucket_ids(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:  # empty Arrow batch: (0,)-shaped asarray
            return pd.Series([], dtype=object)
        em = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in emb]
        )  # (n, 64)
        out = []
        for pm in pmats:  # pm: (nbits, 64)
            # per-dim outer products accumulated sequentially: same
            # IEEE mul-then-add order as the (n, nbits, 64) tensor
            # form, at O(n·nbits) peak memory instead of 64× that
            acc = em[:, None, 0] * pm[None, :, 0]  # (n, nbits)
            for k in range(1, em.shape[1]):
                acc += em[:, None, k] * pm[None, :, k]
            out.append(((acc >= 0).astype(np.int64) * weights).sum(axis=1))
        b = np.stack(out, axis=1).astype(np.int32)  # (n, DEDUP_N_BANDS)
        return pd.Series(list(b))

    # asNondeterministic stops the optimizer pushing posexplode's
    # size()>0 pre-filter below the projection as a SECOND evaluation
    # of the UDF (guide §4.4: the before-plan showed two stacked
    # ArrowEvalPython nodes for one call — every row paid the 4×nbits
    # projection twice).  The function itself is pure; the flag only
    # forbids the duplicating rewrite.
    _bucket_ids = _bucket_ids.asNondeterministic()

    banded = track(
        e.select(
            "vec_id", "embedding", _bucket_ids("embedding").alias("bb")
        ).select(
            "vec_id",
            "embedding",
            F.posexplode("bb").alias("band", "bucket"),
        )
    )
    # Hot-bucket-guarded self-join (banding.banded_pairs) on the
    # (band, bucket) key; cross-band duplicate candidates collapse in
    # the guard's distinct, so each surviving pair verifies once.
    pairs = (
        banded_pairs(
            banded, ("band", "bucket"), "vec_id", out1="v1", out2="v2",
            sig_cols=("embedding",),
        )
        .join(
            e.select(
                F.col("vec_id").alias("v1"), F.col("embedding").alias("emb1")
            ),
            "v1",
        )
        .join(
            e.select(
                F.col("vec_id").alias("v2"), F.col("embedding").alias("emb2")
            ),
            "v2",
        )
    )
    cos = cosine_similarity(F.col("emb1"), F.col("emb2"))
    return pairs.select("v1", "v2", cos.alias("cosine")).filter(
        F.col("cosine") >= EMBED_LSH_THRESHOLD
    )


# Multi-band LSH: 4 independent bands of 4 planes (16 buckets each).
# Collision prob per band for angle θ is (1-θ/π)^4; the union over 4
# bands lifts recall to 1-(1-p)^4 — the standard recall lever that a
# single wider band cannot provide.
N_BANDS = 4
PLANES_PER_BAND = 4
_rng_mb = random.Random(20260813)
BAND_PLANES: list[list[list[float]]] = [
    [
        [round(_rng_mb.uniform(-1.0, 1.0), 6) for _ in range(EMBED_DIM)]
        for _ in range(PLANES_PER_BAND)
    ]
    for _ in range(N_BANDS)
]


def band_bucket_expr(col: str, band: int) -> Column:
    """Per-band LSH bucket id over the band's plane set, rendered as one
    SQL string (see :func:`_dot_literal_sql` for why)."""
    return F.expr(_bucket_expr_sql(col, BAND_PLANES[band]))


def _band_bucket_sql(col: str, band: int) -> str:
    terms = []
    for i, plane in enumerate(BAND_PLANES[band]):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "knn_multiband_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             [{", ".join(_band_bucket_sql("embedding", bd) for bd in range(N_BANDS))}]
               AS bb
      FROM embeddings
    ), e AS (
      SELECT vec_id, embedding,
             generate_subscripts(bb, 1) AS band, unnest(bb) AS bucket
      FROM b
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM e q JOIN e c
        ON q.band = c.band AND q.bucket = c.bucket AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT * FROM (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                               c.embedding::DOUBLE[]) DESC,
                        cand.neighbor_id
             ) AS rnk
      FROM cand
      JOIN embeddings q ON q.vec_id = cand.query_id
      JOIN embeddings c ON c.vec_id = cand.neighbor_id
    ) WHERE rnk <= {TOP_K}
    """,
)
def knn_multiband_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-band LSH: candidates are the UNION of
    collisions across {N_BANDS} independent {PLANES_PER_BAND}-plane
    bands, deduplicated, then exactly re-ranked by cosine.

    This is the recall lever of every production LSH system (banding:
    per-band collision (1-θ/π)^b, union 1-(1-p)^r) — compare
    knn_ivf_lsh, whose single wide band maximizes pruning instead.  The
    plan is |bands| narrow projections folded into one posexplode, a
    (band, bucket) equi-join, a pair-dedup aggregate, and a re-rank
    join — every stage hash-partitioned, nothing quadratic, and still
    fully oracle-checkable because the planes are fixed constants."""
    e = load_table(spark, sf_dir, "embeddings")
    banded = e.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[band_bucket_expr("embedding", bd) for bd in range(N_BANDS)]
            )
        ).alias("band", "bucket"),
    )
    q = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    c = banded.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"), "band", "bucket"
    )
    cand = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("q_emb"), F.col("c_emb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


@query(
    "knn_recall_at_k",
    oracle=f"""
    WITH sb AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    bf AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id >= {N_QUERIES}
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    ),
    ivf AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id
               ) AS rnk
        FROM sb q JOIN sb c ON q.bucket = c.bucket AND c.vec_id >= {N_QUERIES}
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    ),
    mbb AS (
      SELECT vec_id, embedding,
             [{", ".join(_band_bucket_sql("embedding", bd) for bd in range(N_BANDS))}]
               AS bb
      FROM embeddings
    ), mbe AS (
      SELECT vec_id, embedding,
             generate_subscripts(bb, 1) AS band, unnest(bb) AS bucket
      FROM mbb
    ), mbcand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM mbe q JOIN mbe c
        ON q.band = c.band AND q.bucket = c.bucket AND c.vec_id >= {N_QUERIES}
      WHERE q.vec_id < {N_QUERIES}
    ),
    mb AS (
      SELECT * FROM (
        SELECT mbcand.query_id, mbcand.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY mbcand.query_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          mbcand.neighbor_id
               ) AS rnk
        FROM mbcand
        JOIN embeddings q ON q.vec_id = mbcand.query_id
        JOIN embeddings c ON c.vec_id = mbcand.neighbor_id
      ) WHERE rnk <= {TOP_K}
    )
    SELECT bf.query_id,
           CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_hits_ivf,
           COUNT(ivf.neighbor_id) / {TOP_K} AS recall_ivf,
           CAST(COUNT(mb.neighbor_id) AS BIGINT) AS n_hits_multiband,
           COUNT(mb.neighbor_id) / {TOP_K} AS recall_multiband
    FROM bf
    LEFT JOIN ivf ON ivf.query_id = bf.query_id
                 AND ivf.neighbor_id = bf.neighbor_id
    LEFT JOIN mb  ON mb.query_id = bf.query_id
                 AND mb.neighbor_id = bf.neighbor_id
    GROUP BY bf.query_id
    """,
)
def knn_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement — recall@k of BOTH LSH kNN variants
    against the exact bruteforce ground truth, per query vector: the
    acceptance metric every similarity-search deployment monitors, and
    the banding tradeoff made visible (one wide 8-plane band prunes
    hardest but loses most true neighbors; 4 independent 4-plane bands
    recover them via the union — the 1-(1-p^r)^b recall lever).  Fully
    oracle-checkable because the hyperplanes are deterministic module
    constants both engines replicate.  Ground truth is the left side of
    the join, so a query whose bucket lost true neighbors shows
    recall < 1 rather than vanishing."""
    from reindexer_spark.cache import track

    # Each component result is N_QUERIES × TOP_K rows; materializing them
    # decouples the three candidate-generation plans from the final join
    # (without this, the composite plan re-executes shared scan/window
    # subtrees and costs ~3× the sum of its parts — measured at sf0.1).
    bf = track(knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"))
    ivf = track(
        knn_ivf_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit_ivf", F.lit(1))
    )
    mb = track(
        knn_multiband_lsh(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit_mb", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .join(mb, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit_ivf"), F.lit(0))).alias("n_hits_ivf"),
            F.sum(F.coalesce(F.col("hit_mb"), F.lit(0))).alias(
                "n_hits_multiband"
            ),
        )
        .select(
            "query_id",
            "n_hits_ivf",
            (F.col("n_hits_ivf") / TOP_K).alias("recall_ivf"),
            "n_hits_multiband",
            (F.col("n_hits_multiband") / TOP_K).alias("recall_multiband"),
        )
    )


@query(
    "embed_ann_bucket_stats",
    oracle=f"""
    WITH b AS (
      SELECT {_bucket_sql('embedding')} AS bucket FROM embeddings
    ),
    occ AS (
      SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MIN(n) AS BIGINT) AS min_occupancy,
           CAST(MAX(n) AS BIGINT) AS max_occupancy,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           ROUND(MAX(n) / (SUM(n) / COUNT(*)), 6) AS skew_ratio
    FROM occ
    """,
)
def embed_ann_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index health: LSH bucket occupancy distribution and skew
    ratio (max/mean occupancy).  At scale this is the number that
    predicts the worst-case task in the bucket equi-join — a skew ratio
    far above 1 says the hyperplanes are misaligned with the data (or
    the data is clustered) and the hot bucket needs salting; it is the
    monitoring query behind the dedup_embedding_lsh/knn_ivf_lsh plans."""
    e = load_table(spark, sf_dir, "embeddings").select(
        bucket_expr("embedding").alias("bucket")
    )
    occ = e.groupBy("bucket").agg(F.count("*").alias("n"))
    return occ.agg(
        F.count("*").alias("n_buckets"),
        F.min("n").alias("min_occupancy"),
        F.max("n").alias("max_occupancy"),
        F.sum("n").alias("n_vectors"),
        F.round(
            F.max("n") / (F.sum("n") / F.count("*")), 6
        ).alias("skew_ratio"),
    )


# Train/test split-leakage detection: md5 batch split (same convention
# as operators.sampling / operators.incremental), LSH-bucketed candidate
# generation, exact cosine verification above this threshold.
LEAK_TEST_HEX = "1999"
LEAK_THRESHOLD = 0.4
LEAK_TOP = 3


@query(
    "split_leakage_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket,
             substr(md5(vec_id::VARCHAR), 1, 4) < '{LEAK_TEST_HEX}' AS is_test
      FROM embeddings
    ),
    pairs AS (
      SELECT t.vec_id AS test_id, tr.vec_id AS train_id,
             list_cosine_similarity(t.embedding::DOUBLE[],
                                    tr.embedding::DOUBLE[]) AS cosine
      FROM b t JOIN b tr ON t.bucket = tr.bucket
      WHERE t.is_test AND NOT tr.is_test
    ),
    ranked AS (
      SELECT test_id, train_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY test_id ORDER BY cosine DESC, train_id
             ) AS rnk
      FROM pairs WHERE cosine >= {LEAK_THRESHOLD}
    )
    SELECT test_id, train_id, cosine, rnk FROM ranked WHERE rnk <= {LEAK_TOP}
    """,
)
def split_leakage_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check over EMBEDDINGS: for each held-out
    vector (md5 split, ~10%), the top train-side vectors with cosine ≥
    0.4 — the near-duplicate-across-the-split pairs that inflate eval
    scores.  The text-level analogue is text_contamination; this is the
    semantic-level guard, and the LSH bucketing makes it the same
    O(candidates) shape as dedup_embedding_lsh rather than test×train
    brute force.

    Scale shape: one projection pass to bucket both sides (the 100 TB
    train side never self-joins — only same-bucket test×train pairs
    form), exact cosine re-rank inside the bucket, per-test top-k via
    window.  Deterministic hyperplanes keep the candidate set — and
    hence the result — oracle-checkable.
    """
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", bucket_expr("embedding")
    )
    is_test = (
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4)
        < F.lit(LEAK_TEST_HEX)
    )
    test = e.filter(is_test).select(
        F.col("vec_id").alias("test_id"),
        F.col("bucket"),
        F.col("embedding").alias("t_emb"),
    )
    train = e.filter(~is_test).select(
        F.col("vec_id").alias("train_id"),
        F.col("bucket").alias("b2"),
        F.col("embedding").alias("tr_emb"),
    )
    pairs = test.join(train, F.col("bucket") == F.col("b2"))
    cos = cosine_similarity(F.col("t_emb"), F.col("tr_emb"))
    scored = pairs.select(
        "test_id", "train_id", cos.alias("cosine")
    ).filter(F.col("cosine") >= LEAK_THRESHOLD)
    w = Window.partitionBy("test_id").orderBy(
        F.col("cosine").desc(), F.col("train_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= LEAK_TOP
    )


# Hard-negative mining for contrastive training: per anchor, the most
# similar vectors with a DIFFERENT label.  The standard recipe for
# embedding-model training data (triplet/InfoNCE batches need negatives
# near the decision boundary; random negatives are too easy to carry
# gradient signal).
HN_ANCHORS = 20
HN_K = 5


@query(
    "embed_hard_negatives",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT * FROM (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             n.vec_id AS negative_id, n.label AS negative_label,
             list_cosine_similarity(a.embedding::DOUBLE[],
                                    n.embedding::DOUBLE[]) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                               n.embedding::DOUBLE[]) DESC,
                        n.vec_id
             ) AS rnk
      FROM b a JOIN b n ON a.bucket = n.bucket AND n.label <> a.label
      WHERE a.vec_id < {HN_ANCHORS}
    ) WHERE rnk <= {HN_K}
    """,
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per anchor: nearest-by-cosine vectors whose
    LABEL DIFFERS, mined within the anchor's LSH bucket.

    In-bucket mining is not a compromise here — it is the right
    semantics: hard negatives are by definition near the anchor, which
    is exactly what the bucket preserves; the recall the LSH gives up
    is on FAR pairs, i.e. easy negatives a contrastive batch does not
    want.  Same 100 TB shape as knn_ivf_lsh: one projection pass, one
    bucket equi-join (anchors broadcast), exact re-rank on candidates
    only.  Deterministic hyperplanes make the approximate path
    value-exact against the oracle (n.vec_id <> a.vec_id is implied by
    the label inequality — labels are per-vector constants)."""
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", bucket_expr("embedding")
    )
    a = e.filter(F.col("vec_id") < HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("bucket").alias("a_bucket"),
        F.col("embedding").alias("a_emb"),
    )
    n = e.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        "bucket",
        F.col("embedding").alias("n_emb"),
    )
    scored = n.join(
        F.broadcast(a),
        (F.col("a_bucket") == F.col("bucket"))
        & (F.col("negative_label") != F.col("anchor_label")),
    ).select(
        "anchor_id",
        "anchor_label",
        "negative_id",
        "negative_label",
        cosine_similarity(F.col("a_emb"), F.col("n_emb")).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HN_K)
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            "cosine",
            "rnk",
        )
    )


# --- IVF-ADC: quantized ANN search (asymmetric distance over int8) ----

ADC_COARSE_K = 8   # coarse centroids = the K smallest vec_ids (IVF lists)
ADC_NPROBE = 3     # coarse lists probed per query
ADC_NQ = 8         # query vectors: vec_id < ADC_NQ
ADC_TOPK = 10


def _finite_lit(x: float) -> str:
    """repr-round-tripped DOUBLE literal; raises intelligibly on
    non-finite values instead of emitting unparseable `infD`/`nanD`
    SQL (ADVICE r16: a degenerate input should fail loudly, not with
    a parse exception)."""
    import math

    if not math.isfinite(x):
        raise ValueError(
            f"non-finite model value {x!r} cannot be rendered as a SQL "
            "DOUBLE literal — degenerate input (NaN/Inf embedding?)"
        )
    return f"{x!r}D"


def _collect_vecs(e: DataFrame, bound: int) -> list[tuple[int, list[float]]]:
    """Bounded model collect (guide §5/§1.2): the rows with
    vec_id < bound, ascending — the driver-held centroid/codebook set
    the ADC lanes broadcast into map-side expressions and UDFs."""
    rows = e.filter(F.col("vec_id") < bound).collect()
    return sorted((int(r[0]), list(r[1])) for r in rows)


def _seq_dots_floored(em: "np.ndarray", cm: "np.ndarray") -> "np.ndarray":
    """FLOOR(dot·1e6) of every (row, centroid) pair with the dot product
    accumulated SEQUENTIALLY per dimension — the bit-exactness contract
    with mlprep._dot / DuckDB list_dot_product (never np.dot: pairwise
    summation changes the IEEE op order)."""
    acc = em[:, None, 0] * cm[None, :, 0]  # (n, k)
    for d in range(1, em.shape[1]):
        acc += em[:, None, d] * cm[None, :, d]
    return np.floor(acc * 1e6)


def _coarse_assign_udf(cents: list[tuple[int, list[float]]]):
    """Map-side coarse-quantizer assignment against DRIVER-HELD seeds
    (optimization r17, the r16 kmeans `_kmeans_assign_np` pattern):
    argmax of FLOOR(dot·1e6) with first-max = lowest cluster_id (cents
    arrive sorted ascending) — the exact tie rule of the old
    crossJoin + per-vec_id window form it replaces."""
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cm = np.asarray([v for _, v in cents], dtype=np.float64)

    @F.pandas_udf("bigint")
    def _assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int64")
        em = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        q = _seq_dots_floored(em, cm)
        return pd.Series(cids[np.argmax(q, axis=1)])

    # §4.4: stop the optimizer duplicating the eval below pushed filters
    return _assign.asNondeterministic()


def _probe_lists(
    queries: list[tuple[int, list[float]]],
    cents: list[tuple[int, list[float]]],
    nprobe: int,
) -> list[tuple[int, int]]:
    """Driver-side probe ranking: per query the nprobe cluster_ids by
    FLOOR(dot·1e6) DESC, cluster_id ASC — dots via the same sequential
    accumulation, so ranks are bit-identical to the old window form."""
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cm = np.asarray([v for _, v in cents], dtype=np.float64)
    qm = np.asarray([v for _, v in queries], dtype=np.float64)
    q = _seq_dots_floored(qm, cm)
    out = []
    for qi, (qid, _) in enumerate(queries):
        order = np.argsort(-q[qi], kind="stable")[:nprobe]  # stable: ties → lower cid
        out.extend((qid, int(cids[j])) for j in order)
    return out

_ADC_CODE_SQL = """
    flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), stats AS (
      SELECT idx, CAST(MIN(v) AS DOUBLE) AS mn, CAST(MAX(v) AS DOUBLE) AS mx
      FROM flat GROUP BY idx
    ), deq AS (
      SELECT f.vec_id, f.idx,
             CASE WHEN s.mx = s.mn THEN s.mn
                  ELSE s.mn
                       + (CAST(ROUND((f.v - s.mn) / (s.mx - s.mn) * 254
                                     - 127, 0) AS INT) + 127.0)
                         / 254.0 * (s.mx - s.mn) END AS dv
      FROM flat f JOIN stats s USING (idx)
    )
"""


@query(
    "knn_ivf_adc",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), {_ADC_CODE_SQL},
    seeds AS (
      SELECT vec_id AS cluster_id, emb AS centroid
      FROM e WHERE vec_id < {ADC_COARSE_K}
    ), assigned AS (
      SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY FLOOR(list_dot_product(e.emb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ), queries AS (
      SELECT vec_id AS query_id, emb AS qemb FROM e
      WHERE vec_id < {ADC_NQ}
    ), probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT q.query_id, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY FLOOR(list_dot_product(q.qemb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM queries q CROSS JOIN seeds s
      ) WHERE rn <= {ADC_NPROBE}
    ), qflat AS (
      SELECT query_id, generate_subscripts(qemb, 1) AS idx,
             unnest(qemb) AS qv
      FROM queries
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM probe p JOIN assigned a USING (cluster_id)
      WHERE a.vec_id <> p.query_id
    ), adc AS (
      SELECT c.query_id, c.vec_id,
             CAST(SUM(CAST(FLOOR((qf.qv - d.dv) * (qf.qv - d.dv) * 1000000)
                           AS BIGINT)) AS BIGINT) AS adc_dist_q
      FROM cand c
      JOIN qflat qf ON qf.query_id = c.query_id
      JOIN deq d ON d.vec_id = c.vec_id AND d.idx = qf.idx
      GROUP BY c.query_id, c.vec_id
    ), ivf_topk AS (
      SELECT query_id, vec_id, adc_dist_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, vec_id) AS rnk
      FROM adc
    ), exact AS (
      SELECT qf.query_id, f.vec_id,
             SUM(CAST(FLOOR((qf.qv - f.v) * (qf.qv - f.v) * 1000000)
                      AS BIGINT)) AS dist_q
      FROM qflat qf
      JOIN flat f ON f.idx = qf.idx AND f.vec_id <> qf.query_id
      GROUP BY qf.query_id, f.vec_id
    ), exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist_q, vec_id) AS rn
        FROM exact
      ) WHERE rn <= {ADC_TOPK}
    ), hits AS (
      SELECT i.query_id, i.rnk, i.vec_id AS neighbor_id, i.adc_dist_q,
             CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM ivf_topk i
      LEFT JOIN exact_topk x
        ON x.query_id = i.query_id AND x.vec_id = i.vec_id
      WHERE i.rnk <= {ADC_TOPK}
    )
    SELECT query_id, rnk, neighbor_id, adc_dist_q, hit,
           CAST(SUM(hit) OVER (PARTITION BY query_id) AS DOUBLE)
             / {ADC_TOPK} AS recall_at_k
    FROM hits
    """,
)
def knn_ivf_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC quantized ANN search — the 100 TB memory story for the
    embeddings table: the serving tier holds int8 codes (4× smaller
    than float32; with product quantization the same shape goes 32×),
    queries probe only NPROBE of K coarse lists, and distances are
    ASYMMETRIC — full-precision query against dequantized int8
    codes — so compression costs recall, never query fidelity
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011: the ADC estimator).

    Composition: the coarse quantizer is the seed-assignment half of
    embed_kmeans_lloyd; the code book is embed_quantize_int8's
    per-dimension min/max int8 (both already driver-green).  Each
    emitted row carries a `hit` flag against the exact float top-k
    and a per-query `recall_at_k` — the acceptance metric an ANN
    rollout is actually judged by, measured inside the query itself
    (here the driver gate sees recall ≈ 1.0 because int8 error is far
    below inter-point distances at this scale; the column is the
    contract, not a constant).

    Scale shape: the K seeds and per-dimension stats broadcast; corpus
    codes shuffle once, by coarse list (the IVF build); a query fans
    out to NPROBE lists (candidates ≈ NPROBE/K of corpus, an equi-join
    on cluster_id) and distances fold over the code arrays map-side in
    whole-stage codegen — no explode, 64 ints per candidate row.  The
    exact leg is |Q|-bounded (broadcast queries) and exists only to
    measure recall; drop it and nothing upstream changes.

    Determinism: per-term squared deltas FLOOR-quantize to BIGINT and
    sum as integers (reduction-order-free on any engine); ranks break
    ties on vec_id; codes reuse the proven cross-engine ROUND contract
    of embed_quantize_int8.

    Optimization (r17, guide §5/§1.2 — the kmeans/logreg driver-held-
    model treatment): the per-dim min/max stats are ONE 128-agg pass
    collected as a 64-value model (no explode), dequantization is a
    map-side literal-rendered expression (the old explode → stats-join
    → groupBy/collect_list reassembly shuffled n×64 rows to rebuild an
    array each row already had), coarse assignment is a map-side Arrow
    argmax against the driver-held seeds (the old n×K crossJoin + per-
    vec_id window), and the |Q|×NPROBE probe list is computed driver-
    side from the same collected model.  Every formula is evaluated
    with the identical literals/IEEE op order, so results are
    bit-equal (oracle-gated)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )
    # per-dim min/max collected as the 64-pair quantization model an
    # ANN serving tier ships to workers.  Kept as the explode→groupBy
    # shape (NOT 128 element_at aggregates in one agg — measured 1.1 s
    # vs 0.3 s: the 128-expression aggregate falls out of whole-stage
    # codegen); overlapped with the seed collect on a driver thread
    # (§2.6 — the two model jobs are independent).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _stats():
        flat = e.select(
            "vec_id", F.posexplode("emb").alias("idx0", "v")
        ).select((F.col("idx0") + 1).alias("idx"), "v")
        rows = (
            flat.groupBy("idx")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
            .collect()
        )
        by_idx = {int(r["idx"]): r for r in rows}
        return (
            [by_idx[i + 1]["mn"] for i in range(EMBED_DIM)],
            [by_idx[i + 1]["mx"] for i in range(EMBED_DIM)],
        )

    inherit = inheritable_thread_target(spark)  # job group and tags
    with ThreadPoolExecutor(max_workers=2) as pool:
        stats_f = pool.submit(inherit(_stats))
        seeds_f = pool.submit(
            inherit(lambda: _collect_vecs(e, max(ADC_COARSE_K, ADC_NQ)))
        )
        mn, mx = stats_f.result()
        seeds = seeds_f.result()
    # map-side dequantization: same ROUND/affine formula per dim with
    # the stats as repr-round-tripped literals (bit-equal doubles)
    dv_terms = []
    for i in range(EMBED_DIM):
        lo, hi = _finite_lit(mn[i]), _finite_lit(mx[i])
        if mn[i] == mx[i]:
            dv_terms.append(lo)
        else:
            el = f"element_at(emb, {i + 1})"
            dv_terms.append(
                f"({lo} + (CAST(ROUND(({el} - {lo}) / ({hi} - {lo}) * 254"
                f" - 127, 0) AS INT) + 127.0D) / 254.0D * ({hi} - {lo}))"
            )
    cents = [sv for sv in seeds if sv[0] < ADC_COARSE_K]
    qvecs = [sv for sv in seeds if sv[0] < ADC_NQ]
    # tracked: the probe join fans each vector out to every probing
    # query — without the cache the 64-ROUND dequant (BigDecimal per
    # value in Spark's Round) and the assign UDF would re-evaluate per
    # CANDIDATE row instead of per vector (the materialization the old
    # plan bought with its groupBy reassembly shuffle)
    enc = track(
        e.select(
            "vec_id",
            F.expr(f"array({', '.join(dv_terms)})").alias("dvec"),
            _coarse_assign_udf(cents)("emb").alias("cluster_id"),
        )
    )
    queries_df = spark.createDataFrame(
        list(qvecs), "query_id bigint, qemb array<double>"
    )
    probe = spark.createDataFrame(
        _probe_lists(qvecs, cents, ADC_NPROBE),
        "query_id bigint, cluster_id bigint",
    )

    def _int_dist(a: Column, b: Column) -> Column:
        """Σ_d FLOOR((a_d-b_d)²·1e6) as BIGINT — order-free int sum."""
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.floor((x - y) * (x - y) * 1e6)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    cand = (
        enc.join(F.broadcast(probe), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(queries_df), "query_id")
    )
    ivf_topk = (
        cand.select(
            "query_id",
            "vec_id",
            _int_dist(F.col("qemb"), F.col("dvec")).alias("adc_dist_q"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "adc_dist_q", "vec_id"
                )
            ),
        )
        .filter(F.col("rnk") <= ADC_TOPK)
    )
    exact_topk = (
        e.crossJoin(F.broadcast(queries_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _int_dist(F.col("qemb"), F.col("emb")).alias("dist_q"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_q", "vec_id")
            ),
        )
        .filter(F.col("rn") <= ADC_TOPK)
        .select("query_id", F.col("vec_id").alias("xid"))
    )
    hits = (
        ivf_topk.alias("i")
        .join(
            exact_topk.alias("x"),
            (F.col("i.query_id") == F.col("x.query_id"))
            & (F.col("i.vec_id") == F.col("x.xid")),
            "left",
        )
        .select(
            F.col("i.query_id").alias("query_id"),
            "rnk",
            F.col("i.vec_id").alias("neighbor_id"),
            "adc_dist_q",
            F.when(F.col("x.xid").isNull(), 0).otherwise(1).alias("hit"),
        )
    )
    return hits.withColumn(
        "recall_at_k",
        F.sum("hit").over(Window.partitionBy("query_id")).cast("double")
        / ADC_TOPK,
    )


# --- Product Quantization ADC: sub-vector codebooks --------------------

PQ_M = 8          # subspaces (64 dims → 8 dims each)
PQ_SUB = 8        # dims per subspace
PQ_K = 16         # centroids per subspace → 4-bit codes
PQ_NQ = 8         # query vectors: vec_id < PQ_NQ
PQ_TOPK = 10
PQ_CAND = 50      # ADC-scan candidates re-ranked on full floats


@query(
    "knn_pq_adc",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), sub AS (
      SELECT vec_id, idx // {PQ_SUB} AS s, idx % {PQ_SUB} AS d, v
      FROM flat
    ), cents AS (
      SELECT vec_id AS cid, s, d, v AS cv FROM sub
      WHERE vec_id < {PQ_K}
    ), enc_dist AS (
      SELECT x.vec_id, x.s, c.cid,
             SUM(CAST(FLOOR((x.v - c.cv) * (x.v - c.cv) * 1000000)
                      AS BIGINT)) AS dist_q
      FROM sub x JOIN cents c ON c.s = x.s AND c.d = x.d
      GROUP BY x.vec_id, x.s, c.cid
    ), codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist_q, cid) AS rn
        FROM enc_dist
      ) WHERE rn = 1
    ), qtab AS (
      SELECT vec_id AS query_id, s, cid,
             SUM(CAST(FLOOR((v - cv) * (v - cv) * 1000000) AS BIGINT))
               AS tab_q
      FROM (SELECT vec_id, s, d, v FROM sub WHERE vec_id < {PQ_NQ}) q
      JOIN cents c USING (s, d)
      GROUP BY vec_id, s, cid
    ), adc AS (
      SELECT t.query_id, c.vec_id,
             CAST(SUM(t.tab_q) AS BIGINT) AS pq_dist_q
      FROM codes c
      JOIN qtab t ON t.s = c.s AND t.cid = c.code
      WHERE c.vec_id <> t.query_id
      GROUP BY t.query_id, c.vec_id
    ), pq_cand AS (
      SELECT query_id, vec_id, pq_dist_q FROM (
        SELECT query_id, vec_id, pq_dist_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY pq_dist_q, vec_id) AS crn
        FROM adc
      ) WHERE crn <= {PQ_CAND}
    ), exact AS (
      SELECT qf.vec_id AS query_id, f.vec_id,
             SUM(CAST(FLOOR((qf.v - f.v) * (qf.v - f.v) * 1000000)
                      AS BIGINT)) AS dist_q
      FROM (SELECT vec_id, idx, v FROM flat WHERE vec_id < {PQ_NQ}) qf
      JOIN flat f ON f.idx = qf.idx AND f.vec_id <> qf.vec_id
      GROUP BY qf.vec_id, f.vec_id
    ), reranked AS (
      SELECT c.query_id, c.vec_id, c.pq_dist_q,
             CAST(e.dist_q AS BIGINT) AS exact_dist_q,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
                                ORDER BY e.dist_q, c.vec_id) AS rnk
      FROM pq_cand c
      JOIN exact e ON e.query_id = c.query_id AND e.vec_id = c.vec_id
    ), exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist_q, vec_id) AS rn
        FROM exact
      ) WHERE rn <= {PQ_TOPK}
    ), hits AS (
      SELECT r.query_id, r.rnk, r.vec_id AS neighbor_id, r.pq_dist_q,
             r.exact_dist_q,
             CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM reranked r
      LEFT JOIN exact_topk x
        ON x.query_id = r.query_id AND x.vec_id = r.vec_id
      WHERE r.rnk <= {PQ_TOPK}
    )
    SELECT query_id, rnk, neighbor_id, pq_dist_q, exact_dist_q, hit,
           CAST(SUM(hit) OVER (PARTITION BY query_id) AS DOUBLE)
             / {PQ_TOPK} AS recall_at_k
    FROM hits
    """,
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ADC search (Jégou et al., TPAMI 2011): the
    embedding splits into {PQ_M} subspaces of {PQ_SUB} dims; each
    subspace gets a {PQ_K}-centroid codebook (deterministic sample
    init — production refines it with the embed_kmeans_lloyd
    machinery), so a corpus vector stores as {PQ_M} 4-bit codes:
    4 bytes against 256 bytes of float32, 64× — the memory story that
    puts a 100 TB vector corpus in RAM, beyond int8's 4×
    (knn_ivf_adc).  Queries never quantize: per query a {PQ_M}×{PQ_K}
    distance TABLE to the codebooks is computed once, and each
    candidate's distance is {PQ_M} table lookups summed — the
    asymmetric estimator.  The PQ scan keeps the top {PQ_CAND}
    candidates, which then RE-RANK on full-precision distances — the
    standard two-stage serving architecture: the compressed scan does
    the 64× data reduction, the re-rank touches floats for only
    {PQ_CAND} vectors per query and recovers the recall the 4-bit
    estimate gives up (ADC-alone recall@10 is 0.1-0.5 on this corpus
    with sample-init codebooks; re-ranked recall is what the emitted
    column measures).

    Scale shape (re-audited round 12 — SCALE_PROOF showed shuffle
    ×17.5 at 10×, driven by the old explode+groupBy encode shuffling
    n×{PQ_M}×{PQ_K} records plus an equal-size argmin window): the
    codebook is {PQ_K}×{PQ_M}×{PQ_SUB} values → a bounded driver-side
    collect broadcast into an Arrow pandas UDF, so ENCODING IS
    MAP-SIDE with zero shuffle — exactly how a PQ serving system ships
    codebooks to workers; the per-query table is |Q|×{PQ_M}×{PQ_K}
    rows → broadcast; the ADC scan is an equi-join of codes to table
    entries on (subspace, code) — no floats move at query time, only
    4-bit codes and precomputed integers.  The exact leg (|Q|-bounded,
    recall measurement only) computes distances as a map-side HOF fold
    against the broadcast query set instead of an exploded
    n×64×|Q|-row groupBy.  IVF composition (probe-then-scan) is proven
    in knn_ivf_adc; this is the flat-scan variant, so together they
    are IVFADC minus only the residual encoding.

    Determinism: every distance is a sum of FLOOR-quantized BIGINT
    terms (reduction-order-free, so numpy/HOF/SQL all agree); argmins
    and ranks break ties on the lower id (np.argmin first-min =
    lowest cid)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )
    # codebook: the PQ_K lowest vec_ids (deterministic sample init) —
    # a bounded PQ_K-row collect, the broadcast-codebook set
    cb_rows = e.filter(F.col("vec_id") < PQ_K).collect()
    cb_rows.sort(key=lambda r: r.vec_id)
    cb = np.asarray([r.emb for r in cb_rows], dtype=np.float64)  # (K, 64)
    # codes are the centroids' vec_ids, NOT array indices: with a
    # sparse/filtered corpus the two diverge and the ADC join on
    # t.cid would silently mismatch (round-12 review); np.argmin's
    # first-min + this ascending-id order still matches the oracle's
    # ORDER BY dist_q, cid tie-break
    cb_ids = np.asarray([r.vec_id for r in cb_rows], dtype=np.int32)

    @F.pandas_udf("array<int>")
    def _pq_codes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        em = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in emb]
        )  # (n, 64)
        out = np.empty((em.shape[0], PQ_M), dtype=np.int32)
        for s in range(PQ_M):
            xs = em[:, s * PQ_SUB : (s + 1) * PQ_SUB]  # (n, SUB)
            cs = cb[:, s * PQ_SUB : (s + 1) * PQ_SUB]  # (K, SUB)
            diff = xs[:, None, :] - cs[None, :, :]  # (n, K, SUB)
            # int64 term sum: order-free, bit-identical to the SQL's
            # SUM(CAST(FLOOR(...) AS BIGINT)) regardless of axis order
            dist = np.floor(diff * diff * 1e6).astype(np.int64).sum(axis=2)
            out[:, s] = cb_ids[np.argmin(dist, axis=1)]
        return pd.Series(list(out))

    codes = e.select(
        "vec_id", F.posexplode(_pq_codes("emb")).alias("s", "code")
    )
    # per-query distance table, DRIVER-COMPUTED from the already-
    # collected codebook rows (optimization r17, §5/§1.2): the queries
    # are a subset of cb_rows (vec_id < PQ_NQ ≤ PQ_K), and every table
    # entry is Σ_d FLOOR((v−cv)²·1e6) — int64 terms, so numpy == the
    # old explode-join-aggregate subplan independent of order; the
    # 1024-row literal relation replaces that subplan outright
    qtab_rows = []
    for qi in range(len(cb_ids)):
        if cb_ids[qi] >= PQ_NQ:
            continue
        for s in range(PQ_M):
            xs = cb[qi, s * PQ_SUB : (s + 1) * PQ_SUB]
            cs = cb[:, s * PQ_SUB : (s + 1) * PQ_SUB]
            diff = xs[None, :] - cs
            tab = np.floor(diff * diff * 1e6).astype(np.int64).sum(axis=1)
            qtab_rows.extend(
                (int(cb_ids[qi]), s, int(cb_ids[j]), int(tab[j]))
                for j in range(len(cb_ids))
            )
    qtab = spark.createDataFrame(
        qtab_rows, "query_id bigint, s int, cid int, tab_q bigint"
    )
    adc = (
        codes.alias("c")
        .join(
            F.broadcast(qtab).alias("t"),
            (F.col("c.s") == F.col("t.s"))
            & (F.col("c.code") == F.col("t.cid")),
        )
        .filter(F.col("c.vec_id") != F.col("t.query_id"))
        .groupBy(
            F.col("t.query_id").alias("query_id"),
            F.col("c.vec_id").alias("vec_id"),
        )
        .agg(F.sum("tab_q").cast("bigint").alias("pq_dist_q"))
    )
    pq_cand = (
        adc.withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("pq_dist_q", "vec_id")
            ),
        )
        .filter(F.col("crn") <= PQ_CAND)
        .drop("crn")
    )
    q8 = e.filter(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    exact = (
        e.crossJoin(F.broadcast(q8))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "qemb",
                    "emb",
                    lambda qv, v: F.floor((qv - v) * (qv - v) * 1e6).cast(
                        "bigint"
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist_q"),
        )
    )
    reranked = (
        pq_cand.join(exact, ["query_id", "vec_id"])
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_q", "vec_id")
            ),
        )
        .filter(F.col("rnk") <= PQ_TOPK)
        .withColumnRenamed("dist_q", "exact_dist_q")
    )
    exact_topk = (
        exact.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_q", "vec_id")
            ),
        )
        .filter(F.col("rn") <= PQ_TOPK)
        .select("query_id", F.col("vec_id").alias("xid"))
    )
    hits = (
        reranked.alias("p")
        .join(
            exact_topk.alias("x"),
            (F.col("p.query_id") == F.col("x.query_id"))
            & (F.col("p.vec_id") == F.col("x.xid")),
            "left",
        )
        .select(
            F.col("p.query_id").alias("query_id"),
            "rnk",
            F.col("p.vec_id").alias("neighbor_id"),
            "pq_dist_q",
            "exact_dist_q",
            F.when(F.col("x.xid").isNull(), 0).otherwise(1).alias("hit"),
        )
    )
    return hits.withColumn(
        "recall_at_k",
        F.sum("hit").over(Window.partitionBy("query_id")).cast("double")
        / PQ_TOPK,
    )


# --- full IVFADC: coarse quantizer + PQ over RESIDUALS -----------------

IVFR_K = 8        # coarse lists
IVFR_NPROBE = 3
IVFR_NQ = 8
IVFR_M = 8        # PQ subspaces over the residual
IVFR_SUB = 8
IVFR_PQK = 16
IVFR_TOPK = 10
IVFR_CAND = 50


@query(
    "knn_ivfadc_residual",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cluster_id, emb AS centroid
      FROM e WHERE vec_id < {IVFR_K}
    ), cflat AS (
      SELECT vec_id AS cluster_id, idx, v AS cv FROM flat
      WHERE vec_id < {IVFR_K}
    ), assigned AS (
      SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY FLOOR(list_dot_product(e.emb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ), rsub AS (
      SELECT f.vec_id, f.idx // {IVFR_SUB} AS s, f.idx % {IVFR_SUB} AS d,
             f.v - c.cv AS rv
      FROM flat f
      JOIN assigned a USING (vec_id)
      JOIN cflat c ON c.cluster_id = a.cluster_id AND c.idx = f.idx
    ), cbook AS (
      SELECT vec_id AS cid, s, d, rv AS cv FROM rsub
      WHERE vec_id < {IVFR_PQK}
    ), enc AS (
      SELECT x.vec_id, x.s, c.cid,
             SUM(CAST(FLOOR((x.rv - c.cv) * (x.rv - c.cv) * 1000000)
                      AS BIGINT)) AS dist_q
      FROM rsub x JOIN cbook c ON c.s = x.s AND c.d = x.d
      GROUP BY x.vec_id, x.s, c.cid
    ), codes AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist_q, cid) AS rn
        FROM enc
      ) WHERE rn = 1
    ), queries AS (
      SELECT vec_id AS query_id, emb AS qemb FROM e
      WHERE vec_id < {IVFR_NQ}
    ), probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT q.query_id, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY FLOOR(list_dot_product(q.qemb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM queries q CROSS JOIN seeds s
      ) WHERE rn <= {IVFR_NPROBE}
    ), qflat AS (
      SELECT query_id, generate_subscripts(qemb, 1) - 1 AS idx,
             unnest(qemb) AS qv
      FROM queries
    ), qrsub AS (
      SELECT p.query_id, p.cluster_id, f.idx // {IVFR_SUB} AS s,
             f.idx % {IVFR_SUB} AS d, f.qv - c.cv AS qrv
      FROM probe p
      JOIN qflat f USING (query_id)
      JOIN cflat c ON c.cluster_id = p.cluster_id AND c.idx = f.idx
    ), qtab AS (
      SELECT query_id, cluster_id, s, cid,
             SUM(CAST(FLOOR((qrv - cv) * (qrv - cv) * 1000000) AS BIGINT))
               AS tab_q
      FROM qrsub JOIN cbook USING (s, d)
      GROUP BY query_id, cluster_id, s, cid
    ), adc AS (
      SELECT t.query_id, x.vec_id,
             CAST(SUM(t.tab_q) AS BIGINT) AS pq_dist_q
      FROM codes x
      JOIN assigned a USING (vec_id)
      JOIN qtab t ON t.cluster_id = a.cluster_id AND t.s = x.s
                 AND t.cid = x.code
      WHERE x.vec_id <> t.query_id
      GROUP BY t.query_id, x.vec_id
    ), cand AS (
      SELECT query_id, vec_id, pq_dist_q FROM (
        SELECT query_id, vec_id, pq_dist_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY pq_dist_q, vec_id) AS crn
        FROM adc
      ) WHERE crn <= {IVFR_CAND}
    ), exact AS (
      SELECT qf.query_id, f.vec_id,
             SUM(CAST(FLOOR((qf.qv - f.v) * (qf.qv - f.v) * 1000000)
                      AS BIGINT)) AS dist_q
      FROM qflat qf
      JOIN flat f ON f.idx = qf.idx AND f.vec_id <> qf.query_id
      GROUP BY qf.query_id, f.vec_id
    ), reranked AS (
      SELECT c.query_id, c.vec_id, c.pq_dist_q,
             CAST(e2.dist_q AS BIGINT) AS exact_dist_q,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
                                ORDER BY e2.dist_q, c.vec_id) AS rnk
      FROM cand c
      JOIN exact e2 ON e2.query_id = c.query_id AND e2.vec_id = c.vec_id
    ), exact_topk AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist_q, vec_id) AS rn
        FROM exact
      ) WHERE rn <= {IVFR_TOPK}
    ), hits AS (
      SELECT r.query_id, r.rnk, r.vec_id AS neighbor_id, r.pq_dist_q,
             r.exact_dist_q,
             CASE WHEN x.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM reranked r
      LEFT JOIN exact_topk x
        ON x.query_id = r.query_id AND x.vec_id = r.vec_id
      WHERE r.rnk <= {IVFR_TOPK}
    )
    SELECT query_id, rnk, neighbor_id, pq_dist_q, exact_dist_q, hit,
           CAST(SUM(hit) OVER (PARTITION BY query_id) AS DOUBLE)
             / {IVFR_TOPK} AS recall_at_k
    FROM hits
    """,
)
def knn_ivfadc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVFADC (Jégou et al., TPAMI 2011 §IV): the coarse quantizer
    routes each vector to one of {IVFR_K} lists, and product
    quantization encodes the RESIDUAL x − c(x) — not x itself — into
    {IVFR_M} 4-bit codes.  Residuals matter because they concentrate
    near zero: the same {IVFR_PQK}-centroid budget spends its precision
    on a much smaller ball than raw-vector PQ (knn_pq_adc), which is
    the accuracy lever that lets production indexes hold billions of
    vectors in 4 bytes each.  Completes the ANN ladder:
    knn_ivf_adc (int8 scalar codes) → knn_pq_adc (flat PQ scan +
    re-rank) → this (coarse probe + residual PQ + re-rank = the
    inverted-file system the paper calls IVFADC).

    Query side: probe {IVFR_NPROBE} lists; per probed list the query's
    OWN residual against that list's centroid parameterizes a
    {IVFR_M}×{IVFR_PQK} integer distance table, so each candidate costs
    {IVFR_M} lookups; the top {IVFR_CAND} re-rank on full floats.

    Scale shape: codebooks ({IVFR_M}×{IVFR_PQK}×{IVFR_SUB} values) and
    per-query tables broadcast; the corpus shuffles once by coarse list
    at build time; at query time only 4-bit codes and integer tables
    move.  Determinism: FLOOR-quantized BIGINT distance sums, ids break
    every tie.

    Optimization (r17, guide §5/§1.2): seeds and the {IVFR_PQK}-vector
    residual codebook are bounded driver-side collects; ONE Arrow pass
    per corpus row assigns the coarse list, forms the residual and
    emits the {IVFR_M} PQ codes (the old plan shuffled n×64 exploded
    rows through assign-window + residual joins + an n×64×{IVFR_PQK}
    encode groupBy + an argmin window); probe/qtab are the same
    integer arithmetic computed driver-side over the collected model
    and re-injected as a broadcast literal relation; the exact leg
    folds map-side against the broadcast queries (order-free BIGINT
    term sums) instead of explode+groupBy.  Identical literals, IEEE
    op order and tie rules throughout — oracle-gated bit-equal."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
    )
    model = _collect_vecs(e, max(IVFR_K, IVFR_PQK, IVFR_NQ))
    cents = [sv for sv in model if sv[0] < IVFR_K]
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cm = np.asarray([v for _, v in cents], dtype=np.float64)  # (K, 64)
    cid_row = {c: i for i, c in enumerate(cids)}

    def _np_assign(em: np.ndarray) -> np.ndarray:
        """Row index into cm of each vector's coarse list (argmax of
        FLOOR(dot·1e6), first-max = lowest cluster_id)."""
        return np.argmax(_seq_dots_floored(em, cm), axis=1)

    # residual codebook: the IVFR_PQK lowest vec_ids, assigned and
    # residual-ized DRIVER-SIDE with the same op order
    cbv = [sv for sv in model if sv[0] < IVFR_PQK]
    cb_ids = np.asarray([c for c, _ in cbv], dtype=np.int64)
    cb_em = np.asarray([v for _, v in cbv], dtype=np.float64)
    cb_res = cb_em - cm[_np_assign(cb_em)]  # (PQK, 64)

    @F.pandas_udf("struct<cluster_id:bigint,codes:array<int>>")
    def _encode(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame(
                {
                    "cluster_id": pd.Series([], dtype="int64"),
                    "codes": pd.Series([], dtype=object),
                }
            )
        em = np.asarray([np.asarray(v, dtype=np.float64) for v in emb])
        best = _np_assign(em)
        res = em - cm[best]  # (n, 64) — same per-dim subtraction
        codes = np.empty((em.shape[0], IVFR_M), dtype=np.int32)
        for s in range(IVFR_M):
            xs = res[:, s * IVFR_SUB : (s + 1) * IVFR_SUB]
            cs = cb_res[:, s * IVFR_SUB : (s + 1) * IVFR_SUB]
            diff = xs[:, None, :] - cs[None, :, :]  # (n, PQK, SUB)
            # int64 term sum: order-free, equal to the SQL's
            # SUM(FLOOR(...)) regardless of reduction order
            dist = np.floor(diff * diff * 1e6).astype(np.int64).sum(axis=2)
            codes[:, s] = cb_ids[np.argmin(dist, axis=1)]  # first-min = lowest cid
        return pd.DataFrame(
            {"cluster_id": cids[best], "codes": list(codes)}
        )

    _encode = _encode.asNondeterministic()  # §4.4

    enc = e.select("vec_id", _encode("emb").alias("_e")).select(
        "vec_id",
        F.col("_e.cluster_id").alias("cluster_id"),
        F.col("_e.codes").alias("codes"),
    )
    qvecs = [sv for sv in model if sv[0] < IVFR_NQ]
    queries_df = spark.createDataFrame(
        list(qvecs), "query_id bigint, qemb array<double>"
    )
    # probe + per-(query, probed-list) distance tables, driver-side:
    # qtab[q, c, s, cid] = Σ_d FLOOR((qrv_d − cv_d)²·1e6) — int64
    # terms, so numpy == SQL independent of order
    qtab_rows = []
    for qid, cid in _probe_lists(qvecs, cents, IVFR_NPROBE):
        qv = np.asarray(dict(qvecs)[qid], dtype=np.float64)
        qrv = qv - cm[cid_row[cid]]
        for s in range(IVFR_M):
            xs = qrv[s * IVFR_SUB : (s + 1) * IVFR_SUB]
            cs = cb_res[:, s * IVFR_SUB : (s + 1) * IVFR_SUB]
            diff = xs[None, :] - cs
            tab = np.floor(diff * diff * 1e6).astype(np.int64).sum(axis=1)
            qtab_rows.extend(
                (int(qid), int(cid), s, int(cb_ids[j]), int(tab[j]))
                for j in range(len(cb_ids))
            )
    qtab = spark.createDataFrame(
        qtab_rows,
        "query_id bigint, cluster_id bigint, s int, cid int, tab_q bigint",
    )
    adc = (
        enc.select(
            "vec_id", "cluster_id", F.posexplode("codes").alias("s", "code")
        )
        .alias("x")
        .join(
            F.broadcast(qtab).alias("t"),
            (F.col("x.cluster_id") == F.col("t.cluster_id"))
            & (F.col("x.s") == F.col("t.s"))
            & (F.col("x.code") == F.col("t.cid")),
        )
        .filter(F.col("x.vec_id") != F.col("t.query_id"))
        .groupBy(
            F.col("t.query_id").alias("query_id"),
            F.col("x.vec_id").alias("vec_id"),
        )
        .agg(F.sum("tab_q").cast("bigint").alias("pq_dist_q"))
    )
    cand = (
        adc.withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("pq_dist_q", "vec_id")
            ),
        )
        .filter(F.col("crn") <= IVFR_CAND)
        .drop("crn")
    )
    exact = (
        e.crossJoin(F.broadcast(queries_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "qemb",
                    "emb",
                    lambda qv, v: F.floor((qv - v) * (qv - v) * 1e6).cast(
                        "bigint"
                    ),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dist_q"),
        )
    )
    reranked = (
        cand.join(exact, ["query_id", "vec_id"])
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_q", "vec_id")
            ),
        )
        .filter(F.col("rnk") <= IVFR_TOPK)
        .withColumnRenamed("dist_q", "exact_dist_q")
    )
    exact_topk = (
        exact.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist_q", "vec_id")
            ),
        )
        .filter(F.col("rn") <= IVFR_TOPK)
        .select("query_id", F.col("vec_id").alias("xid"))
    )
    hits = (
        reranked.alias("p")
        .join(
            exact_topk.alias("x"),
            (F.col("p.query_id") == F.col("x.query_id"))
            & (F.col("p.vec_id") == F.col("x.xid")),
            "left",
        )
        .select(
            F.col("p.query_id").alias("query_id"),
            "rnk",
            F.col("p.vec_id").alias("neighbor_id"),
            "pq_dist_q",
            "exact_dist_q",
            F.when(F.col("x.xid").isNull(), 0).otherwise(1).alias("hit"),
        )
    )
    return hits.withColumn(
        "recall_at_k",
        F.sum("hit").over(Window.partitionBy("query_id")).cast("double")
        / IVFR_TOPK,
    )


# Incremental IVF maintenance: the md5-split "arriving" slice (~10%,
# same convention as dedup_incremental's batch split).
INC_NEW_HEX = "1999"
INC_NQ = 8  # queries: the smallest-id arriving vectors


@query(
    "knn_ivf_incremental",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) < '{INC_NEW_HEX}'
               AS is_new
      FROM embeddings
    ),
    flat AS (
      SELECT vec_id, is_new, generate_subscripts(emb, 1) AS idx,
             unnest(emb) AS v
      FROM e
    ),
    stats AS (
      SELECT idx, CAST(MIN(v) AS DOUBLE) AS mn, CAST(MAX(v) AS DOUBLE) AS mx
      FROM flat WHERE NOT is_new GROUP BY idx
    ),
    deq AS (
      SELECT f.vec_id, f.idx,
             CASE WHEN s.mx = s.mn THEN s.mn
                  ELSE s.mn
                       + (LEAST(127, GREATEST(-127,
                            CAST(ROUND((f.v - s.mn) / (s.mx - s.mn) * 254
                                       - 127, 0) AS INT))) + 127.0)
                         / 254.0 * (s.mx - s.mn) END AS dv
      FROM flat f JOIN stats s USING (idx)
    ),
    seeds AS (
      SELECT vec_id AS cluster_id, emb AS centroid
      FROM e WHERE NOT is_new
      ORDER BY vec_id LIMIT {ADC_COARSE_K}
    ),
    assigned AS (
      SELECT vec_id, is_new, cluster_id FROM (
        SELECT e.vec_id, e.is_new, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY FLOOR(list_dot_product(e.emb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id AS query_id, emb AS qemb
      FROM e WHERE is_new
      ORDER BY vec_id LIMIT {INC_NQ}
    ),
    probe AS (
      SELECT query_id, cluster_id FROM (
        SELECT q.query_id, s.cluster_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY FLOOR(list_dot_product(q.qemb, s.centroid)
                                * 1000000) DESC, s.cluster_id
               ) AS rn
        FROM queries q CROSS JOIN seeds s
      ) WHERE rn <= {ADC_NPROBE}
    ),
    qflat AS (
      SELECT query_id, generate_subscripts(qemb, 1) AS idx,
             unnest(qemb) AS qv
      FROM queries
    ),
    cand AS (
      SELECT p.query_id, a.vec_id, a.is_new
      FROM probe p JOIN assigned a USING (cluster_id)
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.vec_id, c.is_new,
             CAST(SUM(CAST(FLOOR((qf.qv - d.dv) * (qf.qv - d.dv) * 1000000)
                           AS BIGINT)) AS BIGINT) AS adc_dist_q
      FROM cand c
      JOIN qflat qf ON qf.query_id = c.query_id
      JOIN deq d ON d.vec_id = c.vec_id AND d.idx = qf.idx
      GROUP BY c.query_id, c.vec_id, c.is_new
    )
    SELECT query_id, rnk, neighbor_id, adc_dist_q, neighbor_is_new
    FROM (
      SELECT query_id, vec_id AS neighbor_id, adc_dist_q,
             is_new AS neighbor_is_new,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, vec_id) AS rnk
      FROM adc
    ) WHERE rnk <= {ADC_TOPK}
    ORDER BY query_id, rnk
    """,
)
def knn_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE — the operational reality of a 100 TB
    vector store that knn_ivf_adc's one-shot build leaves out: a ~10%
    md5-split batch of vectors ARRIVES against a standing index whose
    coarse centroids AND int8 code book are FROZEN (re-training either
    would force re-encoding the whole corpus), new vectors are assigned
    to the frozen lists with codes CLAMPED to [-127, 127] (values
    outside the standing min/max — quantizer drift, the honest cost of
    freezing), and each arriving vector immediately queries the MERGED
    index — the ANN-upsert-then-dedup-check pattern an ingest pipeline
    runs per batch.  Emitted neighbors carry a neighbor_is_new flag, so
    the gate value-checks that fresh vectors are searchable the moment
    they are assigned — no rebuild, no reindex.

    Scale shape mirrors dedup_incremental's maintenance story: the
    frozen seeds and per-dimension stats broadcast; only the BATCH
    pays assignment/encoding cost (the standing corpus is not
    re-encoded — its codes are already on disk; recomputing them here
    is testdata convenience); queries fan out to NPROBE of K lists.

    Determinism: same integer-distance/ROUND/tie-break contract as
    knn_ivf_adc; the split is the md5-hex convention every incremental
    lane in this repo uses."""
    from reindexer_spark.operators.mlprep import _dot

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("emb"),
        (
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4)
            < INC_NEW_HEX
        ).alias("is_new"),
    )
    flat = e.select(
        "vec_id", "is_new", F.posexplode("emb").alias("idx0", "v")
    ).select("vec_id", "is_new", (F.col("idx0") + 1).alias("idx"), "v")
    stats = (
        flat.filter(~F.col("is_new"))
        .groupBy("idx")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    code = F.least(
        F.lit(127),
        F.greatest(
            F.lit(-127),
            F.round(
                (F.col("v") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * 254
                - 127,
                0,
            ).cast("int"),
        ),
    )
    dv = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + (code + F.lit(127.0)) / F.lit(254.0) * (F.col("mx") - F.col("mn"))
    )
    deq = (
        flat.join(F.broadcast(stats), "idx")
        .select("vec_id", "idx", dv.alias("dv"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "dv"))),
                lambda s: s["dv"],
            ).alias("dvec")
        )
    )
    seeds = (
        e.filter(~F.col("is_new"))
        .orderBy("vec_id")
        .limit(ADC_COARSE_K)
        .select(
            F.col("vec_id").alias("cluster_id"),
            F.col("emb").alias("centroid"),
        )
    )
    rank_dot = F.floor(_dot(F.col("emb"), F.col("centroid")) * 1e6)
    assigned = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    rank_dot.desc(), F.col("cluster_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "is_new", "cluster_id")
    )
    queries_df = (
        e.filter(F.col("is_new"))
        .orderBy("vec_id")
        .limit(INC_NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"))
    )
    probe = (
        queries_df.crossJoin(F.broadcast(seeds))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.floor(_dot(F.col("qemb"), F.col("centroid")) * 1e6)
                    .desc(),
                    F.col("cluster_id"),
                )
            ),
        )
        .filter(F.col("rn") <= ADC_NPROBE)
        .select("query_id", "cluster_id")
    )

    def _int_dist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.floor((x - y) * (x - y) * 1e6)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    cand = (
        probe.join(assigned, "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(deq, "vec_id")
        .join(F.broadcast(queries_df), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("is_new").alias("neighbor_is_new"),
            _int_dist(F.col("qemb"), F.col("dvec")).alias("adc_dist_q"),
        )
    )
    return (
        cand.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "adc_dist_q", "neighbor_id"
                )
            ),
        )
        .filter(F.col("rnk") <= ADC_TOPK)
        .select("query_id", "rnk", "neighbor_id", "adc_dist_q",
                "neighbor_is_new")
        .orderBy("query_id", "rnk")
    )


# Matryoshka prefix dimensions evaluated against the full-dim truth
MRL_DIMS = (8, 16, 32)


def _mrl_topk(e, d: int):
    """Exact cosine top-K using only the first ``d`` dims — the
    truncated-embedding retrieval a Matryoshka deployment runs."""
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, d).alias("q_emb"),
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.slice("embedding", 1, d).alias("c_emb"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("q_emb"), F.col("c_emb")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def _mrl_sql(d: int) -> str:
    return f"""
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   (q.embedding[1:{d}])::DOUBLE[],
                   (c.embedding[1:{d}])::DOUBLE[]) DESC,
                 c.vec_id
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id >= {{nq}}
        WHERE q.vec_id < {{nq}}
      ) WHERE rnk <= {{k}}
    """


@query(
    "embed_matryoshka_recall",
    oracle=f"""
    WITH bf AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id
               ) AS rnk
        FROM embeddings q JOIN embeddings c ON c.vec_id >= {N_QUERIES}
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    ),
    {", ".join(
        f"m{d} AS ({_mrl_sql(d).format(nq=N_QUERIES, k=TOP_K)})"
        for d in MRL_DIMS
    )}
    SELECT bf.query_id,
           {", ".join(
               f"CAST(COUNT(m{d}.neighbor_id) AS BIGINT) AS n_hits_d{d}, "
               f"COUNT(m{d}.neighbor_id) / {TOP_K} AS recall_d{d}"
               for d in MRL_DIMS
           )}
    FROM bf
    {" ".join(
        f"LEFT JOIN m{d} ON m{d}.query_id = bf.query_id "
        f"AND m{d}.neighbor_id = bf.neighbor_id"
        for d in MRL_DIMS
    )}
    GROUP BY bf.query_id
    """,
)
def embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation evaluation (round 14): recall@k of
    PREFIX-DIMENSION retrieval (first 8/16/32 of 64 dims) against the
    full-dimension exact top-k — the acceptance metric behind
    truncatable-embedding deployments (MRL: retrieve with a cheap
    prefix, optionally re-rank with the full vector; every serving
    stack that adopts it monitors exactly this curve before cutting
    index memory 2-8x).

    Per query vector: n_hits_d{{8,16,32}} / recall_d{{8,16,32}} —
    how many of the true top-k survive when only the prefix is
    indexed.  Fully oracle-exact: both engines slice the same arrays
    and rank by cosine with the same id tie-break; ground truth stays
    the left side so a truncation that loses every true neighbor
    reads recall 0 rather than vanishing.

    Scale shape: the query side is broadcast (N_QUERIES rows); each
    prefix variant is one candidate scan + per-query window, and the
    final join is on (query_id, neighbor_id) — no all-pairs shuffle.
    At 100 TB the prefix scans read SHORTER vectors, which is the
    point of the technique."""
    from reindexer_spark.cache import track

    e = load_table(spark, sf_dir, "embeddings")
    bf = track(
        knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    )
    out = bf
    for d in MRL_DIMS:
        md = track(
            _mrl_topk(e, d).withColumn(f"hit_d{d}", F.lit(1))
        )
        out = out.join(md, ["query_id", "neighbor_id"], "left")
    agg = [
        F.sum(F.coalesce(F.col(f"hit_d{d}"), F.lit(0))).alias(
            f"n_hits_d{d}"
        )
        for d in MRL_DIMS
    ]
    res = out.groupBy("query_id").agg(*agg)
    sel = ["query_id"]
    for d in MRL_DIMS:
        sel.append(f"n_hits_d{d}")
        res = res.withColumn(
            f"recall_d{d}", F.col(f"n_hits_d{d}") / TOP_K
        )
        sel.append(f"recall_d{d}")
    return res.select(*sel)


KCENTER_K = 4  # plan-unrolled farthest-point iterations


def _kc_maxsim_sql(cands: str, centers: str) -> str:
    """Per candidate: max cosine to any chosen center (the INVERSE of
    its k-center distance-to-coverage)."""
    return f"""
      SELECT c.vec_id,
             MAX(list_cosine_similarity(c.embedding::DOUBLE[],
                                        z.embedding::DOUBLE[])) AS ms
      FROM {cands} c CROSS JOIN {centers} z
      GROUP BY c.vec_id
    """


def _kcenter_oracle() -> str:
    parts = [
        """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c1 AS (SELECT vec_id, embedding FROM e
           ORDER BY vec_id LIMIT 1)"""
    ]
    prev_centers = "c1"
    for k in range(2, KCENTER_K + 1):
        parts.append(
            f""",
    m{k} AS ({_kc_maxsim_sql("e", prev_centers)}),
    pick{k} AS (
      SELECT m{k}.vec_id, m{k}.ms FROM m{k}
      JOIN e USING (vec_id)
      WHERE m{k}.vec_id NOT IN (SELECT vec_id FROM {prev_centers})
      ORDER BY m{k}.ms ASC, m{k}.vec_id LIMIT 1
    ),
    c{k} AS (
      SELECT * FROM {prev_centers}
      UNION ALL
      SELECT e.vec_id, e.embedding FROM e
      JOIN pick{k} USING (vec_id)
    )"""
        )
        prev_centers = f"c{k}"
    parts.append(
        f""",
    cov AS ({_kc_maxsim_sql("e", prev_centers)}),
    radius AS (
      SELECT MIN(ms) AS worst_sim FROM cov
      WHERE vec_id NOT IN (SELECT vec_id FROM {prev_centers})
    ),
    sel AS (
      SELECT 1 AS step,
             (SELECT vec_id FROM c1) AS center_id,
             CAST(NULL AS DOUBLE) AS sel_sim
      {"".join(
          f" UNION ALL SELECT {k}, (SELECT vec_id FROM pick{k}), "
          f"(SELECT ms FROM pick{k})"
          for k in range(2, KCENTER_K + 1)
      )}
    )
    SELECT sel.step, sel.center_id, sel.sel_sim, radius.worst_sim
    FROM sel CROSS JOIN radius
    ORDER BY sel.step"""
    )
    return "".join(parts)


@query("embed_coreset_kcenter", oracle=_kcenter_oracle())
def embed_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORESET SELECTION by farthest-point sampling (Gonzalez k-center
    greedy) — the diversity-maximizing subset picker behind active
    learning and "select the most diverse N examples" curation: start
    from the lowest vec_id, then repeatedly add the vector whose
    nearest chosen center is FARTHEST (here: whose max cosine to the
    chosen set is SMALLEST — cosine as the inverse distance, ties to
    the lower vec_id).  Plan-unrolled {KCENTER_K} iterations, each a
    broadcast join of the tiny center set against the corpus and one
    aggregation — no driver collect, the embed_kmeans_lloyd pattern.

    Output: one row per selection step (center id + its coverage
    similarity at selection — step 1's is NULL, nothing was chosen
    yet) and ``worst_sim``, the final k-center objective: the
    LEAST-covered non-center vector's similarity to its nearest
    center (higher = the coreset covers the corpus better; the greedy
    guarantees 2-approximation of the optimum in distance terms).

    Scale shape: each iteration scans the corpus once against ≤ K
    broadcast centers (map-side max, one shuffle to pick the argmin);
    K iterations total — exactly how farthest-point sampling runs on
    a 100 TB embedding table, and why it beats pairwise-diversity
    objectives that need O(n²)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    # Driver-held center set (optimization r16): the chosen set is ≤
    # KCENTER_K rows by construction, so each greedy step collects ONE
    # row and the next step's max-similarity is a map-side
    # greatest(...) over literal center arrays — the same
    # aggregate/zip_with cosine, literal for literal (float→double is
    # exact, repr round-trips).  The old plan-unrolled form chained
    # every step behind unionAll(limit(1)) subplans that the final
    # union re-executed, scanning the corpus ~2^K more times than the
    # algorithm needs; this form is exactly K corpus passes — the
    # canonical farthest-point layout (pick rides back as 40 bytes).
    def _cos_lit_sql(vals: list[float]) -> str:
        arr = ", ".join(_finite_lit(v) for v in vals)
        dot = (
            f"aggregate(zip_with(embedding, array({arr}), (x, y) ->"
            f" CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,"
            f" (acc, v) -> acc + v)"
        )
        na = (
            "sqrt(aggregate(embedding, 0.0D, (acc, v) ->"
            " acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        nb = (
            f"sqrt(aggregate(array({arr}), 0.0D, (acc, v) ->"
            f" acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        return f"({dot} / ({na} * {nb}))"

    def _ms_col(cents: list[list[float]]):
        sims = [_cos_lit_sql(c) for c in cents]
        return F.expr(
            sims[0] if len(sims) == 1 else f"greatest({', '.join(sims)})"
        )

    first = e.orderBy("vec_id").limit(1).collect()[0]
    center_ids = [int(first["vec_id"])]
    center_embs = [list(first["embedding"])]
    out_rows = [(1, center_ids[0], None)]
    for k in range(2, KCENTER_K + 1):
        pick = (
            e.filter(~F.col("vec_id").isin(center_ids))
            .select("vec_id", "embedding", _ms_col(center_embs).alias("ms"))
            .orderBy(F.asc("ms"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        out_rows.append((k, int(pick["vec_id"]), float(pick["ms"])))
        center_ids.append(int(pick["vec_id"]))
        center_embs.append(list(pick["embedding"]))
    # final objective: the least-covered non-center vector
    cov = (
        e.filter(~F.col("vec_id").isin(center_ids))
        .select(_ms_col(center_embs).alias("ms"))
        .agg(F.min("ms").alias("worst_sim"))
    )
    out = spark.createDataFrame(
        out_rows, "step int, center_id bigint, sel_sim double"
    )
    return out.crossJoin(F.broadcast(cov)).orderBy("step")
