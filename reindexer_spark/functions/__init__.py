"""Column-function helpers shared across operators.

The important convention lives here: **exact money math**.  Monetary inputs
(2-decimal doubles in the testdata, mirroring TPC-H) are cast to
DECIMAL(12,2) before arithmetic so sums are exact and order-independent —
the same result on local[32] and on a 1000-executor cluster, and
bit-identical to the DuckDB oracle after the final cast back to DOUBLE.
Plain double summation would depend on partitioning / reduction order and
make the correctness hash flaky at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DECIMAL(12,2) multiplied twice stays within Spark's / DuckDB's 38-digit
# cap without precision loss: (12,2)*(12,2)->(25,4), *(12,2)->(38,6).
MONEY = "decimal(12,2)"


def dec(col: Column | str) -> Column:
    """Cast a 2-decimal monetary double to exact DECIMAL(12,2)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dsum(col: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as DOUBLE (bit-stable across engines)."""
    return F.sum(col).cast("double").alias(alias)


def mean_exact(col: Column, alias: str) -> Column:
    """Average via exact decimal sum / count → deterministic double."""
    return (F.sum(col).cast("double") / F.count(col)).alias(alias)


def stddev_exact(col: Column, alias: str) -> Column:
    """Sample stddev via exact decimal sums: sqrt((Σx² − (Σx)²/n)/(n−1)).

    Both sums are exact decimals, so the double-typed result is
    reproducible across engines and partitionings, unlike the streaming
    (Welford) stddev built-ins whose low bits depend on merge order.
    """
    n = F.count(col)
    sx = F.sum(col).cast("double")
    # Σx² is rounded to scale 2 before the double cast: a decimal whose
    # unscaled value exceeds 2^53 casts to double differently across
    # engines.  At scale 2 the unscaled value stays exactly representable,
    # so the cast is a single correct rounding everywhere.  The oracle SQL
    # must use ROUND(..., 2) — Spark's decimal narrowing cast rounds
    # half-up, DuckDB's truncates, but DuckDB ROUND matches half-up for
    # the positive values here.
    sxx = F.sum(col * col).cast("decimal(38,2)").cast("double")
    # Final rounding to cents: once Σx² exceeds 2^53/100 the decimal→
    # double cast itself double-rounds differently across engines (~1 ulp,
    # ~1e-7 absolute here), so the comparable output is the rounded one.
    return F.round(
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))), 2
    ).alias(alias)


def date_str(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd").alias(alias)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float> columns, computed JVM-side.

    ``F.zip_with`` + ``F.aggregate`` stay inside whole-stage codegen — no
    Python UDF in the hot path.  Accumulation is in DOUBLE in array order,
    matching the oracle's list_cosine_similarity on DOUBLE[] elementwise.
    """
    zero = F.lit(0.0)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), zero, lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, zero, lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, zero, lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)
