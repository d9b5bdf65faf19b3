"""Argot-record shaping: parse → flatten → suffix (Tier B5/B6).

The reference ships each row's opaque ``content`` JSON to the external
``argot ingest`` tool, which "flattens and suffixes the Argot records"
before posting to Solr (/root/reference/README.md:99-103,
ingest/ingest.go:29-31).  Here the same shaping is Catalyst column
algebra:

- schema inference from a driver-side sample (the payload is
  schemaless — /root/reference/driver.go:25);
- permissive ``from_json`` with a corrupt-record column so bad payloads
  quarantine instead of failing the job (the reference's argot errors
  only ever hit an error channel — driver.go:73-74);
- recursive struct flattening ``a.b`` → ``a_b``;
- Solr dynamic-field suffixing by Spark type (``*_t``, ``*_i``, ``*_a``…).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"
# set by parse_flagged: true for a row whose payload failed to parse
QUARANTINE_FLAG = "_quarantined"

# Solr-style dynamic-field suffix per Spark type (README.md:101-103's
# "suffixes" step; the exact table is ours — argot's is not published).
_SUFFIXES: list[tuple[type, str]] = [
    (T.StringType, "_t"),
    (T.BooleanType, "_b"),
    (T.LongType, "_i"),
    (T.IntegerType, "_i"),
    (T.ShortType, "_i"),
    (T.DoubleType, "_f"),
    (T.FloatType, "_f"),
    (T.DecimalType, "_f"),
    (T.TimestampType, "_dt"),
    (T.DateType, "_dt"),
    (T.ArrayType, "_a"),
    (T.MapType, "_m"),
]


def infer_content_schema(
    df: DataFrame, content_col: str = "content", sample: int = 1000
) -> T.StructType:
    """Infer the payload schema from a driver-side sample.

    The sample is small and bounded (default 1000 records) — at 100 TB
    you cannot and should not scan everything to infer; a sampled schema
    plus permissive parsing with a corrupt-record column is the
    contract.  Returns the merged schema of the sampled JSON documents.
    """
    spark = df.sparkSession
    rows = (
        df.select(content_col).filter(F.col(content_col).isNotNull()).limit(sample)
    ).collect()
    strings = [r[0] for r in rows]
    if not strings:
        return T.StructType([])
    # 2 slices, not defaultParallelism (optimization r16): inference
    # over a <=1000-row driver-local sample was fanning out 32 Python
    # tasks (one worker spin-up each) through createDataFrame().rdd.map;
    # the inferred schema is identical — spark.read.json merges sample
    # schemas the same way regardless of slicing
    inferred = spark.read.json(
        spark.sparkContext.parallelize(strings, 2)
    ).schema
    # the sample itself may contain corrupt records → inference adds its
    # own corrupt-record column; parse_content appends ours, so drop it
    return T.StructType([f for f in inferred.fields if f.name != CORRUPT_COL])


def parse_flagged(
    df: DataFrame,
    schema: T.StructType,
    content_col: str = "content",
    parsed_col: str = "doc",
) -> DataFrame:
    """Permissive JSON parse that keeps every row: adds the parsed struct
    ``parsed_col`` and the boolean ``QUARANTINE_FLAG`` column, true for a
    record to quarantine (a non-null payload that fails to parse).

    Carrying the flag instead of splitting the frame lets one pass both
    count the two outcomes and post the good rows.

    Degenerate case — no payload fields at all (empty input, or a corpus
    where nothing parsed during inference): every non-null payload is
    flagged and ``parsed_col`` carries a single null ``_no_payload``
    marker field so downstream flatten/suffix still compose.
    """
    content = F.col(content_col)
    if not [f for f in schema.fields if f.name != CORRUPT_COL]:
        return df.withColumn(
            parsed_col, F.from_json(content, "_no_payload string")
        ).withColumn(QUARANTINE_FLAG, content.isNotNull())

    schema_with_corrupt = T.StructType(
        [
            *[f for f in schema.fields if f.name != CORRUPT_COL],
            T.StructField(CORRUPT_COL, T.StringType()),
        ]
    )
    parsed = F.from_json(
        content,
        schema_with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    return df.withColumn(parsed_col, parsed).withColumns(
        {
            QUARANTINE_FLAG: F.col(f"{parsed_col}.{CORRUPT_COL}").isNotNull()
            & content.isNotNull(),
            parsed_col: F.col(parsed_col).dropFields(CORRUPT_COL),
        }
    )


def parse_content(
    df: DataFrame,
    schema: T.StructType,
    content_col: str = "content",
    parsed_col: str = "doc",
) -> tuple[DataFrame, DataFrame]:
    """Permissive JSON parse; returns (good, quarantine) DataFrames.

    A record is quarantined when it fails to parse (see
    :func:`parse_flagged`).  The quarantine frame is the A9
    error-channel analogue: the input rows, reported by the caller
    instead of crashing the job.
    """
    flagged = parse_flagged(df, schema, content_col, parsed_col)
    bad = F.col(QUARANTINE_FLAG)
    good = flagged.filter(~bad).drop(QUARANTINE_FLAG)
    quarantine = flagged.filter(bad).drop(parsed_col, QUARANTINE_FLAG)
    return good, quarantine


def flatten_struct_columns(
    df: DataFrame, parsed_col: str = "doc", sep: str = "_", keep: list[str] | None = None
) -> DataFrame:
    """Recursively flatten a struct column: ``doc.title.main`` →
    ``title_main``.  Arrays of structs flatten to parallel arrays of
    scalars (``subjects[].uri`` → ``subjects_uri: array<string>``) — the
    Solr dynamic-field shape argot targets; no row fan-out (exploding
    changes row counts and must stay a separate, explicit step).  Arrays
    of scalars and maps are kept whole."""
    schema = df.schema[parsed_col].dataType
    assert isinstance(schema, T.StructType), f"{parsed_col} must be a struct"

    def walk(prefix_expr: str, prefix_name: str, st: T.StructType) -> list[Column]:
        cols: list[Column] = []
        for f in st.fields:
            expr = f"{prefix_expr}.`{f.name}`"
            name = f"{prefix_name}{sep}{f.name}" if prefix_name else f.name
            if isinstance(f.dataType, T.StructType):
                cols.extend(walk(expr, name, f.dataType))
            elif isinstance(f.dataType, T.ArrayType) and isinstance(
                f.dataType.elementType, T.StructType
            ):
                # struct field access distributes over arrays in Spark SQL:
                # `arr.field` yields array-of-field — one parallel array
                # per leaf, preserving element order and row counts.
                for leaf in f.dataType.elementType.fields:
                    if isinstance(leaf.dataType, (T.StructType, T.ArrayType)):
                        continue  # deeper nesting stays whole
                    cols.append(
                        F.col(f"{expr}.`{leaf.name}`").alias(
                            f"{name}{sep}{leaf.name}"
                        )
                    )
            else:
                cols.append(F.col(expr).alias(name))
        return cols

    keep_names = [c for c in (keep if keep is not None else df.columns) if c != parsed_col]
    flat_cols = walk(parsed_col, "", schema)
    # payload fields that collide with kept outer columns (e.g. the Argot
    # record's own `id` vs the row key) get the parsed-col prefix
    taken = set(keep_names)
    resolved: list[Column] = []
    for col in flat_cols:
        name = df.select(col).columns[0]
        if name in taken:
            name = f"{parsed_col}{sep}{name}"
        taken.add(name)
        resolved.append(col.alias(name))
    return df.select(*[F.col(c) for c in keep_names], *resolved)


def suffix_for(dtype: T.DataType) -> str:
    for klass, suffix in _SUFFIXES:
        if isinstance(dtype, klass):
            return suffix
    return "_s"


def suffix_columns(
    df: DataFrame,
    exclude: tuple[str, ...] = (),
    mapping=suffix_for,
) -> DataFrame:
    """Append the type-derived dynamic-field suffix to every column not in
    ``exclude`` (README.md:101-103 'suffixes the Argot records').
    Already-suffixed names are left alone (idempotent)."""
    known = {s for _, s in _SUFFIXES} | {"_s"}
    renames: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        suffix = mapping(f.dataType)
        if any(f.name.endswith(s) for s in known):
            continue
        renames[f.name] = f"{f.name}{suffix}"
    return df.withColumnsRenamed(renames)
