"""Vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> columns using Spark's
higher-order array functions — everything stays JVM-side (no Python),
so similarity scoring is a narrow map over the scan with zero shuffle.

Float arrays are cast element-wise to double before any arithmetic so
results are reproducible against a double-precision oracle;
accumulation is sequential left-to-right (``aggregate``), matching how
a C++/DuckDB loop sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays; NULL on zero norms."""
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def hash_embedding(text: Column, dim: int = 8) -> Column:
    """Deterministic stand-in embedding: ``dim`` (<= 8) doubles in
    [-1, 1), each carved from 8 hex chars of sha2(text). The composed
    streaming ETL (streaming/ingest_pipeline.py) uses this where the
    reference calls its embedding API (Notion_openai_vector_etl.py
    embed step) — the engine's contract is the Spark-side plumbing
    (schema, assignment, index layout), not the model, and a
    hash-derived vector keeps the whole pipeline reproducible and
    JVM-side (sha2 + conv + arithmetic, zero Python). Swap in a real
    pandas_udf encoder for production."""
    if not 1 <= dim <= 8:
        raise ValueError("hash_embedding supports 1..8 dims (sha256 = 8 x 32 bits)")
    h = F.sha2(text, 256)
    return F.array(
        *[
            (
                F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("double")
                / F.lit(float(2**31))
                - F.lit(1.0)
            )
            for i in range(dim)
        ]
    )
