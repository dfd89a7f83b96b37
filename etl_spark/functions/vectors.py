"""Vector (embedding) column functions — pure Catalyst expressions over
``array<float>`` columns; no Python round-trips.

Used by the similarity-search and embedding near-dup operators for
one-off / low-volume column math. NOTE: Spark's higher-order functions
(zip_with/aggregate/transform) are CodegenFallback — interpreted per
element, JVM-side but NOT codegen (see CLAUDE.md) — so the dense hot
paths in operators/similarity.py use Arrow mapInPandas + numpy BLAS
instead; these expressions are for plumbing, oracles and small frames."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise dot product via zip_with + aggregate (JVM higher-order
    functions)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(_c(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalize_vec(a: Column | str) -> Column:
    """Unit-normalize so cosine reduces to dot at query time (do it once at
    ingest, not per comparison)."""
    n = norm(a)
    return F.transform(_c(a), lambda x: (x / n).cast("float"))
