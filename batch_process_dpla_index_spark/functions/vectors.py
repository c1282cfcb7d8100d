"""Vector math over array<float>/array<double> columns — JVM-side.

Cosine/dot/norm are expressed with higher-order functions
(``zip_with`` + ``aggregate``) so the hot path stays inside Tungsten
codegen; no Python crosses the boundary. All accumulation is in
double with a strict left-to-right fold, which makes results
bit-reproducible across engines (the DuckDB oracle's list functions
fold the same way).

At 100 TB these expressions vectorize per-row inside codegen. The
top-k and LSH scans of ``operators/similarity.py`` score whole Arrow
batches with BLAS instead; these expressions remain for per-pair
verification and the DuckDB-replayable paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    ``try_divide`` (not ``/``) so a single zero/empty embedding yields
    NULL instead of aborting the job under Spark's default ANSI mode.
    """
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))
