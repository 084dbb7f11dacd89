"""Vector column expressions over ``array<float>`` embeddings.

All arithmetic is JVM-side (``F.zip_with`` / ``F.aggregate`` higher-
order functions inside whole-stage codegen) — no Python UDF in the hot
path. Floats are promoted to double BEFORE any reduction: per-element
float→double promotion is exact, and the left-to-right double fold is
then bit-identical to DuckDB's ``list_dot_product`` over ``DOUBLE[]``
(verified in tests), which keeps cosine similarities hash-comparable
cross-engine.

Scale note: these expressions are O(dim) per row with zero shuffle —
the distributed cost of similarity search lives in the join strategy
(see operators/similarity.py), not here.

Throughput caveat (measured, sf0.1, local[32]): higher-order
functions evaluate per element OUTSIDE whole-stage codegen's tight
loop, so for high-volume pair scoring (~10⁶ candidate pairs) the
Arrow-batched strict-order scorer in operators/similarity.py
(``similarity._cosine_seq``) is ~3-5× faster than this fold at bit-
identical results. Use these Column forms for scan-side scoring
against a literal (``cosine_topk``) and one-off expressions; use the
Arrow scorer inside candidate-verify joins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold."""
    prods = F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity. A ZERO vector is mapped to NULL explicitly:
    Spark double division yields NaN/Infinity (never NULL), and NaN
    sorts GREATER than every value in Spark, so an unguarded 0/0 would
    put zero vectors at the top of every descending top-k. NULL sorts
    last under ``DESC`` in both Spark and the DuckDB oracle."""
    den = norm(a) * norm(b)
    return F.when(den != 0.0, dot(a, b) / den)


def l2_distance(a: Column | str, b: Column | str) -> Column:
    diffs = F.zip_with(as_double_array(a), as_double_array(b), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))

