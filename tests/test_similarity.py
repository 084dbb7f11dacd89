"""Edge semantics, cache hygiene and plan shape of the SRP-LSH
near-dup path (``operators/similarity.py``), plus the exact binomial
check of the sign-sketch Hamming bound."""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PythonException

from dask_datapipeline_spark.operators import similarity as S

DIM = 64


def _frame(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
        "vec_id long, embedding array<float>",
    )


def _edge_corpus(spark, seed=11):
    """Two all-zero vectors, an identical pair (cosine exactly 1.0,
    Hamming 0) and random fillers that pair with nothing."""
    rng = np.random.default_rng(seed)
    same = rng.standard_normal(DIM).tolist()
    rows = [(10, [0.0] * DIM), (11, [0.0] * DIM), (20, same), (21, same)]
    rows += [(100 + i, rng.standard_normal(DIM).tolist()) for i in range(12)]
    return _frame(spark, rows)


@pytest.mark.parametrize(
    "geometry",
    [{}, {"bits_per_table": 8, "num_tables": 4}],
    ids=["auto", "fixed"],
)
def test_near_dup_zero_vectors_never_pair_identical_vectors_do(spark, geometry):
    """0/0 cosine is NULL, never NaN: Spark evaluates NaN >= t as
    TRUE, so a NaN score would report the all-zero pair. Identical
    vectors score 1.0 and share every bucket and sketch bit."""
    pairs = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in S.embedding_near_dup_pairs(
            _edge_corpus(spark), threshold=0.95, **geometry
        ).collect()
    }
    assert (10, 11) not in pairs
    assert pairs == {(20, 21): pytest.approx(1.0)}


def test_semantic_dedup_zero_vectors_are_not_dups(spark):
    rows = {r.vec_id: r for r in S.semantic_dedup(
        _edge_corpus(spark), threshold=0.95, n_cells=4).collect()}
    assert rows[10].cell == rows[11].cell  # NaN sims: both argmax to one cell
    assert not rows[11].is_dup
    assert rows[21].is_dup and not rows[20].is_dup


@pytest.mark.parametrize(
    "bad",
    [None, [1.0] * (DIM - 1)],
    ids=["null", "ragged"],
)
def test_near_dup_null_or_ragged_embedding_fails_the_job(spark, bad):
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(8)]
    rows.append((8, bad))
    # two failing stages surface as one Py4JJavaError instead
    with pytest.raises((PythonException, Py4JJavaError)) as err:
        S.embedding_near_dup_pairs(
            _frame(spark, rows), threshold=0.9, bits_per_table=8
        ).collect()
    assert "ValueError" in str(err.value)


def test_near_dup_leaves_no_persisted_rdd(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    # a corpus no other test plans, so no earlier cache entry matches
    S.embedding_near_dup_pairs(_edge_corpus(spark, seed=12), threshold=0.95).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_near_dup_plan_hashes_each_vector_once_without_a_cache(spark):
    """The bucket UDF runs in ONE executed ArrowEvalPython: the other
    self-join side reuses its exchange instead of a cached copy."""
    out = S.embedding_near_dup_pairs(_edge_corpus(spark), threshold=0.95)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    # the adaptive plan that ran, without the initial plan printed after it
    plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    evals = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert sum("srp_buckets" in ln for ln in evals) == 1, plan
    assert "ReusedExchange" in plan, plan


def _binomial_tail(n: int, p: Fraction, h: int) -> Fraction:
    """P[Binomial(n, p) > h], exactly."""
    return sum(
        (math.comb(n, k) * p**k * (1 - p) ** (n - k) for k in range(h + 1, n + 1)),
        Fraction(0),
    )


def test_sketch_bound_is_the_minimal_binomial_tail_bound():
    n, rate = S.SKETCH_BITS, S.SKETCH_MISS_RATE
    assert n == 128 and rate == Fraction(1, 10**6)
    bounds = []
    for t in (0.45, 0.8, 0.9, 0.95, 0.99):
        h = S.sketch_hamming_bound(t)
        p = Fraction(math.acos(t) / math.pi)
        assert _binomial_tail(n, p, h) <= rate, t
        assert _binomial_tail(n, p, h - 1) > rate, t
        bounds.append(h)
    assert S.sketch_hamming_bound(0.95) == 32
    assert bounds == sorted(bounds, reverse=True)  # looser as t falls
