"""dup_clusters (operators/dedup.py).

The fused double-relaxation (VERDICT r14 item 6): two relaxations
ride one eager action with two CollectMetrics, so the common
diameter-<=2 graph costs TWO eager actions total (edges checkpoint +
one fused double-round) instead of three. These tests pin
the action count, both convergence-detection branches (sum stable
across actions / stable within an action), and the empty-graph path
(AQE empty-relation propagation prunes the nested CollectMetrics —
the operator must treat the pruned metric as the empty sum, not die).
"""

from __future__ import annotations

import pyspark.sql.classic.dataframe as _df_mod
import pytest

from dask_datapipeline_spark.operators import dedup as DD


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


def _clusters(spark, edges, n_nodes=12):
    pairs = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs = pairs.limit(0)
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    got = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in DD.dup_clusters(pairs, nodes).collect()
    }
    want = _union_find(range(n_nodes), edges)
    assert {k: v[0] for k, v in got.items()} == want
    assert all(canon == (cid == doc) for doc, (cid, canon) in got.items())
    return got


def test_dup_clusters_two_actions_on_shallow_graph(spark, monkeypatch):
    """Diameter-<=2 pair graph = exactly 2 eager localCheckpoint
    actions: the edge materialization and ONE fused double-relaxation
    (propagate + stability proof in the same job)."""
    calls = []
    orig = _df_mod.DataFrame.localCheckpoint

    def counting(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(_df_mod.DataFrame, "localCheckpoint", counting)
    # star + triangle: every node is <=2 hops from its component min
    _clusters(spark, [(0, 5), (0, 6), (0, 7), (1, 2), (2, 3), (1, 3)])
    assert calls == [True, True]


def test_dup_clusters_empty_graph_all_singletons(spark):
    """No near-dup pairs at all: AQE prunes the observed join subtree
    at runtime; the operator must still converge to all-singletons."""
    got = _clusters(spark, [])
    assert all(cid == doc and canon for doc, (cid, canon) in got.items())


@pytest.mark.parametrize("n", [4, 5, 6, 7, 8, 9])
def test_dup_clusters_chains_cover_both_detection_branches(spark, n):
    """Chains of every depth parity: even diameters converge inside a
    fused action (sum_a == sum_b), odd ones across actions
    (sum_a == previous action's sum). Output equals union-find either
    way."""
    _clusters(spark, [(i, i + 1) for i in range(n - 1)])
