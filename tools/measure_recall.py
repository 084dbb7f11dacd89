"""Measure recall of every approximate similarity path (SRP-LSH k-NN,
SRP-LSH near-dup pairs, SemDeDup) against exact brute force, at a
given scale factor (default sf0.01).

Ground truth is computed in-process from the collected embeddings
(exact cosine top-k, exact all-pairs cosine). Prints one markdown table (pasted into docs/SCALE.md
§Similarity) plus a JSON line for scripting.

Usage: python3 tools/measure_recall.py [sf_dir] [n_queries] [k]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dask_datapipeline_spark.operators import similarity as S  # noqa: E402
from dask_datapipeline_spark.session import get_spark  # noqa: E402
from dask_datapipeline_spark.sources.readers import load_testdata  # noqa: E402


def exact_topk(ids: np.ndarray, score: np.ndarray, k: int) -> list[set]:
    """Per-query exact top-k id sets under (score desc, id asc) total
    order."""
    out = []
    for qi in range(score.shape[0]):
        perm = np.lexsort((ids, -score[qi]))[:k]
        out.append(set(ids[perm].tolist()))
    return out


def recall_of(df, truth: dict[int, set], k: int) -> float:
    got: dict[int, set] = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    return float(
        np.mean([len(got.get(q, set()) & t) / k for q, t in truth.items()])
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    spark = get_spark("recall")
    emb = load_testdata(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    q_ids = ids[:n_q]
    q_mat = mat[:n_q]
    queries = emb.filter(F.col("vec_id") < int(q_ids.max()) + 1)

    norms = np.linalg.norm(mat, axis=1)
    cos = (q_mat @ mat.T) / (np.linalg.norm(q_mat, axis=1)[:, None] * norms[None, :])
    cos_truth = dict(zip(q_ids.tolist(), exact_topk(ids, cos, k)))

    runs: list[tuple[str, float]] = []

    for nt in (2, 4, 8):
        r = recall_of(
            S.knn_join_lsh(queries, emb, k=k, num_tables=nt), cos_truth, k
        )
        runs.append((f"LSH num_tables={nt} bits=8", r))

    # pair-recall of the near-dup configs (dense vs sparse) and
    # SemDeDup, against exact all-pairs / all-pairs dup truth
    nrm = mat / norms[:, None]
    sims = nrm @ nrm.T
    iu = np.triu_indices(len(ids), 1)
    for label, thr, kw in [
        ("near-dup DENSE 8x4 thr=0.4", 0.4, dict(bits_per_table=4, num_tables=8)),
        ("near-dup SPARSE 16x8 thr=0.45 cap=64", 0.45,
         dict(bits_per_table=8, num_tables=16, bucket_cap=64)),
    ]:
        exact_pairs = {
            (int(ids[iu[0][p]]), int(ids[iu[1][p]]))
            for p in range(len(iu[0]))
            if sims[iu[0][p], iu[1][p]] >= thr
        }
        got = {
            (r.id_a, r.id_b)
            for r in S.embedding_near_dup_pairs(emb, threshold=thr, **kw).collect()
        }
        rec = len(got & exact_pairs) / max(len(exact_pairs), 1)
        runs.append((f"{label} (pair recall, {len(exact_pairs)} true pairs)", rec))
    exact_dup = set()
    for a in range(len(ids)):
        if a and (sims[a, :a] >= 0.4).any():
            exact_dup.add(int(ids[a]))
    res = {
        r[0]: r["is_dup"]
        for r in S.semantic_dedup(emb, threshold=0.4, n_cells=16).collect()
    }
    flagged = {i for i, dp in res.items() if dp}
    runs.append(
        (
            f"SemDeDup 16 cells thr=0.4 (dup recall, {len(exact_dup)} true dups)",
            len(flagged & exact_dup) / max(len(exact_dup), 1),
        )
    )

    print(f"| method | recall@{k} ({len(ids)} vectors, {n_q} queries) |")
    print("|---|---|")
    for name, r in runs:
        print(f"| {name} | {r:.3f} |")
    print(json.dumps({"sf_dir": sf_dir, "k": k, "n_queries": n_q,
                      "recall": {n: round(r, 4) for n, r in runs}}))
    spark.stop()


if __name__ == "__main__":
    main()
