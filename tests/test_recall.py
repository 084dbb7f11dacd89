"""Measured recall gate for the ANN family.

Every approximate path (SRP-LSH near-dup and k-NN, SemDeDup) is
scored against EXACT brute-force top-k / all-pairs computed in-process from
the same embeddings — so a tuning change that silently craters recall
fails here, with a number. The full curve lives in docs/SCALE.md
§Similarity (regenerate with tools/measure_recall.py).

Floors sit ~0.1 below the values measured at sf0.01 (500 vectors,
64 queries, fixed seeds — the runs are deterministic; the slack is
for driver-regenerated testdata, not for run-to-run noise):

- near-dup LSH pairs, threshold 0.4, bits=4: nt=4/8/16 →
  0.678/0.814/0.915, monotone in num_tables
- knn_join_lsh recall@5: nt=8/bits=4 → 0.738; catalog (6,6) → 0.434
  — LSH is a near-dup detector first, a k-NN ranker only with enough
  tables
- SemDeDup dup recall, 16 lowest-id cells: 0.208
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators import similarity as S
from dask_datapipeline_spark.sources.readers import load_testdata

SF_DIR = "/root/testdata/sf0.01"
N_Q = 64


@pytest.fixture(scope="module")
def corpus(spark):
    emb = load_testdata(spark, SF_DIR, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    o = np.argsort(ids)
    return emb, ids[o], mat[o]


def _truth(ids: np.ndarray, mat: np.ndarray, k: int, metric: str) -> dict[int, set]:
    q = mat[:N_Q]
    if metric == "cos":
        score = (q @ mat.T) / (
            np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(mat, axis=1)[None, :]
        )
        score = -score  # lexsort ascending
    else:  # squared L2
        score = (q**2).sum(1)[:, None] - 2 * (q @ mat.T) + (mat**2).sum(1)[None, :]
    return {
        int(ids[i]): set(ids[np.lexsort((ids, score[i]))[:k]].tolist())
        for i in range(N_Q)
    }


def _knn_recall(df, truth: dict[int, set], k: int) -> float:
    got: dict[int, set] = {}
    for r in df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    return float(np.mean([len(got.get(q, set()) & t) / k for q, t in truth.items()]))


def _queries(emb):
    return emb.filter(F.col("vec_id") < N_Q)


def test_lsh_near_dup_recall_curve(corpus):
    """Pair recall of the LSH self-join vs exact all-pairs at the
    catalog threshold: floor at the catalog setting, near-total at
    2x the tables, monotone in num_tables."""
    emb, _, _ = corpus
    exact = {(r.id_a, r.id_b) for r in S.cosine_all_pairs_exact(emb, 0.4).collect()}
    assert len(exact) > 10  # corpus plants similar pairs

    def rec(nt):
        lsh = {
            (r.id_a, r.id_b)
            for r in S.embedding_near_dup_pairs(
                emb, threshold=0.4, num_tables=nt, bits_per_table=4
            ).collect()
        }
        return len(lsh & exact) / len(exact)

    r4, r8, r16 = rec(4), rec(8), rec(16)
    assert r8 >= 0.6  # measured 0.814
    assert r16 >= 0.85  # measured 0.915
    assert r4 <= r8 <= r16


def test_knn_lsh_recall(corpus):
    """k-NN recall@5 of the LSH join: floor at a strong setting and
    a sanity floor at the catalog's oracle-replayable setting."""
    emb, ids, mat = corpus
    truth = _truth(ids, mat, 5, "cos")
    strong = _knn_recall(
        S.knn_join_lsh(_queries(emb), emb, k=5, num_tables=8, bits_per_table=4),
        truth,
        5,
    )
    catalog = _knn_recall(
        S.knn_join_lsh(_queries(emb), emb, k=5, num_tables=6, bits_per_table=6),
        truth,
        5,
    )
    assert strong >= 0.65  # measured 0.738
    assert catalog >= 0.3  # measured 0.434


def _exact_dup_truth(ids: np.ndarray, mat: np.ndarray, threshold: float) -> set:
    """A vector is a semantic dup iff SOME lower-id vector (anywhere,
    not just its cell) has cosine >= threshold with it — the all-pairs
    definition SemDeDup approximates."""
    n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = n @ n.T
    out = set()
    for a in range(len(ids)):
        lower = sims[a, :a]
        if lower.size and (lower >= threshold).any():
            out.add(int(ids[a]))
    return out


def test_semantic_dedup_recall(corpus):
    """SemDeDup recall vs the exact all-pairs dup definition at the
    catalog threshold (0.4, 16 cells): the within-cell-only verify
    trades recall for the Σ|cell|² bound (measured 0.208 at sf0.01).
    Precision is structural: every flagged vector was verified by
    EXACT cosine against a real lower-id cell-mate, so a false
    positive is a bug, not noise."""
    emb, ids, mat = corpus
    exact = _exact_dup_truth(ids, mat, 0.4)
    assert len(exact) > 10

    res = {
        r[0]: r["is_dup"]
        for r in S.semantic_dedup(emb, threshold=0.4, n_cells=16).collect()
    }
    base = {i for i, d in res.items() if d}
    assert not base - exact  # structural precision = 1.0
    assert len(base & exact) / len(exact) >= 0.10  # measured 0.208


def test_sparse_near_dup_recall_and_candidate_volume(corpus):
    """The sparse-regime catalog config (16 tables x 8 bits, threshold
    0.45, bucket_cap) must (a) keep pair recall above a floor
    (measured 0.571 at sf0.01) with structural precision 1.0, and
    (b) actually BE sparse: the scored candidate volume — Σ per-cell
    C(n,2) from the occupancy metric — stays under 12% of all pairs
    (measured 7.3%), vs ~40% for a dense 8x4/0.4 config. (b)
    is the 100 TB claim; a tuning change that silently re-densifies
    the join fails here with a number."""
    emb, ids, mat = corpus
    n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = n @ n.T
    exact = {
        (int(ids[b]), int(ids[a]))
        for a in range(len(ids))
        for b in range(a)
        if sims[a, b] >= 0.45
    }
    assert len(exact) >= 5
    got = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(
            emb,
            threshold=0.45,
            bits_per_table=8,
            num_tables=16,
            bucket_cap=64,
        ).collect()
    }
    assert not got - exact  # exact-cosine verify: no false positives
    assert len(got & exact) / len(exact) >= 0.40  # measured 0.571

    scored = (
        S.lsh_bucket_occupancy(emb, bits_per_table=8, num_tables=16)
        .agg(F.sum("n_pairs"))
        .collect()[0][0]
    )
    total = len(ids) * (len(ids) - 1) / 2
    assert scored / total <= 0.12  # measured 0.073


def test_bucket_cap_drops_hot_buckets(spark):
    """The skew guard: plant a degenerate corpus where 90% of vectors
    share one direction (one hot bucket per table) and assert the cap
    excludes those cells — the remaining candidate set loses the hot
    pairs while distinct-direction pairs survive."""
    import pandas as pd

    n_hot, n_cold = 45, 5
    rows = []
    for i in range(n_hot):
        v = [1.0] * 8 + [0.0] * 56
        rows.append((i, v))
    rng = np.random.default_rng(7)
    for i in range(n_cold):
        v = rng.standard_normal(64).tolist()
        rows.append((n_hot + i, v))
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    )
    uncapped = S.embedding_near_dup_pairs(
        df, threshold=0.99, bits_per_table=8, num_tables=4
    )
    capped = S.embedding_near_dup_pairs(
        df, threshold=0.99, bits_per_table=8, num_tables=4, bucket_cap=16
    )
    # identical hot vectors: C(45,2)=990 pairs at cosine 1.0 uncapped
    assert uncapped.count() == n_hot * (n_hot - 1) // 2
    # every hot cell holds 45 > 16 rows, so the guard removes them all
    assert capped.count() == 0


def test_image_near_dup_banding_is_exact_and_finds_planted(spark):
    """Perceptual image near-dup: the 4x16-bit pigeonhole banding join
    must return EXACTLY the all-pairs Hamming<=3 set over the same
    aHashes (recall 1.0 AND precision 1.0 — banding is deterministic,
    not probabilistic LSH), and the planted brightness-variant groups
    must actually be caught (the corpus-design guarantee the catalog
    row relies on for non-vacuity)."""
    from dask_datapipeline_spark.multimodal.binary import (
        image_ahash,
        image_near_dup_pairs,
        synthetic_image_variants,
    )

    n_groups, variants, max_h = 48, 4, 3
    media = synthetic_image_variants(spark, n_groups=n_groups, variants=variants)
    hashes = {
        r["media_id"]: (r["ahash_hi"] << 32) | r["ahash_lo"]
        for r in image_ahash(media).collect()
    }
    assert len(hashes) == n_groups * variants

    exact = set()
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(hashes[a] ^ hashes[b]).count("1") <= max_h:
                exact.add((a, b))

    banded = {
        (r["id_a"], r["id_b"])
        for r in image_near_dup_pairs(media, max_hamming=max_h).collect()
    }
    assert banded == exact  # perfect recall AND precision

    same_group = {(a, b) for a, b in exact if a // variants == b // variants}
    planted = n_groups * variants * (variants - 1) // 2
    assert len(same_group) / planted >= 0.9  # brightness variants are near-dups
    assert len(exact) > len(same_group)  # plus genuine cross-group collisions


def test_image_ahash_rejects_tiny_images(spark):
    """Sub-8x8 images would emit degenerate all-zero grids — the
    operator must refuse, not silently cluster every thumbnail."""
    import pandas as pd

    from dask_datapipeline_spark.multimodal.binary import encode_bmp, image_ahash

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0],
                "payload": [encode_bmp(px)],
                "meta": [{"kind": "image", "width": 4, "height": 4, "duration_ms": 0}],
            }
        )
    )
    with pytest.raises(Exception, match="8x8"):
        image_ahash(df).collect()


def test_audio_near_dup_banding_is_exact_and_finds_planted(spark):
    """Audio twin of the image pin: banded pairs == exact all-pairs
    Hamming<=3 over the same fingerprints (recall AND precision 1.0),
    and every planted DC-offset variant pair is caught."""
    from dask_datapipeline_spark.multimodal.binary import (
        audio_fingerprint,
        audio_near_dup_pairs,
        synthetic_audio_variants,
    )

    n_groups, variants, max_h = 48, 4, 3
    media = synthetic_audio_variants(spark, n_groups=n_groups, variants=variants)
    hashes = {
        r["media_id"]: (r["afp_hi"] << 32) | r["afp_lo"]
        for r in audio_fingerprint(media).collect()
    }
    assert len(hashes) == n_groups * variants

    ids = sorted(hashes)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= max_h
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in audio_near_dup_pairs(media, max_hamming=max_h).collect()
    }
    assert banded == exact

    same_group = {(a, b) for a, b in exact if a // variants == b // variants}
    assert len(same_group) == n_groups * variants * (variants - 1) // 2  # all planted


def test_video_near_dup_banding_is_exact_and_finds_planted(spark):
    """Video twin of the image/audio pins: banded pairs == exact
    all-pairs Hamming<=3 over the same clip fingerprints, planted
    color-shift variants mostly caught (tiny 8-15px frames collide
    more than images, so the floor is 0.9, not 1.0)."""
    from dask_datapipeline_spark.multimodal.binary import (
        synthetic_video_variants,
        video_fingerprint,
        video_near_dup_pairs,
    )

    n_groups, variants, max_h = 48, 4, 3
    media = synthetic_video_variants(spark, n_groups=n_groups, variants=variants)
    hashes = {
        r["media_id"]: (r["vfp_hi"] << 32) | r["vfp_lo"]
        for r in video_fingerprint(media).collect()
    }
    assert len(hashes) == n_groups * variants

    ids = sorted(hashes)
    exact = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(hashes[a] ^ hashes[b]).count("1") <= max_h
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in video_near_dup_pairs(media, max_hamming=max_h).collect()
    }
    assert banded == exact

    same_group = {(a, b) for a, b in exact if a // variants == b // variants}
    planted = n_groups * variants * (variants - 1) // 2
    assert len(same_group) / planted >= 0.9
