"""Tests for the LLM-data-pipeline extension operators: dedup,
similarity, text analysis."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.functions import text as TXT
from dask_datapipeline_spark.operators import dedup as DD
from dask_datapipeline_spark.operators.similarity import (
    cosine_all_pairs_exact,
    cosine_topk,
    knn_join_lsh,
)
from dask_datapipeline_spark.sources.readers import load_testdata


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_testdata(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_testdata(spark, sf_dir, "embeddings")


# ----- dedup ---------------------------------------------------------


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(3, "a b"), (1, "a b"), (2, "c d")], ["doc_id", "text"]
    ).select(TXT.fingerprint("text").alias("fp"), "doc_id")
    out = {r.doc_id: r.n_dups for r in DD.exact_dedup(df, ["fp"], id_col="doc_id").collect()}
    assert out == {1: 2, 2: 1}  # min-id survivor, dup count right


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame([("a  b ",), ("A b",)], ["text"])
    fps = [r.fp for r in df.select(TXT.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_df_cap_drops_hot_shingles_only(spark):
    """cap_document_frequency removes shingles above the df cap and
    nothing else; Jaccard over the capped universe ignores the
    ubiquitous shingle."""
    # docs 1..4 all share the hot shingle 'x x x'; docs 1,2 also share
    # a rare one. With the cap at 3 the hot shingle (df=4) is dropped,
    # so only (1,2) remain similar; uncapped, every pair intersects.
    rows = [
        (1, "a b c x x x"),
        (2, "a b c x x x"),
        (3, "p q r x x x"),
        (4, "s t u x x x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = DD.hashed_shingles(df, "doc_id", "text", 3).distinct()
    uncapped = sh.count()
    capped = DD.cap_document_frequency(sh, 3)
    # exactly the df=4 shingle disappears, from every document
    dropped = sh.subtract(capped)
    assert dropped.select("__h").distinct().count() == 1
    assert dropped.count() == 4
    assert capped.count() == uncapped - 4

    # (3,4) share ONLY the hot shingle: jaccard 1/7 ≈ 0.143 uncapped
    pairs_capped = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_pairs(df, None, threshold=0.1, max_df=3).collect()
    }
    pairs_full = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_pairs(df, None, threshold=0.1).collect()
    }
    assert (1, 2) in pairs_capped
    assert (3, 4) not in pairs_capped  # only the hot shingle linked them
    assert (3, 4) in pairs_full

    with pytest.raises(ValueError):
        DD.cap_document_frequency(sh, 0)


def test_exact_ceil_mul_matches_rational(spark):
    """_exact_ceil_mul == ceil over the threshold's exact binary
    rational for every n — including thresholds whose double sits
    above/below the decimal (0.1, 0.55), where a float ceil can err."""
    import pyspark.sql.functions as F
    from fractions import Fraction

    from dask_datapipeline_spark.operators.dedup import _exact_ceil_mul

    ns = list(range(1, 400))
    df = spark.createDataFrame([(n,) for n in ns], "n int")
    for t in [0.1, 0.2, 0.3, 0.5, 0.55, 0.7, 0.95, 1.0]:
        frac = Fraction(t)
        got = {
            r.n: r.c
            for r in df.select("n", _exact_ceil_mul(F.col("n"), t).alias("c")).collect()
        }
        want = {n: -((-frac.numerator * n) // frac.denominator) for n in ns}
        assert got == want, f"threshold {t}"


def test_jaccard_prefix_filter_awkward_thresholds(spark, docs):
    """The prefix-filtered all-pairs path must equal brute-force
    Python Jaccard at thresholds that are not exactly representable
    as doubles (the ADVICE case: a rounded ceil shortening the
    prefix would silently drop qualifying pairs)."""
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").limit(60).collect()]

    def sh_set(t):
        toks = (t or "").lower().split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))} - {""}

    sets = {i: sh_set(t) for i, t in rows}
    src = docs.limit(60)
    for t in [0.1, 0.55]:
        want = {
            (a, b)
            for a in sets
            for b in sets
            if a < b
            and sets[a] & sets[b]
            and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= t
        }
        got = {
            (r.id_a, r.id_b)
            for r in DD.jaccard_pairs(src, None, threshold=t).collect()
        }
        assert got == want, f"threshold {t}"


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates + verify must find the same >=0.5-Jaccard pairs
    as the exact all-pairs baseline on this corpus (high-similarity
    pairs collide in some band with near-certainty)."""
    exact = {(r.id_a, r.id_b) for r in DD.jaccard_pairs(docs, None, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in DD.near_dup_pairs_minhash(docs, threshold=0.5).collect()}
    assert lsh == exact
    assert len(exact) > 0  # corpus has planted near-dups


def test_simhash_near_dups_close(spark, docs):
    """Near-dup docs (jaccard>=0.5) should have small SimHash Hamming
    distance; random pairs large."""
    pairs = DD.jaccard_pairs(docs, None, threshold=0.5).collect()
    sh = {r.doc_id: (r.simhash_hi << 32) | r.simhash_lo for r in DD.simhash(docs).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    near = [ham(sh[p.id_a], sh[p.id_b]) for p in pairs]
    assert near and max(near) <= 16
    near_set = {(p.id_a, p.id_b) for p in pairs}
    ids = sorted(sh)
    far = [
        ham(sh[ids[i]], sh[ids[i + 25]])
        for i in range(20)
        if (ids[i], ids[i + 25]) not in near_set
    ]
    # dissimilar docs: typically ~32 bits differ; median must clear the
    # near-dup band even if one odd pair is moderately similar
    far.sort()
    assert far[len(far) // 2] > 16


# ----- winnowing (MOSS) ----------------------------------------------


def test_winnow_detection_guarantee(spark):
    """Any shared token run of length >= kgram + window - 1 must yield
    at least one common fingerprint — the MOSS guarantee."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = 4 + 4 - 1
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight nine ten {shared} eleven twelve"),
            (3, "completely different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.winnow_near_dup(df, kgram=4, window=4, min_shared=1, max_df=None).collect()
    assert (1, 2) in {(r.id_a, r.id_b) for r in pairs}
    assert all({r.id_a, r.id_b} != {1, 3} and {r.id_a, r.id_b} != {2, 3} for r in pairs)


def test_winnow_identical_docs_full_containment(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    rows = DD.winnow_near_dup(df, kgram=4, window=4, min_shared=1, max_df=None).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b) == (1, 2) and r.sim == 1.0


def test_winnow_short_docs_emit_nothing(spark):
    # < kgram + window - 1 = 7 tokens -> no complete window -> no rows;
    # must not crash on the descending-sequence trap either
    df = spark.createDataFrame(
        [(1, ""), (2, "a b c"), (3, "a b c d e f")], "doc_id long, text string"
    )
    assert DD.winnow_fingerprints(df, kgram=4, window=4).count() == 0


def test_winnow_density_bounds(spark):
    """Distinct fingerprints per doc: at most one per window, at least
    one per `window` consecutive windows (a single minimum can cover
    at most `window` windows)."""
    text = " ".join(f"tok{i}" for i in range(50))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    k, w = 4, 4
    n_windows = (50 - k + 1) - w + 1
    got = DD.winnow_fingerprints(df, kgram=k, window=w).count()
    assert got <= n_windows
    assert got >= -(-n_windows // w)  # ceil


def test_winnow_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DD.winnow_fingerprints(df, kgram=0)
    with _pytest.raises(ValueError):
        DD.winnow_fingerprints(df, window=0)
    with _pytest.raises(ValueError):
        DD.winnow_near_dup(df, min_shared=0)


# ----- similarity ----------------------------------------------------


def test_cosine_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    want = sorted(((cos(vecs[i], q), -i) for i in vecs), reverse=True)[:5]
    want_ids = [-i for _, i in want]
    got = cosine_topk(emb, q.tolist(), k=5).collect()
    assert [r.vec_id for r in got] == want_ids
    assert all(math.isclose(r.cosine_sim, w[0], rel_tol=1e-9) for r, w in zip(got, want))


def test_knn_lsh_recall(spark, emb):
    """LSH k-NN should recover most of the exact top-5 neighbor sets."""
    queries = emb.filter(F.col("vec_id") < 5)
    approx = knn_join_lsh(queries, emb, k=5, bits_per_table=4, num_tables=12)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    hits = total = 0
    for qid in range(5):
        q = vecs[qid]
        exact = sorted(
            vecs, key=lambda i: (-(vecs[i] @ q) / (np.linalg.norm(vecs[i]) * np.linalg.norm(q)), i)
        )[:5]
        hits += len(set(exact) & approx_sets.get(qid, set()))
        total += 5
    assert hits / total >= 0.7  # md5 planes → deterministic; observed 0.96


def test_embedding_near_dup_symmetric_pairs(spark, emb):
    out = cosine_all_pairs_exact(emb, threshold=0.4).collect()
    assert all(r.id_a < r.id_b for r in out)
    assert all(r.cosine_sim >= 0.4 for r in out)


def _check_semdedup_flags(rows, vecs, threshold):
    """is_dup must equal 'some LOWER-id vector in the SAME cell has
    cosine >= threshold' — checked against the operator's own cell
    assignment, so it validates both codebook paths."""
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r.vec_id)

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    flags = {r.vec_id: r.is_dup for r in rows}
    for members in by_cell.values():
        members.sort()
        for j, vid in enumerate(members):
            want = any(
                cos(vecs[other], vecs[vid]) >= threshold for other in members[:j]
            )
            assert flags[vid] == want, vid


def test_semantic_dedup_flags_match_model(spark, emb):
    from dask_datapipeline_spark.operators.similarity import semantic_dedup

    t = 0.4
    rows = semantic_dedup(emb, threshold=t, n_cells=8).collect()
    data = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in data}
    assert len(rows) == len(vecs)  # every vector flagged, none invented
    # default codebook: assignment must match the numpy argmax model
    # (lowest-8-ids centroids, ties to the lowest centroid id)
    cb_ids = sorted(vecs)[:8]
    for r in rows:
        sims = [
            (vecs[c] @ vecs[r.vec_id])
            / (np.linalg.norm(vecs[c]) * np.linalg.norm(vecs[r.vec_id]))
            for c in cb_ids
        ]
        assert r.cell == cb_ids[int(np.argmax(sims))]
    _check_semdedup_flags(rows, vecs, t)


def test_semantic_dedup_codebook_non_dense_ids(spark, emb):
    """Corpus ids offset by 1000: the codebook is the lowest n_cells
    ids, not `id < n_cells` (which would collect nothing)."""
    from dask_datapipeline_spark.operators.similarity import semantic_dedup

    shifted = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    lowest = sorted(r.vec_id for r in shifted.select("vec_id").collect())[:8]
    rows = semantic_dedup(shifted, threshold=0.4, n_cells=8).collect()
    assert len(rows) == shifted.count()
    assert {r.cell for r in rows} <= set(lowest)

    with pytest.raises(ValueError, match="empty"):
        semantic_dedup(shifted.limit(0), n_cells=8)


# ----- text analysis -------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello world, 42 times!",)], ["text"])
    r = df.select(
        TXT.whitespace_token_count("text").alias("ws"),
        TXT.bpe_ish_token_count("text").alias("bpe"),
    ).collect()[0]
    assert r.ws == 4
    # hello|world|,|42|times|! → 6
    assert r.bpe == 6


def test_lang_id_and_quality_bounds(spark, docs):
    out = docs.select(
        TXT.lang_id("text").alias("pred"), TXT.quality_score("text").alias("q")
    ).collect()
    assert all(r.pred in TXT.LANG_MARKERS for r in out)
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_lang_id_marker_sensitivity(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is in a tree",), ("der hund ist nicht das problem und so",)],
        ["text"],
    )
    out = [r.pred for r in df.select(TXT.lang_id("text").alias("pred")).collect()]
    assert out == ["en", "de"]


def test_simhash_near_dup_recall_vs_bruteforce(spark, docs):
    """Banding must find EXACTLY the brute-force Hamming<=3 pairs
    (pigeonhole: <=3 differing bits cannot touch all 4 chunks)."""
    sims = {r.doc_id: (r.simhash_hi << 32) | r.simhash_lo for r in DD.simhash(docs).collect()}
    ids = sorted(sims)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {(r.id_a, r.id_b) for r in DD.simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert got == want

    with pytest.raises(ValueError):
        DD.simhash_near_dup_pairs(docs, max_hamming=4)


def test_dup_clusters_chain_and_singletons(spark):
    """A 5-node chain (min label must propagate 4 hops), a 2-cycle,
    and isolated singletons."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in DD.dup_clusters(pairs, nodes).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False), 5: (1, False),
        6: (6, True), 7: (7, True), 8: (8, True), 9: (8, False), 10: (10, True),
    }


def test_dup_clusters_shortcut_converges_on_deep_chains(spark):
    """Pointer doubling (shortcut=True) converges in O(log diameter):
    a 40-node chain defeats plain propagation at max_iter=10 but the
    shortcut path finishes — the adversarial-shape insurance; output
    identical to the converged plain run."""
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.dup_clusters(pairs, nodes, max_iter=10)
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in DD.dup_clusters(pairs, nodes, max_iter=10, shortcut=True).collect()
    }
    assert out == {i: (0, i == 0) for i in range(n)}


def test_short_documents_do_not_crash_dedup(spark):
    """Docs with fewer than shingle_n tokens previously killed the job
    (sequence(1,0) is descending → slice(_,0,_) throws)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "a b"), (4, "a b c d e"), (5, "a b c d e")],
        "doc_id long, text string",
    )
    # shingle explode yields nothing for docs 1-3, pairs for 4/5
    pairs = DD.jaccard_pairs(df, None, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(4, 5)}
    sigs = DD.minhash_signatures(df).collect()
    assert {r.doc_id for r in sigs} == {4, 5}
    # simhash drops feature-less docs instead of emitting (0,0) cliques
    sh = DD.simhash(df).collect()
    assert {r.doc_id for r in sh} == {4, 5}
    near = DD.simhash_near_dup_pairs(df, max_hamming=3).collect()
    assert {(r.id_a, r.id_b) for r in near} == {(4, 5)}


def test_lsh_bands_divisibility_guard(spark):
    sigs = spark.createDataFrame([(1,) + (0,) * 16], ["doc_id"] + [f"mh_{i}" for i in range(16)])
    with pytest.raises(ValueError):
        DD.lsh_candidate_pairs(sigs, num_hashes=16, bands=5)


def test_embedding_near_dup_rejects_unknown_keyword(spark, emb):
    from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs

    out = embedding_near_dup_pairs(emb, threshold=0.4).collect()
    assert all(r.id_a < r.id_b and r.cosine_sim >= 0.4 for r in out)
    with pytest.raises(TypeError):
        embedding_near_dup_pairs(emb, num_table=8)  # typo must not be swallowed


def test_fingerprint_strips_non_space_whitespace(spark):
    df = spark.createDataFrame([("foo",), ("foo\n",), ("\tfoo",)], ["text"])
    fps = {r.fp for r in df.select(TXT.fingerprint("text").alias("fp")).collect()}
    assert len(fps) == 1


def test_lang_id_and_cosine_null_inputs(spark):
    from dask_datapipeline_spark.functions.vectors import cosine

    df = spark.createDataFrame([(None,)], "text string")
    assert df.select(TXT.lang_id("text").alias("p")).collect()[0].p is None
    vdf = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    # zero vector → NULL, never NaN (NaN would sort above every real match)
    assert vdf.select(cosine("a", "b").alias("c")).collect()[0].c is None


def test_embedding_near_dup_lsh_precision_and_recall(spark, emb):
    """The cataloged LSH near-dup path: perfect precision (candidates
    are exact-cosine verified) and deterministic recall from the
    md5-derived planes — 46/66 = 0.70 on this corpus with the catalog
    parameters (bits=4, tables=8, threshold=0.4)."""
    from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in cosine_all_pairs_exact(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, threshold=0.4, bits_per_table=4, num_tables=8
        ).collect()
    }
    assert lsh <= exact          # no false positives, ever
    assert len(exact) > 0
    assert len(lsh) >= 0.65 * len(exact)


def test_quality_score_null_text_is_null(spark):
    """NULL text must score NULL, not 0.8: least() skips NULL
    arguments in both engines, so an unguarded text-less row would
    outrank genuine short documents through any quality gate."""
    df = spark.createDataFrame([(1, None), (2, "a b c")], "doc_id long, text string")
    rows = {r.doc_id: r.q for r in df.select(
        "doc_id", TXT.quality_score("text").alias("q")).collect()}
    assert rows[1] is None
    assert rows[2] is not None and 0.0 <= rows[2] <= 1.0


# ----- decontamination + repetition -----------------------------------


def test_contamination_vs_bruteforce(spark):
    """contamination must equal the brute-force python model: distinct
    train 3-gram shingles intersected with the union of eval shingles."""
    train_rows = [
        (1, "a b c d e"),          # shares 'a b c'/'b c d' with eval doc 10
        (2, "x y z w q"),          # no overlap
        (3, "a b c d q"),          # partial overlap
        (4, "one two"),            # too short for 3-grams
    ]
    eval_rows = [(10, "a b c d e f"), (11, "zz yy xx")]

    def sh3(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    ev = set().union(*(sh3(t) for _, t in eval_rows))
    expect = {}
    for i, t in train_rows:
        mine = sh3(t)
        shared = len(mine & ev)
        if shared:
            expect[i] = (len(mine), shared, shared / len(mine))

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    edf = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.n_shared, r.share_frac)
        for r in DD.contamination(train, edf).collect()
    }
    assert got == expect


def test_contamination_eval_side_broadcasts(spark):
    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    edf = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    plan = (
        DD.contamination(train, edf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_dup_ngram_fraction(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "a b c d"),       # 3 distinct of 3
            (3, "solo"),          # no bigrams
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", TXT.dup_ngram_fraction("text", 2).alias("f")
        ).collect()
    }
    assert rows[1] == pytest.approx(1 - 2 / 5)
    assert rows[2] == 0.0
    assert rows[3] == 0.0
    assert rows[4] is None


def test_word_ngrams_short_and_empty(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "a"), (3, "")], "i long, t string")
    rows = {r.i: r.g for r in df.select("i", TXT.word_ngrams("t", 2).alias("g")).collect()}
    assert rows[1] == ["a b", "b c"]
    assert rows[2] == []
    assert rows[3] == []


def test_embedding_moments_reconstruct_covariance(spark):
    """The integer moment sums must (a) be independent of
    partitioning, and (b) reconstruct the numpy covariance matrix to
    quantization precision (1e-9 per term)."""
    import numpy as np

    from dask_datapipeline_spark.operators.similarity import embedding_moments
    from dask_datapipeline_spark.sources.readers import load_testdata

    emb = load_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    n, d = mat.shape

    a = sorted(map(tuple, embedding_moments(emb).collect()))
    b = sorted(map(tuple, embedding_moments(emb.repartition(17)).collect()))
    assert a == b  # exact integer sums: partitioning-invariant
    assert len(a) == d * (d + 1) // 2

    got = {(t[0], t[1]): t for t in a}
    cov_np = np.cov(mat, rowvar=False, bias=True)
    for (i, j), t in got.items():
        _, _, n_rows, sx, sy, sxy = t
        assert n_rows == n
        cov = sxy / (n * 1e9) - (sx / (n * 1e9)) * (sy / (n * 1e9))
        # per-term quantization error <= 0.5e-9; means amplify it ~2x
        assert abs(cov - cov_np[i, j]) < 2e-9, (i, j)


def test_pca_project_matches_numpy(spark):
    """pca_project must reproduce numpy PCA on the exact covariance
    (within moment-quantization perturbation) and be bit-identical
    across repeated runs (canonical eigenvector signs)."""
    import numpy as np

    from dask_datapipeline_spark.operators.similarity import pca_project
    from dask_datapipeline_spark.sources.readers import load_testdata

    emb = load_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    o = np.argsort(ids)
    ids, mat = ids[o], mat[o]

    proj_df, comps, ev = pca_project(emb, n_components=4)
    assert comps.shape == (4, mat.shape[1])
    assert list(ev) == sorted(ev, reverse=True)

    cov = np.cov(mat, rowvar=False, bias=True)
    w = np.sort(np.linalg.eigvalsh(cov))[::-1][:4]
    assert np.allclose(ev, w, atol=1e-6)

    # projections: compare |dot| per row against numpy's own PCA
    # (sign conventions differ; magnitudes must match)
    evals, evecs = np.linalg.eigh(cov)
    np_comps = evecs[:, np.argsort(evals)[::-1][:4]].T
    want = (mat - mat.mean(axis=0)) @ np_comps.T
    got = {r[0]: np.asarray(r[1]) for r in proj_df.collect()}
    got_m = np.stack([got[i] for i in ids])
    assert np.allclose(np.abs(got_m), np.abs(want), atol=1e-5)

    # determinism across runs — exact, not approximate
    proj2, comps2, ev2 = pca_project(emb, n_components=4)
    assert np.array_equal(comps, comps2) and np.array_equal(ev, ev2)
    got2 = {r[0]: np.asarray(r[1]) for r in proj2.collect()}
    assert all(np.array_equal(got[i], got2[i]) for i in ids)

    with pytest.raises(ValueError, match="n_components"):
        pca_project(emb, n_components=1000)


def test_compression_quality_matches_python_zlib(spark, docs):
    """Exact pin against the in-process zlib (same library → same
    bytes), plus the signal's separating property: repeated text
    compresses below prose, random-ish hex barely compresses."""
    import zlib

    from dask_datapipeline_spark.operators.classifier import compression_quality

    rows = {r[0]: r for r in compression_quality(docs).collect()}
    src = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect() if r.text is not None}
    assert set(rows) == set(src)
    for i, t in list(src.items())[:50]:
        raw = t.encode("utf-8")
        r = rows[i]
        assert r.raw_len == len(raw)
        assert r.compressed_len == len(zlib.compress(raw, 6))
        assert r.ratio == r.compressed_len / r.raw_len

    import hashlib

    rep = "the same sentence again and again. " * 40
    rnd = "".join(hashlib.sha256(str(k).encode()).hexdigest() for k in range(30))
    df = spark.createDataFrame([(1, rep), (2, rnd)], "doc_id long, text string")
    out = {r.doc_id: r.ratio for r in compression_quality(df).collect()}
    assert out[1] < 0.1 < out[2]

    with pytest.raises(ValueError, match="zlib level"):
        compression_quality(docs, level=17)


def test_pca_whitening_unit_variance(spark):
    """Whitened projections must have (population) variance ~1 per
    component; the returned explained_variance stays RAW."""
    import numpy as np

    from dask_datapipeline_spark.operators.similarity import pca_project
    from dask_datapipeline_spark.sources.readers import load_testdata

    emb = load_testdata(spark, "/root/testdata/sf0.001", "embeddings")
    proj_df, comps, ev = pca_project(emb, n_components=4, whiten=True)
    mat = np.stack([np.asarray(r[1]) for r in proj_df.collect()])
    var = mat.var(axis=0)
    assert np.allclose(var, 1.0, atol=1e-3)
    # raw eigenvalues, not 1.0
    assert (ev > 1e-3).all() and not np.allclose(ev, 1.0)
