"""Round-3 operators: hashed linear classifier
(operators/classifier.py), n-gram novelty (operators/dedup.py),
token-balanced global sharding (operators/packing.py)."""

from __future__ import annotations

import hashlib

import pytest

from dask_datapipeline_spark.operators.classifier import hashed_linear_score
from dask_datapipeline_spark.operators.dedup import ngram_novelty
from dask_datapipeline_spark.operators.packing import shard_by_tokens


def _h60(s: str, seed: str) -> int:
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


def _weight(tok: str, seed: str = "qw", scale: int = 1000) -> int:
    return _h60(tok, seed) % (2 * scale + 1) - scale


# -------------------- hashed linear classifier ----------------------


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),  # exact dup of 1
        (3, "a completely different sentence about spark engines"),
        (4, "the cat sat on the hat"),  # near dup of 1
        (5, None),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_classifier_matches_python_model(spark, docs):
    out = {r.doc_id: r for r in hashed_linear_score(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 6}  # NULL text dropped
    for doc_id, text in [(1, "the cat sat on the mat"), (6, "")]:
        toks = text.lower().split(" ")
        raw = sum(_weight(t) for t in toks)
        assert out[doc_id].margin_raw == raw
        assert out[doc_id].n_tokens == len(toks)
        assert out[doc_id].margin == raw / (1000 * len(toks))
        assert out[doc_id].keep == (out[doc_id].margin >= 0.0)


def test_classifier_identical_docs_identical_scores(spark, docs):
    out = {r.doc_id: r for r in hashed_linear_score(docs, "doc_id", "text").collect()}
    assert out[1].margin == out[2].margin
    assert out[1].margin_raw == out[2].margin_raw


def test_classifier_partitioning_independent(spark, docs):
    a = sorted(map(tuple, hashed_linear_score(docs, "doc_id", "text").collect()))
    b = sorted(
        map(tuple, hashed_linear_score(docs.repartition(7), "doc_id", "text").collect())
    )
    assert a == b


def test_classifier_rejects_bad_args(spark, docs):
    with pytest.raises(ValueError):
        hashed_linear_score(docs, "doc_id", "text", scale=0)
    with pytest.raises(KeyError):
        hashed_linear_score(docs, "doc_id", "nope")


# ------------------------- n-gram novelty ---------------------------


def test_novelty_exact_dup_is_fully_copied(spark, docs):
    out = {r.doc_id: r for r in ngram_novelty(docs, "doc_id", "text", 3).collect()}
    # docs 1 and 2 are identical -> every shingle has df >= 2
    assert out[1].copied_frac == 1.0 and out[2].copied_frac == 1.0
    # doc 3 shares nothing -> fully novel
    assert out[3].copied_frac == 0.0
    # doc 4 shares a prefix with 1/2 but not the last shingles
    assert 0.0 < out[4].copied_frac < 1.0
    # NULL/empty-text docs have no shingles -> absent
    assert 5 not in out and 6 not in out


def test_novelty_counts_match_python_model(spark, docs):
    def sh3(text):
        toks = text.lower().split(" ")
        return {
            " ".join(toks[i : i + 3])
            for i in range(len(toks) - 2)
            if " ".join(toks[i : i + 3])
        }

    corpus = {i: sh3(t) for i, t in [(1, "the cat sat on the mat"),
                                     (2, "the cat sat on the mat"),
                                     (3, "a completely different sentence about spark engines"),
                                     (4, "the cat sat on the hat")]}
    out = {r.doc_id: r for r in ngram_novelty(docs, "doc_id", "text", 3).collect()}
    for i, mine in corpus.items():
        others = set().union(*(v for j, v in corpus.items() if j != i))
        copied = len(mine & others)
        assert out[i].n_shingles == len(mine)
        assert out[i].n_copied == copied


def test_novelty_within_doc_repeat_is_not_copied(spark):
    # a shingle repeated inside ONE doc must not self-mark as copied
    df = spark.createDataFrame(
        [(1, "x y z q x y z q x y z")], "doc_id long, text string"
    )
    out = ngram_novelty(df, "doc_id", "text", 3).collect()[0]
    assert out.n_copied == 0 and out.copied_frac == 0.0


# --------------------- token-balanced sharding ----------------------


@pytest.fixture(scope="module")
def token_rows(spark):
    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]
    return spark.createDataFrame(rows, "doc_id long, n_tok long")


def test_shards_match_single_window_model(spark, token_rows):
    out = {r.doc_id: r for r in
           shard_by_tokens(token_rows, "doc_id", "n_tok", 500).collect()}
    rows = [(i, 10 + (i * 7) % 90) for i in range(300)]
    order = sorted(rows, key=lambda r: (_h60(str(r[0]), "shard"), r[0]))
    cum = 0
    for doc_id, n in order:
        assert out[doc_id].stream_offset == cum
        assert out[doc_id].shard_id == cum // 500
        assert out[doc_id].n_tokens == n
        cum += n


def test_shards_partitioning_independent(spark, token_rows):
    a = sorted(map(tuple, shard_by_tokens(token_rows, "doc_id", "n_tok", 500).collect()))
    b = sorted(
        map(
            tuple,
            shard_by_tokens(
                token_rows.repartition(13), "doc_id", "n_tok", 500
            ).collect(),
        )
    )
    assert a == b


def test_shards_are_token_balanced(spark, token_rows):
    # every shard except the last holds >= shard_tokens - max_doc tokens
    rows = shard_by_tokens(token_rows, "doc_id", "n_tok", 500).collect()
    per_shard = {}
    for r in rows:
        per_shard[r.shard_id] = per_shard.get(r.shard_id, 0) + r.n_tokens
    last = max(per_shard)
    for s, tot in per_shard.items():
        if s != last:
            # a doc starting in shard s may spill over; fill is at least
            # shard_tokens - (max doc size - 1)
            assert tot >= 500 - 99
    assert set(per_shard) == set(range(last + 1))


def test_shards_rejects_bad_args(spark, token_rows):
    with pytest.raises(ValueError):
        shard_by_tokens(token_rows, "doc_id", "n_tok", 0)


# ------------------- trained classifier path ------------------------


@pytest.fixture(scope="module")
def labeled_docs(spark):
    # "spammy" docs repeat the token 'buy'; clean docs don't use it
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, f"buy now buy cheap buy offer{i % 5}", False))
        else:
            rows.append((i, f"a thoughtful essay about topic{i % 7} and ideas", True))
    return spark.createDataFrame(rows, "doc_id long, text string, label boolean")


def test_trained_classifier_separates_labels(spark, labeled_docs):
    from dask_datapipeline_spark.operators.classifier import (
        hashed_linear_score_trained,
        train_hashed_linear,
    )

    w = train_hashed_linear(labeled_docs, "doc_id", "text", "label")
    scored = hashed_linear_score_trained(labeled_docs, "doc_id", "text", w)
    got = {r.doc_id: r.keep for r in scored.collect()}
    want = {i: i % 2 == 1 for i in range(40)}
    # averaged perceptron on a linearly separable corpus: full recall
    assert got == want


def test_trained_beats_untrained_on_labels(spark, labeled_docs):
    from dask_datapipeline_spark.operators.classifier import (
        hashed_linear_score,
        hashed_linear_score_trained,
        train_hashed_linear,
    )

    labels = {i: i % 2 == 1 for i in range(40)}

    def acc(rows):
        return sum(1 for r in rows if r.keep == labels[r.doc_id]) / len(labels)

    untrained = acc(hashed_linear_score(labeled_docs, "doc_id", "text").collect())
    w = train_hashed_linear(labeled_docs, "doc_id", "text", "label")
    trained = acc(
        hashed_linear_score_trained(labeled_docs, "doc_id", "text", w).collect()
    )
    assert trained == 1.0 and trained > untrained


def test_trained_weights_deterministic_and_partition_independent(spark, labeled_docs):
    from dask_datapipeline_spark.operators.classifier import train_hashed_linear

    w1 = train_hashed_linear(labeled_docs, "doc_id", "text", "label")
    w2 = train_hashed_linear(labeled_docs.repartition(11), "doc_id", "text", "label")
    assert w1 == w2 and any(v != 0 for v in w1.values())


def test_trained_margin_matches_python_model(spark, labeled_docs):
    from dask_datapipeline_spark.operators.classifier import (
        _hash_bucket,
        hashed_linear_score_trained,
        train_hashed_linear,
    )

    w = train_hashed_linear(labeled_docs, "doc_id", "text", "label")
    bias = w.get(-1, 0)
    got = {
        r.doc_id: r
        for r in hashed_linear_score_trained(
            labeled_docs, "doc_id", "text", w
        ).collect()
    }
    for i in [0, 1, 2, 3]:
        text = (
            f"buy now buy cheap buy offer{i % 5}"
            if i % 2 == 0
            else f"a thoughtful essay about topic{i % 7} and ideas"
        )
        toks = text.lower().split(" ")
        raw = bias * len(toks) + sum(
            w.get(_hash_bucket(t, 1 << 18, "qw"), 0) for t in toks
        )
        assert got[i].margin_raw == raw
        assert got[i].margin == raw / (1000 * len(toks))


def test_shards_exclude_null_ids_and_null_token_counts(spark):
    """NULL id or NULL token count is out of contract (the id cannot
    be hashed into the stream order; the count is the final tie-break
    key and Spark/DuckDB default NULL ordering differs) — both are
    excluded up front, and the surviving stream is identical to one
    that never contained them."""
    rows = [(0, 10), (None, 10), (1, None), (2, 20), (None, None), (3, 30)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    clean = spark.createDataFrame([(0, 10), (2, 20), (3, 30)], "doc_id long, n_tok long")
    got = sorted(map(tuple, shard_by_tokens(df, "doc_id", "n_tok", 25).collect()))
    want = sorted(map(tuple, shard_by_tokens(clean, "doc_id", "n_tok", 25).collect()))
    assert got == want
    assert {r[0] for r in got} == {0, 2, 3}
