"""Round-6 additions and advisor-fix pins: null-safe table_diff keys,
lazy/pre-totaled DSIR, NULL-dim Z-order placement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.sources.readers import load_testdata


# ----- table_diff: NULL keys join null-safely ------------------------


def test_table_diff_null_keys_compare_instead_of_misclassifying(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = spark.createDataFrame(
        [(None, "same"), (1, "a"), (2, "gone")], "k int, v string"
    )
    rev = spark.createDataFrame([(None, "same"), (1, "b")], "k int, v string")
    got = {
        r["k"]: r["diff_status"]
        for r in table_diff(base, rev, ["k"], ["v"]).collect()
    }
    # the NULL key exists on both sides with equal values: it must
    # report 'unchanged', not one 'added' + one 'removed'
    assert got == {None: "unchanged", 1: "changed", 2: "removed"}


def test_table_diff_base_only_null_key_is_removed(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = spark.createDataFrame([(None, "x"), (7, "y")], "k int, v string")
    rev = spark.createDataFrame([(7, "y")], "k int, v string")
    got = {
        r["k"]: r["diff_status"]
        for r in table_diff(base, rev, ["k"], ["v"]).collect()
    }
    assert got == {None: "removed", 7: "unchanged"}


def test_table_diff_null_key_value_change_is_changed(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = spark.createDataFrame([(None, "old")], "k int, v string")
    rev = spark.createDataFrame([(None, "new")], "k int, v string")
    got = [r["diff_status"] for r in table_diff(base, rev, ["k"], ["v"]).collect()]
    assert got == ["changed"]


# ----- DSIR: precomputed totals keep the operator lazy ---------------


def test_dsir_precomputed_totals_match_default_path(spark, sf_dir):
    from dask_datapipeline_spark.operators.dsir import dsir_scores

    docs = load_testdata(spark, sf_dir, "documents")
    target = F.col("doc_id") % 3 == 0
    default = dsir_scores(docs, target)
    rows = {r["doc_id"]: (r["n_tok"], r["logw"], r["keep"]) for r in default.collect()}

    # recompute the exact totals the default path derived
    from dask_datapipeline_spark.operators.dedup import tokens

    toks = (
        docs.where(F.col("text").isNotNull())
        .select((F.col("doc_id") % 3 == 0).alias("t"), F.explode(tokens("text")).alias("tok"))
        .where(F.col("tok") != "")
    )
    tot = toks.agg(
        F.count(F.lit(1)).alias("tr"),
        F.count(F.when(F.col("t"), F.lit(1))).alias("tt"),
    ).collect()[0]
    tn, tt = int(tot["tr"]) - int(tot["tt"]), int(tot["tt"])

    pinned = dsir_scores(docs, target, totals=(tn, tt))
    rows2 = {r["doc_id"]: (r["n_tok"], r["logw"], r["keep"]) for r in pinned.collect()}
    assert rows == rows2


def test_dsir_with_totals_plans_no_eager_action(spark, sf_dir):
    """With totals pinned, building the scoring DataFrame must not run
    any Spark job (the lazy/composable contract the advisor asked
    for): no localCheckpoint, no collect at construction time."""
    from dask_datapipeline_spark.operators.dsir import dsir_scores

    docs = load_testdata(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    sc = spark.sparkContext
    sc.setJobGroup("dsir-lazy-probe", "probe")
    try:
        df = dsir_scores(docs, F.col("doc_id") % 2 == 0, totals=(1000, 500))
        assert df.columns == ["doc_id", "n_tok", "logw", "keep"]
        ran = tracker.getJobIdsForGroup("dsir-lazy-probe")
        assert not ran, f"construction ran Spark jobs: {ran}"
    finally:
        sc.setJobGroup("", "")
    del before


# ----- write_zordered: NULL dimension handling -----------------------


def test_write_zordered_nulls_go_to_low_corner(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_zordered

    df = spark.createDataFrame(
        [(i, i % 10 if i % 7 else None, i * 3) for i in range(1, 200)],
        "id long, a long, b long",
    )
    out = str(tmp_path / "znull")
    write_zordered(df, out, "a", "b", n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == 199  # NULL-dim rows are kept, not dropped
    assert back.where(F.col("a").isNull()).count() == df.where(F.col("a").isNull()).count()


def test_write_zordered_all_null_dim_raises(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_zordered

    df = spark.createDataFrame([(1, None, 5), (2, None, 9)], "id long, a long, b long")
    with pytest.raises(ValueError, match="entirely NULL"):
        write_zordered(df, str(tmp_path / "zall"), "a", "b", n_files=2)


# ----- URL canonicalization ------------------------------------------


def test_canonical_url_steps(spark):
    from dask_datapipeline_spark.functions.urls import canonical_url

    cases = [
        ("  https://WWW.Site.COM/a/b/ ", "https://www.site.com/a/b"),
        ("https://site.com/x#frag", "https://site.com/x"),
        ("https://site.com/x?utm_source=a&utm_medium=b", "https://site.com/x"),
        ("https://site.com/x?ref=home", "https://site.com/x"),
        # non-tracking query SURVIVES verbatim
        ("https://site.com/x?page=2", "https://site.com/x?page=2"),
        # PARAM-LEVEL strip (round 7): tracking params drop wherever
        # they sit; the real params keep their order and their '?'
        ("https://site.com/x?page=2&utm_source=a", "https://site.com/x?page=2"),
        ("https://site.com/x?utm_source=a&page=2", "https://site.com/x?page=2"),
        ("https://site.com/x?a=1&fbclid=z&b=2", "https://site.com/x?a=1&b=2"),
        ("https://site.com/x?utm_a=1&utm_b=2", "https://site.com/x"),
        # '&xref=' is NOT the tracking param 'ref'
        ("https://site.com/x?a=1&xref=2", "https://site.com/x?a=1&xref=2"),
        ("http://A.B/", "http://a.b"),
        # UPPERCASE scheme must canonicalize too (ADVICE r6: the match
        # is (?i), not just the host lowercase)
        ("HTTPS://Site.COM/Path/x", "https://site.com/Path/x"),
        ("HtTp://A.B/q?ref=x", "http://a.b/q"),
        # ALL trailing slashes collapse (round 7: the canonical form is
        # a fixed point — property-pinned in test_round7_ops)
        ("https://site.com/a//", "https://site.com/a"),
        ("https://site.com///", "https://site.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, u string")
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_url_dedup_min_id_survivor(spark):
    from dask_datapipeline_spark.functions.urls import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://a.com/x?utm_source=f"),
            (2, "https://A.COM/x"),
            (3, "https://a.com/x#top"),
            (4, "https://a.com/y"),
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: (r["canonical_url"], r["keep"]) for r in url_dedup(df, "url").collect()}
    assert got[1] == ("https://a.com/x", True)
    assert got[2] == ("https://a.com/x", False)
    assert got[3] == ("https://a.com/x", False)
    assert got[4] == ("https://a.com/y", True)


# ----- hard negative mining ------------------------------------------


def test_hard_negatives_exclude_same_label_and_rank_correctly(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import hard_negative_mining

    emb = load_testdata(spark, sf_dir, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    queries = emb.where(F.col("vec_id") < 8)
    out = hard_negative_mining(
        queries, emb, k=5, bits_per_table=6, num_tables=8
    ).collect()
    assert out
    by_q = {}
    for r in out:
        assert labels[r["query_id"]] != r["neighbor_label"]  # never same label
        assert labels[r["neighbor_id"]] == r["neighbor_label"]
        by_q.setdefault(r["query_id"], []).append((r["rn"], r["cosine_sim"]))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True)  # rn follows similarity
        assert len(rows) <= 5


def test_hard_negatives_recall_vs_exact(spark, sf_dir):
    """With enough tables the LSH negatives must recover most of the
    exact different-label top-5 (floor well under measured, same
    policy as the knn recall gates)."""
    import numpy as np

    from dask_datapipeline_spark.operators.similarity import hard_negative_mining

    emb = load_testdata(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    lab = np.array([r[2] for r in rows])
    o = np.argsort(ids)
    ids, mat, lab = ids[o], mat[o], lab[o]
    norms = np.linalg.norm(mat, axis=1)

    n_q, k = 8, 5
    truth = {}
    for qi in range(n_q):
        sims = (mat[qi] @ mat.T) / (norms[qi] * norms)
        mask = lab != lab[qi]
        order = np.lexsort((ids, -sims))
        truth[int(ids[qi])] = set(
            int(i) for i in ids[order][mask[order]][:k]
        )
    got = {}
    out = hard_negative_mining(
        emb.where(F.col("vec_id") < n_q), emb, k=k,
        bits_per_table=6, num_tables=16,
    ).collect()
    for r in out:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(
        len(got.get(q, set()) & t) / k for q, t in truth.items()
    ) / len(truth)
    assert recall >= 0.5, recall


# ----- media quarantine ----------------------------------------------


def test_media_quarantine_flags_planted_corruption_exactly(spark):
    from dask_datapipeline_spark.multimodal.binary import (
        media_quarantine,
        synthetic_corrupt_media,
    )

    out = {
        r["media_id"]: (r["sniffed_kind"], r["ok"])
        for r in media_quarantine(synthetic_corrupt_media(spark, n=77)).collect()
    }
    assert len(out) == 77
    kinds = ["image", "audio", "video"]
    for mid in range(77):
        kind, ok = out[mid]
        if mid % 11 == 0:
            assert kind is None and not ok  # magic gone: sniff fails
        elif mid % 7 == 0:
            assert kind == kinds[mid % 3] and not ok  # truncated: decode fails
        else:
            assert kind == kinds[mid % 3] and ok
