"""Segment-level C4-style dedup (operators/dedup.py::segment_dedup)
and count-min-sketch heavy hitters (operators/sketches.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators.dedup import boilerplate_strip, segment_dedup
from dask_datapipeline_spark.operators.sketches import cms_counters, cms_heavy_hitters

# --------------------------- segment dedup ---------------------------


@pytest.fixture(scope="module")
def seg_docs(spark):
    # 4-token docs with seg_tokens=2 -> 2 segments each.
    # doc 1: [a b][c d]; doc 2 repeats doc 1's first segment, then own;
    # doc 3 repeats BOTH of doc 1's segments (drops to empty);
    # doc 4 repeats its own first segment internally.
    rows = [
        (1, "a b c d"),
        (2, "a b x y"),
        (3, "a b c d"),
        (4, "p q p q"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_keeps_first_occurrence(spark, seg_docs):
    out = {r.doc_id: r for r in segment_dedup(seg_docs, seg_tokens=2).collect()}
    assert out[1].text_dedup == "a b c d"
    assert out[2].text_dedup == "x y"  # 'a b' first seen in doc 1
    assert out[3].text_dedup == "" and out[3].n_kept == 0
    assert out[4].text_dedup == "p q" and out[4].n_kept == 1  # in-doc repeat
    assert all(r.n_seg_total == 2 for r in out.values())


def test_segment_dedup_order_preserved(spark):
    # surviving segments must reassemble in original order, not hash order
    df = spark.createDataFrame(
        [(1, "z z a a m m"), (2, "q q a a r r")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in segment_dedup(df, seg_tokens=2).collect()}
    assert out[1].text_dedup == "z z a a m m"
    assert out[2].text_dedup == "q q r r"


def test_segment_dedup_partial_tail_segment(spark):
    # 5 tokens at seg_tokens=2 -> segments [a b][c d][e]
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    row = segment_dedup(df, seg_tokens=2).collect()[0]
    assert row.n_seg_total == 3
    assert row.text_dedup == "a b c d e"


def test_segment_dedup_null_text_dropped(spark):
    df = spark.createDataFrame([(1, None), (2, "a b")], "doc_id long, text string")
    rows = segment_dedup(df, seg_tokens=2).collect()
    assert [r.doc_id for r in rows] == [2]


def test_segment_dedup_rejects_bad_width(spark, seg_docs):
    with pytest.raises(ValueError):
        segment_dedup(seg_docs, seg_tokens=0)


# ----------------------- boilerplate strip ---------------------------


def test_boilerplate_strip_removes_cross_doc_segments(spark, seg_docs):
    # 'a b' occurs in docs 1, 2, 3 (df=3 > 1) -> stripped EVERYWHERE;
    # 'c d' occurs in docs 1 and 3 (df=2 > 1) -> stripped everywhere;
    # 'x y' (doc 2 only) and 'p q' (doc 4 only, twice WITHIN the doc,
    # df=1) survive — in-doc repetition is not boilerplate.
    out = {r.doc_id: r for r in boilerplate_strip(seg_docs, seg_tokens=2).collect()}
    assert out[1].text_clean == "" and out[1].n_kept == 0
    assert out[2].text_clean == "x y" and out[2].n_kept == 1
    assert out[3].text_clean == "" and out[3].n_kept == 0
    assert out[4].text_clean == "p q p q" and out[4].n_kept == 2
    assert all(r.n_seg_total == 2 for r in out.values())


def test_boilerplate_strip_max_df_threshold(spark, seg_docs):
    # max_df=2: only segments in MORE than 2 distinct docs go.
    # 'a b' (df=3) stripped; 'c d' (df=2) kept.
    out = {
        r.doc_id: r
        for r in boilerplate_strip(seg_docs, seg_tokens=2, max_df=2).collect()
    }
    assert out[1].text_clean == "c d"
    assert out[2].text_clean == "x y"
    assert out[3].text_clean == "c d"
    assert out[4].text_clean == "p q p q"


def test_boilerplate_strip_order_preserved(spark):
    df = spark.createDataFrame(
        [(1, "k k a a m m"), (2, "q q a a r r")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in boilerplate_strip(df, seg_tokens=2).collect()}
    assert out[1].text_clean == "k k m m"
    assert out[2].text_clean == "q q r r"


def test_boilerplate_strip_null_text_and_shuffled_anti_join(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "a b e f")], "doc_id long, text string"
    )
    rows = boilerplate_strip(df, seg_tokens=2, broadcast_boiler=False).collect()
    out = {r.doc_id: r for r in rows}
    assert sorted(out) == [2, 3]  # null-text doc dropped
    assert out[2].text_clean == "c d"
    assert out[3].text_clean == "e f"


def test_boilerplate_strip_rejects_bad_params(spark, seg_docs):
    with pytest.raises(ValueError):
        boilerplate_strip(seg_docs, seg_tokens=0)
    with pytest.raises(ValueError):
        boilerplate_strip(seg_docs, max_df=0)


# ------------------------- count-min sketch --------------------------


@pytest.fixture(scope="module")
def skewed_keys(spark):
    # key 0: 500 rows; keys 1..50: 10 rows each
    rows = [(0,)] * 500 + [(k,) for k in range(1, 51) for _ in range(10)]
    return spark.createDataFrame(rows, "user_id long")


def test_cms_counters_bounded_and_total(spark, skewed_keys):
    c = cms_counters(skewed_keys, "user_id", depth=4, width=16).collect()
    assert len(c) <= 4 * 16
    # every depth row partitions the full stream: counts sum to N per row
    per_row = {}
    for r in c:
        per_row[r["__d"]] = per_row.get(r["__d"], 0) + r["__cnt"]
    assert set(per_row) == {0, 1, 2, 3}
    assert all(v == 1000 for v in per_row.values())


def test_cms_estimate_is_one_sided(spark, skewed_keys):
    out = cms_heavy_hitters(skewed_keys, "user_id", depth=4, width=16, top=51).collect()
    assert len(out) == 51
    assert all(r.overcount >= 0 for r in out)  # CMS never underestimates
    assert all(r.cms_est == r.exact_count + r.overcount for r in out)


def test_cms_heavy_hitter_surfaces_first(spark, skewed_keys):
    top = cms_heavy_hitters(skewed_keys, "user_id", depth=4, width=16, top=1).collect()
    assert top[0].user_id == 0 and top[0].exact_count == 500


def test_cms_rejects_bad_shape(spark, skewed_keys):
    with pytest.raises(ValueError):
        cms_heavy_hitters(skewed_keys, "user_id", depth=0)


# ------------------------ bloom semi-join ----------------------------


from dask_datapipeline_spark.operators.bloom import bloom_bits, bloom_semi_join


@pytest.fixture(scope="module")
def bloom_tables(spark):
    fact = spark.createDataFrame(
        [(i, i % 100) for i in range(1000)] + [(1000, None)],
        "row_id long, key long",
    )
    dim = spark.createDataFrame([(k,) for k in range(0, 100, 10)], "key long")
    return fact, dim


def test_bloom_pass_is_superset_of_semi_join(spark, bloom_tables):
    fact, dim = bloom_tables
    passed = {r.row_id for r in bloom_semi_join(fact, dim, "key", "key").collect()}
    exact = {
        r.row_id
        for r in fact.join(dim, on="key", how="left_semi").collect()
    }
    assert exact <= passed  # bloom never drops a true match


def test_bloom_null_keys_never_pass(spark, bloom_tables):
    fact, dim = bloom_tables
    passed = bloom_semi_join(fact, dim, "key", "key").collect()
    assert all(r.key is not None for r in passed)


def test_bloom_tiny_filter_has_false_positives_but_no_negatives(spark, bloom_tables):
    fact, dim = bloom_tables
    # m=64 with 10 keys * 4 hashes -> heavily saturated: FPs certain
    passed = {r.key for r in bloom_semi_join(fact, dim, "key", "key", m_bits=64).collect()}
    members = {r.key for r in dim.collect()}
    assert members <= passed
    assert passed - members  # saturation must show the one-sided error


def test_bloom_bits_bounded(spark, bloom_tables):
    _, dim = bloom_tables
    assert bloom_bits(dim, "key", m_bits=256, k_hashes=4).count() <= 256


def test_bloom_rejects_bad_m(spark, bloom_tables):
    fact, dim = bloom_tables
    with pytest.raises(ValueError):
        bloom_semi_join(fact, dim, "key", "key", m_bits=100)


# ------------------------- leakage-safe split ------------------------


def test_leakage_safe_split_never_straddles_clusters(spark):
    """The contamination property itself: every near-dup pair lands in
    ONE split (a doc-keyed split leaves this channel open)."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    out = EXTRA_CATALOG["leakage_safe_split"].fn(spark, "/root/testdata/sf0.001")
    per_cluster = out.groupBy("cluster_id").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_cluster.where(F.col("n_splits") > 1).count() == 0
    # and all three splits actually occur
    assert {r.split for r in out.select("split").distinct().collect()} == {
        "train", "valid", "test",
    }

