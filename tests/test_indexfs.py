"""indexfs.IndexFS: the Hadoop-FS maintenance shim (round 12).

The point under test: the ENTIRE incremental-index maintenance triad
(delta adoption, crash recovery, threshold compaction — BM25 and
MinHash) round-trips through an explicit ``file://`` URI, which routes
every filesystem primitive through the JVM Hadoop ``FileSystem`` API —
the exact code path an ``hdfs://``/``s3a://`` index takes. Before the
port this path was LOUDLY REJECTED (``local_maintenance_path``); these
tests prove the former rejection path now works and stays bit-identical
to the plain-path (os/shutil) backend."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.indexfs import IndexFS, _HadoopFS, _LocalFS


def _uri(p) -> str:
    return "file://" + str(p)


def test_backend_dispatch_and_loud_guard(spark):
    assert isinstance(IndexFS.for_path("/tmp/x"), _LocalFS)
    assert isinstance(IndexFS.for_path("file:///tmp/x"), _HadoopFS)
    # unresolvable scheme raises at construction — maintenance must
    # never silently no-op while Spark-side writes succeed
    with pytest.raises(ValueError, match="no Hadoop FileSystem"):
        IndexFS.for_path("notafs://bucket/x", "test")


def test_join_is_scheme_agnostic():
    assert IndexFS.join("file:///a/", "b", "c") == "file:///a/b/c"
    assert IndexFS.join("/a", "delta=1") == "/a/delta=1"


def test_primitives_over_file_uri(spark, tmp_path):
    fs = IndexFS.for_path(_uri(tmp_path), "test")
    a = IndexFS.join(_uri(tmp_path), "a")
    fs.makedirs(IndexFS.join(a, "b"))
    assert fs.isdir(a) and not fs.isdir(IndexFS.join(a, "missing"))
    # atomic overwrite of an existing manifest (the flip path)
    cur = IndexFS.join(a, "_CURRENT")
    fs.write_json_atomic(cur, {"v": 1})
    fs.write_json_atomic(cur, {"v": 2})
    assert fs.read_json(cur) == {"v": 2}
    assert fs.isfile(cur) and not fs.isdir(cur)
    assert fs.listdir(a) == ["_CURRENT", "b"]
    fs.move(IndexFS.join(a, "b"), IndexFS.join(a, "c"))
    assert fs.listdir(a) == ["_CURRENT", "c"]
    with pytest.raises(OSError, match="already exists"):
        fs.move(IndexFS.join(a, "c"), cur)
    fs.rmtree(a)
    assert not fs.isdir(a)
    fs.rmtree(a)  # missing path is a no-op
    # the URI namespace IS the local disk underneath
    assert sorted(os.listdir(tmp_path)) == []


# ----- BM25: delta fold + crash recovery through the Hadoop path -------


def _bm25_delta_index(spark, root: str, n_batches: int = 4) -> None:
    from dask_datapipeline_spark.operators.bm25 import postings_frames

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'dup ' * (i % 4)}gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    for b in range(n_batches):
        p, s = postings_frames(docs.where(F.col("doc_id") % n_batches == b))
        p.write.mode("overwrite").parquet(f"{root}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{root}/stats/delta={b}")


def test_bm25_maintenance_roundtrip_via_file_uri(spark, tmp_path):
    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        maybe_compact_bm25_index,
        recover_bm25_compaction,
    )

    idx = _uri(tmp_path / "idx")
    _bm25_delta_index(spark, idx)
    terms = ["dup", "alpha"]
    want = [
        tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()
    ]
    # pre-commit garbage recovery through the Hadoop path
    os.makedirs(str(tmp_path / "idx" / ".compact" / "postings" / "delta=-1"))
    recover_bm25_compaction(idx)
    assert not os.path.isdir(str(tmp_path / "idx" / ".compact"))
    # the formerly-rejected call: threshold compaction on a file:// URI
    assert maybe_compact_bm25_index(spark, idx, max_deltas=2) is True
    assert os.listdir(str(tmp_path / "idx" / "postings")) == ["delta=-1"]
    got = [
        tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()
    ]
    assert got == want and len(got) > 0


# ----- MinHash: build/append/compact through the Hadoop path -----------

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs today"),
    (4, "sphinx of black quartz judge my vow now ok"),
]
BATCHES = [
    (1, "the quick brown fox jumps over the lazy cat"),
    (3, "entirely new content that matches nothing else at all"),
]


def _mh_flags(spark, path, rows):
    from dask_datapipeline_spark.operators.minhash_index import (
        incremental_near_dup_flags,
    )

    batch = spark.createDataFrame(rows, "doc_id long, text string")
    return sorted(
        (r.doc_id, r.dup_of, r.is_new)
        for r in incremental_near_dup_flags(batch, path).collect()
    )


def test_minhash_index_roundtrip_via_file_uri(spark, tmp_path):
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
        build_minhash_index,
    )

    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    uri = _uri(tmp_path / "mh_uri")
    local = str(tmp_path / "mh_local")
    build_minhash_index(corpus, uri, max_df=256)
    build_minhash_index(corpus, local, max_df=256)
    for tag, row in (("b00000", BATCHES[0]), ("b00001", BATCHES[1])):
        for path in (uri, local):
            append_to_minhash_index(
                spark.createDataFrame([row], "doc_id long, text string"),
                path,
                tag,
            )
    probe = [(5, "the quick brown fox jumps over the lazy cat")]
    assert _mh_flags(spark, uri, probe) == _mh_flags(spark, local, probe)
    # compaction (manifest flip + GC) through the Hadoop path,
    # flags bit-identical, watermark respected
    before = _mh_flags(spark, uri, probe)
    cur = compact_minhash_index(spark, uri, keep_from="b00001")
    assert cur["inc"] == ["b00001"] and cur["bands"] == "bands-v1"
    assert _mh_flags(spark, uri, probe) == before
    assert not os.path.isdir(str(tmp_path / "mh_uri" / "inc" / "b00000"))
    # manifest on disk is the flipped one (written through Hadoop)
    import json

    with open(str(tmp_path / "mh_uri" / "_CURRENT")) as f:
        assert json.load(f) == cur
