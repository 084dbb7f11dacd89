"""Round-11 operator tests: auto-compaction triggers, bloom-filter
pruning tier."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ----- index maintenance policy: auto-compaction triggers --------------


def _delta_index(spark, tmp_path, n_batches=5):
    from dask_datapipeline_spark.operators.bm25 import postings_frames

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'dup ' * (i % 4)}gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    for b in range(n_batches):
        p, s = postings_frames(docs.where(F.col("doc_id") % n_batches == b))
        p.write.mode("overwrite").parquet(f"{idx}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{idx}/stats/delta={b}")
    return idx


def test_bm25_auto_compaction_fires_only_past_threshold(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        maybe_compact_bm25_index,
    )

    idx = _delta_index(spark, tmp_path, n_batches=5)
    terms = ["dup", "alpha"]
    before = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    # under threshold: no-op, layout untouched
    assert maybe_compact_bm25_index(spark, idx, max_deltas=8) is False
    assert len(os.listdir(idx + "/postings")) == 5
    # past threshold: folds to ONE base delta, scores bit-identical
    assert maybe_compact_bm25_index(spark, idx, max_deltas=3) is True
    assert os.listdir(idx + "/postings") == ["delta=-1"]
    assert os.listdir(idx + "/stats") == ["delta=-1"]
    after = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert after == before
    # compacts exactly once: the next call is a no-op
    assert maybe_compact_bm25_index(spark, idx, max_deltas=3) is False
    with pytest.raises(ValueError, match="max_deltas"):
        maybe_compact_bm25_index(spark, idx, max_deltas=0)


def test_bm25_compaction_crash_recovery_both_phases(spark, tmp_path, monkeypatch):
    import os

    import dask_datapipeline_spark.operators.bm25 as bm25

    idx = _delta_index(spark, tmp_path, n_batches=4)
    terms = ["dup", "gamma"]
    want = [tuple(r) for r in bm25.bm25_topk_from_index(spark, idx, terms, k=8).collect()]

    # crash BEFORE the commit marker: work dir is pre-commit garbage —
    # recovery drops it, the live index is untouched
    os.makedirs(idx + "/.compact/postings/delta=-1")
    bm25.recover_bm25_compaction(idx)
    assert not os.path.isdir(idx + "/.compact")
    assert len(os.listdir(idx + "/postings")) == 4
    got = [tuple(r) for r in bm25.bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert got == want

    # crash AFTER the commit marker (phases A+B done, C never ran):
    # recovery must FINISH the compaction, scores bit-identical
    real_finish = bm25._finish_compaction

    def boom(fs, index_dir):
        raise RuntimeError("simulated crash between commit and finish")

    monkeypatch.setattr(bm25, "_finish_compaction", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        bm25.maybe_compact_bm25_index(spark, idx, max_deltas=2)
    monkeypatch.setattr(bm25, "_finish_compaction", real_finish)
    assert os.path.isfile(idx + "/.compact/COMMIT")  # past the commit point
    bm25.recover_bm25_compaction(idx)
    assert os.listdir(idx + "/postings") == ["delta=-1"]
    got = [tuple(r) for r in bm25.bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert got == want


def test_streaming_bm25_sink_auto_compacts(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
    )
    from dask_datapipeline_spark.plans.catalog_llm import _stage_micro_batches
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"spark data {'dup ' * (i % 3)}table {i}") for i in range(40)],
        "doc_id long, text string",
    )
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    _stage_micro_batches(
        [docs.where(F.col("doc_id") % 5 == b) for b in range(5)], staged
    )
    idx = str(tmp_path / "idx")
    stream_incremental_bm25_index(
        spark, staged, idx, "doc_id long, text string",
        checkpoint_dir=str(tmp_path / "ck"),
        compact_max_deltas=2,
    )
    # the policy kept the file count bounded by the threshold
    assert len(os.listdir(idx + "/postings")) <= 3
    full = str(tmp_path / "full")
    build_bm25_index(docs, full)
    terms = ["spark", "dup"]
    got = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=10).collect()]
    want = [tuple(r) for r in bm25_topk_from_index(spark, full, terms, k=10).collect()]
    assert got == want


def _minhash_index_rows(spark, idx):
    """Every live (bands, arrays) row of the index, sorted."""
    from dask_datapipeline_spark.operators.minhash_index import read_minhash_index

    return [sorted(tuple(r) for r in t.collect()) for t in read_minhash_index(spark, idx)[:2]]


def test_minhash_maybe_compact_threshold(spark, tmp_path):
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        maybe_compact_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common words here {i}") for i in range(30)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh")
    build_minhash_index(docs.where(F.col("doc_id") < 10), idx)
    for b in range(3):
        batch = docs.where((F.col("doc_id") >= 10 + b * 5) & (F.col("doc_id") < 15 + b * 5))
        append_to_minhash_index(batch, idx, f"t{b}")
    rows_before = _minhash_index_rows(spark, idx)
    assert maybe_compact_minhash_index(spark, idx, max_increments=5) is False
    assert maybe_compact_minhash_index(spark, idx, max_increments=2) is True
    assert maybe_compact_minhash_index(spark, idx, max_increments=2) is False
    rows_after = _minhash_index_rows(spark, idx)
    assert rows_after == rows_before


# ----- parquet bloom-filter pruning (tier 4) --------------------------


def _scan_output_rows(df) -> int:
    """Rows MATERIALIZED by the parquet scan leaf after row-group
    pruning (stats + dictionary + bloom) — the direct evidence that a
    pushed point filter skipped row groups. Executes the plan."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        it = leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                total += kv._2().value()
    return total


def _shuffled_keys(spark, n=200_000):
    """High-cardinality key in RANDOM row order: every row group's
    min/max spans ~the full key domain, so min-max pruning is USELESS
    and any row-group skip on a point probe is the bloom filter's."""
    return (
        spark.range(n)
        .select(
            F.xxhash64("id").alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(1)
        .sortWithinPartitions(F.expr("xxhash64(v, 7)"))
    )


def test_bloom_filter_prunes_row_groups_minmax_cannot(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_parquet

    df = _shuffled_keys(spark)
    probe = df.limit(1).collect()[0].k
    n_total = 200_000

    bloom_path = str(tmp_path / "bloom")
    plain_path = str(tmp_path / "plain")
    # ~256 KiB row groups -> dozens of groups in one file
    write_parquet(
        df, bloom_path, bloom_cols=["k"], bloom_ndv=200_000,
        row_group_bytes=256 * 1024,
    )
    write_parquet(df, plain_path, row_group_bytes=256 * 1024)

    import pyarrow.parquet as pq
    import glob as _g

    md = pq.ParquetFile(_g.glob(bloom_path + "/*.parquet")[0]).metadata
    assert md.num_row_groups >= 8, "need many row groups to demonstrate pruning"

    q_bloom = spark.read.parquet(bloom_path).filter(F.col("k") == probe)
    q_plain = spark.read.parquet(plain_path).filter(F.col("k") == probe)
    # identical results either way
    assert [r.v for r in q_bloom.collect()] == [r.v for r in q_plain.collect()]

    read_bloom = _scan_output_rows(q_bloom)
    read_plain = _scan_output_rows(q_plain)
    # without blooms every row group survives min-max pruning (shuffled
    # keys) -> full scan; with blooms only the true group (+ rare FP
    # groups) materializes
    assert read_plain == n_total
    assert read_bloom <= n_total // 4, (
        f"bloom scan materialized {read_bloom} rows — no row-group skip"
    )


def test_bloom_filter_absent_key_reads_nothing(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_parquet

    df = _shuffled_keys(spark, n=50_000)
    out = str(tmp_path / "bloom_absent")
    write_parquet(df, out, bloom_cols=["k"], bloom_ndv=50_000,
                  row_group_bytes=256 * 1024)
    # xxhash64(id) never equals 1 for this domain (verified empty result)
    q = spark.read.parquet(out).filter(F.col("k") == F.lit(1).cast("long"))
    assert q.count() == 0
    assert _scan_output_rows(q) <= 50_000 // 4


def test_bloom_filter_validation(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_parquet

    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(KeyError):
        write_parquet(df, str(tmp_path / "x1"), bloom_cols=["nope"])
    with pytest.raises(ValueError, match="bloom_ndv"):
        write_parquet(df, str(tmp_path / "x2"), bloom_cols=["k"], bloom_ndv=0)
    with pytest.raises(ValueError, match="row_group_bytes"):
        write_parquet(df, str(tmp_path / "x3"), row_group_bytes=1024)


def test_bloom_filter_composes_with_partition_by(spark, tmp_path):
    """Tier 1 (directory) + tier 4 (bloom) compose: partitioned write
    with blooms round-trips and a partition+point predicate still
    returns exact rows."""
    from dask_datapipeline_spark.sources.writers import write_parquet

    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("p"),
        F.xxhash64("id").alias("k"),
        F.col("id").alias("v"),
    )
    out = str(tmp_path / "part_bloom")
    write_parquet(df, out, partition_by=["p"], bloom_cols=["k"])
    probe = df.filter(F.col("v") == 7).collect()[0]
    got = (
        spark.read.parquet(out)
        .filter((F.col("p") == probe.p) & (F.col("k") == probe.k))
        .collect()
    )
    assert [r.v for r in got] == [7]


# ----- AQE skew-join splitting ----------------------------------------


# ----- input_ids materialization + fixed-length packing ---------------


def test_hashed_token_ids_matches_md5(spark):
    import hashlib

    from dask_datapipeline_spark.operators.packing import hashed_token_ids

    df = spark.createDataFrame(
        [(0, "Low newest"), (1, None)], "doc_id long, text string"
    )
    rows = hashed_token_ids(df, "doc_id", "text", vocab_size=97, seed="ids").collect()
    assert {r.doc_id for r in rows} == {0}  # NULL text dropped

    def h(t):
        return int(hashlib.md5(f"ids:{t}".encode()).hexdigest()[:15], 16) % 97

    assert rows[0].input_ids == [h("low"), h("newest")]


def test_hashed_token_ids_drops_empty_tokens(spark):
    """Leading/trailing/consecutive spaces split into empty strings —
    those must NOT become phantom vocab ids in packed blocks (the same
    word definition as word_counts/bpe_encode_ids/unigram_encode_ids)."""
    import hashlib

    from dask_datapipeline_spark.operators.packing import hashed_token_ids

    df = spark.createDataFrame(
        [(0, "  low    newest "), (1, "   ")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.input_ids
        for r in hashed_token_ids(df, "doc_id", "text", vocab_size=97).collect()
    }

    def h(t):
        return int(hashlib.md5(f"ids:{t}".encode()).hexdigest()[:15], 16) % 97

    assert rows[0] == [h("low"), h("newest")]
    assert rows[1] == []  # all-space text packs nothing


def _ids_df(spark):
    return spark.createDataFrame(
        [
            ("a", 1, [1, 2, 3]),
            ("a", 2, [4, 5]),
            ("a", 3, [6, 7, 8, 9]),
            ("a", 4, []),          # empty: no tokens, no doc_start
            ("a", 5, [10]),
            ("b", 1, [11, 12]),
            ("b", 2, [13]),
        ],
        "lang string, doc_id long, input_ids array<int>",
    )


def test_pack_input_ids_blocks_and_doc_starts(spark):
    from dask_datapipeline_spark.operators.packing import pack_input_ids

    out = pack_input_ids(_ids_df(spark), "doc_id", "input_ids", 4, "lang")
    got = {(r.lang, r.block_id): r for r in out.collect()}
    # shard a stream: [1,2,3 | 4,5 | 6,7,8,9 | 10] = 10 tokens -> 2 full blocks
    assert got[("a", 0)].input_ids == [1, 2, 3, 4]
    assert got[("a", 0)].doc_starts == [0, 3]        # docs 1 and 2 start here
    assert got[("a", 1)].input_ids == [5, 6, 7, 8]
    assert got[("a", 1)].doc_starts == [1]           # doc 3 starts at pos 1
    # tail [9, 10] dropped; shard b has 3 tokens -> no full block
    assert set(got) == {("a", 0), ("a", 1)}


def test_pack_input_ids_partitioning_independent(spark):
    from dask_datapipeline_spark.operators.packing import pack_input_ids

    a = pack_input_ids(_ids_df(spark), "doc_id", "input_ids", 4, "lang").collect()
    b = pack_input_ids(
        _ids_df(spark).repartition(7), "doc_id", "input_ids", 4, "lang"
    ).collect()
    key = lambda r: (r.lang, r.block_id)  # noqa: E731
    assert sorted(((r.lang, r.block_id, r.input_ids, r.doc_starts) for r in a)) == \
           sorted(((r.lang, r.block_id, r.input_ids, r.doc_starts) for r in b))


def test_pack_input_ids_validation(spark):
    from dask_datapipeline_spark.operators.packing import pack_input_ids

    with pytest.raises(ValueError, match="seq_len"):
        pack_input_ids(_ids_df(spark), "doc_id", "input_ids", 0, "lang")
    with pytest.raises(KeyError):
        pack_input_ids(_ids_df(spark), "doc_id", "nope", 4, "lang")


def test_bpe_encode_ids_roundtrip(spark):
    from dask_datapipeline_spark.operators.bpe import (
        _symbolize,
        bpe_encode_ids,
        bpe_token_count,
        bpe_vocab,
        train_bpe,
    )

    texts = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = train_bpe(df, "text", num_merges=8)
    vocab = bpe_vocab(df, "text", merges)
    # vocab covers the corpus: no UNK anywhere, ids decode back exactly
    enc = {r.doc_id: r.input_ids for r in
           bpe_encode_ids(df, "doc_id", "text", merges, vocab).collect()}
    cnt = {r.doc_id: r.n_bpe_tokens for r in
           bpe_token_count(df, "doc_id", "text", merges).collect()}
    for i, t in enumerate(texts):
        assert len(enc[i]) == cnt[i]
        assert all(x >= 0 for x in enc[i])
        want = []
        for w in t.split(" "):
            want.extend(_symbolize(w, merges))
        assert [vocab[x] for x in enc[i]] == want


def test_bpe_encode_ids_unk_sentinel(spark):
    from dask_datapipeline_spark.operators.bpe import bpe_encode_ids

    train = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    # vocab lacks 'z': unseen char encodes as -1
    test = spark.createDataFrame([(1, "ab zb")], "doc_id long, text string")
    from dask_datapipeline_spark.operators.bpe import bpe_vocab, train_bpe

    merges = train_bpe(train, "text", num_merges=2, min_pair_count=1)
    vocab = bpe_vocab(train, "text", merges)
    row = bpe_encode_ids(test, "doc_id", "text", merges, vocab).collect()[0]
    assert -1 in row.input_ids


def test_bm25_compaction_excludes_inflight_batch_replay_safe(spark, tmp_path):
    """The replay-watermark contract: compacting with exclude_from
    leaves the current batch's delta live, so a crash after compaction
    but before the streaming commit replays the batch as a harmless
    overwrite — scores identical. (Folding the in-flight delta would
    double-count the batch on replay: its rows in the base AND in the
    recreated delta.)"""
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        maybe_compact_bm25_index,
        postings_frames,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'dup ' * (i % 4)}gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")

    def _write_delta(b):
        p, s = postings_frames(docs.where(F.col("doc_id") % 4 == b))
        p.write.mode("overwrite").parquet(f"{idx}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{idx}/stats/delta={b}")

    for b in range(4):
        _write_delta(b)
    terms = ["dup", "alpha"]
    want = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]

    # in-sink call during batch 3: folds ONLY committed deltas 0..2
    assert maybe_compact_bm25_index(spark, idx, max_deltas=2, exclude_from=3) is True
    assert sorted(os.listdir(idx + "/postings")) == ["delta=-1", "delta=3"]

    # crash before the streaming commit -> batch 3 replays (overwrite)
    _write_delta(3)
    got = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert got == want

    # watermark also gates the threshold: nothing older than batch 0
    assert maybe_compact_bm25_index(spark, idx, max_deltas=1, exclude_from=0) is False


def test_minhash_compaction_keep_from_replay_safe(spark, tmp_path):
    """Same watermark contract for the minhash index: keep_from leaves
    the in-flight tag in the manifest, so the replayed append still
    no-ops on the tag-in-manifest check."""
    from dask_datapipeline_spark.operators.minhash_index import (
        _read_state,
        append_to_minhash_index,
        build_minhash_index,
        maybe_compact_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common words here {i}") for i in range(30)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh2")
    build_minhash_index(docs.where(F.col("doc_id") < 10), idx)
    batches = {
        f"t{b}": docs.where(
            (F.col("doc_id") >= 10 + b * 5) & (F.col("doc_id") < 15 + b * 5)
        )
        for b in range(3)
    }
    for tag, batch in batches.items():
        append_to_minhash_index(batch, idx, tag)
    rows_before = _minhash_index_rows(spark, idx)

    # in-sink call during t2: folds t0/t1 only, t2 stays live
    assert maybe_compact_minhash_index(spark, idx, 1, keep_from="t2") is True
    assert _read_state(idx)[1]["inc"] == ["t2"]

    # crash before the streaming commit -> t2 replays; the append must
    # no-op (tag still in the manifest), keeping rows single-counted
    append_to_minhash_index(batches["t2"], idx, "t2")
    rows_after = _minhash_index_rows(spark, idx)
    assert rows_after == rows_before
    # threshold respects the watermark too
    assert maybe_compact_minhash_index(spark, idx, 1, keep_from="t2") is False


def test_wds_rejects_dotted_key_basename(spark):
    """A '.' in the key's basename cannot round-trip the first-dot
    member convention ('a.b' + ext 'txt' parses back as key 'a',
    ext 'b.txt') — the writer rejects it instead of corrupting sample
    grouping silently; a dot in the DIRECTORY part is fine."""
    from dask_datapipeline_spark.sources.webdataset import write_wds_shards

    bad = spark.createDataFrame(
        [(0, "report.v2", "text")], "shard_id long, key string, text string"
    )
    with pytest.raises(Exception, match="first-dot"):
        write_wds_shards(bad).collect()
    ok = spark.createDataFrame(
        [(0, "dir.v2/report", "text")], "shard_id long, key string, text string"
    )
    assert write_wds_shards(ok).count() == 1


def test_bm25_phase_c_replay_never_deletes_new_base(spark, tmp_path):
    """Second-and-later compactions consume the PREVIOUS base — the
    fold destination must be a FRESH name, or a phase-C replay (crash
    between the move-in and the work-dir sweep) rmtree's the base it
    just installed and the index silently loses every folded row."""
    import json
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        maybe_compact_bm25_index,
        postings_frames,
        recover_bm25_compaction,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'dup ' * (i % 4)}gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    for b in range(4):
        p, s = postings_frames(docs.where(F.col("doc_id") % 8 == b))
        p.write.mode("overwrite").parquet(f"{idx}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{idx}/stats/delta={b}")
    terms = ["dup", "alpha"]
    want = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert maybe_compact_bm25_index(spark, idx, max_deltas=2) is True
    assert os.listdir(idx + "/postings") == ["delta=-1"]

    # second round of deltas, second compaction: consumed includes the
    # delta=-1 base, dest must be the fresh delta=-2
    for b in range(4, 7):
        p, s = postings_frames(docs.where(F.col("doc_id") % 8 == b))
        p.write.mode("overwrite").parquet(f"{idx}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{idx}/stats/delta={b}")
    want2 = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert maybe_compact_bm25_index(spark, idx, max_deltas=2) is True
    assert os.listdir(idx + "/postings") == ["delta=-2"]
    got = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert got == want2

    # phase-C replay: crash hit between the move-in and the work-dir
    # sweep — COMMIT persists, consumed dirs already gone, dest already
    # live. Recovery must leave the new base alone.
    work = idx + "/.compact"
    os.makedirs(work + "/postings", exist_ok=True)
    os.makedirs(work + "/stats", exist_ok=True)
    consumed = ["delta=-1"] + [f"delta={b}" for b in range(4, 7)]
    with open(work + "/COMMIT", "w") as f:
        json.dump({"postings": consumed, "stats": consumed, "dest": "delta=-2"}, f)
    recover_bm25_compaction(idx)
    assert not os.path.isdir(work)
    assert os.listdir(idx + "/postings") == ["delta=-2"]
    again = [tuple(r) for r in bm25_topk_from_index(spark, idx, terms, k=8).collect()]
    assert again == want2
    assert want  # first-round scores sanity-used above


# ----- WDS export integrity manifest -----------------------------------


def _wds_docs(spark):
    return spark.createDataFrame(
        [(i % 3, f"{i:05d}", f"text {i}") for i in range(12)],
        "shard_id long, key string, text string",
    )


def test_wds_manifest_reproducible_and_verify_ok(spark):
    from dask_datapipeline_spark.sources.webdataset import (
        verify_wds_export,
        wds_manifest,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_docs(spark))
    m1 = sorted(map(tuple, wds_manifest(shards).collect()))
    # shard bytes are a pure function of content -> an independent
    # re-export (different partitioning) yields the SAME manifest
    m2 = sorted(
        map(tuple, wds_manifest(write_wds_shards(_wds_docs(spark).repartition(7))).collect())
    )
    assert m1 == m2 and len(m1) == 3
    assert all(len(r[3]) == 64 for r in m1)  # hex sha256
    rep = verify_wds_export(shards, wds_manifest(shards))
    assert all(r.ok and r.status == "ok" for r in rep.collect())


def test_wds_verify_flags_corrupt_missing_unexpected(spark):
    from dask_datapipeline_spark.sources.webdataset import (
        verify_wds_export,
        wds_manifest,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_docs(spark))
    manifest = wds_manifest(shards).localCheckpoint(eager=True)

    # corrupt one shard's payload (same length -> only the digest trips)
    def _flip(batch):
        import pandas as pd

        for pdf in batch:
            out = pdf.copy()
            out["payload"] = [
                bytes([p[0] ^ 0xFF]) + bytes(p[1:]) if s == 1 else bytes(p)
                for s, p in zip(out["shard_id"], out["payload"])
            ]
            yield out

    tampered = shards.mapInPandas(
        _flip, "shard_id long, payload binary, n_samples int"
    )
    rep = {r.shard_id: r for r in verify_wds_export(tampered, manifest).collect()}
    assert rep[1].status == "corrupt" and not rep[1].ok
    assert rep[0].status == "ok" and rep[2].status == "ok"

    # missing shard + unexpected shard
    partial = shards.where(F.col("shard_id") != 2)
    rep2 = {r.shard_id: r for r in verify_wds_export(partial, manifest).collect()}
    assert rep2[2].status == "missing" and not rep2[2].ok
    extra = shards.union(
        write_wds_shards(
            spark.createDataFrame([(9, "x", "t")], "shard_id long, key string, text string")
        )
    )
    rep3 = {r.shard_id: r for r in verify_wds_export(extra, manifest).collect()}
    assert rep3[9].status == "unexpected" and not rep3[9].ok


def test_wds_manifest_requires_shard_columns(spark):
    from dask_datapipeline_spark.sources.webdataset import wds_manifest

    with pytest.raises(KeyError, match="payload"):
        wds_manifest(spark.createDataFrame([(1,)], "shard_id long"))


def test_wds_verify_null_fields_never_pass(spark):
    """Integrity semantics: NULL anywhere reads as a FAILED check —
    a present shard with NULL payload is corrupt (broken pack stage),
    a manifest row with a NULL field never falls through to 'ok'."""
    from dask_datapipeline_spark.sources.webdataset import (
        verify_wds_export,
        wds_manifest,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_docs(spark))
    manifest = wds_manifest(shards).localCheckpoint(eager=True)

    nulled = shards.withColumn(
        "payload",
        F.when(F.col("shard_id") == 1, F.lit(None).cast("binary")).otherwise(
            F.col("payload")
        ),
    )
    rep = {r.shard_id: r for r in verify_wds_export(nulled, manifest).collect()}
    assert rep[1].status == "corrupt" and rep[1].ok is False

    holey = manifest.withColumn(
        "n_bytes",
        F.when(F.col("shard_id") == 0, F.lit(None).cast("int")).otherwise(
            F.col("n_bytes")
        ),
    )
    rep2 = {r.shard_id: r for r in verify_wds_export(shards, holey).collect()}
    assert rep2[0].ok is False and rep2[0].status == "corrupt"

    # a missing shard's report still shows the EXPECTED sample count
    partial = shards.where(F.col("shard_id") != 2)
    rep3 = {r.shard_id: r for r in verify_wds_export(partial, manifest).collect()}
    want_n = {r.shard_id: r.n_samples for r in manifest.collect()}[2]
    assert rep3[2].status == "missing" and rep3[2].n_samples == want_n

    with pytest.raises(KeyError, match="sha256"):
        verify_wds_export(shards, manifest.drop("sha256"))


def test_wds_verify_flags_duplicate_manifest_row(spark):
    """A duplicated MANIFEST row (corrupt sidecar) must surface as ONE
    result row with status='duplicate_manifest', never fan the join out
    to two 'ok' rows — even when both copies match the shard bytes."""
    from dask_datapipeline_spark.sources.webdataset import (
        verify_wds_export,
        wds_manifest,
        write_wds_shards,
    )

    shards = write_wds_shards(_wds_docs(spark))
    manifest = wds_manifest(shards).localCheckpoint(eager=True)
    duped = manifest.union(manifest.where(F.col("shard_id") == 1))
    rep = {r.shard_id: r for r in verify_wds_export(shards, duped).collect()}
    assert len(rep) == 3  # one row per shard_id, not four
    assert rep[1].status == "duplicate_manifest" and rep[1].ok is False
    assert rep[0].status == "ok" and rep[2].status == "ok"


def test_wds_pack_rejects_duplicate_keys(spark):
    from dask_datapipeline_spark.sources.webdataset import write_wds_shards

    dup = spark.createDataFrame(
        [(0, "k1", "a"), (0, "k1", "b")], "shard_id long, key string, text string"
    )
    with pytest.raises(Exception, match="duplicate sample key"):
        write_wds_shards(dup).collect()
