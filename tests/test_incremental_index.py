"""Materialized MinHash index: build once, flag batches from the
index — the corpus text must never be re-shingled at query time."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators.minhash_index import (
    LAYOUT,
    build_minhash_index,
    incremental_near_dup_flags,
    read_minhash_index,
)

CORPUS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs today"),
    (4, "sphinx of black quartz judge my vow now ok"),
    (6, "completely unrelated text about distributed query engines"),
]
BATCH = [
    # near-dup of doc 0 (one token changed)
    (1, "the quick brown fox jumps over the lazy cat"),
    # novel
    (3, "entirely new content that matches nothing else at all"),
    # near-dup of an EARLIER batch doc (copy of 1)
    (5, "the quick brown fox jumps over the lazy cat"),
]


def _sets(rows, n=3):
    out = {}
    for i, t in rows:
        toks = t.lower().split(" ")
        out[i] = {
            " ".join(toks[j : j + n]) for j in range(max(len(toks) - n + 1, 0))
        } - {""}
    return out


def _expected_flags(threshold=0.5):
    corpus, batch = _sets(CORPUS), _sets(BATCH)
    every = {**corpus, **batch}
    flags = {}
    for b in batch:
        partners = []
        for o, s in every.items():
            if o == b:
                continue
            j = len(batch[b] & s) / len(batch[b] | s) if batch[b] | s else 0.0
            if j >= threshold and (o < b or o in corpus):
                partners.append(o)
        flags[b] = min(partners) if partners else None
    return flags


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mh_index"))
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    build_minhash_index(corpus, path, max_df=256)
    return path


def test_flags_match_python_model(spark, index_dir):
    batch = spark.createDataFrame(BATCH, "doc_id long, text string")
    got = {
        r.doc_id: r.dup_of
        for r in incremental_near_dup_flags(batch, index_dir).collect()
    }
    assert got == _expected_flags()
    new = {
        r.doc_id: r.is_new
        for r in incremental_near_dup_flags(batch, index_dir).collect()
    }
    assert new == {b: dup is None for b, dup in _expected_flags().items()}


def test_index_layout_and_meta(spark, index_dir):
    from dask_datapipeline_spark.operators.dedup import (
        band_keys,
        hashed_shingles,
        minhash_signatures,
    )

    bands, arrays, hot, meta = read_minhash_index(spark, index_dir)
    assert meta["num_hashes"] == 16 and meta["bands"] == 4
    assert meta["layout"] == LAYOUT
    assert set(bands.columns) == {"doc_id", "__t", "__band"}
    assert set(arrays.columns) == {"doc_id", "__arr", "__n"}
    assert arrays.count() == len(CORPUS)
    assert hot.count() == 0  # nothing reaches df>256 here
    # the stored rows are exactly what the probe would compute: the
    # band_keys slot strings, and each doc's sorted distinct hashes
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    want_bands = band_keys(minhash_signatures(corpus), "doc_id", 16, 4)
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(tuple, want_bands.select(*bands.columns).collect())
    )
    want_arrs = {}
    for r in hashed_shingles(corpus, "doc_id", "text", 3).collect():
        want_arrs.setdefault(r["doc_id"], set()).add(r["__h"])
    assert {r["doc_id"]: (r["__arr"], r["__n"]) for r in arrays.collect()} == {
        i: (sorted(h), len(h)) for i, h in want_arrs.items()
    }


def test_query_plan_scans_index_not_corpus_text(spark, index_dir):
    """The flags plan must read corpus data from the index parquet
    files; the only text that enters the plan is the batch's."""
    batch = spark.createDataFrame(BATCH, "doc_id long, text string")
    plan = (
        incremental_near_dup_flags(batch, index_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    name = os.path.basename(index_dir)
    assert f"{name}/bands" in plan and f"{name}/arrays" in plan


def test_index_reads_carry_their_schema(spark, grown_index):
    """_META records each table's schema at build, and every read of
    the index passes it: reading base, increments and hot hashes runs
    no Spark job (each parquet schema inference ran one)."""
    from dask_datapipeline_spark.operators.minhash_index import _read_increment

    sc = spark.sparkContext
    group = "index-reads-carry-their-schema"
    sc.setJobGroup(group, group)
    try:
        bands, arrays, hot, meta = read_minhash_index(spark, grown_index)
        inc = _read_increment(spark, grown_index, "b00001", meta)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert set(meta["schemas"]) == {"bands", "arrays", "hot_hashes"}
    for df, table in zip((bands, arrays, hot, *inc),
                         ("bands", "arrays", "hot_hashes", "bands", "arrays")):
        assert [f.name for f in df.schema] == [
            f["name"] for f in meta["schemas"][table]["fields"]
        ]
    assert arrays.count() == len(CORPUS) + 2 and inc[1].count() == 1


def test_frozen_cap_drops_hot_hashes_for_batch_too(spark, tmp_path):
    """A shingle hot in the CORPUS is excluded from batch sets as
    well (the frozen-cap contract), so it cannot create pairs."""
    hot_text = "x y z " * 5  # shingles shared by every corpus doc
    corpus = spark.createDataFrame(
        [(i * 2, hot_text + f"unique{i} filler{i} tail{i}") for i in range(4)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path, max_df=2)
    _, _, hot, _ = read_minhash_index(spark, path)
    assert hot.count() > 0
    batch = spark.createDataFrame(
        [(1, hot_text + "novel body here")], "doc_id long, text string"
    )
    rows = incremental_near_dup_flags(batch, path).collect()
    # shares ONLY capped-away hot shingles -> novel
    assert rows[0].is_new is True


def test_candidate_pair_sharing_no_shingle_is_not_emitted(spark):
    """The verify emits only pairs that share a shingle, even at
    threshold 0.0, where the rational test alone would pass J = 0."""
    from dask_datapipeline_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "v w x y z"), (3, "a b c x y")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, cands, threshold=0.0).collect()
    }
    assert got == {(1, 3)}


def test_batch_doc_shorter_than_shingle_n_is_new(spark, index_dir):
    """A batch doc with fewer than shingle_n words has no shingles and
    no signature: it is flagged (NULL, is_new=True), even when its
    words prefix a corpus doc."""
    batch = spark.createDataFrame(
        [(11, "the quick"), (13, ""), BATCH[0]], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in incremental_near_dup_flags(batch, index_dir).collect()
    }
    assert got == {11: (None, True), 13: (None, True), 1: (0, False)}


def test_all_hot_capped_doc_is_new_and_others_still_flag(spark, tmp_path):
    """A batch doc whose shingles are ALL hot-capped has no capped
    shingle: it is new, and so is its exact copy in the same batch,
    while a copy of a corpus doc that shares the hot shingles is still
    flagged against it."""
    hot_text = "x y z " * 5
    corpus_rows = [(i * 2, hot_text + f"unique{i} filler{i} tail{i}") for i in range(4)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path, max_df=2)
    batch = spark.createDataFrame(
        [(101, hot_text.strip()), (103, hot_text.strip()), (105, corpus_rows[0][1])],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in incremental_near_dup_flags(batch, path).collect()
    }
    assert got == {101: (None, True), 103: (None, True), 105: (0, False)}


# ----- atomic append + base+delta compaction --------------------------


def _flags_rows(spark, path, batch_rows):
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    return sorted(
        (r.doc_id, r.dup_of, r.is_new)
        for r in incremental_near_dup_flags(batch, path).collect()
    )


def _manifest(path):
    import json

    with open(os.path.join(path, "_CURRENT")) as f:
        return json.load(f)


@pytest.fixture()
def grown_index(spark, tmp_path):
    """Index built from CORPUS with the first two BATCH docs appended
    as two committed increments."""
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
    )

    path = str(tmp_path / "idx")
    corpus = spark.createDataFrame(CORPUS, "doc_id long, text string")
    build_minhash_index(corpus, path, max_df=256)
    for tag, row in (("b00000", BATCH[0]), ("b00001", BATCH[1])):
        append_to_minhash_index(
            spark.createDataFrame([row], "doc_id long, text string"), path, tag
        )
    return path


def test_compaction_flags_byte_identical(spark, grown_index):
    """compact_minhash_index must not change a single flag row: the
    merged base is the verbatim union the reader was already seeing."""
    from dask_datapipeline_spark.operators.minhash_index import (
        compact_minhash_index,
    )

    probe = [BATCH[2], (9, "entirely new content that matches nothing else at all")]
    before = _flags_rows(spark, grown_index, probe)
    assert _manifest(grown_index)["inc"] == ["b00000", "b00001"]
    new_cur = compact_minhash_index(spark, grown_index)
    assert new_cur["inc"] == [] and new_cur["bands"] == "bands-v1"
    assert new_cur["arrays"] == "arrays-v1"
    assert _flags_rows(spark, grown_index, probe) == before
    # consumed dirs are gone; the new base pair is live
    assert not os.path.isdir(os.path.join(grown_index, "bands"))
    assert not os.path.isdir(os.path.join(grown_index, "arrays"))
    assert not os.path.isdir(os.path.join(grown_index, "inc", "b00000"))
    _, arrays, _, _ = read_minhash_index(spark, grown_index)
    assert arrays.count() == len(CORPUS) + 2
    # a second compaction of an increment-free index is a NO-OP (the
    # round-11 early return: folding nothing would rewrite the whole
    # base for zero file-count reduction) — same manifest back, no
    # version bump, flags untouched
    assert compact_minhash_index(spark, grown_index)["bands"] == "bands-v1"
    assert _flags_rows(spark, grown_index, probe) == before


def test_compaction_restart_sweeps_crashed_stage(spark, grown_index):
    """A crash BEFORE the manifest flip leaves unreferenced stage dirs:
    reads ignore them (manifest-only), the retry sweeps and completes."""
    from dask_datapipeline_spark.operators.minhash_index import (
        compact_minhash_index,
    )

    probe = [BATCH[2]]
    before = _flags_rows(spark, grown_index, probe)
    # fake the stranded stage of a compaction that died pre-flip
    os.makedirs(os.path.join(grown_index, "bands-v1"))
    with open(os.path.join(grown_index, "bands-v1", "junk"), "w") as f:
        f.write("not parquet")
    assert _flags_rows(spark, grown_index, probe) == before  # invisible
    new_cur = compact_minhash_index(spark, grown_index)
    assert new_cur["bands"] == "bands-v1"
    assert _flags_rows(spark, grown_index, probe) == before
    assert not os.path.exists(os.path.join(grown_index, "bands-v1", "junk"))


def test_compaction_sweeps_append_stage_stranded_by_a_crash(
    spark, grown_index, monkeypatch
):
    """An append that dies before renaming its staged increment leaves
    inc/.tmp-<tag>-<8hex>; the replay stages under a fresh name, so
    only compaction's pre-fold sweep removes it — also when nothing is
    eligible to fold."""
    from dask_datapipeline_spark.indexfs import IndexFS
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    batch = spark.createDataFrame([BATCH[2]], "doc_id long, text string")
    fs_cls = type(IndexFS.for_path(grown_index))

    def crash(self, src, dst):
        raise OSError("killed before the rename")

    with monkeypatch.context() as m:
        m.setattr(fs_cls, "move", crash)
        with pytest.raises(OSError, match="killed"):
            append_to_minhash_index(batch, grown_index, "b00002")
    inc = os.path.join(grown_index, "inc")
    stranded = [d for d in os.listdir(inc) if d.startswith(".tmp-")]
    assert len(stranded) == 1 and stranded[0].startswith(".tmp-b00002-")
    assert "b00002" not in _manifest(grown_index)["inc"]
    append_to_minhash_index(batch, grown_index, "b00002")  # the replay
    assert stranded[0] in os.listdir(inc)  # the replay leaves it
    probe = [(9, "entirely new content that matches nothing else at all")]
    before = _flags_rows(spark, grown_index, probe)
    cur = compact_minhash_index(spark, grown_index, keep_from="b00000")
    assert cur["inc"] == ["b00000", "b00001", "b00002"]  # nothing folded
    assert not [d for d in os.listdir(inc) if d.startswith(".tmp-")]
    assert _flags_rows(spark, grown_index, probe) == before


def test_no_fold_compaction_still_sweeps_stranded_stage(spark, grown_index):
    """The no-fold early return (everything behind the watermark) must
    still sweep stage dirs a crashed compaction stranded — otherwise
    they persist until a fold-eligible compaction happens to run."""
    from dask_datapipeline_spark.operators.minhash_index import (
        compact_minhash_index,
    )

    os.makedirs(os.path.join(grown_index, "arrays-v7"))
    cur = compact_minhash_index(spark, grown_index, keep_from="b00000")
    assert cur["inc"] == ["b00000", "b00001"]  # nothing folded
    assert not os.path.exists(os.path.join(grown_index, "arrays-v7"))


def test_digitless_tags_fold_before_any_watermark(spark, grown_index):
    """A manual (digitless) tag is unconditionally OLDER than any
    digit-suffixed watermark — it must fold instead of being stranded
    in the inc list forever when manual appends mix with a sink."""
    from dask_datapipeline_spark.operators.minhash_index import (
        _tag_order,
        append_to_minhash_index,
        compact_minhash_index,
    )

    assert _tag_order("manual") < _tag_order("b00000")
    assert _tag_order("backfill") < _tag_order("z00000")
    append_to_minhash_index(
        spark.createDataFrame([BATCH[2]], "doc_id long, text string"),
        grown_index,
        "manual",
    )
    probe = [(9, "entirely new content that matches nothing else at all")]
    before = _flags_rows(spark, grown_index, probe)
    # watermark b00001: folds b00000 AND the manual tag, keeps b00001
    cur = compact_minhash_index(spark, grown_index, keep_from="b00001")
    assert cur["inc"] == ["b00001"]
    assert not os.path.isdir(os.path.join(grown_index, "inc", "manual"))
    assert _flags_rows(spark, grown_index, probe) == before
    _, arrays, _, _ = read_minhash_index(spark, grown_index)
    assert arrays.count() == len(CORPUS) + 3


def test_uncommitted_increment_invisible_and_replay_heals(spark, grown_index):
    """Crash between the increment dir rename and the manifest commit
    (ADVICE r6): the dir exists but is unreferenced — reads skip it,
    and replaying the append commits it with identical content."""
    import json

    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
    )

    batch = spark.createDataFrame([BATCH[2]], "doc_id long, text string")
    append_to_minhash_index(batch, grown_index, "b00002")
    # simulate the crash: roll the manifest back to before the commit
    cur = _manifest(grown_index)
    cur["inc"].remove("b00002")
    with open(os.path.join(grown_index, "_CURRENT"), "w") as f:
        json.dump(cur, f)
    _, arrays, _, _ = read_minhash_index(spark, grown_index)
    assert arrays.count() == len(CORPUS) + 2  # b00002 invisible
    append_to_minhash_index(batch, grown_index, "b00002")  # the replay
    assert "b00002" in _manifest(grown_index)["inc"]
    _, arrays2, _, _ = read_minhash_index(spark, grown_index)
    assert arrays2.count() == len(CORPUS) + 3


def test_committed_replay_is_noop(spark, grown_index):
    """Replaying an already-committed tag must not touch the dir (the
    no-op branch keeps manifest-referenced dirs immune to the
    rmtree/rename gap)."""
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
    )

    inc = os.path.join(grown_index, "inc", "b00000")
    files_before = sorted(os.listdir(os.path.join(inc, "bands")))
    mtime = os.path.getmtime(inc)
    append_to_minhash_index(
        spark.createDataFrame([BATCH[0]], "doc_id long, text string"),
        grown_index,
        "b00000",
    )
    assert sorted(os.listdir(os.path.join(inc, "bands"))) == files_before
    assert os.path.getmtime(inc) == mtime
    # a partial temp dir (crash between the two parquet writes) is
    # likewise invisible to the reader
    tmp = os.path.join(grown_index, "inc", ".tmp-bXXXXX-dead")
    os.makedirs(os.path.join(tmp, "bands"))
    _, arrays, _, _ = read_minhash_index(spark, grown_index)
    assert arrays.count() == len(CORPUS) + 2


def test_index_without_layout_version_is_rejected(spark, tmp_path):
    """An index whose _META records no layout version (written before
    the bands/ + arrays/ layout) fails loudly, naming its path, on
    every entry point: there is no dual read, a rebuild migrates."""
    import json

    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    path = str(tmp_path / "old_idx")
    build_minhash_index(spark.createDataFrame(CORPUS, "doc_id long, text string"), path)
    with open(os.path.join(path, "_META")) as f:
        meta = json.load(f)
    del meta["layout"]
    with open(os.path.join(path, "_META"), "w") as f:
        json.dump(meta, f)
    batch = spark.createDataFrame([BATCH[0]], "doc_id long, text string")
    for call in (
        lambda: read_minhash_index(spark, path),
        lambda: incremental_near_dup_flags(batch, path),
        lambda: append_to_minhash_index(batch, path, "b00000"),
        lambda: compact_minhash_index(spark, path),
    ):
        with pytest.raises(ValueError, match=f"{re.escape(path)}.*rebuild"):
            call()


# doc 0 of REINGEST_CORPUS is re-ingested by a later append, so two
# index tables hold an id 0: the base with T1 and the increment with
# the new text
T1 = "the quick brown fox jumps over the lazy dog"
REINGEST_CORPUS = [(0, T1), (2, "sphinx of black quartz judge my vow now ok")]


@pytest.mark.parametrize(
    "new_text, want",
    [
        # an update that keeps 6 of T1's 7 shingles
        (
            "the quick brown fox jumps over the lazy cat",
            {11: (0, False), 13: (0, False), 15: (None, True)},
        ),
        # a replacement sharing no shingle with T1, and longer
        (
            "pack my box with five dozen liquor jugs today and then some more",
            {11: (0, False), 13: (0, False), 15: (None, True)},
        ),
    ],
    ids=["update", "replace"],
)
def test_reingested_id_is_verified_per_stored_version(spark, tmp_path, new_text, want):
    """A batch is flagged after an append re-ingested a corpus id. Each
    table's version of the id is verified on its own; a pair qualifies
    when either version passes. So a copy of the old text (11) and a
    copy of the new one (13) both flag against doc 0, before and after
    the increment is compacted into the base. (The layout that stored
    shingles regrouped both versions into one hash array with their
    sizes summed: 'replace' then left 11 new, at Jaccard 7/17.)"""
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    path = str(tmp_path / "idx")
    schema = "doc_id long, text string"
    build_minhash_index(spark.createDataFrame(REINGEST_CORPUS, schema), path, max_df=256)
    append_to_minhash_index(spark.createDataFrame([(0, new_text)], schema), path, "b00000")
    probe = [(11, T1), (13, new_text), (15, "entirely new content that matches nothing")]
    want_rows = sorted((i, dup, new) for i, (dup, new) in want.items())
    assert _flags_rows(spark, path, probe) == want_rows
    compact_minhash_index(spark, path)
    assert _flags_rows(spark, path, probe) == want_rows


def test_catalog_index_cache_is_built_aside_and_keyed_by_layout(
    spark, sf_dir, tmp_path, monkeypatch
):
    """extra:incremental_dedup caches its corpus index under the temp
    dir. Two runs that find the cache cold at once each build into a
    private sibling and rename it into place: both return the same
    flags and exactly one index is left, with no temp sibling. The
    cache key names the layout, so a layout change builds a new index
    instead of reading an old one."""
    import tempfile
    import threading

    from dask_datapipeline_spark.operators import minhash_index
    from dask_datapipeline_spark.plans.catalog_llm import q_incremental_dedup

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = tmp_path / "ddps_minhash_index"
    out, errors = [], []

    def run():
        try:
            out.append(sorted(map(tuple, q_incremental_dedup(spark, sf_dir).collect())))
        except Exception as e:  # reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert len(out) == 2 and out[0] == out[1] and out[0]
    assert len(os.listdir(cache)) == 1
    monkeypatch.setattr(minhash_index, "LAYOUT", LAYOUT + 1)
    assert sorted(map(tuple, q_incremental_dedup(spark, sf_dir).collect())) == out[0]
    assert len(os.listdir(cache)) == 2
