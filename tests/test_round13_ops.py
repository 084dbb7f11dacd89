"""Round-13 operator tests: maintenance robustness (stray delta dirs,
stranded marker temps), the IndexFS port of the snapshot-swap
streaming sinks, and writer lease fencing."""

from __future__ import annotations

import os

import pytest

from dask_datapipeline_spark.indexfs import IndexFS, _HadoopFS, _LocalFS


def _uri(p) -> str:
    return "file://" + str(p)


# ----- stray delta= dirs never kill compaction (ADVICE r12) -------------


def _delta_root(spark, tmp_path, n=5):
    root = str(tmp_path / "stage")
    for b in range(n):
        spark.range(b * 10, b * 10 + 10).selectExpr(
            "id", "id * 2 AS v"
        ).write.mode("overwrite").parquet(f"{root}/delta={b}")
    return root


def test_delta_id_parse():
    from dask_datapipeline_spark.operators.deltas import delta_id

    assert delta_id("delta=7") == 7
    assert delta_id("delta=-1") == -1
    assert delta_id("delta=stray") is None
    assert delta_id("delta=") is None


def test_stray_delta_dir_skipped_not_fatal(spark, tmp_path):
    """A non-integer ``delta=`` directory (manual dir, corrupted name)
    is SKIPPED by compaction — before the guard a single one raised at
    the int() parse and killed every later compaction attempt."""
    from dask_datapipeline_spark.operators.deltas import maybe_compact_deltas

    root = _delta_root(spark, tmp_path)
    os.makedirs(f"{root}/delta=stray")
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(
            *[f"{root}/delta={b}" for b in range(5)]
        ).select("id", "v").collect()
    )
    assert maybe_compact_deltas(spark, root, max_deltas=2) is True
    names = sorted(d for d in os.listdir(root) if d.startswith("delta="))
    # integers folded to the fresh base; the stray dir left untouched
    assert names == ["delta=-1", "delta=stray"]
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{root}/delta=-1")
        .select("id", "v").collect()
    )
    assert after == before


def test_stray_delta_dir_skipped_bm25_listing(tmp_path):
    from dask_datapipeline_spark.operators.bm25 import _delta_dirs

    fs = IndexFS.for_path(str(tmp_path))
    os.makedirs(tmp_path / "postings" / "delta=3")
    os.makedirs(tmp_path / "postings" / "delta=bad")
    assert _delta_dirs(fs, str(tmp_path), "postings") == ["delta=3"]


# ----- stranded marker temps are swept (VERDICT r12 item 6) -------------


@pytest.mark.parametrize("via_uri", [False, True])
def test_sweep_tmp_and_delete_file(spark, tmp_path, via_uri):
    base = _uri(tmp_path) if via_uri else str(tmp_path)
    fs = IndexFS.for_path(base, "test")
    assert isinstance(fs, _HadoopFS if via_uri else _LocalFS)
    # a live marker, a stale temp, a dir whose name merely looks
    # tmp-ish, and a non-matching file
    fs.write_json_atomic(IndexFS.join(base, "_META"), {"v": 1})
    (tmp_path / "_META.tmp-deadbeef").write_text("{}")
    (tmp_path / "notatmp.txt").write_text("keep")
    os.makedirs(tmp_path / "d.tmp-deadbeef")  # dir: never swept
    swept = fs.sweep_tmp(base)
    assert swept == ["_META.tmp-deadbeef"]
    # the Hadoop backend keeps .crc checksum sidecars — compare the
    # non-hidden names only
    visible = sorted(n for n in os.listdir(tmp_path) if not n.startswith("."))
    assert visible == ["_META", "d.tmp-deadbeef", "notatmp.txt"]
    assert fs.read_json(IndexFS.join(base, "_META")) == {"v": 1}
    # delete_file: file gone, missing path a no-op
    fs.delete_file(IndexFS.join(base, "notatmp.txt"))
    fs.delete_file(IndexFS.join(base, "notatmp.txt"))
    assert not (tmp_path / "notatmp.txt").exists()


def test_local_write_text_atomic_never_strands_tmp(tmp_path, monkeypatch):
    """A thrown final rename must not leave the temp file behind."""
    fs = _LocalFS()
    target = str(tmp_path / "_META")
    real_rename = os.rename

    def boom(src, dst):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(OSError, match="simulated"):
        fs.write_text_atomic(target, "{}")
    monkeypatch.setattr(os, "rename", real_rename)
    assert os.listdir(tmp_path) == []  # no strand


def test_recover_entry_points_sweep_stale_tmps(spark, tmp_path):
    """Planted stale temps next to live markers are swept on the next
    maintenance entry (the recover_*/compact entry points)."""
    from dask_datapipeline_spark.operators.bm25 import recover_bm25_compaction
    from dask_datapipeline_spark.operators.deltas import (
        recover_delta_compaction,
    )

    d_root = _delta_root(spark, tmp_path, n=2)
    stale = os.path.join(d_root, "_LEASE.tmp-0123abcd")
    open(stale, "w").write("{}")
    recover_delta_compaction(d_root)
    assert not os.path.exists(stale)

    b_root = str(tmp_path / "bm25idx")
    os.makedirs(b_root)
    stale_b = os.path.join(b_root, "_META.tmp-0123abcd")
    open(stale_b, "w").write("{}")
    recover_bm25_compaction(b_root)
    assert not os.path.exists(stale_b)


# ----- snapshot-swap sinks over a Hadoop FS URI (VERDICT r12 item 1) ----


@pytest.mark.parametrize("via_uri", [False, True])
def test_snapshot_protocol_recover_and_swap(spark, tmp_path, via_uri):
    """The shared ``_Snapshot`` protocol unit-level, both backends:
    swap installs, mid-swap crash heals from ``.old-*``, leftover
    stage/old dirs and stranded marker temps are swept."""
    from dask_datapipeline_spark.streaming.windows import _Snapshot

    base = IndexFS.join(_uri(tmp_path) if via_uri else str(tmp_path), "snap")
    s = _Snapshot(base, "test")
    # first install (no prior base)
    st = s.staging()
    s.fs.makedirs(st)
    s.fs.write_text_atomic(IndexFS.join(st, "data"), "v1")
    s.recover()
    s.swap(st)
    assert s.exists()
    assert s.fs.read_text(IndexFS.join(s.base, "data")) == "v1"
    # mid-swap crash: base renamed away, an orphan stage left behind
    s.fs.move(s.base, s.base + ".old-deadbeef")
    s.fs.makedirs(s.base + ".stage-cafe")
    s.recover()
    assert s.exists()
    assert s.fs.read_text(IndexFS.join(s.base, "data")) == "v1"
    leftovers = [
        d for d in os.listdir(tmp_path) if ".old-" in d or ".stage-" in d
    ]
    assert leftovers == []
    # stranded marker temp INSIDE the snapshot is swept by recover
    (tmp_path / "snap" / "_APPLIED.tmp-0123abcd").write_text("{}")
    s.recover()
    assert not (tmp_path / "snap" / "_APPLIED.tmp-0123abcd").exists()
    # second swap replaces content
    st2 = s.staging()
    s.fs.makedirs(st2)
    s.fs.write_text_atomic(IndexFS.join(st2, "data"), "v2")
    s.swap(st2)
    assert s.fs.read_text(IndexFS.join(s.base, "data")) == "v2"


# ----- char-shingle near-dup for unsegmented CJK --------------------------


def test_word_shingles_blind_on_cjk_char_mode_recovers(spark):
    """The failure char mode exists to fix, pinned in both directions:
    word 3-gram shingles of a no-space Han page are EMPTY (one giant
    token), so word-mode near-dup has zero recall by construction;
    char mode finds the planted partner pair. Short-text guards hold
    in both modes."""
    from dask_datapipeline_spark.operators import dedup as DD

    a = "吾輩は猫である。名前はまだ無い。どこで生れたかとんと見当がつかぬ。"
    b = a + "何で。"  # tiny delta: J≈0.9, above any banding coin-flip
    c = "道可道非常道名可名非常名無名天地之始有名萬物之母常無欲以觀其妙。"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    from pyspark.sql import functions as F

    word = df.select(F.size(DD.shingles("text", 3)).alias("n")).collect()
    assert [r["n"] for r in word] == [0, 0, 0]  # one token < n each
    char = df.select(F.size(DD.char_shingles("text", 3)).alias("n")).collect()
    assert [r["n"] for r in char] == [len(a) - 2, len(b) - 2, len(c) - 2]
    # char shingle CONTENT matches the Python model on the first doc
    got = df.where(F.col("doc_id") == 0).select(
        DD.char_shingles("text", 3).alias("sh")
    ).collect()[0]["sh"]
    want = [a.lower()[i : i + 3] for i in range(len(a) - 2)]
    assert got == want
    # word mode: zero pairs; char mode: exactly the planted partner
    assert DD.jaccard_pairs(df, None, threshold=0.5).count() == 0
    pairs = DD.jaccard_pairs(
        df, None, threshold=0.5, shingle_mode="char"
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(0, 1)]
    assert pairs[0]["jaccard"] >= 0.5
    # minhash end-to-end honors the mode too
    mh = DD.near_dup_pairs_minhash(
        df, threshold=0.5, shingle_mode="char"
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in mh] == [(0, 1)]
    with pytest.raises(ValueError, match="shingle_mode"):
        DD.jaccard_pairs(df, None, shingle_mode="byte")


def test_minhash_index_char_mode_flags_cjk_batch(spark, tmp_path):
    """A char-mode MinHash index (mode recorded in _META) flags a CJK
    batch near-dup of a corpus doc; a word-mode index over the same
    corpus is blind (empty shingles). Appends inherit the mode from
    _META — no caller re-passing."""
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        incremental_near_dup_flags,
        read_minhash_index,
    )

    corpus = spark.createDataFrame(
        [
            (0, "吾輩は猫である。名前はまだ無い。どこで生れたかとんと見当がつかぬ。"),
            (1, "道可道非常道名可名非常名無名天地之始有名萬物之母常無欲以觀其妙。"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "吾輩は猫である。名前はまだ無い。どこで生れたかとんと見当がつかぬ。了")],
        "doc_id long, text string",
    )
    char_idx = str(tmp_path / "char_idx")
    meta = build_minhash_index(corpus, char_idx, shingle_mode="char")
    assert meta["shingle_mode"] == "char"
    flags = incremental_near_dup_flags(batch, char_idx, threshold=0.5).collect()
    assert [(r["doc_id"], r["is_new"], r["dup_of"]) for r in flags] == [
        (10, False, 0)
    ]
    # append honors the recorded mode: a later batch dups against it
    append_to_minhash_index(batch, char_idx, "b00000")
    _bands, arrays, _hot, meta2 = read_minhash_index(spark, char_idx)
    assert meta2.get("shingle_mode") == "char" and arrays.count() > 0
    batch2 = spark.createDataFrame(
        [(20, "吾輩は猫である。名前はまだ無い。どこで生れたかとんと見当がつかぬ。了了")],
        "doc_id long, text string",
    )
    flags2 = incremental_near_dup_flags(batch2, char_idx, threshold=0.5).collect()
    assert flags2[0]["is_new"] is False and flags2[0]["dup_of"] in (0, 10)
    # the word-mode twin over the same corpus: zero shingles, no flag
    word_idx = str(tmp_path / "word_idx")
    build_minhash_index(corpus, word_idx)  # default word mode
    wflags = incremental_near_dup_flags(batch, word_idx, threshold=0.5).collect()
    assert [(r["doc_id"], r["is_new"]) for r in wflags] == [(10, True)]


def test_cjk_near_dup_fixture_separates_partners(spark):
    """The catalog row's planted structure: every (2k, 2k+1) partner
    pair is found, NO cross-pair leaks over the threshold, and the
    word-mode run over the same fixture finds nothing."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    out = EXTRA_CATALOG["cjk_near_dup"].fn(spark, "/root/testdata/sf0.001").collect()
    pairs = sorted((r["id_a"], r["id_b"]) for r in out)
    assert pairs, "fixture must plant at least one partner pair"
    assert all(b == a + 1 and a % 2 == 0 for a, b in pairs)


# ----- script-routed quality tier (VERDICT r12 item 2b) ------------------


def test_quality_keep_routed_tiers_and_engines_agree(spark):
    """The routed keep applies the right instrument per route — a good
    CJK page KEEPS under the char tier (it would mass-fail the word
    tier as one giant word), gibberish CJK fails the function-char
    floor, short CJK fails the char floor, a good Cyrillic page KEEPS
    under the shape subset (it would fail [a-z] alpha + English
    stopwords under the full Gopher suite) — and the DuckDB twin
    agrees bit-for-bit on every row."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from dask_datapipeline_spark.functions import quality as Q
    from dask_datapipeline_spark.operators import scripts as S

    zh_lines = [
        "我的朋友是一位老师，他说的话不只是一种语言，而是三种不同的语言。",
        "昨天我们一起去了图书馆，看了很多关于历史的书，这些书的内容很有意思。",
        "今天的天气很好，我们决定去公园散步，一路上看到了不少美丽的花。",
        "他说学习一门新的语言需要很长的时间，但是只要努力，就一定能学好。",
    ]
    zh_good = "\n".join(l * 2 for l in zh_lines)
    zh_gibberish = "\n".join(
        ["火水木金土日月山川田中上下左右大小" * 5] * 2 + ["東西南北春夏秋冬" * 8]
    )
    ja_good = "\n".join(
        l * 2
        for l in [
            "吾輩は猫である。名前はまだ無い。どこで生れたかとんと見当がつかぬ。",
            "何でも薄暗いじめじめした所でニャーニャー泣いていた事だけは記憶している。",
            "吾輩はここで始めて人間というものを見た。それは書生という種族であったそうだ。",
        ]
    )
    ru_words = (
        "семьи похожи друг на друга несчастлива своему зимой вечером "
        "город дорога история письмо гора река утро ответ слово книга"
    ).split()
    ru_good = "\n".join(
        " ".join(ru_words[(i * 7 + j) % len(ru_words)] for j in range(30))
        for i in range(5)
    )
    rows = [
        (0, zh_good),
        (1, zh_gibberish),
        (2, "的一是了不"),  # short CJK: fails the char floor
        (3, ja_good),
        (4, ru_good),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prof = S.script_profile(df, "doc_id", "text").select("doc_id", "script")
    got = {
        r["doc_id"]: (r["script"], r["keep"])
        for r in df.join(prof, "doc_id")
        .select(
            "doc_id",
            "script",
            Q.quality_keep_routed("text", "script").alias("keep"),
        )
        .collect()
    }
    assert got[0] == ("zh", True)
    assert got[1] == ("zh", False)  # no function characters at all
    assert got[2] == ("zh", False)  # 5 chars < min_chars
    assert got[3] == ("ja", True)
    assert got[4] == ("und-Cyrl", True)  # shape subset keeps it
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = f"""
WITH p AS (SELECT doc_id, text FROM documents),
pr AS ({S.script_profile_sql(src="p")})
SELECT p.doc_id, pr.script,
       {Q.quality_keep_routed_sql("p.text", "pr.script")} AS keep
FROM p JOIN pr ON p.doc_id = pr.doc_id
"""
    want = {r[0]: (r[1], bool(r[2])) for r in con.execute(sql).fetchall()}
    assert got == want
    # ...and the same Cyrillic page FAILS the unrouted full Gopher
    # suite (alpha-word + stopword mis-scoring — the round-13 fix)
    unrouted = (
        df.where(F.col("doc_id") == 4)
        .select(Q.gopher_keep(Q.gopher_signal_cols("text")).alias("k"))
        .collect()[0]["k"]
    )
    assert unrouted is False


def test_script_route_catalog_fixture_is_non_vacuous(spark):
    """The driver row's fixture must exercise EVERY route label and
    both keep outcomes — a fixture that never routes a class proves
    nothing about it."""
    from dask_datapipeline_spark.plans.catalog import CATALOG

    out = CATALOG["script_route"].fn(spark, "/root/testdata/sf0.001").collect()
    routes = {r["script"] for r in out}
    assert routes >= {
        "zh", "ja", "ko", "und-Cyrl", "und-Arab", "latin", "und",
        # round 14: the four new scripts must each be exercised too
        "th", "und-Grek", "und-Deva", "und-Hebr",
    }
    langs = {r["lang"] for r in out}
    assert {
        "zh", "ja", "ko", "und-Cyrl", "und-Arab",
        "th", "und-Grek", "und-Deva", "und-Hebr",
    } <= langs
    assert {True, False} & {r["keep"] for r in out}


# ----- writer lease / fencing (VERDICT r12 item 3) ----------------------


class _Clock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t


@pytest.mark.parametrize("via_uri", [False, True])
def test_writer_lease_reject_takeover_fence(spark, tmp_path, via_uri):
    """Second live writer rejected at acquire; stale lease taken over
    after ttl expiry; the fenced old owner stops at its next
    check_and_renew; release frees the root."""
    from dask_datapipeline_spark.lease import (
        LeaseFencedError,
        LeaseHeldError,
        WriterLease,
    )

    root = _uri(tmp_path / "idx") if via_uri else str(tmp_path / "idx")
    clock = _Clock()
    a = WriterLease(root, owner="job-a", ttl_sec=100, clock=clock)
    b = WriterLease(root, owner="job-b", ttl_sec=100, clock=clock)
    assert a.acquire() == 1
    # a second live writer is rejected before touching state
    with pytest.raises(LeaseHeldError, match="job-a"):
        b.acquire()
    # the holder renews freely; re-acquire by the same owner also works
    a.check_and_renew()
    assert a.acquire() == 2
    # crashed owner: ttl passes, takeover bumps the epoch
    clock.t += 101
    assert b.acquire() == 3
    # ...and the stale owner is FENCED at its next state-touching step
    with pytest.raises(LeaseFencedError, match="job-b"):
        a.check_and_renew()
    b.release()
    # release keeps the record (expired) so the epoch stays monotone
    assert a.acquire() == 4
    a.release()


def test_writer_lease_corrupt_file_is_loud(tmp_path):
    from dask_datapipeline_spark.lease import WriterLease

    root = tmp_path / "idx"
    os.makedirs(root)
    (root / "_LEASE").write_text("not json{")
    with pytest.raises(ValueError, match="corrupt lease"):
        WriterLease(str(root), owner="job-a").acquire()


def test_stage_delta_sink_enforces_lease(spark, tmp_path):
    """Sink-level: a drain under a lease succeeds (the _LEASE file is
    invisible to readers — underscore-prefixed), and a second writer's
    sink start on the same root is rejected."""
    import time

    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease
    from dask_datapipeline_spark.streaming.windows import stream_stage_deltas

    work = str(tmp_path)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    df = spark.range(20).selectExpr("id", "id * 2 AS v")
    _stage(spark, work, staged, "a", df, time.time())
    out = os.path.join(work, "out")
    lease_a = WriterLease(out, owner="job-a", ttl_sec=3600)
    stream_stage_deltas(
        spark, staged, out, "id long, v long",
        lambda b: b.selectExpr("id", "v + 1 AS v1"),
        checkpoint_dir=os.path.join(work, "ck"),
        lease=lease_a,
    )
    # reads ignore the underscore-prefixed lease file
    assert spark.read.parquet(out).count() == 20
    assert os.path.isfile(os.path.join(out, "_LEASE"))
    lease_b = WriterLease(out, owner="job-b", ttl_sec=3600)
    with pytest.raises(LeaseHeldError, match="job-a"):
        stream_stage_deltas(
            spark, staged, out, "id long, v long",
            lambda b: b.selectExpr("id", "v + 1 AS v1"),
            checkpoint_dir=os.path.join(work, "ck2"),
            lease=lease_b,
        )
    lease_a.release()


def test_snapshot_sink_enforces_lease(spark, tmp_path):
    """The snapshot-swap sinks take the same lease as the index sinks;
    the lease roots OUTSIDE the swapped dir (the parent), so it
    survives every swap. A second writer is rejected at start."""
    import time

    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_quantile_sample,
    )

    work = str(tmp_path)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    df = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(60)], "id long, v double"
    )
    _stage(spark, work, staged, "a", df, time.time())
    sample_dir = os.path.join(work, "sample")
    kw = dict(schema="id long, v double", value_col="v", id_col="id", k=16)
    lease_a = WriterLease(work, owner="job-a", ttl_sec=3600)
    stream_incremental_quantile_sample(
        spark, staged, sample_dir, lease=lease_a,
        checkpoint_dir=os.path.join(work, "ck"), **kw,
    )
    assert os.path.isdir(sample_dir)
    assert os.path.isfile(os.path.join(work, "_LEASE"))  # survived swaps
    with pytest.raises(LeaseHeldError, match="job-a"):
        stream_incremental_quantile_sample(
            spark, staged, sample_dir,
            lease=WriterLease(work, owner="job-b", ttl_sec=3600),
            checkpoint_dir=os.path.join(work, "ck2"), **kw,
        )
    lease_a.release()


def _stage(spark, work, staged, name, df, mt):
    import time  # noqa: F401  (mtimes passed in)

    tmp = os.path.join(work, "tmp-" + name)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(
        os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    dst = os.path.join(staged, name + ".parquet")
    os.rename(src, dst)
    os.utime(dst, (mt, mt))


def test_stream_hll_roundtrip_via_file_uri(spark, tmp_path):
    """The HLL snapshot sink drains with its state dir as a ``file://``
    URI (the Hadoop FileSystem code path an s3a:// deployment takes)
    and lands BIT-IDENTICAL to its batch twin — before round 13 the
    first ``os.rename`` against a URI threw."""
    import time

    from pyspark.sql import functions as F

    from dask_datapipeline_spark.operators.sketches import (
        HLL_SEED,
        hll_merge_registers,
        hll_registers,
    )
    from dask_datapipeline_spark.streaming.windows import stream_incremental_hll

    work = str(tmp_path)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    full = spark.range(600).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("u"), F.col("id")).alias("v"),
    )
    now = time.time()
    for i in range(2):
        _stage(spark, work, staged, f"c{i}", full.where(F.col("id") % 2 == i), now + i)

    sketch = _uri(tmp_path / "sketch")
    stream_incremental_hll(
        spark, staged, sketch, "g bigint, v string", ["g"], "v", p=7,
        checkpoint_dir=os.path.join(work, "ck_hll"),
    )
    got = spark.read.parquet(sketch)
    want = hll_merge_registers(
        hll_registers(full, ["g"], "v", p=7, seed=HLL_SEED), ["g"]
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_quantile_kmv_and_cdc_roundtrip_via_file_uri(spark, tmp_path):
    """The remaining snapshot-swap sinks (bottom-k sample, KMV, CDC
    merge-upsert) over a ``file://`` state dir, equal to batch twins."""
    import time

    from dask_datapipeline_spark.operators.sketches import quantile_sample
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_kmv,
        stream_incremental_quantile_sample,
    )

    work = str(tmp_path)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    rows = [(i, float((i * 37) % 101)) for i in range(200)]
    now = time.time()
    for i in range(2):
        df = spark.createDataFrame(rows[i * 100 : (i + 1) * 100], "id long, v double")
        _stage(spark, work, staged, f"q{i}", df, now + i)

    sample_dir = _uri(tmp_path / "sample")
    stream_incremental_quantile_sample(
        spark, staged, sample_dir, "id long, v double", "v", "id", k=32,
        checkpoint_dir=os.path.join(work, "ck_q"),
    )
    all_df = spark.createDataFrame(rows, "id long, v double")
    got = {(r.id, r.v) for r in spark.read.parquet(sample_dir).collect()}
    want = {
        (r.id, r.v) for r in quantile_sample(all_df, "v", "id", k=32).collect()
    }
    assert got == want

    sketch_dir = _uri(tmp_path / "kmv")
    stream_incremental_kmv(
        spark, staged, sketch_dir, "id long, v double", ["id"], "v", k=8,
        checkpoint_dir=os.path.join(work, "ck_k"),
    )
    from pyspark.sql import functions as F

    from dask_datapipeline_spark.operators.dedup import seeded_hash64
    from dask_datapipeline_spark.operators.sketches import (
        KMV_SEED,
        kmv_sketch_rows,
    )

    hashed = all_df.where(F.col("v").isNotNull()).select(
        "id", seeded_hash64(F.col("v").cast("string"), KMV_SEED).alias("__h")
    )
    want_k = {
        tuple(r) for r in kmv_sketch_rows(hashed, ["id"], 8).collect()
    }
    got_k = {tuple(r) for r in spark.read.parquet(sketch_dir).collect()}
    assert got_k == want_k
