"""Structured Streaming tests: the stream plan must equal its batch
twin on the same finite input (availableNow → memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.sources.readers import load_testdata
from dask_datapipeline_spark.streaming import windows as SW


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_testdata(spark, sf_dir, "events")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, sf_dir, batch_events):
    sdf = SW.tumbling_agg(SW.with_watermark(SW.stream_events(spark, sf_dir)))
    SW.run_to_memory(sdf, "t_tumbling", output_mode="complete")
    got = spark.sql("SELECT * FROM t_tumbling")
    want = SW.tumbling_agg(batch_events)
    cols = ["window_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_session_equals_batch(spark, sf_dir, batch_events):
    src = SW.with_watermark(SW.stream_events(spark, sf_dir), delay="1 hour")
    SW.run_to_memory(SW.session_agg(src), "t_session", output_mode="complete")
    got = spark.sql("SELECT * FROM t_session")
    want = SW.session_agg(batch_events)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_within_watermark(spark, sf_dir):
    sdf = SW.stream_dedup(SW.stream_events(spark, sf_dir), ["user_id"], delay="10 minutes")
    SW.run_to_memory(sdf, "t_dedup", output_mode="append")
    got = spark.sql("SELECT user_id FROM t_dedup")
    n_users = load_testdata(spark, sf_dir, "events").select("user_id").distinct().count()
    # finite ordered input + per-user dedup → exactly one row per user
    assert got.count() == n_users
    assert got.distinct().count() == n_users


def test_stateful_user_totals(spark, sf_dir, batch_events):
    sdf = SW.stateful_user_totals(SW.stream_events(spark, sf_dir))
    SW.run_to_memory(sdf, "t_state", output_mode="update")
    # last update per user = final running total; cents state is exact,
    # so the comparison is on exact decimal totals (no rounding slack)
    got = spark.sql(
        """SELECT user_id, n_events, CAST(total_cents AS DOUBLE) / 100.0 AS total_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
             FROM t_state) WHERE rn = 1"""
    )
    want = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    g = {r.user_id: (r.n_events, r.total_value) for r in got.collect()}
    w = {r.user_id: (r.n_events, r.total_value) for r in want.collect()}
    assert g == w


def test_stream_static_enrich_equals_batch_twin(spark, sf_dir, batch_events):
    dim = load_testdata(spark, sf_dir, "customer")
    sdf = SW.stream_static_enrich(SW.stream_events(spark, sf_dir), dim)
    SW.run_to_memory(sdf, "t_enrich", state_partitions=4)
    got = spark.table("t_enrich")
    want = (
        batch_events.join(
            dim.select(F.col("c_custkey").alias("user_id"), "c_nationkey"), on="user_id"
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("c_nationkey").alias("nationkey"),
            "n_events",
            "sum_value",
        )
    )
    cols = ["window_start", "nationkey", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_checkpoint_resume(spark, tmp_path):
    """Restarting a checkpointed stream processes ONLY files that
    arrived since the last run — the recovery contract a production
    ingest relies on (file-source offsets live in the checkpoint)."""
    import shutil

    src = tmp_path / "landing"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, ids):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / ("stage_" + name)))
        part = next((tmp_path / ("stage_" + name)).glob("part-*.parquet"))
        shutil.copy(part, src / f"{name}.parquet")

    def drain():
        sdf = spark.readStream.schema("id long").parquet(str(src))
        q = (
            sdf.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1", [1, 2, 3])
    drain()
    assert sorted(r.id for r in spark.read.parquet(str(sink)).collect()) == [1, 2, 3]

    write_batch("b2", [4, 5])
    drain()
    # resume processed ONLY b2 — no duplicates from b1
    assert sorted(r.id for r in spark.read.parquet(str(sink)).collect()) == [1, 2, 3, 4, 5]


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir, batch_events):
    sdf = SW.stream_stream_click_purchase(spark, sf_dir)
    SW.run_to_memory(sdf, "t_ssj", output_mode="append", state_partitions=4)
    got = spark.table("t_ssj")
    p = batch_events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    c = batch_events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    want = p.join(
        c,
        F.expr(
            "user_id = c_user AND click_ts >= purchase_ts - INTERVAL 1 hour "
            "AND click_ts <= purchase_ts"
        ),
    ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")
    cols = ["user_id", "purchase_id", "click_id", "purchase_ts", "click_ts"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_merge_to_parquet_snapshot(spark, sf_dir, batch_events, tmp_path):
    """foreachBatch MERGE sink: after draining the stream, the parquet
    snapshot holds exactly the latest event per user (idempotent
    upsert semantics — the exactly-once end state)."""
    snap = str(tmp_path / "user_snapshot")
    SW.stream_merge_to_parquet(spark, sf_dir, snap, key_cols=["user_id"])
    got = spark.read.parquet(snap)
    want = (
        batch_events.groupBy("user_id")
        .agg(F.max_by("event_id", "event_id").alias("event_id"))
    )
    assert got.count() == want.count()
    g = {(r.user_id, r.event_id) for r in got.select("user_id", "event_id").collect()}
    w = {(r.user_id, r.event_id) for r in want.collect()}
    assert g == w


def test_cdc_snapshot_then_compaction(spark, sf_dir, batch_events, tmp_path):
    """The maintenance lifecycle end-to-end: stream → foreachBatch
    MERGE snapshot → small-file compaction; rows survive both."""
    from dask_datapipeline_spark.sources.writers import compact_small_files

    snap = str(tmp_path / "snap")
    SW.stream_merge_to_parquet(spark, sf_dir, snap, key_cols=["user_id"])
    before = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(snap).select("user_id", "event_id").collect()
    )
    compact_small_files(spark, snap, target_file_bytes=64 * 1024 * 1024)
    after = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(snap).select("user_id", "event_id").collect()
    )
    assert after == before and len(after) > 0


def test_stream_merge_restart_from_checkpoint_is_exactly_once(
    spark, sf_dir, batch_events, tmp_path
):
    """With a STABLE checkpoint dir, a restarted run resumes from the
    stored source offsets: the bounded source is already exhausted, so
    the rerun applies no batches and the snapshot is bit-identical —
    exactly-once across restarts, not merely idempotent-on-replay."""
    import os

    snap = str(tmp_path / "snap_ckpt")
    ckpt = str(tmp_path / "ckpt")
    SW.stream_merge_to_parquet(
        spark, sf_dir, snap, key_cols=["user_id"], checkpoint_dir=ckpt
    )
    first = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(snap).select("user_id", "event_id").collect()
    )
    mtime = max(
        os.path.getmtime(os.path.join(snap, f)) for f in os.listdir(snap)
    )
    SW.stream_merge_to_parquet(
        spark, sf_dir, snap, key_cols=["user_id"], checkpoint_dir=ckpt
    )
    second = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(snap).select("user_id", "event_id").collect()
    )
    assert first == second
    # no batch ran: the snapshot directory was not rewritten
    mtime2 = max(
        os.path.getmtime(os.path.join(snap, f)) for f in os.listdir(snap)
    )
    assert mtime2 == mtime


def test_append_mode_emits_only_watermark_closed_windows(spark, tmp_path):
    """Append mode must emit a window ONLY once the watermark passes
    its end — and windows still open when the bounded stream stops are
    withheld. Two files with controlled mtimes force two ordered
    micro-batches: batch 2's events advance the watermark past
    batch 1's windows, which then emit; batch 2's own windows never
    close and must be absent."""
    import os
    import time

    from pyspark.sql import Row

    early = [Row(user_id=1, ts="2024-01-01 00:01:00", value=1.0),
             Row(user_id=1, ts="2024-01-01 00:04:00", value=2.0)]
    late = [Row(user_id=1, ts="2024-01-01 03:00:00", value=4.0)]
    d = tmp_path / "stream_src"
    d.mkdir()
    for i, rows in enumerate([early, late]):
        df = spark.createDataFrame(rows).select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        p = str(d / f"part{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        # FileStreamSource orders by modification time: pin it
        mt = time.time() - 1000 + i * 100
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mt, mt))

    src = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*.parquet")
    )
    agg = (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = "append_windows_test"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(str(r.ws), r.n) for r in spark.table(name).collect()}
    # batch 2's 03:00 event moves the watermark to 02:30, closing the
    # single early window (both events fall in 00:00-00:10); the 03:00
    # window is still open when the bounded stream ends and must be
    # withheld
    assert got == {("2024-01-01 00:00:00", 2)}


def test_stream_incremental_dedup_restart_resumes_and_uses_increments(
    spark, tmp_path
):
    """Restart contract for the streaming dedup sink: with a STABLE
    checkpoint dir a rerun processes nothing new (offsets persisted,
    outputs untouched); after staging one MORE file the rerun
    processes ONLY that file — and flags its near-dup against a doc
    ingested in the FIRST run, proving the index increments persisted
    across the restart."""
    import os
    import shutil
    import time

    from dask_datapipeline_spark.operators.minhash_index import build_minhash_index
    from dask_datapipeline_spark.streaming.windows import stream_incremental_dedup

    work = str(tmp_path)
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    index_path = os.path.join(work, "index")
    build_minhash_index(corpus, index_path, num_hashes=16, bands=4, shingle_n=3)

    def stage(i, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tmp = os.path.join(work, f"tmp-{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(work, "staged", f"chunk-{i}.parquet")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(tmp)

    # batch 0: a corpus dup (doc 1 ~ doc 0) and a novel doc (doc 3)
    stage(0, [(1, "alpha beta gamma delta epsilon zeta"),
              (3, "red orange yellow green blue indigo")])
    staged = os.path.join(work, "staged")
    out = os.path.join(work, "flags")
    ckpt = os.path.join(work, "ckpt")
    stream_incremental_dedup(spark, staged, index_path, out, checkpoint_dir=ckpt)

    first_dirs = sorted(d for d in os.listdir(out) if d.startswith("batch-"))
    assert first_dirs == ["batch-00000"]
    flags0 = {
        r["doc_id"]: (r["dup_of"], r["is_new"])
        for r in spark.read.parquet(os.path.join(out, "batch-00000")).collect()
    }
    assert flags0[1] == (0, False)  # corpus dup found
    assert flags0[3] == (None, True)  # novel

    # restart with the SAME checkpoint: bounded source exhausted, so
    # no batch runs and no output dir is touched
    mtimes = {
        d: os.path.getmtime(os.path.join(out, d)) for d in first_dirs
    }
    stream_incremental_dedup(spark, staged, index_path, out, checkpoint_dir=ckpt)
    assert sorted(d for d in os.listdir(out) if d.startswith("batch-")) == first_dirs
    assert all(
        os.path.getmtime(os.path.join(out, d)) == m for d, m in mtimes.items()
    )

    # stage one more file: doc 5 duplicates doc 3 — which is NOT in
    # the base index, only in the first run's increment
    stage(1, [(5, "red orange yellow green blue indigo")])
    stream_incremental_dedup(spark, staged, index_path, out, checkpoint_dir=ckpt)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("batch-"))
    assert dirs == ["batch-00000", "batch-00001"]  # only the new file ran
    flags1 = {
        r["doc_id"]: (r["dup_of"], r["is_new"])
        for r in spark.read.parquet(os.path.join(out, "batch-00001")).collect()
    }
    assert flags1 == {5: (3, False)}  # matched via the persisted increment


def test_stream_incremental_quantile_restart_resumes_and_merges_exactly(
    spark, tmp_path
):
    """The maintained bottom-k sample equals the BATCH sample over all
    arrived rows after any sequence of runs: two files drained, a
    restart with the same checkpoint processes nothing, a third file
    staged later merges in exactly (min-merge exactness end-to-end)."""
    import os
    import time

    from dask_datapipeline_spark.operators.sketches import quantile_sample
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_quantile_sample,
    )

    work = str(tmp_path)
    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    rows = [(i, float((i * 37) % 101)) for i in range(300)]

    def stage(name, part, mt):
        df = spark.createDataFrame(part, "id long, v double")
        tmp = os.path.join(work, "tmp-" + name)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(staged, name + ".parquet")
        os.rename(src, dst)
        os.utime(dst, (mt, mt))

    now = time.time()
    stage("a", rows[:100], now)
    stage("b", rows[100:200], now + 1)
    sample_dir = os.path.join(work, "sample")
    ckpt = os.path.join(work, "ckpt")
    kw = dict(
        schema="id long, v double", value_col="v", id_col="id", k=32,
        checkpoint_dir=ckpt,
    )
    stream_incremental_quantile_sample(spark, staged, sample_dir, **kw)

    def sample_set():
        return {
            (r.id, r.v) for r in spark.read.parquet(sample_dir).collect()
        }

    def batch_set(n):
        df = spark.createDataFrame(rows[:n], "id long, v double")
        return {(r.id, r.v) for r in quantile_sample(df, "v", "id", k=32).collect()}

    assert sample_set() == batch_set(200)

    # restart, nothing new: snapshot untouched
    mtime = max(
        os.path.getmtime(os.path.join(sample_dir, f))
        for f in os.listdir(sample_dir)
    )
    stream_incremental_quantile_sample(spark, staged, sample_dir, **kw)
    assert max(
        os.path.getmtime(os.path.join(sample_dir, f))
        for f in os.listdir(sample_dir)
    ) == mtime

    # a third file arrives: resume processes ONLY it; result is still
    # exactly the batch sample over everything
    stage("c", rows[200:], now + 2)
    stream_incremental_quantile_sample(spark, staged, sample_dir, **kw)
    assert sample_set() == batch_set(300)


def _stage_batches(spark, work, batches):
    """Stage each row list as one parquet file under ``work/staged``,
    drained in list order; returns the staged dir."""
    import os

    from dask_datapipeline_spark.plans.catalog_llm import _stage_micro_batches

    staged = os.path.join(work, "staged")
    os.makedirs(staged)
    _stage_micro_batches(
        [spark.createDataFrame(rows, "doc_id long, text string") for rows in batches],
        staged,
    )
    return staged


DEDUP_CORPUS = [
    (0, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six"),
]
DEDUP_BATCHES = [
    [(1, "alpha beta gamma delta epsilon zeta"),
     (3, "red orange yellow green blue indigo")],
    # doc 5 duplicates doc 3 — reachable only via the increment (or
    # the compacted base) from batch 0
    [(5, "red orange yellow green blue indigo")],
    [(7, "completely novel text nothing shared here at all")],
]


def _dedup_index(spark, work):
    import os

    from dask_datapipeline_spark.operators.minhash_index import build_minhash_index

    os.makedirs(work, exist_ok=True)
    index_path = os.path.join(work, "index")
    build_minhash_index(
        spark.createDataFrame(DEDUP_CORPUS, "doc_id long, text string"), index_path
    )
    return index_path


def _stream_flags(spark, staged, index_path, work, **kw):
    """Drain ``staged`` through stream_incremental_dedup; {id: (dup_of, is_new)}."""
    import os

    SW.stream_incremental_dedup(
        spark, staged, index_path, os.path.join(work, "flags"),
        checkpoint_dir=os.path.join(work, "ckpt"), **kw,
    )
    return {
        r.doc_id: (r.dup_of, r.is_new)
        for r in spark.read.parquet(os.path.join(work, "flags", "batch-*")).collect()
    }


def test_stream_incremental_dedup_leaves_no_persisted_rdds(spark, tmp_path):
    """A micro-batch caches nothing that outlives it: after a 3-batch
    stream the session holds exactly the persisted RDDs it held
    before, so a long-running ingest does not grow the cache."""
    work = str(tmp_path)
    index_path = _dedup_index(spark, work)
    staged = _stage_batches(spark, work, DEDUP_BATCHES)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    flags = _stream_flags(spark, staged, index_path, work)
    assert flags[5] == (3, False)  # the stream did flag through the index
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_stream_replays_batch_committed_before_its_flags(spark, tmp_path):
    """Crash window of the append-then-flag order: batch 0 is committed
    to the index, then the process dies before its flags are written.
    The replayed batch's append is a no-op, and its flags equal a clean
    run's and the one-shot flags; the tag is listed once."""
    import json
    import os

    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        incremental_near_dup_flags,
    )

    rows = DEDUP_BATCHES[0] + DEDUP_BATCHES[1]
    batch = spark.createDataFrame(rows, "doc_id long, text string")

    clean = str(tmp_path / "clean")
    clean_index = _dedup_index(spark, clean)
    clean_flags = _stream_flags(
        spark, _stage_batches(spark, clean, [rows]), clean_index, clean
    )

    crashed = str(tmp_path / "crashed")
    index_path = _dedup_index(spark, crashed)
    one_shot = {
        r.doc_id: (r.dup_of, r.is_new)
        for r in incremental_near_dup_flags(batch, index_path).collect()
    }
    append_to_minhash_index(batch, index_path, "b00000")
    replayed = _stream_flags(
        spark, _stage_batches(spark, crashed, [rows]), index_path, crashed
    )

    assert replayed == clean_flags == one_shot
    assert replayed[5] == (3, False) and replayed[1] == (0, False)
    with open(os.path.join(index_path, "_CURRENT")) as f:
        assert json.load(f)["inc"] == ["b00000"]


def test_stream_incremental_dedup_with_compaction_is_flag_identical(
    spark, tmp_path
):
    """compact_every folds increments mid-stream: flags are identical
    to an uncompacted run, later batches still dedup against
    earlier-ingested docs THROUGH the compacted base, and the manifest
    increment list stays bounded."""
    import json
    import os

    def run(root, compact_every):
        work = str(tmp_path / root)
        index_path = _dedup_index(spark, work)
        staged = _stage_batches(spark, work, DEDUP_BATCHES)
        flags = _stream_flags(
            spark, staged, index_path, work, compact_every=compact_every
        )
        with open(os.path.join(index_path, "_CURRENT")) as f:
            return flags, json.load(f)

    plain_flags, plain_cur = run("plain", None)
    comp_flags, comp_cur = run("compacted", 1)
    assert comp_flags == plain_flags
    assert comp_flags[5] == (3, False)  # found via the compacted base
    # every COMMITTED batch folded; the final batch's tag stays live —
    # the replay watermark (keep_from) never folds the in-flight batch,
    # whose append idempotency a post-crash replay depends on
    assert comp_cur["inc"] == [f"b{len(DEDUP_BATCHES) - 1:05d}"]
    assert len(plain_cur["inc"]) == len(DEDUP_BATCHES)


def test_streaming_extra_removes_its_work_dir(spark, sf_dir):
    """A streaming extra stages batches, checkpoints and sink output
    in a work dir under the temp dir; it returns its rows materialized
    and leaves no dir behind."""
    import os
    import tempfile

    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    def work_dirs():
        tmp = os.listdir(tempfile.gettempdir())
        return {d for d in tmp if d.startswith("ddps_stream_kmv_")}

    before = work_dirs()
    rows = EXTRA_CATALOG["streaming_kmv"].fn(spark, sf_dir).collect()
    assert rows
    assert work_dirs() <= before
