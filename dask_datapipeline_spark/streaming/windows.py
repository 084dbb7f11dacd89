"""Structured Streaming surface (SURVEY.md §2.2; reference has none —
strictly batch, SURVEY.md §2.1 'Streaming: none').

Design: every transformation here is written against a plain
DataFrame, so the SAME function body serves the batch twin (catalog
queries ``tumbling_window`` / ``sliding_window`` / ``session_window``)
and the streaming pipeline — the Structured Streaming contract is that
batch and stream share the plan, differing only in source/sink/
trigger. Tests run the stream with ``availableNow`` over the testdata
parquet and assert equality with the batch result.

Scale notes:

- Watermarks bound state: without one, windowed aggregation state
  grows forever on a 100 TB/day stream. ``with_watermark`` is
  mandatory in every streaming pipeline here.
- ``dropDuplicatesWithinWatermark`` gives exactly-once-per-key within
  the lateness horizon with bounded state — the streaming counterpart
  of operators/dedup.py's exact dedup.
- Arbitrary stateful logic uses ``applyInPandasWithState`` (Arrow
  batches per key group) — the custom-stateful-operator escape hatch.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dask_datapipeline_spark.indexfs import IndexFS, _scheme


class _Snapshot:
    """Crash-safe snapshot-swap state directory for the sketch-sized
    streaming sinks (quantile sample / KMV / HLL / CDC
    parquet snapshot), over ANY Hadoop FS URI via ``indexfs.IndexFS``
    (round 13 — closes the asymmetry round 12 fixed for the
    base+delta indexes: the batch inputs and the index triad already
    spoke object-storage URIs while these snapshots were driver-local
    ``os.rename`` only).

    Protocol (unchanged from the round-11 ``stream_incremental_hll``
    pattern — plain paths behave byte-identically to the old os/shutil
    code): each batch writes the merged state into a fresh
    ``<base>.stage-*`` sibling, then swaps it live with two renames
    (base → ``.old-*``, stage → base) and drops the old dir. A crash
    between the renames leaves base missing with the previous snapshot
    intact in ``.old-*``; :meth:`recover` (called at the top of every
    batch) restores it and sweeps completed/healed leftovers — plus
    any stranded ``*.tmp-*`` marker temps (the indexfs no-strands
    discipline). On object stores the directory renames are O(state)
    copies — acceptable for SKETCH-sized state by definition; anything
    corpus-sized belongs in the delta-append family instead."""

    def __init__(self, path: str, what: str) -> None:
        self.base = (
            os.path.abspath(path.rstrip("/"))
            if _scheme(path) == ""
            else path.rstrip("/")
        )
        self.fs = IndexFS.for_path(self.base, what)
        self.parent, self.name = self.base.rsplit("/", 1)

    def exists(self) -> bool:
        return self.fs.isdir(self.base)

    def staging(self) -> str:
        return self.base + f".stage-{uuid.uuid4().hex[:8]}"

    def _sentinel(self) -> str:
        return self.base + ".swap"

    def recover(self) -> None:
        """Heal a mid-swap crash before touching state.

        Phase-aware healing (round 14, _FlakyFS-pinned): on
        copy-then-delete stores a rename can crash MID-COPY, leaving a
        partial destination COEXISTING with the complete source — the
        old base-missing check alone would then trust a partial base.
        ``swap`` records which rename is in flight in a ``.swap``
        sentinel (atomic small writes); healing leans on the rename
        invariant that the SOURCE stays complete until the rename's
        source delete commits:

        - phase 1 (base → old in flight): base present ⟹ the rename
          never committed, a coexisting old is the partial copy —
          drop it; base absent ⟹ it committed, old is complete —
          restore it.
        - phase 2 (staging → base in flight; any recorded old is
          complete): staging present ⟹ the install never committed,
          base is partial-or-absent — drop it and restore the old;
          staging absent ⟹ the install committed, base is complete.

        A corrupt sentinel raises loudly (guessing risks installing a
        partial snapshot). Then the legacy logic: base missing →
        restore the newest ``.old-*``; once a live base exists, sweep
        leftover ``.old-*``/``.stage-*`` siblings and stranded marker
        temps."""
        import json as _json

        sent = self._sentinel()
        if self.fs.isfile(sent):
            try:
                rec = _json.loads(self.fs.read_text(sent))
                phase = rec["phase"]
                old = rec["old"]
                stg = rec["staging"]
            except Exception as e:
                raise ValueError(
                    f"corrupt swap sentinel {sent!r} — refusing to "
                    "guess which rename was in flight (a wrong guess "
                    f"can install a partial snapshot): {e}"
                ) from e
            old_p = IndexFS.join(self.parent, old) if old else None
            stg_p = IndexFS.join(self.parent, stg)
            if phase == 1:
                if self.fs.isdir(self.base):
                    if old_p:
                        self.fs.rmtree(old_p)  # partial copy
                elif old_p and self.fs.isdir(old_p):
                    self.fs.move(old_p, self.base)  # committed → restore
                else:
                    raise ValueError(
                        f"swap sentinel {sent!r} says base→old was in "
                        f"flight but neither {self.base!r} nor the old "
                        "dir exists — snapshot state is unrecoverable "
                        "here; restore from upstream"
                    )
            elif phase == 2:
                if self.fs.isdir(stg_p):  # install never committed
                    self.fs.rmtree(self.base)
                    if old_p and self.fs.isdir(old_p):
                        self.fs.move(old_p, self.base)
                # staging absent: install committed, base complete
            else:
                raise ValueError(
                    f"swap sentinel {sent!r} has unknown phase "
                    f"{phase!r} — refusing to guess"
                )
            self.fs.delete_file(sent)
        siblings = self.fs.listdir(self.parent)
        if not self.fs.isdir(self.base):
            olds = sorted(
                d for d in siblings if d.startswith(self.name + ".old-")
            )
            if olds:
                self.fs.move(
                    IndexFS.join(self.parent, olds[-1]), self.base
                )
                siblings = self.fs.listdir(self.parent)
        if self.fs.isdir(self.base):
            for d in siblings:
                if d.startswith(self.name + ".old-") or d.startswith(
                    self.name + ".stage-"
                ):
                    self.fs.rmtree(IndexFS.join(self.parent, d))
            self.fs.sweep_tmp(self.base)
            # stranded temps of OUR sentinel land in the PARENT (the
            # sentinel is a sibling of base); sweep only names under
            # our own prefix — a sibling snapshot's in-flight temp is
            # not ours to touch
            for d in self.fs.listdir(self.parent):
                if d.startswith(self.name + ".swap.tmp-"):
                    self.fs.delete_file(IndexFS.join(self.parent, d))

    def swap(self, staging: str) -> None:
        """Make ``staging`` the live snapshot. Each rename's crash
        window — including MID-COPY on copy-then-delete stores — is
        covered by the phase sentinel ``recover()`` reads (round 14);
        the sentinel writes are atomic single-object puts."""
        import json as _json

        sent = self._sentinel()
        stg_name = staging.rsplit("/", 1)[1]
        if self.fs.isdir(self.base):
            old = self.base + f".old-{uuid.uuid4().hex[:8]}"
            old_name = old.rsplit("/", 1)[1]
            self.fs.write_text_atomic(
                sent,
                _json.dumps(
                    {"phase": 1, "old": old_name, "staging": stg_name}
                ),
            )
            self.fs.move(self.base, old)
            self.fs.write_text_atomic(
                sent,
                _json.dumps(
                    {"phase": 2, "old": old_name, "staging": stg_name}
                ),
            )
            self.fs.move(staging, self.base)
            self.fs.delete_file(sent)
            self.fs.rmtree(old)
        else:
            self.fs.write_text_atomic(
                sent,
                _json.dumps({"phase": 2, "old": None, "staging": stg_name}),
            )
            self.fs.move(staging, self.base)
            self.fs.delete_file(sent)


def _drain(q, timeout_sec: int, what: str = "stream") -> None:
    """availableNow drains must FINISH: ``awaitTermination(timeout)``
    returning False on a slow drain would hand the caller a PARTIAL
    sink (and the still-live query would keep writing under it) —
    stop the query and raise instead of returning quietly."""
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"{what} did not drain in {timeout_sec}s")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` as a file stream (one-file 'directory'; production:
    a growing landing dir or Kafka source — same downstream plan).

    Same timestamp-unit probing as the batch reader (parquet footer
    metadata, driver-side): TIMESTAMP(NANOS) files are read as raw
    longs and truncated to microseconds with exact integer DIV;
    TIMESTAMP(MICROS) files stream with the canonical schema as-is."""
    import os

    from dask_datapipeline_spark.schemas import TESTDATA_SCHEMAS
    from dask_datapipeline_spark.sources.readers import _parquet_ts_unit

    schema = TESTDATA_SCHEMAS["events"]
    nanos = _parquet_ts_unit(os.path.join(sf_dir, "events.parquet"), "ts") == "ns"
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # derive from the canonical events schema (single source of
        # truth; a hand-copied duplicate would drift silently into
        # all-null columns on rename) with ts swapped to nanos-as-long
        schema = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in schema.fields
            ]
        )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    else:
        # micros files load as TIMESTAMP_NTZ; normalize to TIMESTAMP
        # (session tz pinned UTC → epoch-preserving) for watermarks
        # and window() downstream.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "30 minutes") -> DataFrame:
    return df.withWatermark(ts_col, delay)


def tumbling_agg(df: DataFrame, ts_col: str = "ts", width: str = "10 minutes") -> DataFrame:
    """Tumbling-window count+sum — identical body to the batch twin
    (catalog ``tumbling_window``)."""
    return (
        df.groupBy(F.window(ts_col, width).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_agg(df: DataFrame, ts_col: str = "ts", gap: str = "6 hours") -> DataFrame:
    """Per-user session windows — streaming requires a watermark
    upstream so closed sessions can be finalized and state dropped."""
    return (
        df.groupBy("user_id", F.session_window(ts_col, gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` as a file stream (one-file 'directory'; the
    production analogue is a crawl landing prefix). No timestamp
    column — the text-curation streams are time-agnostic."""
    from dask_datapipeline_spark.schemas import TESTDATA_SCHEMAS

    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embeddings`` as a file stream (one-file 'directory'; the
    production analogue is a landing prefix of embedding shards from
    an encoder job). No timestamp column — the numeric-pipeline
    streams (moments) are time-agnostic aggregations."""
    from dask_datapipeline_spark.schemas import TESTDATA_SCHEMAS

    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["embeddings"])
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    width: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each microbatch
    of the event stream joins the STATIC dimension (re-read per batch —
    Spark's stream-static contract, so slowly-changing dims pick up
    updates between batches) and aggregates per (window, nation).

    The dimension side is explicitly broadcast: a stream-static
    broadcast join keeps the STREAM side map-only — no stream shuffle
    before the window aggregation's own keyed exchange, which is the
    shape that survives a high-throughput ingest (the dim is bounded;
    the stream is not). Money accumulates as DECIMAL(18,2), so the
    complete-mode result equals the batch twin bit-for-bit."""
    keyed = dim.select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    joined = stream.join(F.broadcast(keyed), on="user_id", how="inner")
    return (
        joined.groupBy(F.window("ts", width).alias("w"), "c_nationkey")
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


def stream_dedup(df: DataFrame, keys: list[str], ts_col: str = "ts", delay: str = "30 minutes") -> DataFrame:
    """Exactly-once per key within the watermark horizon, bounded state."""
    return with_watermark(df, ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stream_stream_click_purchase(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM inner join: each purchase paired with the same
    user's clicks in the preceding ``lookback`` (inclusive bounds).

    The two requirements that make this state-bounded on an unbounded
    stream: watermarks on BOTH sides (late events beyond ``delay`` may
    be dropped) and a time-RANGE join condition, which lets Spark
    evict click state older than purchase_ts - lookback - delay
    instead of buffering both streams forever. Over the bounded
    availableNow replay everything lands in one microbatch, so the
    emitted set equals the batch join exactly — which is what the SQL
    oracle checks.

    Both sides derive from ONE readStream source (a self-join of the
    stream) — Spark plans it as two stateful join sides over the same
    scan, the production shape for funnel-ish stream correlation."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", delay)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""user_id = c_user
            AND click_ts >= purchase_ts - INTERVAL {lookback}
            AND click_ts <= purchase_ts"""
        ),
        "inner",
    ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")


_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


def stateful_user_totals(df: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user (count, total value)
    via ``applyInPandasWithState`` — the pattern for operators Spark's
    built-ins can't express (per-key accumulators, custom sessions,
    CEP-ish logic). State is one (n, cents) pair per user — O(keys).

    The accumulator is INTEGER CENTS, not a float: value is cast to
    DECIMAL(18,2) JVM-side and scaled to a long before the stateful
    operator, so the running total is exact and independent of arrival
    order / microbatch boundaries — which is what lets this operator
    carry an exact SQL oracle instead of a rows-only check. Convert
    back with ``total_cents / 100.0`` (one IEEE division — identical
    to DuckDB's DECIMAL→DOUBLE cast of the same exact sum)."""

    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")

    def update(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # nulls surface as NaN after Arrow; treat as 0 (sum skips
            # them, the row still counts). Cents are < 2^53 — exact in
            # the float64 detour.
            tot += int(pdf["cents"].fillna(0).sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [tot]}
        )

    return df.select("user_id", cents.alias("cents")).groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
    state_partitions: int | None = None,
) -> None:
    """Drain a finite stream into the in-memory sink (tests/demos):
    availableNow trigger processes everything then stops.

    ``state_partitions``: stateful streaming runs one state-store
    instance per shuffle partition, and the count is frozen into the
    checkpoint at the first batch — so it must be sized to the STREAM's
    key cardinality, not inherited from the batch session default. A
    production deployment sizes it to executor count × cores; the local
    catalog passes a small value because paying 32 store initializations
    for a bounded test stream measures store setup, not the operator.
    The session conf is restored afterwards (batch queries in the same
    session must not see a stray value)."""
    spark = sdf.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_sec)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"stream {query_name} did not finish in {timeout_sec}s")
    finally:
        spark.conf.set(key, old)


def stream_merge_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    snapshot_dir: str,
    key_cols: list[str] | None = None,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming CDC maintenance: drain the event stream through
    ``foreachBatch``, MERGE-upserting each microbatch into a parquet
    snapshot (latest row per key wins) — the production pattern for
    keeping a queryable table current from a stream when the sink has
    no native upsert (raw parquet here; Delta/Iceberg MERGE INTO is
    the table-format twin).

    Per microbatch: collapse the batch to its latest row per key
    (``latest_per_key`` keyed on the unique, monotone ``event_id`` —
    the version column, so "latest" is total-ordered even under
    duplicate timestamps), MERGE with the current snapshot
    (``merge_upsert``), write the new
    snapshot to a staging dir and swap it in via the shared
    ``_Snapshot`` protocol (each rename is atomic; the swap as a whole
    is not — a concurrent reader can transiently see a missing
    directory, never a mixed one, and a mid-swap crash heals at the
    next batch via recover(); any Hadoop FS URI). foreachBatch gives
    at-least-once delivery; the MERGE is IDEMPOTENT per key (replayed
    batches re-apply the same latest rows), which is what makes the
    end state exactly-once — the same reasoning every foreachBatch
    upsert sink relies on.
    """
    from dask_datapipeline_spark.operators.merge import latest_per_key, merge_upsert

    keys = key_cols or ["user_id"]
    snap = _Snapshot(snapshot_dir, "stream_merge_to_parquet")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        snap.recover()
        changes = latest_per_key(batch_df, keys, "event_id")
        if snap.exists():
            base = spark.read.parquet(snap.base)
            merged = merge_upsert(base, changes, keys)
        else:
            merged = changes
        staging = snap.staging()
        merged.write.mode("overwrite").parquet(staging)
        snap.swap(staging)

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            # a STABLE checkpoint dir is what makes restart exactly-once:
            # source offsets live there, so a rerun resumes where the
            # last run stopped instead of replaying the whole source.
            # The DEFAULT is therefore stable (derived from the snapshot
            # path) — a fresh-per-run dir would silently demote the
            # documented restart contract to replay-idempotence only
            # (ADVICE r6); pass an explicit throwaway dir to opt out.
            checkpoint_dir or snapshot_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_merge_to_versioned(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    key_cols: list[str] | None = None,
    timeout_sec: int = 120,
    checkpoint_dir: str | None = None,
) -> None:
    """``stream_merge_to_parquet`` upgraded to a VERSIONED sink: each
    micro-batch MERGEs into the current snapshot and commits the
    result as a NEW version of one versioned table
    (``sources/writers.py::merge_versioned``), tagged by batch_id.

    Three upgrades over the rename-swap parquet sink, all inherited
    from the manifest protocol:
    - readers keep resolving the previous version until ONE atomic
      manifest flip — no transient missing-directory window;
    - at-least-once replay is idempotent BY TAG: a replayed batch_id
      returns its existing version without writing (the parquet sink
      relies on the MERGE being semantically idempotent; this one
      doesn't even re-run the write);
    - the version history IS the CDC audit trail — ``snapshot_diff``
      between consecutive versions shows exactly what each batch
      changed, and ``expire_versions`` bounds retention.
    """
    from dask_datapipeline_spark.operators.merge import latest_per_key
    from dask_datapipeline_spark.sources.writers import merge_versioned

    keys = key_cols or ["user_id"]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        changes = latest_per_key(batch_df, keys, "event_id")
        merge_versioned(
            spark, table_dir, changes, keys, tag=f"batch-{batch_id}"
        )

    q = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            # stable default for restart exactly-once (see
            # stream_merge_to_parquet); the batch-id TAG additionally
            # covers the crash-after-commit-before-checkpoint window,
            # where the restarted run replays the last batch
            checkpoint_dir or table_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_incremental_quantile_sample(
    spark: SparkSession,
    staged_dir: str,
    sample_dir: str,
    schema: str,
    value_col: str,
    id_col: str,
    k: int = 256,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 240,
    lease=None,
) -> None:
    """Maintain the mergeable quantile sketch (``operators/sketches.py
    ::quantile_sample`` — the bottom-k-by-md5(id) row sample)
    INCREMENTALLY over a document/event file stream: per micro-batch,
    union the persisted sample with the batch, re-take the bottom-k,
    atomically swap the sample snapshot.

    Min-merge EXACTNESS is what makes this correct: the bottom-k of a
    union is the bottom-k of the parts' bottom-k's, so after draining
    any batching of the input the maintained sample is BIT-IDENTICAL
    to the batch sketch over the full data — the catalog row proves it
    by sharing the batch oracle verbatim. Replay (at-least-once
    foreachBatch) is idempotent: rows are deduped on the unique
    ``id_col`` before the re-take, so a replayed batch's rows merge
    into themselves. Per micro-batch cost is O(batch + k); the corpus
    is never rescanned. Stable checkpoint + the ``_Snapshot``
    swap/recover protocol over any Hadoop FS URI (round 13 — plain
    paths behave exactly as before)."""
    from dask_datapipeline_spark.operators.sketches import quantile_sample

    snap = _Snapshot(sample_dir, "stream_incremental_quantile_sample")
    if lease is not None:  # lease root must live OUTSIDE the swapped
        lease.acquire()    # snapshot dir (e.g. its parent) — the dir
                           # itself is replaced every batch

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        snap.recover()
        cur = (
            batch_df.select(id_col, value_col)
            if not snap.exists()
            else spark.read.parquet(snap.base)
            .select(id_col, value_col)
            .unionByName(batch_df.select(id_col, value_col))
        )
        new_sample = quantile_sample(
            cur.dropDuplicates([id_col]), value_col, id_col, k=k
        )
        staging = snap.staging()
        new_sample.write.mode("overwrite").parquet(staging)
        snap.swap(staging)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or sample_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_incremental_kmv(
    spark: SparkSession,
    staged_dir: str,
    sketch_dir: str,
    schema: str,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 240,
    lease=None,
) -> None:
    """Maintain the KMV distinct-count sketch (``operators/sketches.py``)
    incrementally over a file stream: per micro-batch, hash the batch's
    values, union with the persisted per-group k-minima, re-take the
    k smallest DISTINCT hashes, atomically swap the snapshot.

    Same correctness argument as ``stream_incremental_quantile_sample``
    — KMV min-merge is exact, so after draining any batching the
    maintained sketch is BIT-IDENTICAL to the batch sketch over the
    full stream (the catalog row shares the batch oracle verbatim).
    Replay is idempotent for free here: the sketch is a DISTINCT hash
    set, so re-merged rows vanish in the distinct. Per micro-batch
    cost is O(batch + groups·k). Snapshot swap/recover via
    ``_Snapshot`` — any Hadoop FS URI (round 13)."""
    from dask_datapipeline_spark.operators.dedup import seeded_hash64
    from dask_datapipeline_spark.operators.sketches import (
        KMV_SEED,
        kmv_sketch_rows,
    )

    snap = _Snapshot(sketch_dir, "stream_incremental_kmv")
    if lease is not None:  # lease root outside the swapped dir
        lease.acquire()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        snap.recover()
        hashed = batch_df.where(F.col(value_col).isNotNull()).select(
            *group_cols,
            seeded_hash64(F.col(value_col).cast("string"), KMV_SEED).alias("__h"),
        )
        cur = (
            hashed
            if not snap.exists()
            else spark.read.parquet(snap.base).unionByName(hashed)
        )
        new_sketch = kmv_sketch_rows(cur, group_cols, k)
        staging = snap.staging()
        new_sketch.write.mode("overwrite").parquet(staging)
        snap.swap(staging)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or sketch_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_incremental_dedup(
    spark: SparkSession,
    staged_docs_dir: str,
    index_path: str,
    out_dir: str,
    schema: str = "doc_id long, text string",
    checkpoint_dir: str | None = None,
    threshold: float = 0.5,
    timeout_sec: int = 240,
    compact_every: int | None = None,
    compact_max_inc: int | None = None,
    lease=None,
) -> None:
    """Streaming incremental near-dup: drain a document file stream
    (one staged parquet file per micro-batch) through ``foreachBatch``,
    appending each micro-batch's own band rows and hash arrays to the
    PERSISTED MinHash corpus index (``operators/minhash_index.py``) as
    an increment and flagging it against that index — so later
    micro-batches dedup against everything ingested before them, and
    the corpus text is never re-shingled.

    Per micro-batch: ``append_to_minhash_index`` tagged by batch_id
    shingles and signs the batch ONCE into increment ``inc/<tag>``
    (idempotent) → the flags plan reads its band rows and hash arrays
    back from the increment, caching nothing → flags written to
    ``out_dir/batch-<id>`` (mode=overwrite ⇒ idempotent under
    at-least-once replay). Flags computed after the commit equal flags
    computed before it, because
    the batch's own ids are anti-joined out of the index side; so a
    crash between commit and flags write replays to identical flags.
    A STABLE ``checkpoint_dir`` stores source offsets: a restarted run
    resumes with already-processed files skipped — together with the
    idempotent writes this gives an exactly-once end state, the same
    contract as ``stream_merge_to_parquet``.

    When staged files are id-range-ordered (file k holds smaller ids
    than file k+1, oldest mtime first), the union of all per-batch
    flags is EXACTLY the monolithic ``incremental_near_dup_flags``
    over the whole batch: a doc's dup partner set — corpus docs plus
    smaller-id ingested docs — is the same whether the smaller-id doc
    arrived in an earlier micro-batch (via the index increment) or the
    same one (via the in-batch union). The catalog row exploits this
    to share the batch oracle.

    ``compact_every=N`` folds the increment list into one versioned
    base pair (``compact_minhash_index``) after every Nth batch —
    bounding the index's file count for a long-running ingest; flags
    are unchanged by compaction, so N is an operational knob only;
    ``compact_max_inc=K`` is the threshold-based twin
    (``maybe_compact_minhash_index``) — compact whenever the committed
    increment list exceeds K pairs, which bounds file count by STATE
    rather than cadence (a cadence knob over-compacts small batches
    and under-compacts big ones)."""
    from dask_datapipeline_spark.operators.minhash_index import (
        _flags,
        _read_increment,
        append_to_minhash_index,
        compact_minhash_index,
        maybe_compact_minhash_index,
        read_minhash_index,
    )

    if lease is not None:  # single-writer contract, enforced (r13)
        lease.acquire()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        tag = f"b{batch_id:05d}"
        append_to_minhash_index(batch_df, index_path, tag)
        idx_bands, idx_arrs, _, meta = read_minhash_index(spark, index_path)
        b_bands, b_arrs = _read_increment(spark, index_path, tag, meta)
        flags = _flags(batch_df, idx_bands, idx_arrs, b_bands, b_arrs, meta, threshold)
        flags.write.mode("overwrite").parquet(
            IndexFS.join(out_dir, f"batch-{batch_id:05d}")
        )
        # compaction runs INSIDE foreachBatch, i.e. under the same
        # single-writer serialization as the appends (the contract
        # compact_minhash_index requires); flags are byte-identical
        # before and after (pytest-pinned). keep_from=tag keeps THIS
        # batch's (not-yet-checkpoint-committed) increment out of the
        # fold: the append's tag-in-manifest idempotency is what makes
        # a post-crash replay safe, and folding the tag would erase it
        # — the replayed batch would re-append rows already in the base.
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_minhash_index(
                spark, index_path, keep_from=tag, lease=lease
            )
        if compact_max_inc is not None:
            maybe_compact_minhash_index(
                spark, index_path, compact_max_inc, keep_from=tag,
                lease=lease,
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_docs_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            # stable by default for the same reason as
            # stream_merge_to_parquet: the restart/resume contract the
            # docstring promises only holds when a rerun finds the
            # offsets of the previous one (ADVICE r6)
            checkpoint_dir or out_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_incremental_bm25_index(
    spark: SparkSession,
    staged_dir: str,
    index_dir: str,
    schema: str,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 240,
    compact_max_deltas: int | None = None,
    lease=None,
) -> None:
    """Maintain the BM25 inverted index (``operators/bm25.py``)
    incrementally over a (doc_id, text) file stream: per micro-batch,
    write the batch's postings and one-row stats as a DELTA under
    ``<index_dir>/postings/delta=<batch_id>`` and
    ``<index_dir>/stats/delta=<batch_id>``.

    Why deltas instead of a merge-and-swap: postings are ADDITIVE — a
    file stream delivers each document in exactly one micro-batch, so
    deltas are disjoint by doc_id and their plain union IS the full
    postings table; per-batch cost is O(batch), the index is never
    rewritten (the snapshot-swap twins pay O(state) per batch, fine
    for sketch-sized state, wrong for a corpus-sized index).
    Replay idempotency is BY PATH: an at-least-once foreachBatch
    replay rewrites the SAME delta directory (mode=overwrite, stable
    batch_id from the checkpoint), so duplicates cannot accumulate.
    ``bm25_topk_from_index`` reads the union transparently (partition
    discovery; stats SUM across delta rows), so after draining the
    stream the scored output is BIT-IDENTICAL to an index built by
    ``build_bm25_index`` in one batch — the catalog row proves it by
    sharing ``bm25_topk``'s oracle verbatim. An EXISTING one-shot
    index is adopted on entry: its flat part files move into
    ``delta=-1`` (Spark refuses mixed-depth layouts), after which
    batch-built and streamed contributions read as one table.
    Production compaction (fold old deltas into a base) is
    ``operators/bm25.py::compact_bm25_index``; ``compact_max_deltas=N``
    turns on the in-sink maintenance POLICY instead: after each delta
    append, ``maybe_compact_bm25_index`` folds the index in place once
    the delta count exceeds N (crash-safe two-phase commit; scores
    bit-identical — round 10 measured 64 deltas costing +60% probe
    latency, which this bounds at O(N) files). Half-done compactions
    from a previous crash are recovered at sink start.

    ``lease``: an optional ``lease.WriterLease`` ENFORCING the
    single-writer contract the protocol documents — acquired at sink
    start (a second live writer is rejected with ``LeaseHeldError``
    before touching state) and checked-and-renewed before every batch
    apply (a stale owner that lost the lease stops with
    ``LeaseFencedError`` instead of interleaving flips)."""
    from dask_datapipeline_spark.operators.bm25 import (
        maybe_compact_bm25_index,
        postings_frames,
        recover_bm25_compaction,
    )

    base = index_dir.rstrip("/")
    if lease is not None:
        lease.acquire()
    recover_bm25_compaction(base)

    def _adopt_flat_layout() -> None:
        """An index built by ``build_bm25_index`` stores flat part
        files under postings/ and stats/; Spark refuses mixed-depth
        layouts, so deltas cannot land next to them. Adopt the batch
        build as the BASE delta: move its files into ``delta=-1``
        (idempotent — once moved, no flat files remain), after which
        the one-shot and streamed contributions read as one
        partitioned table. Speaks any Hadoop FS URI via indexfs
        (round 12), like the rest of the maintenance triad."""
        from dask_datapipeline_spark.indexfs import IndexFS

        fs = IndexFS.for_path(base, "stream_incremental_bm25_index")
        for sub in ("postings", "stats"):
            d = IndexFS.join(base, sub)
            flat = [
                f
                for f in fs.listdir(d)
                if fs.isfile(IndexFS.join(d, f))
            ]
            if not flat:
                continue
            dest = IndexFS.join(d, "delta=-1")
            fs.makedirs(dest)
            for f in flat:
                # re-run of a crashed adoption: a half-renamed file
                # (copy+delete stores) is rebuilt from the source
                fs.delete_file(IndexFS.join(dest, f))
                fs.move(IndexFS.join(d, f), IndexFS.join(dest, f))

    _adopt_flat_layout()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        postings, stats = postings_frames(batch_df)
        (
            postings.repartition("token")
            .sortWithinPartitions("token", "doc_id")
            .write.mode("overwrite")
            .parquet(f"{base}/postings/delta={batch_id}")
        )
        stats.write.mode("overwrite").parquet(f"{base}/stats/delta={batch_id}")
        # maintenance policy: runs INSIDE foreachBatch, i.e. under the
        # sink's serialized single-writer contract. exclude_from keeps
        # THIS batch's (not-yet-checkpoint-committed) delta out of the
        # fold: a crash after compaction but before the streaming
        # commit replays the batch, and its overwrite-by-batch-id
        # append is idempotent only while its delta dir is still live
        # — folding it would make the replay double-count the batch
        if compact_max_deltas is not None:
            maybe_compact_bm25_index(
                spark, base, compact_max_deltas, exclude_from=batch_id,
                lease=lease,
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or base + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)


def stream_stage_deltas(
    spark: SparkSession,
    staged_dir: str,
    out_dir: str,
    schema,
    stage_fn,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 240,
    compact_max_deltas: int | None = None,
    lease=None,
) -> None:
    """ROW-LOCAL pipeline stage under the micro-batch engine: per
    micro-batch, apply ``stage_fn`` (DataFrame → DataFrame; must be
    row-local — extraction, normalization, per-row scoring — never a
    cross-batch aggregate) and write the result as
    ``<out_dir>/delta=<batch_id>`` (mode=overwrite by checkpointed
    batch id — the replay-idempotent append discipline every
    incremental sink here uses). Reading ``out_dir`` afterward yields
    the union of all processed batches via partition discovery.
    ``compact_max_deltas`` turns on the in-sink maintenance policy
    (``operators/deltas.py::maybe_compact_deltas`` with the
    ``exclude_from=batch_id`` replay watermark): a long-running stream
    otherwise accumulates unbounded tiny delta dirs — the same
    file-count regression the index compactions bound. Half-done
    compactions recover at sink start.

    This is THE streaming shape for the web-curation front door: the
    compute-dense per-row work (HTML parsing, normalization, quality
    signals — the Arrow stages) streams at O(batch) per trigger as
    crawl files land, while the corpus-GLOBAL stages (URL/exact/
    MinHash dedup, splits) run over the accumulated deltas as a
    periodic batch pass — exactly how a production pipeline splits
    the work, and what keeps per-trigger cost O(batch) instead of the
    O(corpus) a snapshot-recompute twin would pay. Because stage_fn is
    row-local and the deltas partition the input, batch-over-the-union
    ≡ union-over-the-batches BY CONSTRUCTION — the catalog row
    (extra:streaming_corpus_clean) proves the end-to-end equality by
    sharing web_corpus_clean's oracle verbatim."""
    from dask_datapipeline_spark.operators.deltas import (
        maybe_compact_deltas,
        recover_delta_compaction,
    )

    out = out_dir.rstrip("/")
    if lease is not None:  # single-writer contract, enforced (r13)
        lease.acquire()
    recover_delta_compaction(out)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        stage_fn(batch_df).write.mode("overwrite").parquet(
            f"{out}/delta={batch_id}"
        )
        if compact_max_deltas is not None:
            maybe_compact_deltas(
                spark, out, compact_max_deltas, exclude_from=batch_id,
                lease=lease,
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir or out + ".ckpt")
        .start()
    )
    _drain(q, timeout_sec)


def stream_incremental_hll(
    spark: SparkSession,
    staged_dir: str,
    sketch_dir: str,
    schema: str,
    group_cols: list[str],
    value_col: str,
    p: int = 10,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 240,
    lease=None,
) -> None:
    """Maintain the HyperLogLog register table (``operators/sketches
    .py::hll_registers``) incrementally over a file stream: per
    micro-batch, build the batch's registers, union with the persisted
    table, MAX-merge per (group, bucket), atomically swap the
    snapshot.

    Register max-merge is exact (max of a union = max of the parts'
    maxes), so after draining any batching of the input the maintained
    table is BIT-IDENTICAL to the batch sketch over the full stream —
    the catalog row proves it by sharing hll_distinct's oracle
    verbatim. Replay (at-least-once foreachBatch) is idempotent for
    free: re-merging a batch's registers maxes them into themselves.
    Per micro-batch cost is O(batch + groups·2^p); the corpus is never
    rescanned. A mid-swap crash heals at the next batch start: the
    ``_Snapshot`` recover() restores the intact ``.old-*`` snapshot
    and re-merging the replayed batch is idempotent for max-merge —
    nothing is lost. Any Hadoop FS URI (round 13)."""
    from dask_datapipeline_spark.operators.sketches import (
        HLL_SEED,
        hll_merge_registers,
        hll_registers,
    )

    snap = _Snapshot(sketch_dir, "stream_incremental_hll")
    if lease is not None:  # lease root outside the swapped dir
        lease.acquire()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if lease is not None:
            lease.check_and_renew()
        snap.recover()
        reg = hll_registers(batch_df, group_cols, value_col, p=p, seed=HLL_SEED)
        cur = (
            reg
            if not snap.exists()
            else spark.read.parquet(snap.base).unionByName(reg)
        )
        new_sketch = hll_merge_registers(cur, group_cols)
        staging = snap.staging()
        new_sketch.write.mode("overwrite").parquet(staging)
        snap.swap(staging)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            checkpoint_dir or sketch_dir.rstrip("/") + ".ckpt",
        )
        .start()
    )
    _drain(q, timeout_sec)
