"""Materialized MinHash signature index for incremental dedup.

The production daily-ingest workflow (docs/SCALE.md §Dedup): the
existing corpus's shingle hashes and MinHash signatures are written
to parquet ONCE at index-build time; every incoming batch then
flags its near-dups by reading the INDEX — the corpus text is never
re-shingled, re-hashed, or re-signed per batch. At 100 TB this is
the difference between a daily O(corpus) recompute and O(batch)
work plus index scans. A streaming ingest signs each batch ONCE, into
its increment, and flags it from there with a plan that caches nothing.

Index layout under ``<path>/``:

- ``shingles/``    — capped DISTINCT ``(id, __h)`` rows (the Jaccard
  verify universe; 8-byte hashes, never shingle strings)
- ``signatures/``  — ``(id, mh_0..mh_{n-1})`` MinHash signatures
- ``hot_hashes/``  — hashes whose CORPUS document frequency exceeds
  ``max_df`` (empty when ``max_df`` is None)
- ``_META``        — json of the build parameters; read back at query
  time so a batch can never be scored against an index built with
  different hashing parameters
- ``_CURRENT``     — json MANIFEST of the live state: the active base
  dir pair and the committed increment tags. Every mutation commits by
  atomically rewriting this one file (temp + rename), so readers see
  either the whole old state or the whole new state — an increment or
  compacted base whose dirs exist but which the manifest does not
  reference is invisible garbage, which is what makes append replay
  and mid-compaction crashes safe (see ``append_to_minhash_index`` /
  ``compact_minhash_index``).

The document-frequency cap is FROZEN at build time: a batch's
shingles are capped against the corpus's hot-hash set, not against a
recomputed corpus+batch frequency — the cap only shifts again at the
next reindex. (This is the one deliberate semantic difference from
the monolithic ``near_dup_pairs_minhash`` over corpus ∪ batch, whose
cap sees the batch; the SQL oracle replays the frozen-cap semantics
exactly.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_datapipeline_spark.indexfs import IndexFS
from dask_datapipeline_spark.operators.dedup import (
    _jaccard_from_distinct,
    _signatures_from_hashed,
    band_keys,
    hashed_shingles,
)


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_df: int | None = None,
    shingle_mode: str = "word",
) -> dict:
    """Write the corpus index (one corpus pass; see module docstring).

    ``shingle_mode='char'`` builds a CHAR-n-gram index (round 13) —
    the correct feature for unsegmented CJK corpora, where word
    shingles are empty by construction. The mode is RECORDED in
    ``_META``, so every later append and probe shingle the same way
    without the caller re-passing it (a mode mismatch would silently
    score zero overlaps).

    Shuffle budget: the shingle explode+hash is map-side; the hot-hash
    groupBy, the anti-join, and the signature groupBy are the three
    keyed exchanges — all moving 8-byte hashes. Returns the metadata
    dict (also persisted as ``<path>/_META``)."""
    from pyspark.storagelevel import StorageLevel

    sh_raw = (
        hashed_shingles(df, id_col, text_col, shingle_n, shingle_mode)
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if max_df is not None:
        hot = (
            sh_raw.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("__h")
        )
    else:
        hot = sh_raw.select("__h").limit(0)
    hot.write.mode("overwrite").parquet(IndexFS.join(path, "hot_hashes"))
    spark = df.sparkSession
    hot_back = spark.read.parquet(IndexFS.join(path, "hot_hashes"))
    sh = sh_raw.join(hot_back, on="__h", how="left_anti")
    sh.write.mode("overwrite").parquet(IndexFS.join(path, "shingles"))
    sh_back = spark.read.parquet(IndexFS.join(path, "shingles"))
    _signatures_from_hashed(sh_back, id_col, num_hashes).write.mode(
        "overwrite"
    ).parquet(IndexFS.join(path, "signatures"))
    sh_raw.unpersist()
    meta = {
        "id_col": id_col,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_df": max_df,
        "shingle_mode": shingle_mode,
    }
    fs = IndexFS.for_path(path, "build_minhash_index")
    fs.write_json_atomic(IndexFS.join(path, "_META"), meta)
    _write_manifest(
        path, {"shingles": "shingles", "signatures": "signatures", "inc": []}
    )
    return meta


def _manifest_path(index_path: str) -> str:
    return IndexFS.join(index_path, "_CURRENT")


def _write_manifest(index_path: str, manifest: dict) -> None:
    """Atomically commit the live-state manifest: write a temp file in
    the same directory, then rename over ``_CURRENT`` (atomic on POSIX
    and through HDFS FileContext; see indexfs module docstring for the
    object-store caveat)."""
    fs = IndexFS.for_path(index_path, "_write_manifest")
    fs.write_json_atomic(_manifest_path(index_path), manifest)


def _read_manifest(index_path: str) -> dict:
    """Live-state manifest; falls back to directory listing for an
    index written before ``_CURRENT`` existed — skipping dot-prefixed
    temp dirs and any increment missing either parquet dir (a partial
    left by a pre-manifest crash; its replay overwrites it whole)."""
    fs = IndexFS.for_path(index_path, "_read_manifest")
    mp = _manifest_path(index_path)
    if fs.isfile(mp):
        return fs.read_json(mp)
    inc_root = IndexFS.join(index_path, "inc")
    tags = []
    for tag in fs.listdir(inc_root):
        if tag.startswith("."):
            continue
        if fs.isdir(IndexFS.join(inc_root, tag, "shingles")) and fs.isdir(
            IndexFS.join(inc_root, tag, "signatures")
        ):
            tags.append(tag)
    return {"shingles": "shingles", "signatures": "signatures", "inc": tags}


def read_minhash_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """(shingles, signatures, hot_hashes, meta) from a built index —
    the live base UNIONed with every COMMITTED increment (manifest
    order; each increment is one parquet dir pair, so the union is
    scan-only). Only dirs the ``_CURRENT`` manifest references are
    read: a half-written increment or an in-progress compaction stage
    is invisible. ``compact_minhash_index`` folds the increment list
    back into one base pair when it grows long (the standard
    base+delta compaction cycle)."""
    fs = IndexFS.for_path(path, "read_minhash_index")
    meta = fs.read_json(IndexFS.join(path, "_META"))
    cur = _read_manifest(path)
    sh = spark.read.parquet(IndexFS.join(path, cur["shingles"]))
    sig = spark.read.parquet(IndexFS.join(path, cur["signatures"]))
    for tag in cur["inc"]:
        inc_sh, inc_sig = _read_increment(spark, path, tag)
        sh, sig = sh.unionByName(inc_sh), sig.unionByName(inc_sig)
    return (
        sh,
        sig,
        spark.read.parquet(IndexFS.join(path, "hot_hashes")),
        meta,
    )


def _read_increment(
    spark: SparkSession, index_path: str, tag: str
) -> tuple[DataFrame, DataFrame]:
    """(shingles, signatures) of increment ``inc/<tag>`` as parquet scans."""
    inc = IndexFS.join(index_path, "inc", tag)
    return (
        spark.read.parquet(IndexFS.join(inc, "shingles")),
        spark.read.parquet(IndexFS.join(inc, "signatures")),
    )


def _batch_shingles(
    batch: DataFrame, index_path: str, meta: dict, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(hashed, capped): the batch's ``hashed_shingles`` (cached; the
    caller releases it), hashed as the index was built, and its
    distinct rows minus the frozen hot-hash set."""
    hashed = hashed_shingles(
        batch, meta["id_col"], text_col, meta["shingle_n"],
        meta.get("shingle_mode", "word"),  # pre-r13 indexes: word
    )
    hot = batch.sparkSession.read.parquet(IndexFS.join(index_path, "hot_hashes"))
    return hashed, hashed.distinct().join(hot, on="__h", how="left_anti")


def append_to_minhash_index(
    batch: DataFrame, index_path: str, batch_tag: str, text_col: str = "text"
) -> None:
    """Append one ingested batch's capped shingle hashes + MinHash
    signatures to the index as increment ``inc/<batch_tag>/`` — the
    growth step of the daily-ingest loop: later batches dedup against
    it, with the corpus still never re-shingled. The batch is shingled,
    capped and signed ONCE, here; ``stream_incremental_dedup`` flags it
    from the committed increment.

    ATOMIC and IDEMPOTENT per tag: both parquet dirs are written into
    a temp dir ``inc/.tmp-<tag>-<8hex>``, renamed whole onto
    ``inc/<tag>``, and only then committed by adding the tag to the
    ``_CURRENT`` manifest (one atomic rename) — so an at-least-once
    caller — a Structured Streaming ``foreachBatch`` keyed by batch_id
    — can replay a failed batch without duplicating index rows, and a
    crash at ANY point leaves only unreferenced garbage (ADVICE r6):
    the replay replaces an uncommitted ``inc/<tag>``, and the next
    compaction sweeps a stranded temp dir. The document-frequency cap
    stays FROZEN: batch shingles are capped against the build-time
    hot-hash set only (module docstring semantics). Nothing stays
    cached: each micro-batch is a new plan, so a kept cache entry
    would grow the session's cache without bound."""
    import uuid

    spark = batch.sparkSession
    fs = IndexFS.for_path(index_path, "append_to_minhash_index")
    meta = fs.read_json(IndexFS.join(index_path, "_META"))
    inc_root = IndexFS.join(index_path, "inc")
    final = IndexFS.join(inc_root, batch_tag)
    cur = _read_manifest(index_path)
    if batch_tag in cur["inc"] and fs.isdir(final):
        # already committed: a foreachBatch replay carries the SAME
        # rows for the same batch_id, and the frozen hot-hash cap makes
        # the staged content deterministic — pure no-op, so a
        # manifest-referenced dir is never touched
        return
    hashed, b_sh = _batch_shingles(batch, index_path, meta, text_col)
    fs.makedirs(inc_root)
    tmp = IndexFS.join(inc_root, f".tmp-{batch_tag}-{uuid.uuid4().hex[:8]}")
    try:
        b_sh.write.mode("overwrite").parquet(IndexFS.join(tmp, "shingles"))
    finally:
        hashed.unpersist()
    sh_back = spark.read.parquet(IndexFS.join(tmp, "shingles"))
    _signatures_from_hashed(sh_back, meta["id_col"], meta["num_hashes"]).write.mode(
        "overwrite"
    ).parquet(IndexFS.join(tmp, "signatures"))
    if fs.isdir(final):  # staged by a crashed run but never committed
        fs.rmtree(final)
    fs.move(tmp, final)
    if batch_tag not in cur["inc"]:
        cur["inc"] = sorted(cur["inc"] + [batch_tag])
        _write_manifest(index_path, cur)


def _tag_order(tag: str) -> tuple[str, int]:
    """Natural order for increment tags: a trailing digit run compares
    NUMERICALLY, the prefix lexicographically — zero-padded batch tags
    (b00042) would otherwise stop sorting by batch id the moment the
    id outgrows the pad (``'b99999' < 'b100000'`` is False as strings),
    permanently stranding older tags outside every future fold on
    exactly the long-running ingests compaction exists for.

    A DIGITLESS tag (a manual append like 'backfill') compares
    unconditionally OLDER than any digit-suffixed watermark: sorting it
    by its own prefix would leave it >= every ``keep_from`` whose
    prefix sorts earlier, permanently stranding it outside every fold
    when manual appends mix with the streaming sink's batch tags."""
    m = re.match(r"^(.*?)(\d+)$", tag)
    return (m.group(1), int(m.group(2))) if m else ("", -1)


def compact_minhash_index(
    spark: SparkSession,
    index_path: str,
    keep_from: str | None = None,
    lease=None,
) -> dict:
    """Fold the committed increment list back into ONE base dir pair —
    the compaction step of the base+delta cycle docs/SCALE.md promises
    for a long-running incremental ingest, whose increment list
    otherwise grows without bound (one dir pair per micro-batch;
    thousands of tiny files = per-scan open/footer cost and driver
    listing memory).

    The merged tables are the VERBATIM union of base + increments —
    the exact frames ``read_minhash_index`` was already returning — so
    ``incremental_near_dup_flags`` output is identical before and
    after (pinned by ``tests/test_streaming.py``); no dedup, no
    re-signing, no cap recompute (the df cap stays frozen until a full
    ``build_minhash_index`` reindex).

    Crash safety (same manifest-flip discipline as append): the union
    is written to NEW versioned dirs ``shingles-v<k>``/
    ``signatures-v<k>``, then ONE atomic ``_CURRENT`` rewrite makes
    them live with an empty increment list; only then are the old base
    and consumed increment dirs deleted. A crash before the flip
    leaves the old state fully live (stage dirs are unreferenced
    garbage, removed by the next compaction); a crash after the flip
    leaves the new state fully live (old dirs are garbage likewise).
    At no point can a reader see increment rows twice or not at all.
    SINGLE-WRITER contract (same as append): compaction runs between
    micro-batches, never concurrently with an append — a tag committed
    after the manifest snapshot here would be erased by the flip.
    Returns the new manifest.

    ``keep_from`` is the REPLAY WATERMARK for in-sink calls: increment
    tags >= ``keep_from`` (zero-padded batch tags sort by batch id)
    are NOT folded — they stay in the new manifest's inc list with
    their dirs untouched. Folding the CURRENT batch's tag before
    Structured Streaming commits the batch would break the append's
    tag-in-manifest idempotency: a crash in that window replays the
    batch, the no-longer-listed tag re-appends, and its rows count
    twice (once in the folded base, once in the re-appended inc)."""
    fs = IndexFS.for_path(index_path, "compact_minhash_index")
    fs.sweep_tmp(index_path.rstrip("/"))  # stranded manifest temps
    cur = _read_manifest(index_path)
    fold = [
        t
        for t in cur["inc"]
        if keep_from is None or _tag_order(t) < _tag_order(keep_from)
    ]
    kept = [t for t in cur["inc"] if t not in set(fold)]
    # clear stage dirs a crashed compaction or append may have left —
    # BEFORE the no-fold early return, or garbage stranded by a crash
    # persists until a fold-eligible compaction happens to run (no
    # append is in flight: single-writer contract)
    for d in fs.listdir(index_path):
        if (
            (d.startswith("shingles-v") or d.startswith("signatures-v"))
            and d not in (cur["shingles"], cur["signatures"])
        ):
            fs.rmtree(IndexFS.join(index_path, d))
    inc_root = IndexFS.join(index_path, "inc")
    for d in fs.listdir(inc_root):
        if d.startswith(".tmp-"):
            fs.rmtree(IndexFS.join(inc_root, d))
    if not fold:
        # nothing eligible (e.g. compact_every=1 at batch 0 with only
        # the in-flight tag committed): folding would rewrite the
        # ENTIRE base for zero file-count reduction — skip
        return cur
    base_sh = cur["shingles"]
    ver = int(base_sh.rsplit("-v", 1)[1]) if "-v" in base_sh else 0
    new_sh, new_sig = f"shingles-v{ver + 1}", f"signatures-v{ver + 1}"

    sh = spark.read.parquet(IndexFS.join(index_path, cur["shingles"]))
    sig = spark.read.parquet(IndexFS.join(index_path, cur["signatures"]))
    for tag in fold:
        inc_sh, inc_sig = _read_increment(spark, index_path, tag)
        sh, sig = sh.unionByName(inc_sh), sig.unionByName(inc_sig)
    sh.write.parquet(IndexFS.join(index_path, new_sh))
    sig.write.parquet(IndexFS.join(index_path, new_sig))

    new_cur = {"shingles": new_sh, "signatures": new_sig, "inc": kept}
    if lease is not None:
        # re-check the writer fence AT the flip boundary, not only at
        # batch start — one batch performs several state-touching flips
        # and a mid-batch takeover must stop before this one (ADVICE
        # r13); a fenced writer leaves only unreferenced stage dirs
        lease.check_and_renew()
    _write_manifest(index_path, new_cur)  # the atomic commit point

    # post-flip garbage collection (best-effort; next compaction sweeps
    # anything a crash strands here)
    fs.rmtree(IndexFS.join(index_path, cur["shingles"]))
    fs.rmtree(IndexFS.join(index_path, cur["signatures"]))
    for tag in fold:
        fs.rmtree(IndexFS.join(inc_root, tag))
    return new_cur


def incremental_near_dup_flags(
    batch: DataFrame,
    index_path: str,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Flag each batch document as a near-dup of the indexed corpus or
    of an earlier batch document — reading corpus signatures/shingles
    from the materialized index, never from corpus text.

    Output: ``(id, dup_of, is_new)`` — one row per batch doc;
    ``dup_of`` is the minimum qualifying partner (any earlier doc, or
    a corpus doc with a higher id), NULL for novel docs.

    Plan shape: batch shingle+hash (map-side over the batch scan
    only; the one cached level), frozen-cap anti-join against the KiB
    hot-hash table, batch signatures (one groupBy), then ``_flags``:
    ONE band equi-join of batch signatures against index ∪ batch
    signatures and the candidates-only Jaccard verify over index ∪
    batch shingles — every wide exchange keys on 8-byte hashes, band
    keys or doc ids; corpus cost is index SCANS (at 100 TB:
    partition-pruned parquet), not recompute."""
    spark = batch.sparkSession
    idx_sh, idx_sig, _, meta = read_minhash_index(spark, index_path)
    _, b_sh = _batch_shingles(batch, index_path, meta, text_col)
    b_sig = _signatures_from_hashed(b_sh, meta["id_col"], meta["num_hashes"])
    return _flags(batch, idx_sh, idx_sig, b_sh, b_sig, meta, threshold)


def _flags(
    batch: DataFrame, idx_sh: DataFrame, idx_sig: DataFrame, b_sh: DataFrame,
    b_sig: DataFrame, meta: dict, threshold: float,
) -> DataFrame:
    """The flags plan given the batch's capped shingles and signatures —
    computed by ``incremental_near_dup_flags``, or scanned from the
    committed increment by ``stream_incremental_dedup``. Caches nothing."""
    id_col = meta["id_col"]
    num_hashes, bands = meta["num_hashes"], meta["bands"]

    # REPLAY SAFETY: drop the batch's own ids from the index side
    # before unioning. The batch may already be in the index (the
    # stream appends before it flags; a replay may follow a partial
    # append), and the union would then hold each (id, shingle) row
    # twice — so flags before and after the batch's own append are
    # identical. Side effect by design: a re-ingested id is treated as
    # an UPDATE of that document, never as its own dup partner. One
    # anti-join keyed on the bounded batch id set (broadcast).
    b_ids = batch.select(id_col).distinct()
    idx_sh = idx_sh.join(F.broadcast(b_ids), on=id_col, how="left_anti")
    idx_sig = idx_sig.join(F.broadcast(b_ids), on=id_col, how="left_anti")

    side_b = band_keys(b_sig, id_col, num_hashes, bands)
    side_all = band_keys(idx_sig.unionByName(b_sig), id_col, num_hashes, bands)
    cand = (
        side_b.select(F.col(id_col).alias("__ba"), "__t", "__band")
        .join(
            side_all.select(F.col(id_col).alias("__bb"), "__t", "__band"),
            on=["__t", "__band"],
        )
        .filter(F.col("__ba") != F.col("__bb"))
        .select(
            F.least("__ba", "__bb").alias("id_a"),
            F.greatest("__ba", "__bb").alias("id_b"),
        )
        .distinct()
    )
    pairs = _jaccard_from_distinct(idx_sh.unionByName(b_sh), cand, id_col, threshold)

    # one pass over the verified pairs, each in both orientations: a
    # partner counts when it has the smaller id or is not in the batch
    # (rows of index docs fall away in the final join)
    b_partner = b_ids.select(F.col(id_col).alias("partner"), F.lit(True).alias("__pb"))
    resolved = (
        pairs.select(F.inline(F.array(
            F.struct(F.col("id_a").alias(id_col), F.col("id_b").alias("partner")),
            F.struct(F.col("id_b").alias(id_col), F.col("id_a").alias("partner")),
        )))
        .join(b_partner, on="partner", how="left")
        .filter((F.col("partner") < F.col(id_col)) | F.col("__pb").isNull())
        .groupBy(id_col)
        .agg(F.min("partner").alias("dup_of"))
    )
    return b_ids.join(resolved, on=id_col, how="left").select(
        id_col, "dup_of", F.col("dup_of").isNull().alias("is_new")
    )


def maybe_compact_minhash_index(
    spark: SparkSession,
    index_path: str,
    max_increments: int,
    keep_from: str | None = None,
    lease=None,
) -> bool:
    """Threshold-based maintenance policy over
    :func:`compact_minhash_index`: compact only when the committed
    increment list has grown past ``max_increments`` dir pairs — the
    knob a streaming sink calls after every append so file count (and
    with it per-scan open/footer cost) stays O(threshold) instead of
    O(batches). Crash safety and bit-identical results are inherited
    from the underlying compaction (manifest flip); same single-writer
    contract. ``keep_from`` (the replay watermark — see
    :func:`compact_minhash_index`) both excludes in-flight tags from
    the fold and from the threshold count."""
    if max_increments < 1:
        raise ValueError(f"max_increments={max_increments} must be >= 1")
    inc = _read_manifest(index_path)["inc"]
    eligible = [
        t for t in inc if keep_from is None or _tag_order(t) < _tag_order(keep_from)
    ]
    if len(eligible) <= max_increments:
        return False
    compact_minhash_index(spark, index_path, keep_from=keep_from, lease=lease)
    return True
