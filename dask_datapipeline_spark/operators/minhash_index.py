"""Materialized MinHash index for incremental dedup.

The production daily-ingest workflow (docs/SCALE.md §Dedup): the
existing corpus is shingled, hashed and signed ONCE, at index-build
time, into exactly the rows a batch's probe reads; every incoming
batch then flags its near-dups by SCANNING the index — the corpus text
is never re-shingled, re-hashed or re-signed, and no band key or hash
array of an indexed doc is recomputed, per batch. At 100 TB this is
the difference between a daily O(corpus) recompute and O(batch) work
plus index scans. A streaming ingest signs each batch ONCE, into its
increment, and flags it from there with a plan that caches nothing.

Index layout under ``<path>/`` (layout version ``LAYOUT``):

- ``bands/``       — ``(id, __t, __band)`` LSH band rows: the exact
  ``band_keys`` slot strings of each doc's MinHash signature, the
  probe's band equi-join keys
- ``arrays/``      — ``(id, __arr, __n)``: each doc's capped DISTINCT
  shingle hashes as a sorted array and its size, the rows the exact
  Jaccard verify (``dedup._verify_pairs``) reads (8-byte hashes,
  never shingle strings)
- ``hot_hashes/``  — hashes whose CORPUS document frequency exceeds
  ``max_df`` (empty when ``max_df`` is None)
- ``_META``        — json of the build parameters, the layout
  version and each table's schema; read back at query time so a batch
  can never be scored against an index built with different hashing
  parameters, and every table scan is given its schema (no parquet
  schema-inference job per read). An index of another layout raises
  ``ValueError``: a rebuild is the migration
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
from pyspark.sql import types as T

from dask_datapipeline_spark.indexfs import IndexFS
from dask_datapipeline_spark.operators.dedup import (
    _hash_arrays,
    _signatures_from_hashed,
    _verify_pairs,
    band_keys,
    hashed_shingles,
)

#: version of the on-disk layout above, recorded in ``_META``
LAYOUT = 3
#: the probe's tables, one parquet dir each per base and increment
_TABLES = ("bands", "arrays")


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
    groupBy, the anti-join, the signature groupBy and the hash-array
    groupBy are the keyed exchanges — all moving 8-byte hashes.
    Returns the metadata dict (also persisted as ``<path>/_META``)."""
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
    meta = {
        "layout": LAYOUT,
        "id_col": id_col,
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_df": max_df,
        "shingle_mode": shingle_mode,
        "schemas": {"hot_hashes": hot.schema.jsonValue()},
    }
    hot_back = _read(df.sparkSession, meta, "hot_hashes", IndexFS.join(path, "hot_hashes"))
    sh = sh_raw.join(hot_back, on="__h", how="left_anti")
    for name, table in zip(_TABLES, _probe_tables(sh, meta)):
        meta["schemas"][name] = table.schema.jsonValue()
        table.write.mode("overwrite").parquet(IndexFS.join(path, name))
    sh_raw.unpersist()
    fs = IndexFS.for_path(path, "build_minhash_index")
    fs.write_json_atomic(IndexFS.join(path, "_META"), meta)
    _write_manifest(path, {"bands": "bands", "arrays": "arrays", "inc": []})
    return meta


def _probe_tables(sh: DataFrame, meta: dict) -> tuple[DataFrame, DataFrame]:
    """(bands, arrays) rows of the capped DISTINCT ``(id, __h)`` rows
    ``sh`` — what the index stores per doc and the probe joins on."""
    id_col, num_hashes = meta["id_col"], meta["num_hashes"]
    sig = _signatures_from_hashed(sh, id_col, num_hashes)
    return band_keys(sig, id_col, num_hashes, meta["bands"]), _hash_arrays(sh, id_col)


def _write_manifest(index_path: str, manifest: dict) -> None:
    """Atomically commit the live-state manifest: write a temp file in
    the same directory, then rename over ``_CURRENT`` (atomic on POSIX
    and through HDFS FileContext; see indexfs module docstring for the
    object-store caveat)."""
    fs = IndexFS.for_path(index_path, "_write_manifest")
    fs.write_json_atomic(IndexFS.join(index_path, "_CURRENT"), manifest)


def _read_state(index_path: str) -> tuple[dict, dict]:
    """(meta, manifest) of a built index. Raises ``ValueError`` naming
    the path when ``_META`` records another layout than ``LAYOUT``:
    there is no dual read, a rebuild is the migration."""
    fs = IndexFS.for_path(index_path, "read_minhash_index")
    meta = fs.read_json(IndexFS.join(index_path, "_META"))
    if meta.get("layout") != LAYOUT:
        raise ValueError(
            f"MinHash index {index_path} has layout {meta.get('layout')!r}, "
            f"this code reads layout {LAYOUT} (bands/ + arrays/, schemas in "
            "_META); rebuild it "
            "with build_minhash_index"
        )
    return meta, fs.read_json(IndexFS.join(index_path, "_CURRENT"))


def _read(spark: SparkSession, meta: dict, table: str, *paths: str) -> DataFrame:
    """Parquet scan of index table ``table`` over ``paths`` with the
    schema ``_META`` recorded at build: Spark runs no schema-inference
    job for it."""
    return spark.read.schema(T.StructType.fromJson(meta["schemas"][table])).parquet(*paths)


def _scan(
    spark: SparkSession, index_path: str, meta: dict, cur: dict, table: str,
    tags: list[str],
) -> DataFrame:
    """ONE parquet scan of ``table`` over the live base and the
    increments ``tags`` (a multi-path read, not a union chain)."""
    return _read(
        spark, meta, table,
        IndexFS.join(index_path, cur[table]),
        *(IndexFS.join(index_path, "inc", t, table) for t in tags),
    )


def read_minhash_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """(bands, arrays, hot_hashes, meta) from a built index — the live
    base and every COMMITTED increment (manifest order) read as one
    scan per table. Only dirs the ``_CURRENT`` manifest references are
    read: a half-written increment or an in-progress compaction stage
    is invisible. ``compact_minhash_index`` folds the increment list
    back into one base pair when it grows long (the standard
    base+delta compaction cycle)."""
    meta, cur = _read_state(path)
    bands, arrays = (_scan(spark, path, meta, cur, t, cur["inc"]) for t in _TABLES)
    hot = _read(spark, meta, "hot_hashes", IndexFS.join(path, "hot_hashes"))
    return bands, arrays, hot, meta


def _read_increment(
    spark: SparkSession, index_path: str, tag: str, meta: dict
) -> tuple[DataFrame, DataFrame]:
    """(bands, arrays) of increment ``inc/<tag>`` as parquet scans."""
    return tuple(
        _read(spark, meta, t, IndexFS.join(index_path, "inc", tag, t)) for t in _TABLES
    )


def _batch_shingles(
    batch: DataFrame, index_path: str, meta: dict, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(hashed, capped): the batch's ``hashed_shingles`` (cached; the
    caller releases it), hashed as the index was built, and its
    distinct rows minus the frozen hot-hash set."""
    hashed = hashed_shingles(
        batch, meta["id_col"], text_col, meta["shingle_n"], meta["shingle_mode"]
    )
    hot = _read(
        batch.sparkSession, meta, "hot_hashes", IndexFS.join(index_path, "hot_hashes")
    )
    return hashed, hashed.distinct().join(hot, on="__h", how="left_anti")


def append_to_minhash_index(
    batch: DataFrame, index_path: str, batch_tag: str, text_col: str = "text"
) -> None:
    """Append one ingested batch's band rows and hash arrays to the
    index as increment ``inc/<batch_tag>/`` — the growth step of the
    daily-ingest loop: later batches dedup against it, with the corpus
    still never re-shingled. The batch is shingled, capped and signed
    ONCE, here; ``stream_incremental_dedup`` flags it from the
    committed increment.

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

    fs = IndexFS.for_path(index_path, "append_to_minhash_index")
    meta, cur = _read_state(index_path)
    inc_root = IndexFS.join(index_path, "inc")
    final = IndexFS.join(inc_root, batch_tag)
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
        for name, table in zip(_TABLES, _probe_tables(b_sh, meta)):
            table.write.mode("overwrite").parquet(IndexFS.join(tmp, name))
    finally:
        hashed.unpersist()
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
    the exact rows ``read_minhash_index`` was already returning — so
    ``incremental_near_dup_flags`` output is identical before and
    after (pinned by ``tests/test_streaming.py``); no dedup, no
    re-signing, no cap recompute (the df cap stays frozen until a full
    ``build_minhash_index`` reindex).

    Crash safety (same manifest-flip discipline as append): the union
    is written to NEW versioned dirs ``bands-v<k>``/``arrays-v<k>``,
    then ONE atomic ``_CURRENT`` rewrite makes them live with an empty
    increment list; only then are the old base and consumed increment
    dirs deleted. A crash before the flip leaves the old state fully
    live (stage dirs are unreferenced garbage, removed by the next
    compaction); a crash after the flip leaves the new state fully
    live (old dirs are garbage likewise). At no point can a reader see
    increment rows twice or not at all. SINGLE-WRITER contract (same
    as append): compaction runs between micro-batches, never
    concurrently with an append — a tag committed after the manifest
    snapshot here would be erased by the flip. Returns the new
    manifest.

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
    meta, cur = _read_state(index_path)
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
    live = {cur[t] for t in _TABLES}
    for d in fs.listdir(index_path):
        if d.startswith(tuple(f"{t}-v" for t in _TABLES)) and d not in live:
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
    ver = int(cur["bands"].rsplit("-v", 1)[1]) if "-v" in cur["bands"] else 0
    new_cur = {t: f"{t}-v{ver + 1}" for t in _TABLES}
    for t in _TABLES:
        _scan(spark, index_path, meta, cur, t, fold).write.parquet(
            IndexFS.join(index_path, new_cur[t])
        )
    new_cur["inc"] = kept
    if lease is not None:
        # re-check the writer fence AT the flip boundary, not only at
        # batch start — one batch performs several state-touching flips
        # and a mid-batch takeover must stop before this one (ADVICE
        # r13); a fenced writer leaves only unreferenced stage dirs
        lease.check_and_renew()
    _write_manifest(index_path, new_cur)  # the atomic commit point

    # post-flip garbage collection (best-effort; next compaction sweeps
    # anything a crash strands here)
    for d in live:
        fs.rmtree(IndexFS.join(index_path, d))
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
    of an earlier batch document — reading the corpus side from the
    materialized index's band rows and hash arrays, never from corpus
    text.

    Output: ``(id, dup_of, is_new)`` — one row per batch doc;
    ``dup_of`` is the minimum qualifying partner (any earlier doc, or
    a corpus doc with a higher id), NULL for novel docs.

    Plan shape: batch shingle+hash (map-side over the batch scan
    only; the one cached level), frozen-cap anti-join against the KiB
    hot-hash table, the batch's band rows and hash arrays (one groupBy
    each), then ``_flags``: ONE band equi-join of the batch's band rows
    against the index's and the batch's, and the exact verify of the
    candidates against their stored hash arrays — every wide exchange
    keys on band keys or doc ids; corpus cost is index SCANS, not
    recompute."""
    idx_bands, idx_arrs, _, meta = read_minhash_index(batch.sparkSession, index_path)
    _, b_sh = _batch_shingles(batch, index_path, meta, text_col)
    b_bands, b_arrs = _probe_tables(b_sh, meta)
    return _flags(batch, idx_bands, idx_arrs, b_bands, b_arrs, meta, threshold)


def _flags(
    batch: DataFrame, idx_bands: DataFrame, idx_arrs: DataFrame,
    b_bands: DataFrame, b_arrs: DataFrame, meta: dict, threshold: float,
) -> DataFrame:
    """The flags plan given the batch's band rows and hash arrays —
    computed by ``incremental_near_dup_flags``, or scanned from the
    committed increment by ``stream_incremental_dedup``. Caches nothing.

    A doc id that several index tables hold (an id re-ingested by a
    later append, before or after compaction) has one band-row set and
    one hash array per table; each stored version is verified on its
    own, and the pair qualifies when any version passes."""
    id_col = meta["id_col"]

    # REPLAY SAFETY: drop the batch's own ids from the index side
    # before unioning. The batch may already be in the index (the
    # stream appends before it flags; a replay may follow a partial
    # append), and the union would then hold each of its rows twice —
    # so flags before and after the batch's own append are identical.
    # Side effect by design: a re-ingested id is treated as an UPDATE
    # of that document, never as its own dup partner. One anti-join
    # per table keyed on the bounded batch id set (broadcast).
    b_ids = batch.select(id_col).distinct()
    idx_bands = idx_bands.join(F.broadcast(b_ids), on=id_col, how="left_anti")
    idx_arrs = idx_arrs.join(F.broadcast(b_ids), on=id_col, how="left_anti")

    cand = (
        b_bands.select(F.col(id_col).alias("__ba"), "__t", "__band")
        .join(
            idx_bands.unionByName(b_bands).select(
                F.col(id_col).alias("__bb"), "__t", "__band"
            ),
            on=["__t", "__band"],
        )
        .filter(F.col("__ba") != F.col("__bb"))
        .select(
            F.least("__ba", "__bb").alias("id_a"),
            F.greatest("__ba", "__bb").alias("id_b"),
        )
        .distinct()
    )
    pairs = _verify_pairs(cand, idx_arrs.unionByName(b_arrs), id_col, threshold)

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
    inc = _read_state(index_path)[1]["inc"]
    eligible = [
        t for t in inc if keep_from is None or _tag_order(t) < _tag_order(keep_from)
    ]
    if len(eligible) <= max_increments:
        return False
    compact_minhash_index(spark, index_path, keep_from=keep_from, lease=lease)
    return True
