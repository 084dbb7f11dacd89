"""Sinks (reference O10 generalized).

The reference writes exactly one CSV file with header and no index
(reference ``main.py:265-281``), guarded against empty input and
non-``.csv`` paths. Spark writes a *directory* of part files; the
single-file contract is kept behind ``single_file=True`` which
coalesces to one task — fine at reference scale, explicitly NOT the
default because a 100 TB result must stream out of many tasks in
parallel (SURVEY.md §7.4 item 8).

The write is the only Spark action a CSV sink runs. The empty-output
guard counts rows with an ``Observation`` on the written DataFrame, in
the same pass that produces the output, rather than planning the whole
upstream DAG a second time for an ``isEmpty`` probe; an empty result is
removed after the fact and raises ``EmptyInputError``. The single file
is staged in ``<path>.spark-tmp`` and moved into place with one
``os.replace``, so a crash leaves either the old output or the new one.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import EmptyInputError, observed_metric
from dask_datapipeline_spark.indexfs import IndexFS


def write_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    mode: str = "overwrite",
) -> bool:
    """CSV sink. ``single_file=True`` reproduces the reference's
    one-file contract (main.py:277) via coalesce(1) + rename.

    Raises ``EmptyInputError`` when ``df`` has no rows, leaving no new
    output behind: the staged part file is discarded (a previous
    single-file output at ``path`` stays as it was), and a part-file
    directory is removed unless ``mode`` is ``append``, where it also
    holds rows this call did not write. A part-file write in ``ignore``
    mode over an existing ``path`` does nothing and returns True, as
    Spark's own ``ignore`` does.

    Returns True on success, matching the reference's API (main.py:281).
    """
    if not path.endswith(".csv"):
        raise FileNotFoundError(f"expected a .csv path, got {path!r}")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if single_file:
        out_dir = path + ".spark-tmp"
        try:
            df.coalesce(1).write.mode(mode).option("header", "true").csv(out_dir)
            if not observed_metric(obs, "rows"):
                raise EmptyInputError("output dataframe is empty")
            parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
            if not parts:
                raise ValueError(f"no CSV part written to {out_dir!r}")
            # a directory left by a non-single-file run cannot be
            # replaced by a file; os.replace swaps a file atomically
            if os.path.isdir(path):
                shutil.rmtree(path)
            os.replace(parts[0], path)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    else:
        fs = IndexFS.for_path(path, "write_csv")
        # Spark skips the whole write, so the count would read 0
        if mode.lower() == "ignore" and (fs.isdir(path) or fs.isfile(path)):
            return True
        df.write.mode(mode).option("header", "true").csv(path)
        if not observed_metric(obs, "rows"):
            if mode.lower() != "append":
                fs.rmtree(path)
            raise EmptyInputError("output dataframe is empty")
    return True


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
    bloom_cols: list[str] | None = None,
    bloom_ndv: int = 1_000_000,
    row_group_bytes: int | None = None,
) -> bool:
    """Parquet sink — the scale path.

    ``partition_by`` gives partition pruning on read (directory-level
    skip); ``bucket_by=(n, cols)`` writes a bucketed table (requires
    ``table_name``, saveAsTable) so later equi-joins/aggs on the bucket
    key run shuffle-free.

    ``bloom_cols`` writes a parquet BLOOM FILTER per listed column —
    pruning tier 4 after directory/bucket/row-group min-max: a point
    predicate on a HIGH-CARDINALITY key (doc_id probe, URL hash) skips
    row groups whose bloom filter excludes the value even when min/max
    spans everything (randomly-ordered keys). Spark's vectorized
    reader consumes them on read automatically; so do parquet-mr,
    arrow, and modern DuckDB. ``bloom_ndv`` sizes the filter (expected
    distinct values PER ROW GROUP — overshooting just costs bytes,
    undershooting inflates false-positive rate and loses pruning).
    ``row_group_bytes`` overrides ``parquet.block.size`` (the pruning
    granularity — smaller groups prune finer at more footer overhead).
    """
    if bloom_cols:
        from dask_datapipeline_spark.errors import require_columns

        require_columns(df, list(bloom_cols))
        if bloom_ndv < 1:
            raise ValueError(f"bloom_ndv={bloom_ndv} must be >= 1")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv))
    if row_group_bytes is not None:
        if row_group_bytes < 64 * 1024:
            raise ValueError(f"row_group_bytes={row_group_bytes} must be >= 64 KiB")
        writer = writer.option("parquet.block.size", str(row_group_bytes))
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table_name)
    else:
        writer.parquet(path)
    return True


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> bool:
    """ORC sink (columnar alternative; built into Spark, zstd-capable,
    same partition-pruning behavior as parquet on read)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
    return True


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> int:
    """Compact a directory of small parquet files into ~target-size
    files; returns the output file count.

    The 100 TB problem this solves: streaming/incremental ingest lands
    thousands of KB-scale files per partition; every later scan pays
    per-file open/footer cost and the driver pays listing memory.
    Periodic compaction keeps scans at full row-group stride.

    File count = ceil(input_bytes / target) from the SOURCE directory
    size (cheap driver-side listing — no data pass), then ONE
    round-robin repartition writes evenly sized files. In-place mode
    (no ``out_path``) stages to a sibling temp dir and swaps via two
    renames (path→old, staging→path). Each rename is atomic, but the
    SWAP is not: between the two renames the directory briefly does
    not exist, so a concurrent reader can hit file-not-found (it will
    never see a HALF-compacted mix, only all-old or all-new or a
    transient miss). Deployments that need always-readable snapshots
    should publish through a versioned directory pointer (symlink /
    manifest flip) instead of renaming the data directory itself.
    """
    import math
    import os
    import shutil
    import uuid

    files = _list_parquet_recursive(path)
    if not files:
        raise FileNotFoundError(f"no parquet files to compact under {path!r}")
    # a partitionBy-written table nests its files under key=value
    # subdirectories; sizing from the top level alone would raise (or
    # undersize n_out) even though spark.read.parquet(path) reads it
    # fine (round-8 advice). The rewrite preserves the partition
    # layout: hash-cluster by the partition keys so each task writes
    # only its own key directories (an unkeyed round-robin would land
    # up to n_out files in EVERY key directory).
    part_keys = _partition_keys(path, files)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    staging = out_path or (path.rstrip("/") + f".compact-{uuid.uuid4().hex[:8]}")
    if part_keys:
        writer = df.repartition(n_out, *part_keys).write.mode("overwrite")
        writer.partitionBy(*part_keys).parquet(staging)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(staging)
    if out_path is None:
        old = path.rstrip("/") + f".old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
    written = staging if out_path else path
    return len(_list_parquet_recursive(written))


def _list_parquet_recursive(path: str) -> list[str]:
    """All data parquet files under ``path``, any nesting depth —
    ``os.walk``, not top-level ``listdir``: partitionBy layouts nest
    files under ``key=value`` subdirectories. Dot/underscore-prefixed
    entries (Spark markers, staged writes, ``_CURRENT`` manifests) are
    skipped at every level, matching Spark's own reader."""
    import os

    out: list[str] = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    return sorted(out)


def _partition_keys(path: str, files: list[str]) -> list[str]:
    """Ordered partition column names of a ``partitionBy`` directory
    layout (from the ``key=value`` path segments of the first file),
    validated consistent across all files — mixed layouts raise rather
    than silently flattening someone's table."""
    import os

    def keys_of(f: str) -> list[str]:
        rel = os.path.relpath(os.path.dirname(f), path)
        if rel == ".":
            return []
        return [seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg]

    first = keys_of(files[0])
    for f in files[1:]:
        if keys_of(f) != first:
            raise ValueError(
                f"inconsistent partition layout under {path!r}: "
                f"{keys_of(f)} vs {first} — compact each consistent "
                "subtree separately"
            )
    return first


def write_zordered(
    df: DataFrame,
    path: str,
    dim_a: str,
    dim_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the Z-order curve of two
    integer dimensions: rows are range-partitioned and sorted by the
    Morton interleave of (``dim_a``, ``dim_b``), so each output file
    covers a compact square-ish region of the 2-D key space and its
    parquet footer min/max stats prune selective filters on EITHER
    dimension — multi-dimensional file skipping where a linear sort
    only serves its leading column.

    Dimensions are min-max scaled to the full ``bits``-bit range
    BEFORE interleaving: interleaving is only meaningful when both
    dimensions occupy comparable bit widths — a 4-bit user id crossed
    with a 16-bit timestamp would otherwise sort almost purely by
    time and every file would span every user (measured exactly that
    on the test corpus). The per-dimension (min, max) and the row
    count behind the empty-input ``EmptyInputError`` are one scalar
    aggregate — bounded driver traffic at any corpus size, the same
    contract as a codebook collect.

    ``repartitionByRange`` samples the z-key to build balanced range
    bounds (one extra pass over the key column, not the payload);
    ``sortWithinPartitions`` keeps rows z-ordered INSIDE each file so
    row-group-level stats prune too. The z-key is dropped before the
    write — layout is an encoding of file boundaries, not a schema
    change.

    NULL dimension values are placed at that dimension's LOW corner
    (coalesced to the observed min before scaling): the rows stay in
    the dataset and cluster together in the low-range files, and a
    ``dim IS NULL`` scan prunes to those files via the same footer
    stats. A dimension that is entirely NULL has no range to scale
    and raises ValueError.
    """
    from dask_datapipeline_spark.functions.numeric import zorder_key

    if n_files < 1:
        raise ValueError(f"n_files={n_files} must be >= 1")
    n, lo_a, hi_a, lo_b, hi_b = df.agg(
        F.count(F.lit(1)), F.min(dim_a), F.max(dim_a), F.min(dim_b), F.max(dim_b)
    ).collect()[0]
    if n == 0:
        raise EmptyInputError("write_zordered input dataframe is empty")
    for name, lo in ((dim_a, lo_a), (dim_b, lo_b)):
        if lo is None:
            raise ValueError(
                f"write_zordered: dimension {name!r} is entirely NULL — "
                "no range to scale; drop or fill the column first"
            )
    top = (1 << bits) - 1

    def scaled(col, lo, hi):
        span = max(int(hi) - int(lo), 1)
        filled = F.coalesce(F.col(col).cast("long"), F.lit(int(lo)))
        return ((filled - F.lit(int(lo))) * top / span).cast("long")

    keyed = df.withColumn(
        "__zkey",
        zorder_key(scaled(dim_a, lo_a, hi_a), scaled(dim_b, lo_b, hi_b), bits),
    )
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# ----- versioned tables (snapshot / time travel) ----------------------
#
# The atomic staged-dir + `_CURRENT` manifest pattern proven on the
# MinHash index (operators/minhash_index.py:114-148 — effectively a
# one-table Iceberg) generalized to ANY materialized artifact: every
# write lands a NEW immutable version directory, one atomic manifest
# rename publishes it, and readers resolve through the manifest only —
# so a crash at ANY point strands unreferenced garbage, never a
# partial table, and every prior version stays readable (time travel)
# until explicitly expired. On an object store the rename becomes a
# conditional PUT of the manifest key — the layout is unchanged.


def _vt_manifest_path(path: str) -> str:
    import os

    return os.path.join(path, "_CURRENT")


def _vt_read_manifest(path: str) -> dict:
    import json
    import os

    mp = _vt_manifest_path(path)
    if not os.path.isfile(mp):
        return {"current": None, "versions": []}
    with open(mp) as f:
        return json.load(f)


def _vt_write_manifest(path: str, manifest: dict) -> None:
    import json
    import os
    import uuid

    tmp = _vt_manifest_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, _vt_manifest_path(path))


def write_versioned(df: DataFrame, path: str, tag: str | None = None) -> int:
    """Commit ``df`` as the NEXT version of the table at ``path`` and
    return its version number (1-based, monotonically increasing —
    version numbers are never reused, even after ``expire_versions``).

    ``tag`` makes the commit IDEMPOTENT for at-least-once callers
    (a Structured Streaming ``foreachBatch`` keyed by batch_id): a tag
    already in the manifest returns its existing version without
    writing anything — the same replay discipline as
    ``append_to_minhash_index``.

    Commit protocol (each step leaves the table consistent):
    1. parquet lands in a dot-prefixed staging dir (invisible —
       readers only follow the manifest);
    2. one atomic rename publishes the bytes at ``v<k>/``;
    3. one atomic manifest rename makes ``v<k>`` the current version
       (and records the tag).
    A crash before step 3 leaves the previous version current and only
    unreferenced garbage on disk; re-running the write simply takes
    the next version number (or, tagged, re-lands the same tag).
    """
    import os
    import shutil
    import uuid

    os.makedirs(path, exist_ok=True)
    cur = _vt_read_manifest(path)
    # the short-circuit only honors tags whose version is still LIVE —
    # a tag left behind by an older manifest (or hand-edited) must not
    # return a version whose data directory was expired (round-8
    # advice; expire_versions also drops such tags)
    if (
        tag is not None
        and tag in cur.get("tags", {})
        and cur["tags"][tag] in cur["versions"]
    ):
        return cur["tags"][tag]
    version = (max(cur["versions"]) if cur["versions"] else 0) + 1
    final = os.path.join(path, f"v{version:05d}")
    tmp = os.path.join(path, f".tmp-v{version:05d}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(final):  # staged by a crashed run, never committed
        shutil.rmtree(final)
    os.rename(tmp, final)
    cur["versions"] = sorted(cur["versions"] + [version])
    cur["current"] = version
    if tag is not None:
        cur.setdefault("tags", {})[tag] = version
    _vt_write_manifest(path, cur)
    return version


def merge_versioned(
    spark,
    path: str,
    changes: DataFrame,
    key_cols,
    delete_col: str | None = None,
    tag: str | None = None,
) -> int:
    """MERGE a change batch into a versioned table and commit the
    result as a NEW version (copy-on-write MERGE INTO — the versioned
    twin of ``operators/merge.py::merge_upsert``): updates replace
    their key, inserts append, ``delete_col`` rows remove the key,
    untouched rows carry over. The first merge into an empty table
    seeds version 1 from the surviving change rows.

    Every historical state stays readable (``read_snapshot``) and
    auditable (``snapshot_diff``); concurrent readers keep resolving
    the previous version until the one atomic manifest flip — no
    rename-swap window where the table transiently does not exist
    (the upgrade over ``compact_small_files``-style dir swapping).
    ``tag`` passes through to ``write_versioned`` for idempotent
    at-least-once replay."""
    from dask_datapipeline_spark.operators.merge import merge_upsert

    cur = _vt_read_manifest(path)
    if cur["current"] is None:
        merged = changes
        if delete_col is not None:
            merged = merged.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
    else:
        base = read_snapshot(spark, path)
        merged = merge_upsert(base, changes, list(key_cols), delete_col=delete_col)
    return write_versioned(merged, path, tag=tag)


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Read one committed version of a versioned table (default: the
    current one). Only manifest-referenced versions resolve — a staged
    or crashed write is invisible; an expired or never-written version
    raises ``ValueError`` (listing the live ones) instead of scanning
    whatever happens to be on disk."""
    import os

    cur = _vt_read_manifest(path)
    if version is None:
        version = cur["current"]
    if version is None or version not in cur["versions"]:
        raise ValueError(
            f"version {version!r} not in table {path!r} "
            f"(live versions: {cur['versions']})"
        )
    return spark.read.parquet(os.path.join(path, f"v{version:05d}"))


def list_versions(path: str) -> list[int]:
    """Committed (readable) versions, ascending."""
    return list(_vt_read_manifest(path)["versions"])


def expire_versions(path: str, keep_last: int = 1) -> list[int]:
    """Drop all but the last ``keep_last`` versions; returns the
    expired version numbers. Manifest flips FIRST (readers immediately
    stop resolving expired versions), directory removal follows — so a
    crash mid-expire strands unreferenced garbage, never a
    manifest-referenced hole."""
    import os
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last={keep_last} must be >= 1")
    cur = _vt_read_manifest(path)
    keep = cur["versions"][-keep_last:]
    expired = [v for v in cur["versions"] if v not in keep]
    if not expired:
        return []
    cur["versions"] = keep
    if cur["current"] not in keep:
        cur["current"] = keep[-1]
    # tags referencing expired versions go WITH them — a surviving tag
    # would make a later tagged write_versioned short-circuit to a
    # version whose data directory no longer exists (round-8 advice)
    if cur.get("tags"):
        cur["tags"] = {t: v for t, v in cur["tags"].items() if v in keep}
    _vt_write_manifest(path, cur)
    for v in expired:
        shutil.rmtree(os.path.join(path, f"v{v:05d}"), ignore_errors=True)
    return expired


def snapshot_diff(
    spark,
    path: str,
    version_a: int,
    version_b: int,
    key_cols,
    compare_cols,
) -> DataFrame:
    """``table_diff`` between two committed versions of one versioned
    table — per key: added / removed / changed / unchanged. The
    time-travel payoff: auditing exactly what a pipeline run changed
    without having kept a manual copy of the previous output."""
    from dask_datapipeline_spark.operators.merge import table_diff

    return table_diff(
        read_snapshot(spark, path, version_a),
        read_snapshot(spark, path, version_b),
        key_cols,
        compare_cols,
    )


def compact_versioned(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    tag: str | None = None,
) -> int:
    """Rewrite the CURRENT version's rows into ~target-size files and
    commit the result as a NEW version — ``compact_small_files`` with
    the rename-swap window replaced by the manifest protocol: readers
    keep resolving the old version until the one atomic flip (never a
    transient missing directory), the pre-compaction version stays
    time-travel readable until expired, and a crash mid-compaction
    strands only an unreferenced staging dir. The maintenance step the
    per-micro-batch ``stream_merge_to_versioned`` sink needs once its
    version count (one small-file set per batch) grows long — run
    ``expire_versions`` afterwards to reclaim the history."""
    import math
    import os

    cur = _vt_read_manifest(path)
    if cur["current"] is None:
        raise ValueError(f"no committed version to compact at {path!r}")
    vdir = os.path.join(path, f"v{cur['current']:05d}")
    files = _list_parquet_recursive(vdir)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_snapshot(spark, path).repartition(n_out)
    return write_versioned(df, path, tag=tag)
