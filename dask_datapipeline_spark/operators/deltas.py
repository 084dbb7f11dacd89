"""Generic replay-idempotent delta-directory log + threshold
compaction (round 12).

``streaming/windows.py::stream_stage_deltas`` (and any foreachBatch
sink following the overwrite-by-batch-id discipline) accumulates one
``delta=<batch_id>`` parquet directory per micro-batch under a single
root. On a long-running stream that is unbounded file count — the
same per-scan open/footer cost and driver listing memory the index
compactions (BM25/MinHash) exist to bound. This module is the
SIMPLE-LAYOUT member of that family: one delta root, uniform-schema
parquet, no partition subdirectories — the bm25 two-phase protocol
with the postings/stats pairing stripped away.

Reader contract: consumers read the union via partition discovery and
treat the ``delta`` column as a PHYSICAL artifact, never data (the
stage-delta readers drop it) — compaction rewrites old rows under one
fresh base id, so anything keyed on the delta value would change.
Rows are preserved exactly (the fold is a verbatim union).

Crash safety and the replay watermark are the bm25 protocol verbatim:
phase A materializes the folded base into ``<root>/.compact`` (outside
partition discovery — dot-prefixed dirs are invisible to readers),
phase B atomically writes a COMMIT marker naming the consumed deltas
and the FRESH destination id (one below every consumed id — never a
consumed name, so phase C replays idempotently), phase C removes the
consumed dirs and moves the base in. ``exclude_from`` keeps the
in-flight batch's delta out of the fold (folding it before the
streaming commit would double-count the batch on a post-crash
replay). SINGLE-WRITER: runs between micro-batches under the sink's
serialized foreachBatch. All filesystem work goes through
``indexfs.IndexFS`` — plain paths and Hadoop URIs alike.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from dask_datapipeline_spark.indexfs import IndexFS


def _workdir(root: str) -> str:
    return IndexFS.join(root, ".compact")


def _delta_names(fs: IndexFS, root: str) -> list[str]:
    return [
        d
        for d in fs.listdir(root)
        if d.startswith("delta=") and fs.isdir(IndexFS.join(root, d))
    ]


def delta_id(name: str) -> int | None:
    """Batch id of a ``delta=<n>`` directory name, or None for a
    non-CANONICAL suffix (stray manual dir, corrupted name). Compaction
    SKIPS None ids — it cannot order them against the watermark, and
    folding an unknown dir risks destroying state it didn't write;
    before this guard a single ``delta=foo`` made ``int()`` throw and
    killed every subsequent compaction attempt for the sink
    (ADVICE r12). The skipped dir still counts against nothing and is
    left exactly where it was.

    Canonical means ASCII digits with an optional leading ``-`` ONLY
    (ADVICE r13): bare ``int()`` also accepts underscores, unicode
    digits, leading ``+`` and whitespace — a stray ``delta=1_0`` would
    parse as id 10 and get FOLDED (and could collide with a real
    ``delta=10``) while Spark's own partition-value parse disagrees.
    Only names this module itself would have written pass."""
    suffix = name.split("=", 1)[1]
    if re.fullmatch(r"-?[0-9]+", suffix) is None:
        return None
    return int(suffix)


def _finish(fs: IndexFS, root: str) -> None:
    """Phase C, idempotent: drop consumed deltas named in the COMMIT
    marker, move the folded base in under the marker's fresh ``dest``
    unless a prior attempt already did, drop the work dir."""
    work = _workdir(root)
    commit = fs.read_json(IndexFS.join(work, "COMMIT"))
    dest = commit["dest"]
    for name in commit["deltas"]:
        fs.rmtree(IndexFS.join(root, name))
    src = IndexFS.join(work, dest)
    dst = IndexFS.join(root, dest)
    if fs.isdir(src):
        # a dst COEXISTING with a live src is a partial copy from a
        # crashed non-atomic (copy-then-delete) rename — src stays
        # authoritative until the rename's source delete, so rebuild
        # dst from it instead of trusting the partial (round 14,
        # pinned under the _FlakyFS object-store double)
        fs.rmtree(dst)
        fs.move(src, dst)
    fs.rmtree(work)


def recover_delta_compaction(root: str) -> None:
    """Resolve a compaction a crash left half-done (called at sink
    start and before every attempt): a work dir WITH a COMMIT marker
    is past the commit point — finish phase C; one without is
    pre-commit garbage — drop it, the live root was never touched."""
    fs = IndexFS.for_path(root, "recover_delta_compaction")
    base = root.rstrip("/")
    fs.sweep_tmp(base)  # stranded marker temps from a crashed writer
    work = _workdir(base)
    if not fs.isdir(work):
        return
    if fs.isfile(IndexFS.join(work, "COMMIT")):
        _finish(fs, base)
    else:
        fs.rmtree(work)


def maybe_compact_deltas(
    spark: SparkSession,
    root: str,
    max_deltas: int,
    exclude_from: int | None = None,
    lease=None,
) -> bool:
    """Fold the committed ``delta=*`` dirs under ``root`` into ONE
    fresh base delta once their count exceeds ``max_deltas`` — rows
    identical before and after (verbatim union; pytest-pinned), file
    count back to O(threshold). See the module docstring for the
    protocol; ``exclude_from`` is the in-sink replay watermark
    (deltas with batch id >= it are neither counted nor folded)."""
    if max_deltas < 1:
        raise ValueError(f"max_deltas={max_deltas} must be >= 1")
    fs = IndexFS.for_path(root, "maybe_compact_deltas")
    base = root.rstrip("/")
    recover_delta_compaction(base)
    # non-integer delta= dirs are skipped, never folded (see delta_id)
    deltas = [d for d in _delta_names(fs, base) if delta_id(d) is not None]
    if exclude_from is not None:
        deltas = [d for d in deltas if delta_id(d) < exclude_from]
    if len(deltas) <= max_deltas:
        return False
    dest = "delta={}".format(min(delta_id(d) for d in deltas) - 1)
    work = _workdir(base)
    fs.rmtree(work)
    # phase A: fold ONLY the consumed deltas, outside partition
    # discovery (an excluded in-flight delta must not leak in)
    (
        spark.read.parquet(*[IndexFS.join(base, d) for d in deltas])
        .write.mode("overwrite")
        .parquet(IndexFS.join(work, dest))
    )
    # phase B: the atomic commit point (marker file rename). The writer
    # fence is re-checked HERE, not only at batch start — one batch
    # performs several state-touching flips and a mid-batch takeover
    # must stop before this one (ADVICE r13); a fenced writer leaves
    # only a pre-commit work dir, swept by the next recover
    if lease is not None:
        lease.check_and_renew()
    fs.write_json_atomic(
        IndexFS.join(work, "COMMIT"), {"deltas": deltas, "dest": dest}
    )
    _finish(fs, base)
    return True
