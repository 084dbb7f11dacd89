"""Generic stage-delta compaction (operators/deltas.py): the
threshold fold, the in-flight watermark, crash recovery on both sides
of the commit marker, ``file://`` roots, and the streaming sink's
in-sink compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _delta_root(spark, tmp_path, n=5):
    root = str(tmp_path / "stage")
    for b in range(n):
        spark.range(b * 10, b * 10 + 10).selectExpr(
            "id", "id * 2 AS v"
        ).write.mode("overwrite").parquet(f"{root}/delta={b}")
    return root


def _rows(spark, root):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(root).select("id", "v").collect()
    )


def test_delta_compaction_folds_once_past_threshold(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.deltas import maybe_compact_deltas

    root = _delta_root(spark, tmp_path)
    before = _rows(spark, root)
    assert maybe_compact_deltas(spark, root, max_deltas=8) is False
    assert len(os.listdir(root)) == 5
    assert maybe_compact_deltas(spark, root, max_deltas=2) is True
    deltas = sorted(d for d in os.listdir(root) if d.startswith("delta="))
    assert deltas == ["delta=-1"]  # fresh id below every consumed one
    assert _rows(spark, root) == before  # verbatim union
    assert maybe_compact_deltas(spark, root, max_deltas=2) is False
    with pytest.raises(ValueError, match="max_deltas"):
        maybe_compact_deltas(spark, root, max_deltas=0)


def test_delta_compaction_watermark_spares_inflight(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.deltas import maybe_compact_deltas

    root = _delta_root(spark, tmp_path)
    before = _rows(spark, root)
    assert maybe_compact_deltas(spark, root, max_deltas=1, exclude_from=4) is True
    names = sorted(d for d in os.listdir(root) if d.startswith("delta="))
    assert names == ["delta=-1", "delta=4"]  # batch 4 untouched
    assert _rows(spark, root) == before
    # the spared delta's overwrite idempotency is intact: a replay
    # rewrites the same directory, rows unchanged
    spark.range(40, 50).selectExpr("id", "id * 2 AS v").write.mode(
        "overwrite"
    ).parquet(f"{root}/delta=4")
    assert _rows(spark, root) == before


def test_delta_compaction_crash_recovery_both_phases(spark, tmp_path, monkeypatch):
    import os

    import dask_datapipeline_spark.operators.deltas as D

    root = _delta_root(spark, tmp_path)
    before = _rows(spark, root)
    # crash BEFORE the commit marker: pre-commit garbage, live root
    # untouched
    os.makedirs(f"{root}/.compact/delta=-1")
    D.recover_delta_compaction(root)
    assert not os.path.isdir(f"{root}/.compact")
    assert _rows(spark, root) == before
    # crash AFTER the marker (phases A+B done, C never ran)
    real = D._finish

    def boom(fs, r):
        raise RuntimeError("simulated crash between commit and finish")

    monkeypatch.setattr(D, "_finish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        D.maybe_compact_deltas(spark, root, max_deltas=2)
    monkeypatch.setattr(D, "_finish", real)
    assert os.path.isfile(f"{root}/.compact/COMMIT")
    D.recover_delta_compaction(root)
    assert sorted(
        d for d in os.listdir(root) if d.startswith("delta=")
    ) == ["delta=-1"]
    assert _rows(spark, root) == before


def test_delta_compaction_roundtrips_file_uri(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.deltas import maybe_compact_deltas

    local = _delta_root(spark, tmp_path)
    before = _rows(spark, local)
    uri = "file://" + local
    assert maybe_compact_deltas(spark, uri, max_deltas=1) is True
    assert sorted(
        d for d in os.listdir(local) if d.startswith("delta=")
    ) == ["delta=-1"]
    assert _rows(spark, local) == before


def test_stream_stage_deltas_in_sink_compaction(spark, tmp_path):
    """End-to-end: the extraction sink with compact_max_deltas folds
    older deltas as batches drain (watermark spares the in-flight
    one), and the accumulated rows equal an uncompacted run's."""
    import os

    from dask_datapipeline_spark.plans.catalog_llm import _stage_micro_batches
    from dask_datapipeline_spark.streaming.windows import stream_stage_deltas

    src = spark.range(40).selectExpr("id", "CAST(id AS STRING) AS s")
    parts = [src.where(F.col("id") % 4 == i) for i in range(4)]
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    _stage_micro_batches(parts, staged)

    def run(out, compact):
        stream_stage_deltas(
            spark,
            staged,
            out,
            "id long, s string",
            lambda b: b.selectExpr("id", "upper(s) AS u"),
            checkpoint_dir=out + ".ckpt",
            compact_max_deltas=compact,
        )
        return sorted(
            tuple(r) for r in spark.read.parquet(out).select("id", "u").collect()
        )

    plain = run(str(tmp_path / "plain"), None)
    compacted_dir = str(tmp_path / "compacted")
    compacted = run(compacted_dir, 1)
    assert compacted == plain and len(plain) == 40
    names = sorted(
        d for d in os.listdir(compacted_dir) if d.startswith("delta=")
    )
    assert len(names) <= 3  # folded base + at most the spared tail
