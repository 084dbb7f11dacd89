"""Document-quality signals: within-document duplicate-line removal
(functions/quality.py) and the deflate compression-ratio flags
(operators/classifier.py)."""

from __future__ import annotations


# ----- within-document duplicate-line removal ---------------------------


def test_dedup_lines_first_occurrence_order(spark):
    from dask_datapipeline_spark.functions.quality import dedup_lines_cols

    df = spark.createDataFrame(
        [(1, "B\nA\nB\nC\nA\nB"), (2, "x"), (3, "\n\na\n\nb\n\n")],
        "doc_id long, text string",
    )
    sig = dedup_lines_cols("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            sig["n_lines"].alias("n_lines"),
            sig["n_unique"].alias("n_unique"),
            sig["text_dedup"].alias("t"),
        ).collect()
    }
    # first occurrence kept, document order preserved
    assert rows[1]["t"] == "B\nA\nC" and rows[1]["n_lines"] == 6
    assert rows[1]["n_unique"] == 3
    assert rows[2]["t"] == "x"
    # empty lines dedup like any line: first blank survives only
    assert rows[3]["t"] == "\na\nb" and rows[3]["n_unique"] == 3


def test_dedup_lines_strips_carriage_returns(spark):
    from dask_datapipeline_spark.functions.quality import dedup_lines_cols

    df = spark.createDataFrame([(1, "A\r\nA\nB\r")], "doc_id long, text string")
    sig = dedup_lines_cols("text")
    row = df.select(sig["text_dedup"].alias("t")).first()
    assert row["t"] == "A\nB"


# ----- deflate compression-ratio DECISION flags (round-12 addition) -----


def test_compression_flags_planted_tails(spark):
    """The calibrated flags on classifier.compression_quality: heavy
    repetition flags low, >=256-byte high-entropy text flags high, the
    length gate keeps header-inflated short docs quiet."""
    import base64
    import hashlib

    from dask_datapipeline_spark.operators.classifier import (
        COMPRESS_MIN_BYTES,
        compression_quality,
    )

    prose = (
        "The quick brown fox jumps over the lazy dog while the band "
        "plays a slow waltz in the evening light near the harbor."
    )
    junk = "".join(
        base64.b64encode(hashlib.md5(f"7:{k}".encode()).digest()).decode()
        for k in range(16)
    )
    assert len(junk.encode()) >= COMPRESS_MIN_BYTES
    df = spark.createDataFrame(
        [
            (1, prose * 3),   # natural: no flags
            (2, prose * 40),  # heavy repetition: flag_repetitive
            (3, junk),        # high-entropy >=256B: incompressible
            (4, junk[:40]),   # short junk: the length gate holds it
            (5, None),        # NULL text dropped
            (6, ""),          # empty: ratio 1.0 convention, no flags
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in compression_quality(df).collect()}
    assert 5 not in rows
    assert not rows[1]["flag_repetitive"] and not rows[1]["flag_incompressible"]
    assert rows[2]["flag_repetitive"] and rows[2]["ratio"] < 0.1
    assert rows[3]["flag_incompressible"] and rows[3]["ratio"] > 0.8
    assert not rows[4]["flag_incompressible"]  # 40 bytes < the gate
    assert not rows[6]["flag_repetitive"] and not rows[6]["flag_incompressible"]


def test_compression_flags_batch_size_independent(spark):
    """Arrow batch boundaries must not change a single output row."""
    from dask_datapipeline_spark.operators.classifier import (
        compression_quality,
    )

    df = spark.createDataFrame(
        [(i, f"text body number {i} " * (1 + i % 7)) for i in range(50)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, compression_quality(df).collect()))
    b = sorted(map(tuple, compression_quality(df.repartition(13)).collect()))
    assert a == b
