"""Hashed linear text classifier (fastText-style quality gate).

The standard cheap quality filter in LLM-corpus pipelines (CCNet,
GPT-3's WebText classifier, RefinedWeb) is a linear model over hashed
bag-of-word features: every token hashes into a weight table, the
document score is the mean token weight plus a bias, and a sign / a
threshold on the margin decides keep-vs-drop. fastText is exactly
this shape (hashing trick + linear layer); the expensive part at
corpus scale is not the model, it's touching every token of 100 TB.

This implementation keeps the whole scorer inside the JVM as a
per-row array fold — ZERO shuffles, zero Python, a pure map over the
corpus scan, so it pipelines with whatever filter/projection follows
and scales embarrassingly (each executor scores its own splits).

Determinism / oracle contract:

- Weights are a pure function of the token: ``w(t) = (h(t) mod
  (2*scale+1)) - scale`` over the repo's shared 60-bit md5 hash
  (``dedup.seeded_hash64``), i.e. the hashing trick with a 2^60
  virtual weight table. A TRAINED model would replace this function
  with a lookup against a broadcast weight map — the plan shape (map
  side, no shuffle) is identical, so the deterministic weights stand
  in for the learned ones without changing the scale story.
- The margin accumulates as an exact BIGINT sum of integer weights
  (order-independent under any partitioning — a double sum here
  would be partitioning-dependent), and only the final
  ``margin_raw / (scale * n_tokens)`` touches doubles: one exact
  int→double conversion per operand and one correctly-rounded IEEE
  division, bit-identical across Spark and DuckDB.
- No sigmoid: ``sigmoid(margin)`` is monotone in the margin, and
  ``exp`` is a libm-vs-JVM transcendental that drifts in the last
  ulp (CLAUDE.md invariant) — thresholds belong on the margin.

Reference parity note: the reference pipeline
(``/root/reference/main.py``) has no classifier surface; this is
part of the LLM-pipeline extension mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import require_columns
from dask_datapipeline_spark.operators.dedup import seeded_hash64, tokens


def token_weight(token_col, seed: str = "qw", scale: int = 1000):
    """Integer weight in [-scale, scale] for one token — the hashing
    trick over a 2^60 virtual weight table (shared md5 hash family,
    so the DuckDB oracle embeds the same expression)."""
    return seeded_hash64(token_col, seed) % (2 * scale + 1) - scale


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seed: str = "qw",
    scale: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Score every document with the hashed linear model.

    Output: ``(id, n_tokens, margin_raw, margin, keep)`` where
    ``margin = margin_raw / (scale * n_tokens)`` ∈ [-1, 1] is the
    mean token weight (the classifier margin) and ``keep = margin >=
    threshold``.

    Plan: one scan, one ``transform``+``aggregate`` fold per row, no
    exchange anywhere — the 100 TB cost is exactly one pass over the
    text bytes. NULL documents are dropped explicitly (legacy
    ``split(NULL)`` would otherwise collapse to an empty array
    mid-expression and score as an empty doc).
    """
    require_columns(df, [id_col, text_col])
    if scale < 1:
        raise ValueError(f"scale={scale} must be >= 1")
    toks = tokens(text_col)
    margin_raw = F.aggregate(
        F.transform(toks, lambda t: token_weight(t, seed, scale)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_tokens = F.size(toks).cast("long")
    # split() of a non-NULL string is never empty (worst case ['']),
    # so n_tokens >= 1 and the ANSI division below cannot hit zero.
    out = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        margin_raw.alias("margin_raw"),
    )
    margin = F.col("margin_raw").cast("double") / (
        F.lit(scale).cast("double") * F.col("n_tokens").cast("double")
    )
    return out.select(
        id_col,
        "n_tokens",
        "margin_raw",
        margin.alias("margin"),
        (margin >= F.lit(float(threshold))).alias("keep"),
    )


def hashed_linear_score_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "qw",
    scale: int = 1000,
    threshold: float = 0.0,
) -> str:
    """DuckDB oracle twin of :func:`hashed_linear_score` — same hash,
    same integer weights, same exact-BIGINT accumulation, same final
    division tree."""
    w = (
        f"(CAST(CONCAT('0x', SUBSTRING(md5('{seed}:' || t), 1, 15)) AS BIGINT)"
        f" % {2 * scale + 1}) - {scale}"
    )
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split(lower({text_col}), ' ') AS tk
  FROM {src} WHERE {text_col} IS NOT NULL
),
tw AS (SELECT {id_col}, len(tk) AS n_tokens, unnest(tk) AS t FROM toks),
sc AS (
  SELECT {id_col}, MAX(n_tokens) AS n_tokens,
         CAST(SUM({w}) AS BIGINT) AS margin_raw
  FROM tw GROUP BY {id_col}
)
SELECT {id_col}, CAST(n_tokens AS BIGINT) AS n_tokens, margin_raw,
       CAST(margin_raw AS DOUBLE) / (CAST({scale} AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS margin,
       CAST(margin_raw AS DOUBLE) / (CAST({scale} AS DOUBLE) * CAST(n_tokens AS DOUBLE)) >= {float(threshold)} AS keep
FROM sc
"""


# ----- trained path ---------------------------------------------------

#: Deterministic training-sample order seed (same device as the ANN
#: codebooks' bounded TakeOrdered sample, operators/similarity.py).
TRAIN_ORDER_SEED = "clstrain"


def _hash_bucket(token: str, n_buckets: int, seed: str) -> int:
    """Python twin of ``seeded_hash64(token, seed) % n_buckets`` —
    the two paths (JVM hash-weight scoring, trained-dict scoring)
    share one feature space."""
    import hashlib

    return int(hashlib.md5(f"{seed}:{token}".encode()).hexdigest()[:15], 16) % n_buckets


def train_hashed_linear(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 1 << 18,
    epochs: int = 3,
    max_sample: int = 4096,
    scale: int = 1000,
    seed: str = "qw",
) -> dict[int, int]:
    """Train integer weights for :func:`hashed_linear_score`'s
    ``weights=`` path: an AVERAGED PERCEPTRON over mean-pooled hashed
    bag-of-words features, quantized to ints in [-scale, scale].

    Determinism contract: the training sample is the
    ``max_sample`` docs whose md5-of-id sorts lowest — a
    TakeOrderedAndProject, identical on any cluster shape or
    partitioning — walked in that fixed order with zero-initialized
    weights and no RNG, so retraining always yields the same model.
    Training arithmetic is plain floats (fine HERE: training only
    produces the weight VALUES; scoring then uses them in exact
    integer accumulation, so no oracle re-derives this arithmetic).

    ``label_col`` is boolean (True = keep). The driver holds at most
    ``max_sample`` documents — the same bounded-collect contract as
    the codebook trainers; at 100 TB you train on a sample anyway.
    """
    require_columns(df, [id_col, text_col, label_col])
    sample = (
        df.where(F.col(text_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            seeded_hash64(F.col(id_col).cast("string"), TRAIN_ORDER_SEED).alias("__o"),
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
            F.col(label_col).cast("boolean").alias("__y"),
        )
        .orderBy("__o", "__id")
        .limit(max_sample)
        .collect()
    )
    if not sample:
        raise ValueError("train_hashed_linear: empty training sample")

    docs = []
    for r in sample:
        toks = r["__t"].lower().split(" ")
        counts: dict[int, int] = {}
        for t in toks:
            b = _hash_bucket(t, n_buckets, seed)
            counts[b] = counts.get(b, 0) + 1
        docs.append((counts, len(toks), 1.0 if r["__y"] else -1.0))

    w: dict[int, float] = {}
    acc: dict[int, float] = {}
    bias = 0.0
    bias_acc = 0.0
    steps = 0
    for _ in range(epochs):
        for counts, n, y in docs:
            steps += 1
            margin = bias + sum(w.get(b, 0.0) * c for b, c in counts.items()) / n
            if y * margin <= 0.0:
                for b, c in counts.items():
                    w[b] = w.get(b, 0.0) + y * c / n
                bias += y
            # averaged perceptron: accumulate the CURRENT weights
            # every step (Freund & Schapire 1999)
            for b, v in w.items():
                acc[b] = acc.get(b, 0.0) + v
            bias_acc += bias
    avg = {b: v / steps for b, v in acc.items()}
    peak = max((abs(v) for v in avg.values()), default=0.0)
    if peak == 0.0:
        return {-1: int(round(bias_acc / steps))}
    q = {
        b: int(round(v / peak * scale))
        for b, v in avg.items()
        if int(round(v / peak * scale)) != 0
    }
    # bias rides under the reserved key -1 (no md5 bucket is negative)
    q[-1] = int(round(bias_acc / steps / peak * scale))
    return q


def hashed_linear_score_trained(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[int, int],
    n_buckets: int = 1 << 18,
    seed: str = "qw",
    scale: int = 1000,
    threshold: float = 0.0,
) -> DataFrame:
    """Score with TRAINED integer weights: same output contract as
    :func:`hashed_linear_score` (n_tokens, margin_raw, margin, keep),
    same exact-integer accumulation — the weight table lives in the
    Arrow UDF closure (the codebook-in-closure pattern of
    semantic_dedup), so scoring stays a map-side pass with zero
    shuffles and nothing broadcast through a join.

    ``margin = (bias*n_tokens + Σ w[bucket(t)]) / (scale*n_tokens)``
    with the bias under reserved key -1 — all-integer numerator, one
    final correctly-rounded division, bit-stable under any
    partitioning.
    """
    require_columns(df, [id_col, text_col])
    import pandas as pd

    from dask_datapipeline_spark.parallel import fan_out

    bias = int(weights.get(-1, 0))
    wmap = {b: int(v) for b, v in weights.items() if b >= 0}
    narrow = fan_out(df.where(F.col(text_col).isNotNull()).select(id_col, text_col))
    id_dtype = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_dtype}, n_tokens long, margin_raw long"

    def _score(batches):
        for pdf in batches:
            ids, ns, raws = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = t.lower().split(" ")
                raw = bias * len(toks)
                for tok in toks:
                    raw += wmap.get(_hash_bucket(tok, n_buckets, seed), 0)
                ids.append(i)
                ns.append(len(toks))
                raws.append(raw)
            yield pd.DataFrame({id_col: ids, "n_tokens": ns, "margin_raw": raws})

    scored = narrow.mapInPandas(_score, schema)
    margin = F.col("margin_raw").cast("double") / (
        F.lit(scale).cast("double") * F.col("n_tokens").cast("double")
    )
    return scored.select(
        id_col,
        "n_tokens",
        "margin_raw",
        margin.alias("margin"),
        (margin >= F.lit(float(threshold))).alias("keep"),
    )


#: deflate-ratio DECISION thresholds (round 12, calibrated on the
#: corpus at level 6 — sf0.01, median doc 306 chars): natural docs
#: span ratio 0.40-0.84; ×20-repeated text drops to 0.04; base64-class
#: high-entropy junk measures ~0.84-0.88. TEXT cannot exceed ~0.9
#: however random (6-6.6 bits/char ceiling), so a byte-entropy
#: threshold like 0.95 would never fire on a string column.
COMPRESS_LOW_RATIO = 0.25
COMPRESS_HIGH_RATIO = 0.8
#: the incompressible flag requires this many bytes: under it the
#: fixed deflate header dominates and SHORT NATURAL docs read as
#: incompressible (measured: a 6-byte doc "compresses" to ratio 2.3,
#: corpus max 1.02) — length-gate the flag, not the ratio itself
COMPRESS_MIN_BYTES = 256


def compression_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    low: float = COMPRESS_LOW_RATIO,
    high: float = COMPRESS_HIGH_RATIO,
) -> DataFrame:
    """Compression-ratio quality signal (zlib level ``level``): highly
    repetitive / templated / boilerplate text compresses far below
    natural prose, and near-random strings barely compress — the cheap
    content-agnostic filter real corpus pipelines run alongside the
    n-gram heuristics (low ratio → likely machine-generated
    repetition; high ratio → likely base64/minified/encoded junk that
    survived extraction).

    Output: ``(id_col, raw_len, compressed_len, ratio,
    flag_repetitive, flag_incompressible)`` over UTF-8 byte lengths —
    the flags are the round-12 calibrated DECISIONS (``ratio < low``;
    ``ratio > high`` AND at least ``COMPRESS_MIN_BYTES`` bytes, so
    header overhead on short docs cannot false-flag). NULL text rows
    are dropped (the contract everywhere else in the text family — an
    explicit gate, not a silent 0).

    Physical shape: one Arrow-batched ``mapInPandas`` pass, zero
    shuffles — embarrassingly parallel over the corpus scan like the
    hashed classifier above. zlib is bit-deterministic for a fixed
    (level, library) pair, so results are stable across reruns and
    partitionings; there is no SQL replay (DuckDB has no zlib), so
    the pin is the in-process Python model in tests — the SAME
    library, hence exact."""
    import zlib
    from typing import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    require_columns(df, [id_col, text_col])
    if not 0 <= level <= 9:
        raise ValueError(f"zlib level {level} outside [0, 9]")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = t.encode("utf-8")
                comp = len(zlib.compress(raw, level))
                ratio = comp / len(raw) if raw else 1.0
                out.append(
                    {
                        id_col: i,
                        "raw_len": len(raw),
                        "compressed_len": comp,
                        "ratio": ratio,
                        "flag_repetitive": bool(raw) and ratio < low,
                        "flag_incompressible": len(raw) >= COMPRESS_MIN_BYTES
                        and ratio > high,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=[
                    id_col,
                    "raw_len",
                    "compressed_len",
                    "ratio",
                    "flag_repetitive",
                    "flag_incompressible",
                ],
            )

    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("raw_len", T.LongType()),
            T.StructField("compressed_len", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
            T.StructField("flag_repetitive", T.BooleanType()),
            T.StructField("flag_incompressible", T.BooleanType()),
        ]
    )
    from dask_datapipeline_spark.parallel import fan_out

    return fan_out(
        df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    ).mapInPandas(batches, schema)
