"""Similarity search over embedding columns (SURVEY.md §2.2).

Two tiers, same semantics:

- ``cosine_topk`` — brute-force exact top-k for ONE query vector: the
  query is a broadcast literal, each partition computes similarities
  locally (no shuffle), and the global top-k is a
  ``TakeOrderedAndProject`` (per-partition heap + driver merge of k
  rows per partition). At 100 TB this is a single full scan — the
  right baseline, and embarrassingly parallel.
- ``knn_join_lsh`` — approximate all-pairs / batch-query path: random-
  hyperplane LSH (sign of dot with r random normals → r-bit bucket
  key). Vectors sharing a bucket are candidates; exact cosine verifies
  within buckets. Turns the O(N·M) cross join into an equi-join on
  bucket keys — shuffle-partitioned by bucket, which is how this
  survives a 1000-executor scale-up. Recall is tuned by ``num_tables``
  independent hash tables (union of candidates, dedup).

Hyperplanes are ±1 vectors derived from md5 on the driver
(``rademacher_planes``) and shipped in the UDF closure — deterministic
across runs and engines, and replayed literally by the SQL oracles.

Reference repo has no similarity surface; cf. PAPERS.md (REPOSE,
Odyssey) for the distributed design space.
"""

from __future__ import annotations

import math
from fractions import Fraction
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_datapipeline_spark.errors import require_columns
from dask_datapipeline_spark.functions.vectors import cosine
from dask_datapipeline_spark.parallel import fan_out


def _vec_lit(vec) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _stack(series: pd.Series) -> np.ndarray:
    """Pandas batch of vectors → (n, dim) float64 matrix. The per-
    element float32→float64 promotion is exact, matching
    ``as_double_array`` semantics."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in series])


def _matrix(vecs: pa.Array) -> np.ndarray:
    """Arrow ``list<float|double>`` batch → (n, dim) float64 matrix,
    read as the flattened child values reshaped — no per-row array.
    The float32→float64 promotion is exact (``_stack`` semantics). A
    NULL or ragged vector raises: there is no dot product to take."""
    if vecs.null_count:
        raise ValueError(f"embedding batch holds {vecs.null_count} NULL vector(s)")
    if len(vecs) == 0:
        return np.zeros((0, 0))
    lo, hi = pc.min_max(pc.list_value_length(vecs)).values()
    if lo != hi:
        raise ValueError(f"ragged embedding batch: vector lengths {lo.as_py()}..{hi.as_py()}")
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(vecs), hi.as_py())


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n,d) × (m,d) → (n,m) dot products accumulated strictly in
    element order k=0..d-1 — bit-identical to the JVM-side
    ``F.aggregate`` left fold (and DuckDB's ``list_dot_product``),
    unlike BLAS matmul whose summation order is unspecified."""
    out = np.zeros((a.shape[0], b.shape[0]))
    for k in range(a.shape[1]):
        out += np.outer(a[:, k], b[:, k])
    return out


def _seq_sq_norm(a: np.ndarray) -> np.ndarray:
    """Row-wise Σ x² accumulated in element order (see ``_seq_dot``)."""
    out = np.zeros(a.shape[0])
    for k in range(a.shape[1]):
        out += a[:, k] * a[:, k]
    return out


def cosine_topk(
    df: DataFrame,
    query_vec,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tiebreak: bool = True,
) -> DataFrame:
    """Exact top-k by cosine similarity to one query vector.

    Output: (id_col, cosine_sim) — ordered desc, ties broken by id so
    results are deterministic under any partitioning.
    """
    require_columns(df, [id_col, vec_col])
    q = _vec_lit(query_vec)
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cosine_sim"),
    )
    order = [F.desc("cosine_sim")] + ([F.asc(id_col)] if tiebreak else [])
    return scored.orderBy(*order).limit(k)


def rademacher_planes(num_tables: int, bits: int, dim: int) -> np.ndarray:
    """±1 hyperplanes (sign-random-projection LSH, a standard SRP
    variant) derived bit-by-bit from md5 — deterministic and exactly
    reproducible as literal arrays in the SQL oracle. The only plane
    generator: every LSH path below hashes with these."""
    import hashlib

    out = np.empty((num_tables, bits, dim))
    for t in range(num_tables):
        for b in range(bits):
            h = hashlib.md5(f"plane:{t}:{b}".encode()).digest()
            while len(h) * 8 < dim:
                h += hashlib.md5(h).digest()
            out[t, b] = [1.0 if (h[k // 8] >> (k % 8)) & 1 else -1.0 for k in range(dim)]
    return out


#: rows per (table, bucket) cell the auto-sized SRP geometry targets;
#: the default ``bucket_cap`` is 8× this (same headroom the measured
#: scaling runs used — tools/measure_scaling.py, docs/SCALE.md).
SRP_TARGET_OCCUPANCY = 8
SRP_MIN_BITS = 8
#: the SQL oracle replays plane literals up to this many bits per
#: table (covers corpora to target_occupancy × 2^20 ≈ 8M rows at the
#: default occupancy — far beyond any gate corpus; the OPERATOR has
#: no such bound).
SRP_ORACLE_MAX_BITS = 20


def sized_srp_bits(
    n_rows: int,
    target_occupancy: int = SRP_TARGET_OCCUPANCY,
    min_bits: int = SRP_MIN_BITS,
) -> int:
    """Corpus-sized SRP hash width: the smallest ``bits`` such that
    ``2^bits`` buckets hold ``n_rows`` at ≤ ``target_occupancy`` rows
    per bucket (i.e. ``ceil(log2(n / occupancy))``), floored at
    ``min_bits``.

    A FIXED geometry saturates: at 200k vectors the 8-bit tables hold
    ~780 rows/bucket, every cell trips the skew cap, and recall
    measured ZERO pairs (docs/SCALE.md) — the guard correctly pruning
    a mis-sized geometry. Sizing bits to the corpus keeps expected
    occupancy constant, so the candidate volume Σ C(occ, 2) grows
    linearly in n (measured α=1.03 through 500k vectors).

    Integer-exact on purpose: ``ceil(log2(ceil(n/occ)))`` computed via
    ``int.bit_length`` — no libm ``log2`` whose final ulp could differ
    between Python and the SQL oracle's replay of the same formula
    (``GREATEST(min_bits, length(bin(target_cells - 1)))``)."""
    if n_rows < 0:
        raise ValueError(f"n_rows={n_rows} must be >= 0")
    if target_occupancy < 1:
        raise ValueError(f"target_occupancy={target_occupancy} must be >= 1")
    target_cells = (max(n_rows, 1) + target_occupancy - 1) // target_occupancy
    return max(min_bits, (target_cells - 1).bit_length())


#: width of the SRP sign sketch that prunes the candidate pairs of a
#: thresholded near-dup join before their exact cosine; it rides the
#: bucket rows as two signed 64-bit words
SKETCH_BITS = 128
#: the prune's per-pair false-negative bound at the threshold angle,
#: under the binomial model of SRP sign disagreement (Charikar 2002);
#: pairs at smaller angles are dropped less often
SKETCH_MISS_RATE = Fraction(1, 10**6)


def sketch_hamming_bound(threshold: float) -> int | None:
    """Largest sketch Hamming distance a pair at cosine ≥ ``threshold``
    keeps: the smallest ``H`` with ``P[Binomial(SKETCH_BITS, θ/π) > H]
    ≤ SKETCH_MISS_RATE``, ``θ = arccos(threshold)``. Each of the
    ``SKETCH_BITS`` sign bits of a pair at angle θ disagrees with
    probability θ/π, so a true near-dup exceeds ``H`` at most at that
    rate (H = 32 at 0.95).

    The tail is summed in exact rationals from the double θ/π, so the
    bound is a pure function of the threshold that the SQL oracles
    replay as a literal. ``None`` when no ``H < SKETCH_BITS`` meets the
    rate (low thresholds): the prune would drop nothing."""
    t = min(max(float(threshold), -1.0), 1.0)
    if math.isnan(t):
        return None
    p = Fraction(math.acos(t) / math.pi)
    n, tail = SKETCH_BITS, Fraction(0)  # tail = P[X > h]
    for h in range(n, 0, -1):
        wider = tail + math.comb(n, h) * p**h * (1 - p) ** (n - h)
        if wider > SKETCH_MISS_RATE:
            return h if h < n else None
        tail = wider
    return 0


def _sketch_planes(num_tables: int, dim: int) -> np.ndarray:
    """(SKETCH_BITS, dim) sketch planes: table ``num_tables`` of
    ``rademacher_planes``, the first one past the bucket tables."""
    return rademacher_planes(num_tables + 1, SKETCH_BITS, dim)[num_tables]


def _bucket_udf(planes: np.ndarray, sketch_planes: np.ndarray | None = None):
    """Vectorized Arrow UDF: embedding → array of ``num_tables``
    bucket ids, ONE vectorized pass per Arrow batch instead of
    ``num_tables × bits`` interpreted dot-product expressions per row.
    ``planes`` has shape (num_tables, bits, dim) and travels to the
    executors inside the UDF closure (a few KiB).

    With ``sketch_planes`` (SKETCH_BITS, dim) the UDF returns
    ``struct<b: bucket ids, hi, lo>``: the sketch's sign bits packed
    little-endian into two signed 64-bit words, plane k in bit k of
    ``lo`` and plane 64 + k in bit k of ``hi``.

    Dot products accumulate in strict element order (``_seq_dot``),
    not BLAS matmul: the bucket bit is the SIGN of the dot, and a
    last-ulp difference from reordered summation could flip it —
    strict order keeps buckets bit-identical to the SQL oracle's
    ``list_dot_product`` fold."""
    nt, bits, dim = planes.shape
    flat = planes.reshape(nt * bits, dim)
    if sketch_planes is not None:
        flat = np.concatenate([flat, sketch_planes])
    weights = (1 << np.arange(bits)).astype(np.int64)
    buckets_t = T.ArrayType(T.LongType())
    out_t = buckets_t if sketch_planes is None else T.StructType([
        T.StructField("b", buckets_t),
        T.StructField("hi", T.LongType()),
        T.StructField("lo", T.LongType()),
    ])

    @F.arrow_udf(out_t)
    def srp_buckets(vecs: pa.Array) -> pa.Array:
        v = _matrix(vecs)
        n = len(v)
        if n and v.shape[1] != dim:
            raise ValueError(f"embedding length {v.shape[1]} != dim={dim}")
        signs = _seq_dot(v, flat) >= 0
        b = signs[:, : nt * bits].reshape(n, nt, bits).astype(np.int64) @ weights
        ids = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * nt + 1, nt, dtype=np.int32)), pa.array(b.ravel())
        )
        if sketch_planes is None:
            return ids
        words = np.packbits(signs[:, nt * bits :], axis=1, bitorder="little").view("<i8")
        return pa.StructArray.from_arrays(
            [ids, pa.array(words[:, 1]), pa.array(words[:, 0])], names=["b", "hi", "lo"]
        )

    return srp_buckets


def _lsh_candidate_pairs(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    bits_per_table: int,
    num_tables: int,
    lt_only: bool = False,
    bucket_cap: int | None = None,
    max_hamming: int | None = None,
) -> DataFrame:
    """Scored candidate pairs (query_id, neighbor_id, cosine_sim) from a
    bucket equi-join on (table, bucket), hashed with the md5
    ``rademacher_planes``.

    ``bucket_cap``: skew guard — (table, bucket) cells holding more
    than ``bucket_cap`` corpus rows are EXCLUDED from the join. A hot
    bucket contributes O(n²) candidate pairs, so one degenerate cell
    (all-zero vectors, a mis-tuned table) can make the self-join
    quadratic at 100 TB regardless of how sparse every other bucket
    is; the cap bounds per-cell work at cap² deterministically (the
    count per cell is partitioning-independent), at the cost of
    recall for anything hiding inside a dropped cell. The count is a
    ``count(*) over (partition by table, bucket)`` window on the
    corpus side: it rides the (table, bucket) exchange the bucket join
    needs anyway, so the guard adds no exchange and no action. Only
    the corpus side is filtered; a query row in a dropped cell has no
    partner left to join.

    ``lt_only`` (self-join near-dup path): ``query_id < neighbor_id``
    is a join condition, so self-pairs and mirrored orderings — more
    than half the collisions — never reach the pair dedup or the
    cosine UDF.

    ``max_hamming`` (thresholded near-dup path only): the bucket UDF
    also emits a ``SKETCH_BITS``-bit sign sketch from
    ``_sketch_planes``, and the join drops colliding pairs whose
    sketch Hamming distance (``bit_count`` of the xor'ed words, in
    codegen) exceeds it — the bound-then-verify prune of
    ``sketch_hamming_bound``. The exact cosine still decides every
    reported pair; the prune only keeps far pairs from being scored.
    The k-NN callers pass no bound and rank every collision.

    Shuffle budget (pair-first): ONE join keyed on (table, bucket) over
    (id, t, bucket[, sketch]) proxy rows — the posexplode replaces
    ``num_tables`` separate join+union branches and carries NO vector
    bytes — then one narrow pair-dedup shuffle, then vectors attach
    once per side by id-keyed join for the final cosine. In the
    self-join both join inputs are the same plan, so the second side
    is a ``ReusedExchange`` of the first and the bucket UDF runs once
    per vector, with nothing cached."""
    sketch = None if max_hamming is None else _sketch_planes(num_tables, dim)
    bud = _bucket_udf(rademacher_planes(num_tables, bits_per_table, dim), sketch)

    def bucketed(df: DataFrame) -> DataFrame:
        """(__id, __t, __bucket[, __hi, __lo]): one row per table."""
        h = fan_out(df.select(id_col, vec_col)).select(
            F.col(id_col).alias("__id"), bud(F.col(vec_col)).alias("__h")
        )
        if sketch is None:
            return h.select("__id", F.posexplode("__h").alias("__t", "__bucket"))
        return h.select(
            "__id",
            F.posexplode("__h.b").alias("__t", "__bucket"),
            F.col("__h.hi").alias("__hi"),
            F.col("__h.lo").alias("__lo"),
        )

    q_ids = bucketed(queries)
    c_ids = q_ids if corpus is queries else bucketed(corpus)
    if bucket_cap is not None:
        from pyspark.sql.window import Window

        cell = Window.partitionBy("__t", "__bucket")
        c_ids = (
            c_ids.withColumn("__bn", F.count(F.lit(1)).over(cell))
            .filter(F.col("__bn") <= bucket_cap)
            .drop("__bn")
        )
        if corpus is queries:
            q_ids = c_ids
    a, b = q_ids.alias("a"), c_ids.alias("b")
    cond = [
        F.col("a.__t") == F.col("b.__t"),
        F.col("a.__bucket") == F.col("b.__bucket"),
    ]
    if lt_only:
        cond.append(F.col("a.__id") < F.col("b.__id"))
    if max_hamming is not None:
        cond.append(
            F.bit_count(F.col("a.__hi").bitwiseXOR(F.col("b.__hi")))
            + F.bit_count(F.col("a.__lo").bitwiseXOR(F.col("b.__lo")))
            <= max_hamming
        )
    # shuffle_hash, not broadcast: at scale the corpus-side bucket
    # table never fits a broadcast, and locally a BroadcastExchange
    # built from an ArrowEvalPython stage serializes the whole UDF
    # stage into the broadcast-build thread (measured ~3x slower).
    joined = a.join(b.hint("shuffle_hash"), on=cond)
    # duplicate collisions (same pair in several tables) carry
    # no information — dedup the id pairs BEFORE the vectors attach,
    # so neither the attach joins nor the cosine UDF pay for them.
    # The EXPLICIT pair-keyed repartition ahead of the dedup does two
    # jobs at once (guide §2.4 — same-keyed ops share one exchange):
    # the dropDuplicates aggregate reuses it (no second exchange), and
    # its explicit numPartitions is exempt from AQE coalescing — the
    # deduped pair rows are ~16 bytes each, so AQE otherwise coalesces
    # the exchange to ONE partition at bench scale and the broadcast
    # attach joins + the cosine UDF run single-threaded (measured
    # 2.5 → 7.4 s warm). Keyed on the pair it is deterministic (no
    # sort-before-repartition) and scale-adaptive via
    # defaultParallelism — the fan_out rationale without its .rdd
    # probe (this frame has shuffles upstream).
    pairs = (
        joined.select(
            F.col("a.__id").alias("query_id"), F.col("b.__id").alias("neighbor_id")
        )
        .repartition(
            queries.sparkSession.sparkContext.defaultParallelism,
            "query_id",
            "neighbor_id",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    # the ND-marked scorer (not the plain UDF): callers filter on
    # cosine_sim (embedding_near_dup_pairs' threshold), and the
    # optimizer would otherwise duplicate the Arrow stage below the
    # pushed filter — every pair scored TWICE (guide §4.4)
    return (
        pairs.join(qv, on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_seq_nd(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
        )
    )


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate k-NN join: for each query row, top-k corpus rows.

    Output: (query_id, neighbor_id, cosine_sim, rn). Candidates =
    union over ``num_tables`` hash tables of same-bucket pairs; exact
    cosine ranks them. Bucket equi-joins shuffle on (table, bucket) —
    bounded fan-out, no cross join — which is how this survives a
    1000-executor scale-up. Recall tuned by ``num_tables``."""
    cand = _lsh_candidate_pairs(
        queries, corpus, id_col, vec_col, dim, bits_per_table, num_tables
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


@F.arrow_udf(T.DoubleType())
def _cosine_seq(a: pa.Array, b: pa.Array) -> pa.Array:
    """Row-wise cosine over an Arrow batch with strictly element-ordered
    accumulation — bit-identical to DuckDB's ``list_dot_product`` fold
    (``np.sum`` may use pairwise summation; this must not). A zero
    vector's 0/0 is NULL, never NaN: Spark evaluates ``NaN >= t`` as
    TRUE, so a NaN would pass every threshold filter."""
    va, vb = _matrix(a), _matrix(b)
    if va.shape != vb.shape:
        raise ValueError(f"cosine of vectors of shapes {va.shape} and {vb.shape}")
    num = np.zeros(len(va))
    na = np.zeros(len(va))
    nb = np.zeros(len(va))
    for k in range(va.shape[1]):
        num += va[:, k] * vb[:, k]
        na += va[:, k] * va[:, k]
        nb += vb[:, k] * vb[:, k]
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = num / (np.sqrt(na) * np.sqrt(nb))
    return pa.array(sim, from_pandas=True)  # NaN → NULL


#: non-deterministic-MARKED twin of the scorer (the function itself is
#: pure — the mark only tells the optimizer it may not duplicate or
#: re-order the expression, guide §4.4): used where a filter rides
#: directly on the scored column, which otherwise plans the Arrow
#: stage twice (once below the pushed filter, once for the projection)
_cosine_seq_nd = _cosine_seq.asNondeterministic()


def _coarse_codebook(
    corpus: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> tuple[np.ndarray, np.ndarray]:
    """(cell ids, centroid matrix) for ``semantic_dedup``'s coarse
    quantizer: the ``n_cells`` LOWEST-id corpus vectors (not
    ``id < n_cells``, which silently assumes dense 0-based ids and
    collects nothing for corpora whose ids start elsewhere) — a
    deterministic codebook the DuckDB oracle replays exactly."""
    cent = (
        corpus.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(n_cells).collect()
    )
    if not cent:
        raise ValueError("coarse codebook: corpus is empty — cannot build a codebook")
    c_ids = np.array([r[0] for r in cent], dtype=np.int64)
    c_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent])
    return c_ids, c_mat


def _cell_of_udf(c_ids: np.ndarray, c_mat: np.ndarray):
    """Vectorized nearest-centroid-by-cosine assignment UDF. argmax
    returns the FIRST maximum and ``c_ids`` is ascending, so ties
    resolve to the lowest centroid id — matching the oracle's
    ``ORDER BY sim DESC, cid`` row_number."""
    c_norms = np.sqrt(_seq_sq_norm(c_mat))

    @F.arrow_udf(T.LongType())
    def cell_of(vecs: pa.Array) -> pa.Array:
        v = _matrix(vecs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = _seq_dot(v, c_mat) / (
                np.sqrt(_seq_sq_norm(v))[:, None] * c_norms[None, :]
            )
        return pa.array(c_ids[np.argmax(sims, axis=1)])

    return cell_of


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster, then prune
    inside clusters only (cf. Abbas et al. 2023, "SemDeDup").

    Every vector is assigned to its nearest coarse-codebook centroid
    by cosine (ties → lowest centroid id); WITHIN each cell a vector
    is a semantic duplicate iff some LOWER-id cell-mate has cosine ≥
    ``threshold`` with it (deterministic keep-lowest-id survivor).
    Output: ``(id_col, cell, is_dup)`` for every input vector — the
    caller filters ``~is_dup`` for the kept corpus.

    Why this scales where all-pairs cannot: clustering bounds the
    pairwise verify to Σ|cell|² instead of N². At 100 TB ``n_cells``
    grows with the corpus (SemDeDup uses ~100k clusters for LAION-
    scale data) so cells stay bounded. The lowest-id codebook keeps
    the DuckDB oracle exactly replayable.

    Physical shape: the codebook rides in the UDF closure (KiB, never
    a join); assignment is one vectorized Arrow pass over the scan;
    the ONLY wide shuffle is the cell-keyed self-join. The exact
    cosine verify is the Arrow-batched strict-order scorer
    (``_cosine_seq``) — measured ~4× faster than the JVM
    ``F.aggregate`` fold at this pair volume (higher-order functions
    evaluate per element outside codegen's tight loop) and bit-
    identical to it. Pairs split across a cell boundary are not
    compared — the documented SemDeDup recall trade.
    """
    require_columns(df, [id_col, vec_col])
    c_ids, c_mat = _coarse_codebook(df, id_col, vec_col, n_cells)
    cell_of = _cell_of_udf(c_ids, c_mat)
    from pyspark.storagelevel import StorageLevel

    assigned = (
        fan_out(df.select(id_col, vec_col))
        .select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            cell_of(F.col(vec_col)).alias("cell"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # shuffle_hash, not broadcast: the corpus side is never
    # broadcastable at scale, and broadcasting an ArrowEvalPython
    # stage is slow even when it fits (CLAUDE.md).
    dup_ids = (
        assigned.alias("a")
        .join(
            assigned.alias("b").hint("shuffle_hash"),
            on=[
                F.col("a.cell") == F.col("b.cell"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .where(_cosine_seq(F.col("a.__v"), F.col("b.__v")) >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assigned.select(id_col, "cell")
        .join(dup_ids, on=id_col, how="left")
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def lsh_bucket_occupancy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Per-(table, bucket) occupancy of the SRP-LSH hash tables —
    the tuning metric behind ``embedding_near_dup_pairs``.

    Output: (t, bucket, n_rows, n_pairs) where n_pairs = C(n_rows, 2)
    is that cell's contribution to the self-join candidate volume;
    SUM(n_pairs) is the exact number of (unordered) candidate pairs
    the bucketed self-join will score BEFORE cross-table dedup. Run
    this before committing to a (bits, tables, threshold) config: a
    config whose Σ n² approaches C(N,2) is the dense quadratic regime
    where LSH buys nothing (docs/SCALE.md has the measured curve).
    Bounded output (≤ num_tables × 2^bits rows); one bounded-key
    groupBy over the corpus."""
    require_columns(df, [id_col, vec_col])
    bud = _bucket_udf(rademacher_planes(num_tables, bits_per_table, dim))
    cells = fan_out(df.select(id_col, vec_col)).select(
        F.posexplode(bud(F.col(vec_col))).alias("t", "bucket")
    )
    return (
        cells.groupBy("t", "bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.col("t").cast("long").alias("t"),
            "bucket",
            "n_rows",
            (F.col("n_rows") * (F.col("n_rows") - F.lit(1)) / F.lit(2))
            .cast("long")
            .alias("n_pairs"),
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_table: int | None = None,
    num_tables: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold (id_a < id_b).

    Scale path: LSH-bucketed self-join (near-dups collide with high
    probability at high thresholds), pruned by a ``SKETCH_BITS``-bit
    SRP sign sketch, then exact cosine verification. The prune drops a
    colliding pair whose sketch Hamming distance exceeds
    ``sketch_hamming_bound(threshold)`` — a pair at exactly the
    threshold angle is lost with probability ≤ ``SKETCH_MISS_RATE``
    (1e-6) — inside the bucket join, so it never reaches the pair
    dedup or the Python scorer; the exact cosine decides every pair
    reported. No window/rank pass — the threshold filter alone bounds
    the output. A zero vector's cosine is NULL and pairs with nothing;
    a NULL or ragged embedding fails the job.
    Explicit keyword parameters (no **kwargs): a silently-dropped
    or misspelled option would change results without an error.

    ``bits_per_table=None`` (the default) SIZES THE GEOMETRY TO THE
    CORPUS: one ``df.count()`` sizing pass, then
    ``sized_srp_bits(n)`` keeps expected bucket occupancy constant at
    ``SRP_TARGET_OCCUPANCY``, and ``bucket_cap`` (when also None)
    defaults to 8× that occupancy — the skew guard armed with real
    headroom instead of tripping on every healthy cell. A fixed
    ``bits_per_table`` stays available for literal-replayable configs
    (the driver catalog row) but is a TUNING override: the 16×8-bit
    fixed geometry measured ZERO recall at 200k vectors because all
    256 buckets/table exceeded the cap (docs/SCALE.md). The sizing
    count is one columnar scan of the id column — O(n) metadata-cheap
    next to the hashing pass that follows, and the price of never
    shipping a saturated index."""
    if bits_per_table is None:
        n = df.count()
        bits_per_table = sized_srp_bits(n)
        if bucket_cap is None:
            bucket_cap = 8 * SRP_TARGET_OCCUPANCY
    cand = _lsh_candidate_pairs(
        df, df, id_col, vec_col, dim, bits_per_table, num_tables,
        lt_only=True, bucket_cap=bucket_cap,
        max_hamming=sketch_hamming_bound(threshold),
    )
    return cand.filter(F.col("cosine_sim") >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cosine_sim",
    )


def cosine_all_pairs_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs above threshold — the oracle twin of
    ``embedding_near_dup_pairs`` (measures LSH recall, backs the DuckDB
    oracle).

    Physical strategy: broadcast the corpus as an (ids, matrix, norms)
    numpy triple, then ``mapInPandas`` computes a block of the N×N
    similarity matrix per Arrow batch — a vectorized broadcast
    nested-loop join with zero shuffle, replacing the naive crossJoin
    whose per-pair interpreted cosine was ~50× slower. Emitted sims are
    bit-identical to the ``F.aggregate`` fold / DuckDB
    ``list_dot_product`` because accumulation runs strictly in element
    order (see ``_seq_dot``).

    Scale contract: exact all-pairs requires one side in memory; this
    holds to ~10⁶×dim (a few GiB broadcast). Beyond that, use the LSH
    path — at 100 TB exact O(N²) is the wrong query, not just the
    wrong plan."""
    require_columns(df, [id_col, vec_col])
    spark = df.sparkSession
    rows = df.select(id_col, vec_col).collect()
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    if not rows:
        return spark.createDataFrame([], out_schema)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    norms = np.sqrt(_seq_sq_norm(mat))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = pdf[id_col].to_numpy(dtype=np.int64)
            b_mat = _stack(pdf[vec_col])
            sims = _seq_dot(b_mat, c_mat) / (
                np.sqrt(_seq_sq_norm(b_mat))[:, None] * c_norms[None, :]
            )
            keep = (sims >= threshold) & (b_ids[:, None] < c_ids[None, :])
            r, c = np.nonzero(keep)
            yield pd.DataFrame(
                {"id_a": b_ids[r], "id_b": c_ids[c], "cosine_sim": sims[r, c]}
            )

    return fan_out(df.select(id_col, vec_col)).mapInPandas(gen, out_schema)


def embedding_moments(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
    fan: bool = True,
) -> DataFrame:
    """Exact distributed first/second moments of an embedding column —
    the accumulation pass behind covariance, PCA, and whitening
    (covariance: (n·Σxy − Σx·Σy) / n², then eigendecompose the d×d
    matrix driver-side — d² is bounded, the CORPUS pass is the scale
    problem and it is this one).

    Output: one row per dimension pair (i ≤ j):
    ``(i, j, n_rows, sum_x_e9, sum_y_e9, sum_xy_e9)`` where each sum
    accumulates ``floor(v·scale + 0.5)`` of the per-row value — a
    quantization built ONLY from IEEE primitives every engine computes
    identically (multiply, add, floor; unlike round(), whose
    half-up/half-even mode differs between numpy, Spark and DuckDB).
    Integer sums are exact and associative, so the result is
    INDEPENDENT of partitioning and row order — a raw double
    accumulation here would differ run-to-run under parallelism.

    Physical shape: one Arrow pass computes per-BATCH combined
    (i, j) partials (d(d+1)/2 rows per batch, numpy-vectorized outer
    products), so the groupBy shuffles at most d²/2 rows per
    partition after map-side combine — corpus size never appears in
    the exchange. Sums ride as decimal(38,0) through the final agg
    (int64 would overflow near 10^18 — reachable at 10^12 rows of
    O(10) products in e9 units) and cast back to BIGINT outputs,
    which ANSI mode verifies loudly rather than wrapping."""
    require_columns(df, [id_col, vec_col])

    def batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            v = _stack(pdf[vec_col])
            d = v.shape[1]
            q = np.floor(v * float(scale) + 0.5).astype(np.int64)
            iu, ju = np.triu_indices(d)
            # products quantized from the DOUBLE product, not from q:
            # floor((x*y)*scale + 0.5) — matches the oracle expression
            prod = np.einsum("ri,rj->rij", v, v)[:, iu, ju]
            qp = np.floor(prod * float(scale) + 0.5).astype(np.int64).sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n_rows": np.full(len(iu), len(v), dtype=np.int64),
                    "sum_x_e9": q.sum(axis=0)[iu],
                    "sum_y_e9": q.sum(axis=0)[ju],
                    "sum_xy_e9": qp,
                }
            )

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("sum_x_e9", T.LongType()),
            T.StructField("sum_y_e9", T.LongType()),
            T.StructField("sum_xy_e9", T.LongType()),
        ]
    )
    dec = "decimal(38,0)"
    # ``fan=False`` for streaming inputs: fan_out probes df.rdd (not
    # defined on a streaming frame), and a micro-batch is already
    # split by the source. Everything downstream is identical, which
    # is what makes the streaming twin share this exact plan body.
    narrowed = df.select(id_col, vec_col)
    if fan:
        narrowed = fan_out(narrowed)
    partials = narrowed.mapInPandas(batches, schema)
    return (
        partials.groupBy("i", "j")
        .agg(
            F.sum(F.col("n_rows").cast(dec)).cast("long").alias("n_rows"),
            F.sum(F.col("sum_x_e9").cast(dec)).cast("long").alias("sum_x_e9"),
            F.sum(F.col("sum_y_e9").cast(dec)).cast("long").alias("sum_y_e9"),
            F.sum(F.col("sum_xy_e9").cast(dec)).cast("long").alias("sum_xy_e9"),
        )
    )


def pca_project(
    df: DataFrame,
    n_components: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**9,
    whiten: bool = False,
    eps: float = 1e-9,
) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    """PCA over the embedding column: one distributed
    ``embedding_moments`` pass builds the exact d×d covariance, the
    eigendecomposition runs driver-side (d² is bounded — 64-dim is a
    32 KiB matrix at ANY corpus size), and the projection is one more
    Arrow pass with the component matrix riding in the UDF closure.

    Returns ``(projected, components, explained_variance)`` where
    ``projected`` has (id_col, ``pca`` array<double> of length
    ``n_components``), ``components`` is (n_components, d) and
    ``explained_variance`` the matching eigenvalues (descending).

    Determinism: the covariance is built from the integer moment sums
    (partitioning-independent by construction); eigenvectors get a
    canonical sign (largest-|component| entry made positive, ties to
    the earlier index) so repeated runs emit identical projections.
    numpy's symmetric eigensolver is deterministic for a fixed input
    matrix. No SQL oracle — eigendecomposition is not expressible in
    DuckDB; pinned against numpy PCA in tests instead.

    ``whiten=True`` rescales each output coordinate by
    1/sqrt(eigenvalue + eps), giving the projection unit variance per
    component — the preprocessing SemDeDup-style pipelines apply
    before cosine clustering so high-variance directions don't
    dominate the metric. ``explained_variance`` still reports the RAW
    eigenvalues.

    The scale contract is the moments pass (see
    ``embedding_moments``); the projection pass is embarrassingly
    parallel."""
    require_columns(df, [id_col, vec_col])
    if n_components < 1:
        raise ValueError(f"n_components={n_components} must be >= 1")
    mom = embedding_moments(df, id_col, vec_col, scale).collect()
    if not mom:
        raise ValueError("pca_project: empty corpus")
    d = max(r["j"] for r in mom) + 1
    if n_components > d:
        raise ValueError(f"n_components={n_components} > dim={d}")
    n = mom[0]["n_rows"]
    s = float(scale)
    mean = np.zeros(d)
    cov = np.zeros((d, d))
    for r in mom:
        i, j = r["i"], r["j"]
        if i == j:
            mean[i] = r["sum_x_e9"] / (n * s)
        c = r["sum_xy_e9"] / (n * s) - (r["sum_x_e9"] / (n * s)) * (r["sum_y_e9"] / (n * s))
        cov[i, j] = cov[j, i] = c
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (k, d)
    explained = evals[order]
    # canonical sign: make the largest-magnitude entry positive
    # (earliest index on exact ties), so the output does not flip
    # between runs/platforms
    for r_i in range(comps.shape[0]):
        pivot = int(np.argmax(np.abs(comps[r_i])))
        if comps[r_i, pivot] < 0:
            comps[r_i] = -comps[r_i]
    if whiten:
        # fold the 1/sqrt(λ+eps) rescale into the component matrix so
        # the projection pass stays a single matmul; eps guards
        # zero-variance directions (constant coordinates)
        comps = comps / np.sqrt(np.maximum(explained, 0.0) + eps)[:, None]

    mean_c, comps_c = mean.copy(), comps.copy()

    def project(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            v = _stack(pdf[vec_col]) - mean_c[None, :]
            p = v @ comps_c.T
            yield pd.DataFrame({id_col: pdf[id_col], "pca": list(p)})

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("pca", T.ArrayType(T.DoubleType())),
        ]
    )
    projected = fan_out(df.select(id_col, vec_col)).mapInPandas(project, schema)
    return projected, comps, explained


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    bits_per_table: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Top-k most-cosine-similar corpus rows with a DIFFERENT label
    per query — the hard-negative mining pass of contrastive / metric
    / retrieval training-data prep: semantically close but wrong-label
    examples are the negatives that carry gradient signal (random
    negatives are trivially separable).

    Output: (query_id, neighbor_id, neighbor_label, cosine_sim, rn).

    Plan shape: the SAME SRP-LSH candidate generation as
    ``knn_join_lsh`` (bucket equi-joins keyed on (table, bucket) —
    bounded fan-out, no cross join), then labels attach by id: the
    query-side label table is bounded by the query batch (broadcast),
    the corpus-side attach is one id-keyed join of narrow candidate
    rows against (id, label) — 12-byte rows, never vectors. The
    label-inequality filter runs BEFORE the top-k window, so
    same-label rows never occupy negative slots. Recall tuned by
    ``num_tables`` exactly as for ``knn_join_lsh``."""
    from pyspark.sql.window import Window

    require_columns(queries, [id_col, vec_col, label_col])
    require_columns(corpus, [id_col, vec_col, label_col])
    cand = _lsh_candidate_pairs(
        queries, corpus, id_col, vec_col, dim, bits_per_table, num_tables
    )
    ql = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    cl = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("neighbor_label")
    )
    scored = (
        cand.join(F.broadcast(ql), on="query_id")
        .join(cl, on="neighbor_id")
        .filter(F.col("__ql") != F.col("neighbor_label"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine_sim", "rn")
    )
