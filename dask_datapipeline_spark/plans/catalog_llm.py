"""LLM-data-pipeline catalog entries (SURVEY.md §2.2): dedup,
similarity search, text analysis, multimodal/JSON, window analytics.

Every oracle here replicates the Spark operator's algorithm exactly in
DuckDB SQL — including the MinHash/SimHash md5-based hashes — so the
driver's value-hash comparison is bit-exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_datapipeline_spark.functions import text as TXT
from dask_datapipeline_spark.operators import dedup as DD
from dask_datapipeline_spark.operators.similarity import (
    cosine_all_pairs_exact,
    cosine_topk,
    knn_join_lsh,
)
from dask_datapipeline_spark.plans.catalog import register, register_extra
from dask_datapipeline_spark.sources.readers import load_testdata

def _stage_micro_batches(parts, staged: str) -> None:
    """Write each part as ONE parquet file into ``staged`` with
    strictly increasing mtimes — the micro-batch fixture every
    streaming catalog row drives (Spark's file stream orders files by
    modification time). Shared by all five streaming fixtures so the
    fragile bits — single-file coalesce, part-file discovery, mtime
    spacing, temp cleanup — live ONCE (review round 10: five verbatim
    copies had drifted into existence)."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf
    import time as _time

    work = _tf.mkdtemp(prefix="ddps_stage_")
    now = _time.time()
    for i, part in enumerate(parts):
        tmp = _os.path.join(work, f"stage-tmp-{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            _os.path.join(tmp, f)
            for f in _os.listdir(tmp)
            if f.endswith(".parquet")
        )
        dst = _os.path.join(staged, f"chunk-{i}.parquet")
        _sh.move(src, dst)
        _os.utime(dst, (now + i, now + i))
    _sh.rmtree(work, ignore_errors=True)


def _in_work_dir(prefix: str, build, spark, sf_dir):
    """Run a streaming extra's ``build(spark, sf_dir, work)`` in a fresh
    work dir under the temp dir (staged batches, checkpoints, sink
    output) and remove the dir when it returns or fails. The result is
    materialized first: it reads files from that dir."""
    import shutil as _sh
    import tempfile as _tf

    work = _tf.mkdtemp(prefix=prefix)
    try:
        out = build(spark, sf_dir, work)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        _sh.rmtree(work, ignore_errors=True)


# ----- shared SQL fragments (mirror operators/dedup.py primitives) ---

_SQL_HASH = "CAST(CONCAT('0x', SUBSTRING(md5('{seed}:' || {col}), 1, 15)) AS BIGINT)"

_SQL_SHINGLES = """
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
idx AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS i FROM toks),
sh0 AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh FROM idx),
sh AS (SELECT DISTINCT doc_id, sh FROM sh0 WHERE sh <> '')
"""

#: Hot-shingle document-frequency cap shared by the Spark operators
#: and every oracle below (operators/dedup.py::cap_document_frequency):
#: shingles in more than _MAX_DF docs are dropped before any self-join,
#: bounding the per-key join fan-out at _MAX_DF² regardless of corpus
#: size. At the test scales nothing is actually dropped (max df is 7
#: at sf0.01 and 25 at sf0.1), so the cap costs no recall there — it
#: exists for the 100 TB corpus where one stopword-ish shingle would
#: otherwise emit k² join rows.
_MAX_DF = 256

# Hashed-shingle twin (mirrors operators/dedup.py::hashed_shingles):
# one md5 per shingle occurrence, downstream set ops on the 60-bit
# BIGINT. ``hsh`` keeps duplicates, ``shh`` is the distinct set with
# the document-frequency cap applied (Jaccard + MinHash both read it).
# ``src`` parameterizes the corpus CTE so composed pipelines (e.g.
# corpus_clean) can shingle a filtered subset with the same chain.


def _sql_shingles_hashed(src: str = "documents") -> str:
    return (
        f"""
toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM {src}),
idx AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS i FROM toks),
sh0 AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh FROM idx),
hsh AS (SELECT doc_id, """
        + _SQL_HASH.format(seed=0, col="sh")
        + f""" AS h FROM sh0 WHERE sh <> ''),
shh0 AS (SELECT DISTINCT doc_id, h FROM hsh),
hkeep AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shh0 GROUP BY h) WHERE df <= {_MAX_DF}),
shh AS (SELECT s.doc_id, s.h FROM shh0 s JOIN hkeep k ON s.h = k.h)
"""
    )


_SQL_SHINGLES_HASHED = _sql_shingles_hashed()

_NUM_HASHES, _BANDS, _ROWS_PER_BAND = 16, 4, 4

# Affine MinHash family over one md5 base hash — same (a_i, b_i, P)
# literals as operators/dedup.py::affine_params, imported so the two
# engines cannot drift.
_SQL_SIG = (
    "sig AS (SELECT doc_id, "
    + ", ".join(
        f"MIN(({a} * (h % {DD.MERSENNE_P}) + {b}) % {DD.MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(DD.affine_params(_NUM_HASHES))
    )
    # signatures read the CAPPED distinct set — same universe as the
    # Jaccard verify (min over a set == min over its duplicates)
    + " FROM shh GROUP BY doc_id)"
)

_SQL_BAND_JOINS = " UNION ALL ".join(
    "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON "
    + " AND ".join(
        f"a.mh_{i} = b.mh_{i}"
        for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
    )
    + " AND a.doc_id < b.doc_id"
    for b in range(_BANDS)
)

def _sql_jaccard_verify(extra_join: str = "", as_pairs_cte: bool = False) -> str:
    """The ONE Jaccard-verify fragment (sizes + intersection self-join
    + |A∪B| division + threshold) over the capped ``shh`` table.
    ``as_pairs_cte`` wraps the result as a ``pairs`` CTE for composed
    oracles (dup_clusters, corpus_clean) instead of the final SELECT —
    every query in the shingle family composes this single source, so
    the verify semantics cannot drift between them."""
    # threshold test is INTEGER-exact (2·inter >= union, i.e. J >= 1/2
    # as the exact rational) — mirroring dedup.py::_exact_jaccard_ge,
    # whose docstring explains why a double compare diverges from the
    # prefix-filter prune at non-dyadic thresholds. At 0.5 the two are
    # equivalent; the integer form keeps the oracle aligned with the
    # Spark semantics BY CONSTRUCTION should the threshold change.
    cond = "2 * j.i >= (j.na + j.nb - j.i)"
    if as_pairs_cte:
        head = ", pairs AS (SELECT j.id_a, j.id_b FROM ("
        tail = f") j WHERE {cond})"
    else:
        head = "SELECT j.id_a, j.id_b, j.jaccard FROM ("
        tail = f") j WHERE {cond}"
    return f"""
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{head}
  SELECT i.id_a, i.id_b, i.i, na.n AS na, nb.n AS nb,
         CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  {extra_join}
{tail}
"""


#: One fingerprint expression for every oracle (must stay byte-equal
#: to functions/text.py::fingerprint's normalization).
_SQL_FINGERPRINT = (
    "md5(regexp_replace(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), "
    "'\\s+', ' ', 'g'))"
)

#: Deterministic split fragments shared by data_split and corpus_clean
#: (mirror of operators/dedup.py::seeded_hash64 with seed 'split').
_SQL_SPLIT_BUCKET = (
    "CAST(CONCAT('0x', SUBSTRING(md5('split:' || doc_id), 1, 15)) AS BIGINT) % 100"
)
_SQL_SPLIT_CASE = """CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split"""


def _split_column():
    """80/10/10 split tag column (Spark twin of the SQL fragments)."""
    bucket = DD.seeded_hash64(F.col("doc_id").cast("string"), "split") % 100
    return (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split")
    )


# ----- exact dedup ---------------------------------------------------


@register(
    "dedup_exact",
    f"""
WITH fp AS (
  SELECT {_SQL_FINGERPRINT} AS fingerprint, doc_id
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
FROM fp GROUP BY fingerprint
""",
    "Exact dedup: hash groupBy on normalized-text fingerprint, deterministic min-id survivor",
)
def q_dedup_exact(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    fp = docs.select(TXT.fingerprint("text").alias("fingerprint"), "doc_id")
    return DD.exact_dedup(fp, ["fingerprint"], id_col="doc_id")


# ----- n-gram Jaccard (all pairs, the exact baseline) ----------------


@register_extra(
    "jaccard_near_dup",
    "WITH " + _SQL_SHINGLES_HASHED + "," + _sql_jaccard_verify(),
    "Near-dup by exact 3-gram-shingle Jaccard >= 0.5: self equi-join on the 60-bit "
    "shingle hash (no cross join), hot shingles capped at df<=256 ahead of the join "
    "so per-key fan-out is bounded at any corpus size (no-op at test scales). "
    "Round-14 rotation (README policy rules 2+3): driver slot ceded to "
    "routed_near_dup — the near-dup family keeps four driver "
    "representatives and the exact-Jaccard baseline stays swept by the "
    "local gate here",
)
def q_jaccard_near_dup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return DD.jaccard_pairs(docs, None, threshold=0.5, max_df=_MAX_DF)


# ----- MinHash + LSH -------------------------------------------------


@register(
    "minhash_near_dup",
    "WITH "
    + _SQL_SHINGLES_HASHED
    + ","
    + _SQL_SIG
    + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS}))
,"""
    + _sql_jaccard_verify(
        extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b"
    ),
    "MinHash(16) → LSH(4 bands) candidates → exact-Jaccard verify; md5-hash-identical to the oracle",
)
def q_minhash_near_dup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )


@register(
    "dup_clusters",
    "WITH RECURSIVE "
    + _SQL_SHINGLES_HASHED
    + ","
    + _SQL_SIG
    + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS}))
,"""
    + _sql_jaccard_verify(
        extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b",
        as_pairs_cte=True,
    )
    + """,
e AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(u, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.label FROM e JOIN reach r ON r.u = e.v
)
SELECT u AS doc_id, MIN(label) AS cluster_id, (MIN(label) = u) AS is_canonical
FROM reach GROUP BY u
""",
    "Near-dup clusters: connected components over the MinHash+LSH candidate pairs "
    "(Jaccard>=0.5 verified) via iterative min-label propagation, min-id canonical "
    "survivor. The pair graph comes from the BANDED join — bounded per bucket — not "
    "the all-pairs shingle join, so the clustering input is scale-safe; oracle is "
    "the identical band replay + a recursive-CTE reachability closure",
)
def q_dup_clusters(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    return DD.dup_clusters(pairs, docs)


# ----- SimHash -------------------------------------------------------


_SQL_SIMHASH_CTES = (
    "WITH "
    + _SQL_SHINGLES
    + """,
h AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTRING(md5(sh), 1, 8)) AS BIGINT) AS hi32,
         CAST(CONCAT('0x', SUBSTRING(md5(sh), 9, 8)) AS BIGINT) AS lo32
  FROM sh
),
bits AS (
  SELECT doc_id, g.i,
         SUM(CASE WHEN (CASE WHEN g.i >= 32 THEN hi32 >> (g.i - 32) ELSE lo32 >> g.i END) & 1 = 1
                  THEN 1 ELSE -1 END) AS cnt
  FROM h, (SELECT unnest(generate_series(0, 63)) AS i) g
  GROUP BY doc_id, g.i
),
sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN i >= 32 AND cnt > 0 THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS BIGINT) AS simhash_hi,
         CAST(SUM(CASE WHEN i < 32 AND cnt > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash_lo
  FROM bits GROUP BY doc_id
)
"""
)


@register_extra(
    "simhash",
    _SQL_SIMHASH_CTES + "SELECT doc_id, simhash_hi, simhash_lo FROM sim",
    "64-bit shingle-SimHash via Arrow-batched pandas UDF; oracle recomputes the "
    "identical md5-bit algorithm in SQL. Extra: the fingerprints are exercised "
    "end-to-end by the driver-facing simhash_near_dup row",
)
def q_simhash(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return DD.simhash(docs)


@register_extra(
    "simhash_near_dup",
    _SQL_SIMHASH_CTES
    + """
SELECT id_a, id_b, hamming FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash_hi, b.simhash_hi))
       + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS hamming
  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
) WHERE hamming <= 3
""",
    "SimHash near-dup pairs (Hamming <= 3): 4x16-bit chunk banding has perfect recall "
    "by pigeonhole, so the O(N^2) SQL oracle matches the banded join exactly. "
    "Rotated to extras round 9 (README policy rule 2): the near-dup family "
    "keeps four driver rows (exact/minhash/jaccard/clusters); the slot freed "
    "went to gopher_quality",
)
def q_simhash_near_dup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return DD.simhash_near_dup_pairs(docs, max_hamming=3)


# ----- similarity search ---------------------------------------------

_COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


@register_extra(
    "knn_brute_topk",
    f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_COS_SQL.format(a='e.embedding', b='q.embedding')} AS cosine_sim
FROM embeddings e, q
ORDER BY cosine_sim DESC, e.vec_id LIMIT 10
""",
    "Exact cosine top-10 for one query vector: broadcast literal + "
    "TakeOrderedAndProject, zero shuffle. Rotated to EXTRA_CATALOG round 7 "
    "(README policy rule 3): the similarity family keeps its driver rows in "
    "their production configurations (knn_join_lsh, embedding_near_dup, "
    "semantic_dedup); the brute-force scan is the exact baseline/recall "
    "oracle, not the 100 TB path",
)
def q_knn_brute_topk(spark, sf_dir):
    emb = load_testdata(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, qvec, k=10)


def _plane_lit(plane) -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"


def _bucket_expr(planes, vec: str, t: int) -> str:
    bits = planes.shape[1]
    return " + ".join(
        f"(CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), {_plane_lit(planes[t, b])}) >= 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )


def _lsh_bucket_cte(num_tables: int, bits: int, dim: int) -> str:
    """UNION-ALL CTE body bucketing ``embeddings`` with the SAME
    md5-derived ±1 planes the Spark bucket UDF uses — shared by the
    near-dup and occupancy oracles so the two cannot drift."""
    from dask_datapipeline_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(num_tables, bits, dim)
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding AS v, {t} AS t,"
        f" {_bucket_expr(planes, 'embedding', t)} AS bucket FROM embeddings"
        for t in range(num_tables)
    )


def _lsh_occupancy_oracle_sql(num_tables: int, bits: int, dim: int) -> str:
    return f"""
WITH cb AS ({_lsh_bucket_cte(num_tables, bits, dim)})
SELECT CAST(t AS BIGINT) AS t, CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n_pairs
FROM cb GROUP BY t, bucket
"""


def _sketch_prune_sql(num_tables: int, dim: int, threshold: float) -> tuple[str, str, str]:
    """(CTE, join, predicate) replaying the near-dup path's sign-sketch
    prune: the SAME md5 sketch planes (``similarity._sketch_planes``)
    packed here into four 32-bit words — the Hamming distance does not
    depend on the packing — and the SAME bound,
    ``similarity.sketch_hamming_bound(threshold)``, as a literal. All
    three are empty when the bound prunes nothing."""
    from dask_datapipeline_spark.operators.similarity import (
        SKETCH_BITS,
        _sketch_planes,
        sketch_hamming_bound,
    )

    h = sketch_hamming_bound(threshold)
    if h is None:
        return "", "", ""
    planes = _sketch_planes(num_tables, dim)
    n_words = SKETCH_BITS // 32
    words = ",\n       ".join(
        " + ".join(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{_plane_lit(planes[32 * w + k])}) >= 0 THEN {1 << k} ELSE 0 END)"
            for k in range(32)
        )
        + f" AS w{w}"
        for w in range(n_words)
    )
    hamming = " + ".join(f"bit_count(xor(sa.w{w}, sb.w{w}))" for w in range(n_words))
    return (
        f",\nsk AS (SELECT vec_id,\n       {words}\n  FROM embeddings)",
        "\n  JOIN sk sa ON sa.vec_id = a.vec_id JOIN sk sb ON sb.vec_id = b.vec_id",
        f"\n  WHERE {hamming} <= {h}",
    )


def _lsh_near_dup_oracle_sql(
    num_tables: int, bits: int, dim: int, threshold: float, bucket_cap: int | None = None
) -> str:
    """Replay the Spark SRP-LSH self-join near-dup in SQL: md5-derived
    ±1 planes as list literals → identical buckets, identical sketch
    prune, identical strict-order cosine, so the candidate set and
    scores are bit-exact. ``bucket_cap`` replays the skew guard: cells
    with more than cap rows are excluded from the join (the per-cell
    count is exact and partitioning-independent on both engines)."""
    cb = _lsh_bucket_cte(num_tables, bits, dim)
    cos = _COS_SQL.format(a="a.v", b="b.v")
    sk_cte, sk_join, sk_where = _sketch_prune_sql(num_tables, dim, threshold)
    src = "cb"
    cap_cte = ""
    if bucket_cap is not None:
        cap_cte = f""",
capped AS (
  SELECT * FROM (
    SELECT cb.*, COUNT(*) OVER (PARTITION BY t, bucket) AS __bn FROM cb
  ) WHERE __bn <= {bucket_cap}
)"""
        src = "capped"
    return f"""
WITH cb AS ({cb}){cap_cte}{sk_cte},
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine_sim
  FROM {src} a JOIN {src} b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id{sk_join}{sk_where}
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= {threshold!r}
"""


def _lsh_auto_near_dup_oracle_sql(
    num_tables: int, dim: int, threshold: float
) -> str:
    """Replay the AUTO-SIZED SRP geometry in SQL. ``bits`` is computed
    from the corpus itself with the same integer-exact formula as
    ``similarity.sized_srp_bits`` (ceil-log2 via ``length(bin(x))`` —
    no libm log2 whose last ulp could differ between engines), so the
    oracle tracks whatever corpus the gate points at. Plane literals
    are emitted up to ``SRP_ORACLE_MAX_BITS`` and gated per-term on
    ``b < bits`` — md5-derived planes depend only on (t, b), never on
    the total bit count, so the prefix the Spark UDF uses is exactly
    the prefix the guard keeps live. ``bucket_cap`` replays the auto
    default (8× target occupancy), and the sign-sketch prune is
    replayed as in ``_lsh_near_dup_oracle_sql``."""
    from dask_datapipeline_spark.operators.similarity import (
        SRP_MIN_BITS,
        SRP_ORACLE_MAX_BITS,
        SRP_TARGET_OCCUPANCY,
        rademacher_planes,
    )

    occ = SRP_TARGET_OCCUPANCY
    cap = 8 * occ
    planes = rademacher_planes(num_tables, SRP_ORACLE_MAX_BITS, dim)

    def branch(t: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN {b} < geo.bits AND list_dot_product("
            f"CAST(embedding AS DOUBLE[]), {_plane_lit(planes[t, b])}) >= 0"
            f" THEN {1 << b} ELSE 0 END)"
            for b in range(SRP_ORACLE_MAX_BITS)
        )
        return (
            f"SELECT vec_id, embedding AS v, {t} AS t, {terms} AS bucket"
            " FROM embeddings, geo"
        )

    cb = "\nUNION ALL\n".join(branch(t) for t in range(num_tables))
    cos = _COS_SQL.format(a="a.v", b="b.v")
    sk_cte, sk_join, sk_where = _sketch_prune_sql(num_tables, dim, threshold)
    return f"""
WITH geo AS (
  SELECT GREATEST({SRP_MIN_BITS},
                  length(bin((GREATEST(COUNT(*), 1) + {occ - 1}) // {occ} - 1))) AS bits
  FROM embeddings
),
cb AS ({cb}),
capped AS (
  SELECT * FROM (
    SELECT cb.*, COUNT(*) OVER (PARTITION BY t, bucket) AS __bn FROM cb
  ) WHERE __bn <= {cap}
){sk_cte},
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine_sim
  FROM capped a JOIN capped b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id{sk_join}{sk_where}
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= {threshold!r}
"""


# Sparse-regime config: 8-bit tables (256 buckets each) collide random
# 64-dim pairs with p ≈ 0.5^8 per table, so the candidate volume stays
# ~N²/256·tables instead of ~40% of all pairs under 4-bit tables; 16
# tables buy recall back. The production near-dup threshold is 0.9+ —
# this synthetic corpus' max pairwise cosine is ≈0.51 at sf0.01, so the
# row uses 0.45 (14 pairs at sf0.01) to stay non-vacuous while
# exercising the exact geometry a 100 TB run would use. bucket_cap=64
# arms the skew guard in both engines (no cell reaches it here — the
# guard changes nothing on healthy data, which is the point).
_ND_SPARSE_TABLES, _ND_SPARSE_BITS, _ND_SPARSE_T, _ND_SPARSE_CAP = 16, 8, 0.45, 64


@register(
    "embedding_near_dup",
    _lsh_near_dup_oracle_sql(
        _ND_SPARSE_TABLES, _ND_SPARSE_BITS, 64, _ND_SPARSE_T, bucket_cap=_ND_SPARSE_CAP
    ),
    "Embedding-cosine near-dup pairs via SRP-LSH bucketed self-join + exact cosine "
    "verify of bucket cohabitants — shuffles key on (table, bucket), nothing is "
    "collected or broadcast. Driver row runs the PRODUCTION sparse-regime geometry "
    "(16 tables x 8-bit + bucket_cap=64 skew guard — the configuration a 100 TB "
    "corpus runs; candidate volume ~7% of all-pairs, bounded by per-cell C(n,2) "
    "with every cell capped, docs/SCALE.md). The auto-sized default call is "
    "extra:embedding_near_dup_auto. Exact all-pairs baseline: "
    "embedding_near_dup_exact recall oracle in EXTRA_CATALOG",
)
def q_embedding_near_dup(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_testdata(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb,
        threshold=_ND_SPARSE_T,
        bits_per_table=_ND_SPARSE_BITS,
        num_tables=_ND_SPARSE_TABLES,
        bucket_cap=_ND_SPARSE_CAP,
    )


@register_extra(
    "embedding_near_dup_auto",
    # embedding_near_dup_pairs' default geometry: 4 tables, 64 dims
    _lsh_auto_near_dup_oracle_sql(4, 64, _ND_SPARSE_T),
    "The production default call embedding_near_dup_pairs(emb, threshold=t), "
    "no geometry arguments — the call corpus_dedup makes: 4 tables, "
    "bits_per_table=None, so one count() sizing pass, "
    "bits = ceil(log2(n/occupancy)) integer-exact, bucket_cap = 8x occupancy. "
    "The oracle computes the SAME bits from COUNT(*) via length(bin(...)) and "
    "gates plane-literal terms on b < bits, so it tracks any corpus the gate "
    "points at (to 2^20 bits/table). Fixes the measured fixed-geometry "
    "saturation: 16x8-bit reached 0 pairs at 200k vectors (docs/SCALE.md); "
    "the sized geometry is measured linear (alpha=1.03)",
)
def q_embedding_near_dup_auto(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_testdata(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=_ND_SPARSE_T)


@register_extra(
    "lsh_bucket_occupancy",
    _lsh_occupancy_oracle_sql(_ND_SPARSE_TABLES, _ND_SPARSE_BITS, 64),
    "LSH hash-table occupancy metric (operators/similarity.py::lsh_bucket_occupancy): "
    "per-(table,bucket) row count and C(n,2) candidate-pair contribution for the "
    "sparse-regime config — the tuning query run BEFORE committing to a geometry",
)
def q_lsh_bucket_occupancy(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import lsh_bucket_occupancy

    emb = load_testdata(spark, sf_dir, "embeddings")
    return lsh_bucket_occupancy(
        emb,
        bits_per_table=_ND_SPARSE_BITS,
        num_tables=_ND_SPARSE_TABLES,
    )


@register_extra(
    "embedding_moments",
    """
WITH e AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(a.x * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_x_e9,
       CAST(SUM(CAST(floor(b.x * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_y_e9,
       CAST(SUM(CAST(floor((a.x * b.x) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_xy_e9
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
    "Exact distributed embedding moments (operators/similarity.py::"
    "embedding_moments) — the corpus pass behind covariance/PCA/whitening: "
    "per-batch numpy outer-product partials combine map-side so the shuffle "
    "carries at most d(d+1)/2 rows per partition; values quantized with "
    "floor(v*1e9+0.5) (IEEE-primitive-only, engine-identical unlike round()) "
    "and summed as exact integers — partitioning/order independent",
)
def q_embedding_moments(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import embedding_moments

    emb = load_testdata(spark, sf_dir, "embeddings")
    return embedding_moments(emb)


def _embedding_cluster_oracle_sql() -> str:
    """LSH near-dup pair replay (sparse config) + recursive-CTE
    min-label reachability closure — the embedding twin of the
    dup_clusters oracle, composed from the SAME bucket CTE builder."""
    pairs_sql = _lsh_near_dup_oracle_sql(
        _ND_SPARSE_TABLES, _ND_SPARSE_BITS, 64, _ND_SPARSE_T, bucket_cap=_ND_SPARSE_CAP
    )
    return f"""
WITH RECURSIVE p AS ({pairs_sql}),
e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
reach(u, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.u, r.label FROM e JOIN reach r ON r.u = e.v
)
SELECT u AS vec_id, MIN(label) AS cluster_id, (MIN(label) = u) AS is_canonical
FROM reach GROUP BY u
"""


@register_extra(
    "embedding_dup_clusters",
    _embedding_cluster_oracle_sql(),
    "Connected components over the SPARSE-regime embedding near-dup pairs "
    "(operators composition: embedding_near_dup_pairs -> dedup.dup_clusters) — "
    "the semantic-duplicate cluster map a corpus curation pass consumes; same "
    "edge-set-only label propagation as dup_clusters, pair graph bounded by the "
    "LSH bucket geometry + cap, oracle is the identical bucket replay + a "
    "recursive-CTE reachability closure",
)
def q_embedding_dup_clusters(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import dup_clusters
    from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_testdata(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb,
        threshold=_ND_SPARSE_T,
        bits_per_table=_ND_SPARSE_BITS,
        num_tables=_ND_SPARSE_TABLES,
        bucket_cap=_ND_SPARSE_CAP,
    )
    return dup_clusters(pairs, emb, id_col="vec_id")


@register_extra(
    "compression_quality",
    None,  # no SQL replay (DuckDB has no zlib); pinned against the
    # in-process Python zlib model in tests — same library, exact
    "Compression-ratio quality signal (operators/classifier.py::"
    "compression_quality): zlib ratio per document — repetitive/templated text "
    "compresses far below natural prose, near-random strings barely compress; "
    "one Arrow pass, zero shuffles, bit-deterministic for a fixed zlib. "
    "Round 12: calibrated DECISION flags — flag_repetitive (ratio < 0.25; "
    "natural corpus docs span 0.40-0.84, x20 repetition hits 0.04) and "
    "flag_incompressible (ratio > 0.8 AND >= 256 bytes — the length gate "
    "keeps deflate-header overhead on short docs from false-flagging; "
    "base64-class junk measures ~0.84, and TEXT cannot exceed ~0.9 however "
    "random, so a 0.95-style byte threshold would never fire). Fixture "
    "plants both tails: every 4th doc's text repeated x20, every 9th "
    "replaced by a base64(md5-digest) high-entropy chain",
)
def q_compression_quality(spark, sf_dir):
    from dask_datapipeline_spark.operators.classifier import compression_quality

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # planted tails: x20 repetition / base64-of-md5-digest chains
    # (6-bit/char entropy — md5 HEX would deflate to ~0.62, never flag)
    rnd = F.concat(
        *[
            F.base64(
                F.unhex(
                    F.md5(
                        F.concat(F.col("doc_id").cast("string"), F.lit(f":{k}"))
                    )
                )
            )
            for k in range(16)
        ]
    )
    decorated = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 9 == 0, rnd)
        .when(F.col("doc_id") % 4 == 0, F.repeat(F.col("text"), 20))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return compression_quality(decorated)


@register_extra(
    "scan_binary_media",
    """
WITH m AS (
  SELECT g.range AS media_id,
         8 + g.range % 24 AS w, 8 + g.range % 16 AS h
  FROM generate_series(0, 39) g(range)
),
mx AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM m),
mxy AS (SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM mx)
SELECT media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(54 + h * ((3*w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
       CAST(SUM((7*media_id + 3*x + 5*y) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((11*media_id + 5*x + 7*y) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((13*media_id + 7*x + 11*y) % 256) AS BIGINT) AS sum_b
FROM mxy GROUP BY media_id, w, h
""",
    "Multimodal FILE ingestion (sources/readers.py::scan_binary_files): 40 real "
    ".bmp files written to disk, read back whole-file via Spark's binaryFile "
    "source, ids parsed from file names, payloads decoded by the image codec — "
    "the ingestion edge a media corpus actually arrives through; oracle "
    "recomputes pixel sums and exact BMP byte sizes arithmetically",
)
def q_scan_binary_media(spark, sf_dir):
    import os
    import tempfile

    from dask_datapipeline_spark.multimodal.binary import (
        _frame_pixels,
        encode_bmp,
        image_dims,
        media_features,
    )
    from dask_datapipeline_spark.sources.readers import scan_binary_files

    d = os.path.join(tempfile.gettempdir(), "spark_graft_media_files")
    os.makedirs(d, exist_ok=True)
    for mid in range(40):
        w, h = image_dims(mid)
        payload = encode_bmp(_frame_pixels(mid, 0, w, h))
        p = os.path.join(d, f"img_{mid:04d}.bmp")
        tmp = p + ".tmp"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, p)
    files = scan_binary_files(spark, d, glob="*.bmp")
    media = files.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.bmp$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    return media_features(media).select(
        "media_id", "width", "height", "n_bytes", "sum_r", "sum_g", "sum_b"
    )


_SQL_EXISTS = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
"""


@register_extra(
    "sql_exists_decorrelated",
    _SQL_EXISTS,
    "Correlated EXISTS / NOT EXISTS through the SQL entry point: Catalyst "
    "decorrelates both into semi/anti joins (no per-row subquery execution — "
    "the plan shows SortMergeJoin/BroadcastHashJoin LeftSemi + LeftAnti), which "
    "is what makes correlated predicates viable at 100 TB; identical SQL runs "
    "on both engines",
)
def q_sql_exists_decorrelated(spark, sf_dir):
    for t in ("customer", "orders"):
        load_testdata(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_EXISTS)


@register_extra(
    "null_safe_join",
    """
WITH e AS (
  SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
),
d AS (
  SELECT DISTINCT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         COALESCE(CAST(json_extract(props, '$.k') AS BIGINT), -1) * 10 AS payload
  FROM events
)
SELECT e.event_id, e.k, d.payload
FROM e JOIN d ON e.k IS NOT DISTINCT FROM d.k
""",
    "Null-safe equality join (Spark <=> / SQL IS NOT DISTINCT FROM): NULL keys "
    "MATCH each other instead of silently dropping — the semantics a dimension "
    "keyed on an optional attribute needs; planned as a regular hash join on the "
    "null-safe key, not a nested loop",
)
def q_null_safe_join(spark, sf_dir):
    from dask_datapipeline_spark.schemas import EVENT_PROPS_SCHEMA

    ev = load_testdata(spark, sf_dir, "events")
    k = F.from_json("props", EVENT_PROPS_SCHEMA)["k"]
    e = ev.select("event_id", k.alias("k"))
    d = (
        ev.select(k.alias("k"))
        .distinct()
        .select("k", (F.coalesce(F.col("k"), F.lit(-1)) * 10).alias("payload"))
    )
    return e.join(d, e["k"].eqNullSafe(d["k"])).select(
        "event_id", e["k"].alias("k"), "payload"
    )


_RANGE_US = 24 * 3600 * 1000000  # trailing 24 h in microseconds


@register_extra(
    "trailing_range_window",
    f"""
SELECT user_id, event_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_24h,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_RANGE_US} PRECEDING AND CURRENT ROW)
""",
    "RANGE-frame window (the one frame kind the rest of the catalog lacks): "
    "per-user trailing-24h event count and exact decimal-cents value sum, frame "
    "keyed on epoch MICROSECONDS so both engines bound the window with integer "
    "comparisons; equal-timestamp peers are all included by SQL RANGE semantics, "
    "so ties are deterministic without a tiebreak column. One user-keyed shuffle",
)
def q_trailing_range_window(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load_testdata(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_RANGE_US, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("sum_24h"),
    )


@register_extra(
    "image_histograms",
    """
WITH m AS (
  SELECT g.range AS media_id, 8 + g.range % 24 AS w, 8 + g.range % 16 AS h
  FROM generate_series(0, 255) g(range) WHERE g.range % 3 = 0
),
mx AS (SELECT media_id, w, h, unnest(range(0, w)) AS x FROM m),
mxy AS (SELECT media_id, x, unnest(range(0, h)) AS y FROM mx),
px AS (
  SELECT media_id, 'r' AS channel, (7*media_id + 3*x + 5*y) % 256 AS v FROM mxy
  UNION ALL
  SELECT media_id, 'g', (11*media_id + 5*x + 7*y) % 256 FROM mxy
  UNION ALL
  SELECT media_id, 'b', (13*media_id + 7*x + 11*y) % 256 FROM mxy
)
SELECT media_id, channel, CAST(v // 16 AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pixels
FROM px GROUP BY media_id, channel, v // 16
""",
    "Per-channel intensity histograms of decoded images, long form "
    "(multimodal/binary.py::image_histograms) — the exposure/clipping screen a "
    "vision curation pass runs; exact integer pixel counts from the real BMP "
    "decode, replayed arithmetically",
)
def q_image_histograms(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import image_histograms, synthetic_media

    return image_histograms(synthetic_media(spark, n=256))


# Perceptual image near-dup: 48 base images × 4 brightness variants
# (planted near-dups); 64-bit aHash per decoded BMP + the 4×16-bit
# pigeonhole Hamming banding join shared with SimHash. All-integer
# hash arithmetic (gray = r+g+b, cross-multiplied cell-mean test) so
# the oracle recomputes every hash from the pixel formula without
# parsing a container.
_IMG_ND_GROUPS, _IMG_ND_VARIANTS, _IMG_ND_MAXH = 48, 4, 3


def _image_near_dup_oracle_sql(n_groups: int, variants: int, max_hamming: int) -> str:
    return f"""
WITH m AS (
  SELECT g.range * {variants} + v.range AS media_id, g.range AS grp, v.range AS v,
         8 + g.range % 24 AS w, 8 + g.range % 16 AS h
  FROM generate_series(0, {n_groups - 1}) g(range),
       generate_series(0, {variants - 1}) v(range)
),
mx AS (SELECT media_id, grp, v, w, h, unnest(range(0, w)) AS x FROM m),
mxy AS (SELECT media_id, grp, v, w, h, x, unnest(range(0, h)) AS y FROM mx),
px AS (
  SELECT media_id, w, h, (x*8)//w AS cx, (y*8)//h AS cy,
         (7*grp + 3*x + 5*y + v) % 256
       + (11*grp + 5*x + 7*y) % 256
       + (13*grp + 7*x + 11*y) % 256 AS gray
  FROM mxy
),
cells AS (
  SELECT media_id, w, h, cy*8+cx AS k, SUM(gray) AS csum, COUNT(*) AS cn
  FROM px GROUP BY media_id, w, h, cy*8+cx
),
tot AS (SELECT media_id, SUM(csum) AS tsum FROM cells GROUP BY media_id),
bits AS (
  SELECT c.media_id, c.k,
         CASE WHEN c.csum * (c.w*c.h) > t.tsum * c.cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (media_id)
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
         CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS ahash_lo
  FROM bits GROUP BY media_id
),
sides AS (
  SELECT media_id, ahash_hi, ahash_lo, i.range AS i,
         CASE i.range WHEN 0 THEN ahash_hi >> 16 WHEN 1 THEN ahash_hi & 65535
                      WHEN 2 THEN ahash_lo >> 16 ELSE ahash_lo & 65535 END AS chunk
  FROM hashes, generate_series(0, 3) i(range)
),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.ahash_hi, b.ahash_hi))
       + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS hamming
  FROM sides a JOIN sides b
    ON a.i = b.i AND a.chunk = b.chunk AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


@register(
    "image_near_dup",
    _image_near_dup_oracle_sql(_IMG_ND_GROUPS, _IMG_ND_VARIANTS, _IMG_ND_MAXH),
    "Perceptual image near-duplicate pairs (multimodal/binary.py::"
    "image_near_dup_pairs): 64-bit aHash over REAL decoded BMP pixels composed "
    "with the SAME 4x16-bit pigeonhole Hamming banding join SimHash uses — "
    "perfect recall at Hamming<=3, exact bit_count(xor) verify. Corpus plants "
    "4 brightness variants per base image; the oracle recomputes every hash "
    "arithmetically from the pixel formula (codec round-trip is the Spark "
    "side's job). Only 24-byte hash rows enter the join — the decode stays in "
    "one shuffle-free Arrow pass",
)
def q_image_near_dup(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        image_near_dup_pairs,
        synthetic_image_variants,
    )

    return image_near_dup_pairs(
        synthetic_image_variants(
            spark, n_groups=_IMG_ND_GROUPS, variants=_IMG_ND_VARIANTS
        ),
        max_hamming=_IMG_ND_MAXH,
    )


def _image_near_dup_128_oracle_sql(
    n_groups: int, variants: int, max_hamming: int
) -> str:
    """Replay the 128-bit hash (aHash ‖ ring-gradient dHash, both from
    the same 8x8 cell sums) and the 4x32-bit banding join — every bit
    a cross-multiplied exact-integer comparison recomputed from the
    pixel formula."""
    return f"""
WITH m AS (
  SELECT g.range * {variants} + v.range AS media_id, g.range AS grp, v.range AS v,
         8 + g.range % 24 AS w, 8 + g.range % 16 AS h
  FROM generate_series(0, {n_groups - 1}) g(range),
       generate_series(0, {variants - 1}) v(range)
),
mx AS (SELECT media_id, grp, v, w, h, unnest(range(0, w)) AS x FROM m),
mxy AS (SELECT media_id, grp, v, w, h, x, unnest(range(0, h)) AS y FROM mx),
px AS (
  SELECT media_id, w, h, (x*8)//w AS cx, (y*8)//h AS cy,
         (7*grp + 3*x + 5*y + v) % 256
       + (11*grp + 5*x + 7*y) % 256
       + (13*grp + 7*x + 11*y) % 256 AS gray
  FROM mxy
),
cells AS (
  SELECT media_id, w, h, cy*8+cx AS k, SUM(gray) AS csum, COUNT(*) AS cn
  FROM px GROUP BY media_id, w, h, cy*8+cx
),
tot AS (SELECT media_id, SUM(csum) AS tsum FROM cells GROUP BY media_id),
abits AS (
  SELECT c.media_id, c.k,
         CASE WHEN c.csum * (c.w*c.h) > t.tsum * c.cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (media_id)
),
dbits AS (
  SELECT c.media_id, c.k,
         CASE WHEN c.csum * n.cn > n.csum * c.cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN cells n
    ON n.media_id = c.media_id AND n.k = (c.k + 1) % 64
),
words AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN src=0 AND k >= 32 THEN bit * (1::BIGINT << (k-32)) ELSE 0 END) AS BIGINT) AS w0,
         CAST(SUM(CASE WHEN src=0 AND k <  32 THEN bit * (1::BIGINT << k)      ELSE 0 END) AS BIGINT) AS w1,
         CAST(SUM(CASE WHEN src=1 AND k >= 32 THEN bit * (1::BIGINT << (k-32)) ELSE 0 END) AS BIGINT) AS w2,
         CAST(SUM(CASE WHEN src=1 AND k <  32 THEN bit * (1::BIGINT << k)      ELSE 0 END) AS BIGINT) AS w3
  FROM (
    SELECT media_id, k, bit, 0 AS src FROM abits
    UNION ALL
    SELECT media_id, k, bit, 1 AS src FROM dbits
  ) GROUP BY media_id
),
sides AS (
  SELECT media_id, w0, w1, w2, w3, i.range AS i,
         CASE i.range WHEN 0 THEN w0 WHEN 1 THEN w1
                      WHEN 2 THEN w2 ELSE w3 END AS chunk
  FROM words, generate_series(0, 3) i(range)
),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
       + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3)) AS hamming
  FROM sides a JOIN sides b
    ON a.i = b.i AND a.chunk = b.chunk AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


@register_extra(
    "image_near_dup_128",
    _image_near_dup_128_oracle_sql(_IMG_ND_GROUPS, _IMG_ND_VARIANTS, _IMG_ND_MAXH),
    "128-bit perceptual image near-dup (multimodal/binary.py::"
    "image_near_dup_pairs_128): aHash + ring-gradient dHash from ONE decode's "
    "8x8 cell sums, banded as 4x32-bit chunks via the generalized "
    "dedup.hamming_band_pairs_wide — the same Hamming<=3 pigeonhole recall as "
    "the 64-bit driver row with the structural banding-collision term cut from "
    "n^2/2^15 to n^2/2^31 (the docs/SCALE.md prescription for 10^7+ images). "
    "Every bit cross-multiplied exact integers, recomputed by the oracle from "
    "the pixel formula",
)
def q_image_near_dup_128(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        image_near_dup_pairs_128,
        synthetic_image_variants,
    )

    return image_near_dup_pairs_128(
        synthetic_image_variants(
            spark, n_groups=_IMG_ND_GROUPS, variants=_IMG_ND_VARIANTS
        ),
        max_hamming=_IMG_ND_MAXH,
    )


def _audio_near_dup_oracle_sql(n_groups: int, variants: int, max_hamming: int) -> str:
    return f"""
WITH m AS (
  SELECT g.range * {variants} + v.range AS media_id, g.range AS grp, v.range AS v,
         400 + (g.range % 5) * 100 AS ns
  FROM generate_series(0, {n_groups - 1}) g(range),
       generate_series(0, {variants - 1}) v(range)
),
mt AS (SELECT media_id, grp, v, ns, unnest(range(0, ns)) AS t FROM m),
smp AS (
  SELECT media_id, ns, (t*64)//ns AS frame,
         abs((grp*37 + t*73) % 4001 - 2000 + v) AS a
  FROM mt
),
frames AS (
  SELECT media_id, ns, frame, SUM(a) AS fs, COUNT(*) AS fn
  FROM smp GROUP BY media_id, ns, frame
),
tot AS (SELECT media_id, SUM(fs) AS ts FROM frames GROUP BY media_id),
bits AS (
  SELECT f.media_id, f.frame AS k,
         CASE WHEN f.fs * f.ns > t.ts * f.fn THEN 1 ELSE 0 END AS bit
  FROM frames f JOIN tot t USING (media_id)
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k-32)) ELSE 0 END) AS BIGINT) AS afp_hi,
         CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS afp_lo
  FROM bits GROUP BY media_id
),
sides AS (
  SELECT media_id, afp_hi, afp_lo, i.range AS i,
         CASE i.range WHEN 0 THEN afp_hi >> 16 WHEN 1 THEN afp_hi & 65535
                      WHEN 2 THEN afp_lo >> 16 ELSE afp_lo & 65535 END AS chunk
  FROM hashes, generate_series(0, 3) i(range)
),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.afp_hi, b.afp_hi))
       + bit_count(xor(a.afp_lo, b.afp_lo)) AS hamming
  FROM sides a JOIN sides b
    ON a.i = b.i AND a.chunk = b.chunk AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


@register_extra(
    "audio_near_dup",
    _audio_near_dup_oracle_sql(_IMG_ND_GROUPS, _IMG_ND_VARIANTS, _IMG_ND_MAXH),
    "Audio near-duplicate pairs (multimodal/binary.py::audio_near_dup_pairs): "
    "64-bit energy-profile fingerprint over REAL decoded PCM-WAV samples (64 "
    "time frames, cross-multiplied mean-|sample| bit test — exact integers) "
    "composed with the SAME 4x16-bit pigeonhole Hamming banding join as SimHash "
    "and image aHash. Corpus plants 4 DC-offset variants per base clip; the "
    "oracle recomputes every fingerprint arithmetically from the sample "
    "formula. Completes the text/image/audio near-dup triangle on one shared "
    "banding operator",
)
def q_audio_near_dup(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        audio_near_dup_pairs,
        synthetic_audio_variants,
    )

    return audio_near_dup_pairs(
        synthetic_audio_variants(
            spark, n_groups=_IMG_ND_GROUPS, variants=_IMG_ND_VARIANTS
        ),
        max_hamming=_IMG_ND_MAXH,
    )


def _video_near_dup_oracle_sql(n_groups: int, variants: int, max_hamming: int) -> str:
    return f"""
WITH m AS (
  SELECT g.range * {variants} + v.range AS media_id, g.range AS grp, v.range AS v,
         8 + g.range % 8 AS w, 8 + g.range % 8 AS h, 2 + g.range % 4 AS nf
  FROM generate_series(0, {n_groups - 1}) g(range),
       generate_series(0, {variants - 1}) v(range)
),
mf AS (SELECT media_id, grp, v, w, h, nf, unnest(range(0, nf)) AS f FROM m),
mx AS (SELECT media_id, grp, v, w, h, nf, f, unnest(range(0, w)) AS x FROM mf),
mxy AS (SELECT media_id, grp, v, w, h, nf, f, x, unnest(range(0, h)) AS y FROM mx),
px AS (
  SELECT media_id, w, h, nf, (x*8)//w AS cx, (y*8)//h AS cy,
         (7*grp + 3*x + 5*y + 11*f + v) % 256
       + (11*grp + 5*x + 7*y + 13*f) % 256
       + (13*grp + 7*x + 11*y + 17*f) % 256 AS gray
  FROM mxy
),
cells AS (
  SELECT media_id, w, h, nf, cy*8+cx AS k, SUM(gray) AS csum, COUNT(*) AS cn
  FROM px GROUP BY media_id, w, h, nf, cy*8+cx
),
tot AS (SELECT media_id, SUM(csum) AS ts FROM cells GROUP BY media_id),
bits AS (
  SELECT c.media_id, c.k,
         CASE WHEN c.csum * (c.w*c.h*c.nf) > t.ts * c.cn THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN tot t USING (media_id)
),
hashes AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k-32)) ELSE 0 END) AS BIGINT) AS vfp_hi,
         CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS vfp_lo
  FROM bits GROUP BY media_id
),
sides AS (
  SELECT media_id, vfp_hi, vfp_lo, i.range AS i,
         CASE i.range WHEN 0 THEN vfp_hi >> 16 WHEN 1 THEN vfp_hi & 65535
                      WHEN 2 THEN vfp_lo >> 16 ELSE vfp_lo & 65535 END AS chunk
  FROM hashes, generate_series(0, 3) i(range)
),
pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.vfp_hi, b.vfp_hi))
       + bit_count(xor(a.vfp_lo, b.vfp_lo)) AS hamming
  FROM sides a JOIN sides b
    ON a.i = b.i AND a.chunk = b.chunk AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {max_hamming}
"""


@register_extra(
    "video_near_dup",
    _video_near_dup_oracle_sql(_IMG_ND_GROUPS, _IMG_ND_VARIANTS, _IMG_ND_MAXH),
    "Video near-duplicate pairs (multimodal/binary.py::video_near_dup_pairs): "
    "clip-level average-frame aHash over REAL decoded AVI frames (per-position "
    "gray totals summed across frames — frame count cancels from the mean "
    "test, so different-length clips hash comparably) + the shared 4x16-bit "
    "pigeonhole Hamming banding join. Planted color-shift variants; the oracle "
    "recomputes every hash from the pixel formula. Fourth modality (text/"
    "image/audio/video) on ONE banding operator",
)
def q_video_near_dup(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        synthetic_video_variants,
        video_near_dup_pairs,
    )

    return video_near_dup_pairs(
        synthetic_video_variants(
            spark, n_groups=_IMG_ND_GROUPS, variants=_IMG_ND_VARIANTS
        ),
        max_hamming=_IMG_ND_MAXH,
    )


# ----- URL canonicalization + URL-level dedup ------------------------

#: deterministic messy-URL construction shared by both engines: mixed
#: scheme+host case, trailing slashes, tracking-only queries (dropped),
#: a real query (kept), a MIXED query (tracking param stripped, real
#: param kept), fragments — doc_id % 40 folds docs onto shared paths
#: so canonical groups are non-trivial.
_RAW_URL_SQL = """CASE WHEN doc_id % 17 = 0 THEN 'HTTPS://' ELSE 'https://' END ||
  CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END ||
  source || '.Example.COM/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
  CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&utm_campaign=x'
       WHEN doc_id % 7 = 0 THEN '?ref=home'
       WHEN doc_id % 13 = 0 THEN '?page=2'
       WHEN doc_id % 19 = 0 THEN '?utm_medium=m&page=3'
       ELSE '' END ||
  CASE WHEN doc_id % 11 = 0 THEN '#section-2' ELSE '' END"""


def _url_dedup_oracle_sql() -> str:
    from dask_datapipeline_spark.functions.urls import canonical_url_sql_steps

    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
),
canon AS (
  SELECT doc_id, {canonical_url_sql_steps('url')} AS canonical_url FROM raw
)
SELECT doc_id, canonical_url,
       MIN(doc_id) OVER (PARTITION BY canonical_url) = doc_id AS keep
FROM canon
"""


@register(
    "url_dedup",
    _url_dedup_oracle_sql(),
    "URL-level dedup (functions/urls.py) — the FIRST dedup stage of a "
    "RefinedWeb/FineWeb-style web pipeline, run before any content hashing: "
    "canonicalize (strip fragment, PARAM-LEVEL tracking strip — each utm_*/ref/"
    "fbclid/gclid param drops individually wherever it sits, real params keep "
    "their order — (?i) scheme+host lowercase, trailing slash — pure codegen "
    "regex steps evaluated identically by Java regex and RE2) and keep the "
    "min-id doc per canonical URL. One groupBy-window shuffle; a ?page=2 query "
    "survives while its utm_ siblings drop",
)
def q_url_dedup(spark, sf_dir):
    from dask_datapipeline_spark.functions.urls import url_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    raw = docs.select("doc_id", _raw_url_col())
    return url_dedup(raw, "url")


def _raw_url_col():
    """Spark twin of ``_RAW_URL_SQL`` (shared by url_dedup and
    web_corpus_clean)."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 17 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".Example.COM/articles/"),
        (d % 40).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("?utm_source=feed&utm_campaign=x"))
        .when(d % 7 == 0, F.lit("?ref=home"))
        .when(d % 13 == 0, F.lit("?page=2"))
        .when(d % 19 == 0, F.lit("?utm_medium=m&page=3"))
        .otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    ).alias("url")


def _domain_stats_oracle_sql() -> str:
    from dask_datapipeline_spark.functions.urls import canonical_url_sql_steps

    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
),
canon AS (
  SELECT doc_id, {canonical_url_sql_steps('url')} AS curl FROM raw
),
hosted AS (
  SELECT doc_id, curl,
         regexp_extract(curl, '^https?://([^/]*)', 1) AS host
  FROM canon
)
SELECT host,
       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT curl) AS n_urls,
       CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT curl) AS dup_rate
FROM hosted
GROUP BY host
"""


@register_extra(
    "domain_stats",
    _domain_stats_oracle_sql(),
    "Domain-level crawl profile (web-pipeline stage after URL canonicalization): "
    "per host — docs, distinct canonical URLs, and the docs-per-URL dup rate "
    "that drives domain blocklists and recrawl budgets at web scale. Host and "
    "registrable-domain extraction are the same engine-portable regex tier as "
    "functions/urls.py; ONE groupBy keyed on the host (partial count + distinct "
    "map-side), no corpus re-scan — composes on the url_dedup projection",
)
def q_domain_stats(spark, sf_dir):
    from dask_datapipeline_spark.functions.urls import canonical_url

    docs = load_testdata(spark, sf_dir, "documents")
    hosted = docs.select(
        "doc_id", canonical_url(_raw_url_col()).alias("curl")
    ).withColumn("host", F.regexp_extract("curl", "^https?://([^/]*)", 1))
    return (
        hosted.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("curl").alias("n_urls"),
            (
                F.count(F.lit(1)).cast("double") / F.countDistinct("curl")
            ).alias("dup_rate"),
        )
        .select(
            "host",
            F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1).alias("domain"),
            "n_docs",
            "n_urls",
            "dup_rate",
        )
    )


# ----- HTML -> text extraction ----------------------------------------

#: deterministic HTML-ification of documents.text shared by both
#: engines: title text kept, style + comment + (mod-4) script blocks
#: dropped WITH content, entities (&amp; &lt; &gt; &nbsp;) decoded,
#: unknown entity (&copy;) kept verbatim, tag boundaries become spaces
_RAW_HTML_SQL = """'<html><head><title>Doc ' || doc_id || '</title>' ||
  '<style type="text/css">p { color: #333; }</style></head><body>' ||
  '<!-- crawl-id=' || doc_id || ' -->' ||
  CASE WHEN doc_id % 4 = 0
       THEN '<script>if (a &lt; b) { track("x"); }</script>' ELSE '' END ||
  '<h1>Terms &amp; Conditions</h1><P class="lead">' || text || '</P>' ||
  CASE WHEN doc_id % 3 = 0
       THEN '<br><div>&copy; 2024 A&amp;B &lt;contact&gt;&nbsp;ok</div>'
       ELSE '' END ||
  '</body></html>'"""


def _raw_html_col():
    """Spark twin of ``_RAW_HTML_SQL``."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("<html><head><title>Doc "),
        d.cast("string"),
        F.lit('</title><style type="text/css">p { color: #333; }</style>'
              "</head><body><!-- crawl-id="),
        d.cast("string"),
        F.lit(" -->"),
        F.when(
            d % 4 == 0,
            F.lit('<script>if (a &lt; b) { track("x"); }</script>'),
        ).otherwise(F.lit("")),
        F.lit('<h1>Terms &amp; Conditions</h1><P class="lead">'),
        F.col("text"),
        F.lit("</P>"),
        F.when(
            d % 3 == 0,
            F.lit("<br><div>&copy; 2024 A&amp;B &lt;contact&gt;&nbsp;ok</div>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    ).alias("html")


def _html_extract_oracle_sql() -> str:
    from dask_datapipeline_spark.functions.html import html_to_text_sql_steps

    return f"""
WITH rawdocs AS (
  SELECT doc_id, {_RAW_HTML_SQL} AS html FROM documents
)
SELECT doc_id, {html_to_text_sql_steps('html')} AS text
FROM rawdocs
"""


@register_extra(
    "html_extract",
    _html_extract_oracle_sql(),
    "HTML -> text extraction (functions/html.py) — the stage every RefinedWeb/"
    "FineWeb-style corpus runs before any text operator: drop script/style blocks "
    "with their content, drop comments, strip tags to spaces, decode the core "
    "entities (&amp; last, so &amp;lt; single-decodes), collapse whitespace. Pure "
    "codegen regex + literal replace, zero shuffles; patterns shared as Python "
    "constants with the RE2 oracle so the engines cannot drift. Driver row "
    "rounds 8-12; rotated to extras round 13 (policy rule 2: the extraction "
    "family held two driver slots — main_content_extract is the DOM-grade "
    "production path and keeps the family driver-checked; this tag-strip "
    "stage remains its first step and stays oracle-gated here)",
)
def q_html_extract(spark, sf_dir):
    from dask_datapipeline_spark.functions.html import html_to_text

    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", html_to_text(_raw_html_col()).alias("text")
    )


_RAW_MD_SQL = """'# Doc ' || doc_id || chr(10) ||
  CASE WHEN doc_id % 4 = 0
       THEN '```' || chr(10) || 'code(' || doc_id || ');' || chr(10) || '```' || chr(10)
       ELSE '' END ||
  '> intro **quote**' || chr(10) ||
  '[link ' || doc_id || '](http://ex.com/d/' || doc_id || '?a=1) ' || text ||
  CASE WHEN doc_id % 3 = 0
       THEN chr(10) || '- item `a`' || chr(10) || '12. item b'
       ELSE '' END ||
  chr(10) || '---'"""


def _raw_md_col():
    """Spark twin of ``_RAW_MD_SQL``."""
    d = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    return F.concat(
        F.lit("# Doc "), d, nl,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("```"), nl, F.lit("code("), d, F.lit(");"), nl, F.lit("```"), nl),
        ).otherwise(F.lit("")),
        F.lit("> intro **quote**"), nl,
        F.lit("[link "), d, F.lit("](http://ex.com/d/"), d, F.lit("?a=1) "),
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(nl, F.lit("- item `a`"), nl, F.lit("12. item b")),
        ).otherwise(F.lit("")),
        nl, F.lit("---"),
    )


def _markdown_extract_oracle_sql() -> str:
    from dask_datapipeline_spark.functions.markdown import markdown_to_text_sql_steps

    return f"""
WITH rawdocs AS (
  SELECT doc_id, {_RAW_MD_SQL} AS md FROM documents
)
SELECT doc_id, {markdown_to_text_sql_steps('md')} AS text
FROM rawdocs
"""


@register_extra(
    "markdown_extract",
    _markdown_extract_oracle_sql(),
    "Markdown -> text extraction (functions/markdown.py) — the html_extract "
    "sibling for the other dominant crawled format: fenced code blocks dropped "
    "with content, link/image TARGETS dropped while link text and alt text "
    "survive (suffix-drop regex + literal bracket strips — no capture-group "
    "replacements, whose syntax diverges between Java ($1) and RE2 (\\\\1)), "
    "header/blockquote/list/rule chrome stripped, emphasis marks deleted, "
    "whitespace collapsed. Pure codegen, zero shuffles; patterns shared as "
    "Python constants with the RE2 oracle",
)
def q_markdown_extract(spark, sf_dir):
    from dask_datapipeline_spark.functions.markdown import markdown_to_text

    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select("doc_id", markdown_to_text(_raw_md_col()).alias("text"))


# ----- DOM-grade main-content extraction ------------------------------
#
# Fixture: each document's text becomes the MAIN paragraph of a full
# page with planted boilerplate — site header, nav link list, a
# link-dominated "trending" sidebar, a short <h2>, a short follower
# paragraph with an HTML entity, and a footer. Every 5th doc's main
# paragraph is truncated to a 20-char stub so the SHORT-main branch
# (everything dropped) is exercised alongside the GOOD-main branch
# (main + follower kept). The oracle NEVER parses HTML (the WDS/tar
# discipline): it replays the exact-integer classification decisions
# (non-ws length threshold, stub rule) straight off the documents
# table and states the expected block-level output.

#: follower paragraph, decoded form (the oracle's expected text); the
#: page embeds the &amp;-encoded form so the parser's entity decode is
#: exercised on the kept path
_MC_FOLLOWER = "Notes & errata are in the appendix."
_MC_STUB_LEN = 20  # every-5th-doc main paragraph truncation

#: appendix div exercising the <br> rules (round-12): paragraph A and
#: B are separated by <br><br> (a block FLUSH — two blocks, not one
#: link-diluted giant), while A itself embeds a single <br> (a word
#: separator that must NOT split). Constants hold the EXPECTED decoded
#: text; the page derives the markup from them, so oracle and fixture
#: cannot drift.
_MC_APPENDIX_A = (
    "Appendix A lists the full derivations and raw replication "
    "tables for every reported measurement."
)
#: the single in-paragraph <br> replaces this space in the markup
_MC_APPENDIX_A_SPLIT = "derivations and"
_MC_APPENDIX_B = "See errata page."  # SHORT: kept by A's GOOD context


def _mc_body_col():
    """Collapsed document text — the parser collapses whitespace with
    the shared class, so the fixture feeds it pre-collapsed text to
    keep the expected output a pure documents-table expression."""
    from dask_datapipeline_spark.functions.html import WHITESPACE_RE

    return F.trim(F.regexp_replace(F.col("text"), WHITESPACE_RE, " "))


def _mc_page_col():
    """The synthesized crawled page (Spark side only — the oracle
    states outcomes, it never builds or parses pages)."""
    d = F.col("doc_id").cast("string")
    body = _mc_body_col()
    mainp = F.when(
        F.col("doc_id") % 5 == 0,
        F.trim(F.substring(body, 1, _MC_STUB_LEN)),
    ).otherwise(body)
    return F.concat(
        F.lit("<html><head><title>Doc "), d,
        F.lit("</title><style>p{margin:0}</style></head><body>"),
        F.lit("<header><h1>Example Research Journal</h1></header>"),
        F.lit('<nav><ul><li><a href="/">Home</a></li>'
              '<li><a href="/archive">Archive</a></li>'
              '<li><a href="/about">About</a></li></ul></nav>'),
        F.lit('<div><p><a href="/top/1">Ten query tricks editors loved</a> '
              '<a href="/top/2">Twelve join tips readers shared</a> '
              "trending now</p></div>"),
        F.lit("<article><h2>Doc "), d, F.lit("</h2><p>"),
        mainp,
        F.lit("</p><p>"),
        F.lit(_MC_FOLLOWER.replace("&", "&amp;")),
        F.lit("</p></article>"),
        F.lit(
            "<div>"
            + _MC_APPENDIX_A.replace(
                _MC_APPENDIX_A_SPLIT,
                _MC_APPENDIX_A_SPLIT.replace(" ", "<br>", 1),
                1,
            )
            + "<br><br>"
            + _MC_APPENDIX_B
            + "</div>"
        ),
        F.lit('<footer><p>Copyright 2024 Example Journal. '
              '<a href="/tos">Terms</a> <a href="/privacy">Privacy</a>'
              "</p></footer></body></html>"),
    ).alias("html")


def _mc_expected_ctes() -> str:
    """CTE chain computing the extractor's expected per-doc outcome
    from the documents table: body collapse → stub rule → non-ws
    length → keep decision. Thresholds import from functions/content
    so the SQL replays the SAME integers the classifier compares."""
    from dask_datapipeline_spark.functions.content import MIN_BLOCK_CHARS
    from dask_datapipeline_spark.functions.html import WHITESPACE_RE

    ws = WHITESPACE_RE.replace("'", "''")
    fol = _MC_FOLLOWER.replace("'", "''")
    # appendix: A (GOOD — its single <br> decodes to the word separator
    # this literal already holds) then B (SHORT, kept by A's context),
    # present on EVERY page — the <br><br> flush puts them in separate
    # blocks, so they are kept even when the main paragraph is a stub
    apx = (_MC_APPENDIX_A + "\n" + _MC_APPENDIX_B).replace("'", "''")
    return f"""mc_t AS (
  SELECT doc_id, lang, trim(regexp_replace(text, '{ws}', ' ', 'g')) AS body
  FROM documents WHERE text IS NOT NULL
),
mc_m AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0
              THEN trim(substr(body, 1, {_MC_STUB_LEN}))
              ELSE body END AS mainp
  FROM mc_t
),
mc_c AS (
  SELECT doc_id, lang, mainp,
         length(replace(mainp, ' ', '')) AS nonws
  FROM mc_m
),
mc AS (
  SELECT doc_id, lang,
         CASE WHEN nonws >= {MIN_BLOCK_CHARS}
              THEN mainp || chr(10) || '{fol}' || chr(10) || '{apx}'
              ELSE '{apx}' END AS content,
         CAST(CASE WHEN nonws = 0 THEN 10 ELSE 11 END AS INTEGER) AS n_blocks,
         CAST(CASE WHEN nonws >= {MIN_BLOCK_CHARS} THEN 4 ELSE 2 END
              AS INTEGER) AS n_kept
  FROM mc_c
)"""


@register(
    "main_content_extract",
    f"WITH {_mc_expected_ctes()}\n"
    "SELECT doc_id, content, n_blocks, n_kept FROM mc",
    "DOM-grade main-content extraction (functions/content.py) — the tier "
    "ABOVE the regex extractor: jusText-style block scoring over stdlib "
    "html.parser (boilerplate containers BAD, 3*link_chars > chars BAD, "
    ">=40 non-ws chars GOOD, SHORT inherits the nearest preceding non-"
    "SHORT label) so nav/footer/sidebar/link-list boilerplate never "
    "reaches the corpus while short in-article paragraphs survive. "
    "Fixture plants a full page of boilerplate around each document; "
    "every 5th doc's main paragraph is a 20-char stub exercising the "
    "drop-everything branch. Decisions are exact-integer, so the oracle "
    "replays them off the documents table and states the expected "
    "block output — it never parses HTML. One Arrow mapInPandas pass, "
    "zero shuffles (the media-decoder slot). DRIVER row on arrival "
    "(round-11 rotation, slot freed by knn_join_ivf): completes the "
    "crawl->clean front door at production fidelity alongside "
    "url_dedup/html_extract/gopher_quality",
)
def q_main_content_extract(spark, sf_dir):
    from dask_datapipeline_spark.functions.content import extract_main_content
    from dask_datapipeline_spark.parallel import fan_out

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    # the stdlib parse is compute-dense per-row Python and the testdata
    # is a single parquet file (ONE scan partition) — fan_out the INPUT
    # so the Arrow stage parallelizes; no-op at real partition counts
    pages = fan_out(docs.select("doc_id", _mc_page_col()))
    return extract_main_content(pages, html_col="html", keep_cols=("doc_id",))


# Decoration for the normalization gate row: the synthetic corpus is
# pure ASCII (normalize would be the identity — a vacuous exact-match),
# so the query wraps every document in a fixture exercising the FULL
# map cross-engine: an NFD pair ("e"+U+0301 — NFC composition must
# agree between Python unicodedata and DuckDB's utf8proc), curly
# quotes, an em dash, a C0 control, NBSP, zero-width space, soft
# hyphen, BOM, and an ellipsis. Shared constants — both engines get
# the same UTF-8 bytes.
_NORM_PREFIX = "e\u0301tude \u201Cwrapped\u201D \u2014 \x01 "
_NORM_SUFFIX = " \u00A0tail\u200Bzero\u00ADsoft \uFEFF\u2026"


def _text_normalize_oracle_sql() -> str:
    from dask_datapipeline_spark.functions.normalize import normalize_text_sql_steps

    pfx = _NORM_PREFIX.replace("'", "''")
    sfx = _NORM_SUFFIX.replace("'", "''")
    return f"""
SELECT doc_id,
       {normalize_text_sql_steps(f"('{pfx}' || text || '{sfx}')")} AS text_norm
FROM documents WHERE text IS NOT NULL
"""


@register_extra(
    "text_normalize",
    _text_normalize_oracle_sql(),
    "Unicode/text normalization (functions/normalize.py) — the stage run before "
    "any shingling so NFC/NFD pairs, curly quotes, unicode dashes and zero-width-"
    "salted text collide in hash-based dedup: NFC fold (Arrow unicodedata pass; "
    "oracle replays with DuckDB nfc_normalize), control strip, one translate() "
    "codepoint map (quotes/dashes/spaces canonicalized, zero-width/BOM/soft-"
    "hyphen deleted), ellipsis expansion, whitespace collapse. Corpus is ASCII, "
    "so the query decorates each doc with a shared unicode fixture to make the "
    "exact-match non-vacuous; constants shared with the SQL builder and the "
    "pure-Python twin so the three cannot drift",
)
def q_text_normalize(spark, sf_dir):
    from dask_datapipeline_spark.functions.normalize import normalize_text

    docs = load_testdata(spark, sf_dir, "documents")
    decorated = F.concat(F.lit(_NORM_PREFIX), F.col("text"), F.lit(_NORM_SUFFIX))
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", normalize_text(decorated).alias("text_norm")
    )


@register_extra(
    "media_quarantine",
    """
SELECT g.range AS media_id,
       CASE WHEN g.range % 11 = 0 THEN NULL
            WHEN g.range % 3 = 0 THEN 'image'
            WHEN g.range % 3 = 1 THEN 'audio'
            ELSE 'video' END AS sniffed_kind,
       (g.range % 11 <> 0 AND g.range % 7 <> 0) AS ok
FROM generate_series(0, 255) g(range)
""",
    "Corrupted-media quarantine (multimodal/binary.py::media_quarantine): sniff "
    "+ FULL real decode per payload inside a per-row try/except — a decode "
    "failure costs one quarantine row, never an executor retry storm (the "
    "production posture for crawled media; one garbage byte range must not "
    "kill a 40-wide stage). Planted corruption: every 7th payload truncated "
    "to half (magic intact, decode fails mid-parse — all three codecs are "
    "truncation-hardened and raise), every 11th with zeroed magic (sniff "
    "itself fails, kind NULL). The oracle is the planted-corruption "
    "arithmetic; matching it proves detection is exact in both directions",
)
def q_media_quarantine(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        media_quarantine,
        synthetic_corrupt_media,
    )

    return media_quarantine(synthetic_corrupt_media(spark, n=256))


@register_extra(
    "audio_features",
    """
WITH a AS (
  SELECT g.range AS media_id, 400 + (g.range % 5) * 100 AS ns
  FROM generate_series(0, 255) g(range) WHERE g.range % 3 = 1
),
st AS (SELECT media_id, ns, unnest(range(0, ns)) AS t FROM a),
v AS (SELECT media_id, t, (media_id*37 + t*73) % 4001 - 2000 AS s FROM st),
lagged AS (
  SELECT media_id, s, lag(s) OVER (PARTITION BY media_id ORDER BY t) AS prev FROM v
),
z AS (
  SELECT media_id,
         CAST(SUM(s * s) AS BIGINT) AS energy,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND ((s >= 0) != (prev >= 0))
                  THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
         CAST(MAX(ABS(s)) AS INTEGER) AS peak_abs
  FROM lagged GROUP BY media_id
)
SELECT a.media_id, CAST(8000 AS INTEGER) AS sample_rate,
       CAST(a.ns AS BIGINT) AS n_samples,
       z.energy, z.zero_crossings, z.peak_abs
FROM a JOIN z USING (media_id)
""",
    "DSP content features from decoded WAV samples (multimodal/binary.py::"
    "audio_features): total energy (exact int64 sum of squares), zero-crossing "
    "count under the stated s>=0 sign convention, peak amplitude — all integers, "
    "replayed arithmetically by the oracle; audio-kind filter runs JVM-side so "
    "only WAV bytes reach Python",
)
def q_audio_features(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import audio_features, synthetic_media

    return audio_features(synthetic_media(spark, n=256))


@register_extra(
    "streaming_moments",
    # identical oracle to extra:embedding_moments — complete mode over
    # the bounded stream must equal the batch pass bit-for-bit
    """
WITH e AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
)
SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(floor(a.x * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_x_e9,
       CAST(SUM(CAST(floor(b.x * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_y_e9,
       CAST(SUM(CAST(floor((a.x * b.x) * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_xy_e9
FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
    "Streaming twin of embedding_moments: readStream parquet -> SAME "
    "mapInPandas-partials + (i,j) agg plan body (fan=False; a micro-batch is "
    "already source-split) -> complete-mode memory sink. Integer moment sums are "
    "associative, so incremental micro-batch accumulation equals the one-pass "
    "batch result exactly — the property that makes moments maintainable "
    "incrementally on a 100 TB landing stream",
)
def q_streaming_moments(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import embedding_moments
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_embeddings,
    )

    name = f"stream_moments_{next(_STREAM_SEQ)}"
    run_to_memory(
        embedding_moments(stream_embeddings(spark, sf_dir), fan=False),
        name,
        "complete",
        state_partitions=8,
    )
    return spark.table(name)


@register_extra(
    "pca_embeddings",
    None,  # eigendecomposition has no SQL replay — rows-only check;
    # the covariance input IS oracle-exact (extra:embedding_moments)
    # and the projection is pinned against numpy in tests/test_llm_ops.
    "PCA projection of the embedding corpus (operators/similarity.py::pca_project): "
    "distributed exact-integer moments -> driver-side d x d eigendecomposition "
    "(bounded at any corpus size) -> one embarrassingly-parallel Arrow projection "
    "pass; canonical eigenvector signs make repeated runs bit-identical",
)
def q_pca_embeddings(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import pca_project

    emb = load_testdata(spark, sf_dir, "embeddings")
    projected, _comps, _ev = pca_project(emb, n_components=8)
    return projected


@register_extra(
    "scan_json",
    """
SELECT g.range AS rec_id,
       'user-' || (g.range % 7) AS name,
       CAST((g.range * 13) % 100 AS BIGINT) AS score
FROM generate_series(0, 199) g(range)
""",
    "JSON-lines source scan with pinned schema (sources/readers.py::scan_json, no "
    "inference pass): deterministic rows written to a temp JSONL file, read back, "
    "oracle regenerates them — exercises the reader end-to-end",
)
def q_scan_json(spark, sf_dir):
    import json as _json
    import os
    import tempfile

    from dask_datapipeline_spark.sources.readers import scan_json
    from pyspark.sql import types as T

    # one deterministic path, rewritten atomically per call — repeated
    # gate runs must not leak a fresh mkdtemp directory each time
    d = os.path.join(tempfile.gettempdir(), "spark_graft_scan_json")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "rows.jsonl")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for i in range(200):
            fh.write(
                _json.dumps({"rec_id": i, "name": f"user-{i % 7}", "score": (i * 13) % 100})
                + "\n"
            )
    os.replace(tmp, path)
    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.LongType()),
        ]
    )
    return scan_json(spark, path, schema, columns=["rec_id", "name", "score"])


@register_extra(
    "embedding_near_dup_exact",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.4
""",
    "Exact all-pairs cosine near-dup (broadcast corpus + mapInPandas blocks) — the "
    "recall-measurement oracle for embedding_near_dup; requires one side in driver "
    "memory, so it is deliberately NOT the cataloged scale path",
)
def q_embedding_near_dup_exact(spark, sf_dir):
    emb = load_testdata(spark, sf_dir, "embeddings")
    return cosine_all_pairs_exact(emb, threshold=0.4)


_SEMDEDUP_CELLS, _SEMDEDUP_T = 16, 0.4


@register(
    "semantic_dedup",
    f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings ORDER BY vec_id LIMIT {_SEMDEDUP_CELLS}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cv')} DESC, c.cid
         ) AS rn
  FROM embeddings e CROSS JOIN c
),
cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= {_SEMDEDUP_T!r}
)
SELECT ce.vec_id, ce.cid AS cell, (d.vec_id IS NOT NULL) AS is_dup
FROM cells ce LEFT JOIN dup d ON ce.vec_id = d.vec_id
""",
    "SemDeDup-style semantic dedup (operators/similarity.py::semantic_dedup): "
    "nearest-centroid cell assignment (lowest-id codebook, tie→lowest cid), then "
    "within-cell cosine >= threshold against any lower-id cell-mate marks a "
    "duplicate — pairwise work bounded by cell size, never N²; the oracle replays "
    "the identical assignment and verify in SQL. Driver row since round 3 "
    "(join_anti rotated to EXTRA_CATALOG)",
)
def q_semantic_dedup(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import semantic_dedup

    emb = load_testdata(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=_SEMDEDUP_T, n_cells=_SEMDEDUP_CELLS)


def _lsh_oracle_sql(num_tables: int, bits: int, dim: int, k: int) -> str:
    """Replay the Spark SRP-LSH k-NN join in SQL: the md5-derived ±1
    planes are embedded as list literals, so bucket ids (sign of a
    strict-order dot product) and exact cosine scores are bit-identical
    to the pandas-UDF path."""
    from dask_datapipeline_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(num_tables, bits, dim)
    qb = "\nUNION ALL\n".join(
        f"SELECT vec_id AS query_id, embedding AS qv, {t} AS t,"
        f" {_bucket_expr(planes, 'embedding', t)} AS bucket FROM q0"
        for t in range(num_tables)
    )
    cb = "\nUNION ALL\n".join(
        f"SELECT vec_id AS neighbor_id, embedding AS cv, {t} AS t,"
        f" {_bucket_expr(planes, 'embedding', t)} AS bucket FROM embeddings"
        for t in range(num_tables)
    )
    cos = _COS_SQL.format(a="qb.qv", b="cb.cv")
    return f"""
WITH q0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
qb AS ({qb}),
cb AS ({cb}),
scored AS (
  SELECT DISTINCT qb.query_id, cb.neighbor_id, {cos} AS cosine_sim
  FROM qb JOIN cb ON qb.t = cb.t AND qb.bucket = cb.bucket
)
SELECT query_id, neighbor_id, cosine_sim, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= {k}
"""


@register(
    "knn_join_lsh",
    _lsh_oracle_sql(num_tables=6, bits=6, dim=64, k=5),
    "Approximate k-NN join via sign-random-projection LSH buckets (scale path for "
    "similarity search); md5-derived ±1 planes make the oracle replay exact",
)
def q_knn_join_lsh(spark, sf_dir):
    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_join_lsh(
        queries, emb, k=5, bits_per_table=6, num_tables=6
    )


def _hard_negative_oracle_sql(
    num_tables: int, bits: int, dim: int, k: int, n_queries: int
) -> str:
    """Replay hard_negative_mining: the knn_join_lsh bucket replay plus
    per-side labels and the label-inequality filter before the top-k
    window."""
    from dask_datapipeline_spark.operators.similarity import rademacher_planes

    planes = rademacher_planes(num_tables, bits, dim)
    qb = "\nUNION ALL\n".join(
        f"SELECT vec_id AS query_id, embedding AS qv, label AS ql, {t} AS t,"
        f" {_bucket_expr(planes, 'embedding', t)} AS bucket FROM q0"
        for t in range(num_tables)
    )
    cb = "\nUNION ALL\n".join(
        f"SELECT vec_id AS neighbor_id, embedding AS cv, label AS cl, {t} AS t,"
        f" {_bucket_expr(planes, 'embedding', t)} AS bucket FROM embeddings"
        for t in range(num_tables)
    )
    cos = _COS_SQL.format(a="qb.qv", b="cb.cv")
    return f"""
WITH q0 AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {n_queries}),
qb AS ({qb}),
cb AS ({cb}),
scored AS (
  SELECT DISTINCT qb.query_id, cb.neighbor_id,
         CAST(cb.cl AS INTEGER) AS neighbor_label, {cos} AS cosine_sim
  FROM qb JOIN cb ON qb.t = cb.t AND qb.bucket = cb.bucket AND qb.ql <> cb.cl
)
SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id) AS rn
  FROM scored) WHERE rn <= {k}
"""


_HNM_QUERIES = 16


@register_extra(
    "hard_negative_mining",
    _hard_negative_oracle_sql(num_tables=6, bits=6, dim=64, k=5, n_queries=_HNM_QUERIES),
    "Hard-negative mining for contrastive/retrieval training data "
    "(operators/similarity.py::hard_negative_mining): per query, the top-5 "
    "most-cosine-similar corpus vectors with a DIFFERENT label — semantically "
    "close wrong-label rows are the negatives that carry gradient signal. Same "
    "SRP-LSH bucket joins as knn_join_lsh; labels attach as narrow id-keyed "
    "rows and the inequality filter runs before the top-k window, so "
    "same-label rows never occupy negative slots",
)
def q_hard_negative_mining(spark, sf_dir):
    from dask_datapipeline_spark.operators.similarity import hard_negative_mining

    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _HNM_QUERIES)
    return hard_negative_mining(
        queries, emb, k=5, bits_per_table=6, num_tables=6
    )


# ----- text analysis -------------------------------------------------


def _lang_case_and_scores() -> tuple[str, list[str], str]:
    """Shared SQL mirror of functions/text.py lang_id + quality_score:
    (CASE chain, per-lang score columns, stopword-hit expr)."""
    from dask_datapipeline_spark.functions.quality import _q

    hit = (
        "len(list_filter(string_split(lower(text), ' '), "
        "t -> list_contains({markers}, t)))"
    )
    # marker words routed through the same _q escaper as the gopher
    # builders — an apostrophe-bearing marker must not break the SQL
    score_cols = []
    for lang, markers in TXT.LANG_MARKERS.items():
        lit = "[" + ", ".join(f"'{_q(m)}'" for m in markers) + "]"
        score_cols.append(
            f"CAST({hit.format(markers=lit)} AS DOUBLE) / n_tok AS s_{lang}"
        )
    langs = list(TXT.LANG_MARKERS)
    # same back-to-front CASE chain as functions/text.py::lang_id
    case = f"'{langs[-1]}'"
    for i in range(len(langs) - 2, -1, -1):
        conds = " AND ".join(f"s_{langs[i]} >= s_{langs[j]}" for j in range(i + 1, len(langs)))
        case = f"CASE WHEN {conds} THEN '{langs[i]}' ELSE {case} END"
    en_markers = "[" + ", ".join(f"'{_q(m)}'" for m in TXT.LANG_MARKERS["en"]) + "]"
    return case, score_cols, hit.format(markers=en_markers)


def _lang_ctes_and_exprs(src: str = "documents") -> tuple[str, str, str]:
    """Single source for the lang/quality SQL mirror: (base+scored CTE
    body over ``src`` — ``documents`` or an upstream CTE exposing
    (doc_id, text, lang), e.g. web_corpus_clean's extracted pages —
    lang_pred expression, quality expression) — composed by BOTH the
    driver-facing text_stats oracle and the extra lang_quality oracle,
    so the two can never drift apart."""
    case, score_cols, en_hits = _lang_case_and_scores()
    ctes = f"""base AS (
  SELECT doc_id, text, lang,
         CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS n_tok,
         CAST({en_hits} AS DOUBLE) AS n_stop
  FROM {src}
),
scored AS (
  SELECT doc_id, text, lang, n_tok, n_stop, {', '.join(score_cols)},
         (length(text) - n_tok + 1) / n_tok AS mean_wl
  FROM base
)"""
    lang_pred = f"CASE WHEN text IS NULL THEN NULL ELSE {case} END"
    # NULL-text guard mirrors functions/text.py::quality_score —
    # least() skips NULLs in both engines, so an unguarded text-less
    # row would score 0.8
    quality = (
        "CASE WHEN text IS NULL THEN NULL ELSE\n"
        "       0.4 * least(n_tok / 100.0, 1.0)\n"
        "     + 0.4 * least(4.0 * n_stop / n_tok, 1.0)\n"
        "     + 0.2 * (CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1.0 ELSE 0.0 END)"
        " END"
    )
    return ctes, lang_pred, quality


def _text_stats_sql() -> str:
    ctes, lang_pred, quality = _lang_ctes_and_exprs()
    return f"""
WITH {ctes}
SELECT doc_id,
       len(string_split(lower(text), ' ')) AS n_tokens,
       len(regexp_extract_all(lower(text), '{TXT.BPE_ISH_PATTERN}')) AS n_bpe_tokens,
       length(text) AS n_chars_computed,
       {_SQL_FINGERPRINT} AS fingerprint,
       lang,
       {lang_pred} AS lang_pred,
       {quality} AS quality
FROM scored
"""


@register(
    "text_stats",
    _text_stats_sql(),
    "Per-document text-analysis features in ONE scan: token counts (whitespace + "
    "BPE-ish regex), char count, md5 fingerprint, language-ID (marker-stopword "
    "argmax) and heuristic quality score — all JVM Column expressions, shuffle-free",
)
def q_text_stats(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.whitespace_token_count("text").alias("n_tokens"),
        TXT.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        TXT.fingerprint("text").alias("fingerprint"),
        "lang",
        TXT.lang_id("text").alias("lang_pred"),
        TXT.quality_score("text").alias("quality"),
    )


def _lang_sql() -> str:
    """Mirror of functions/text.py lang_id + quality_score in SQL."""
    ctes, lang_pred, quality = _lang_ctes_and_exprs()
    return f"""
WITH {ctes}
SELECT doc_id, lang,
       {lang_pred} AS lang_pred,
       {quality} AS quality
FROM scored
"""


@register_extra(
    "lang_quality",
    _lang_sql(),
    "Language-ID (marker-stopword argmax) + heuristic quality score per document. "
    "Extra: both columns are driver-checked inside the merged text_stats row",
)
def q_lang_quality(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        TXT.lang_id("text").alias("lang_pred"),
        TXT.quality_score("text").alias("quality"),
    )


@register(
    "tfidf_top_terms",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) AS tfidf
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
)
SELECT doc_id, token, tf, round(tfidf, 9) AS tfidf, rn FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM scored) WHERE rn <= 3
""",
    "TF-IDF top-3 terms per document: tf groupBy, doc-frequency groupBy, ln(N/df) "
    "weighting — all shuffles keyed; emitted weight rounded to 9dp because JVM "
    "Math.log and libm log differ by 1 ulp on some inputs",
)
def q_tfidf_top_terms(spark, sf_dir):
    from pyspark.sql.window import Window

    from dask_datapipeline_spark.operators.dedup import tokens
    from dask_datapipeline_spark.parallel import fan_out

    docs = load_testdata(spark, sf_dir, "documents")
    # one job, but parquet count() is footer-metadata only — O(files),
    # not O(rows), at any scale
    n_docs = docs.count()
    toks = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # Round-14 optimization pass (guide §2.4): document frequency as a
    # COUNT window over tf partitioned by token — tf rows are distinct
    # (doc, token), so the window count IS the df groupBy's value, but
    # the plan drops the second tokenize+explode evaluation and the
    # tf⋈df join (tf was referenced twice, un-persisted: the full
    # explode ran once per side). Exchanges: (doc,token) → token →
    # doc_id, one corpus scan. Values bit-identical (same exact
    # integers into the same ln expression).
    w_df = Window.partitionBy("token")
    scored = tf.select(
        "doc_id",
        "token",
        "tf",
        (
            F.col("tf")
            * F.log(
                F.lit(float(n_docs)) / F.count(F.lit(1)).over(w_df)
            )
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .withColumn("tfidf", F.round("tfidf", 9))
    )


@register(
    "data_split",
    f"""
WITH assigned AS (
  SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket
  FROM documents
)
SELECT doc_id,
       {_SQL_SPLIT_CASE}
FROM assigned
""",
    "Deterministic hash-based train/valid/test split (80/10/10): stable across runs "
    "and engines, no RNG — the reproducible-split pattern for training corpora",
)
def q_data_split(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.select("doc_id", _split_column())


# ----- multimodal / JSON props ---------------------------------------


@register(
    "json_props_agg",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k
FROM events GROUP BY event_type
""",
    "Semi-structured column: JSON props parsed JVM-side with the pinned "
    "EVENT_PROPS_SCHEMA (from_json), aggregated exactly",
)
def q_json_props_agg(spark, sf_dir):
    from dask_datapipeline_spark.schemas import EVENT_PROPS_SCHEMA

    ev = load_testdata(spark, sf_dir, "events")
    k = F.from_json("props", EVENT_PROPS_SCHEMA)["k"]
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


# The oracle recomputes what the REAL decoders must extract — pixel and
# sample sums straight from the deterministic content functions
# (multimodal/binary.py::pixel_rgb / audio_sample), and container byte
# sizes from the BMP/WAV/AVI layout formulas (bmp_n_bytes etc., header
# constants imported so SQL and codec cannot drift). The Spark side
# only sees real encoded bytes, so agreement proves the decode.
def _multimodal_oracle_sql(n_media: int) -> str:
    from dask_datapipeline_spark.multimodal.binary import AVI_HEADER_BYTES

    return f"""
WITH m AS (
  SELECT g.range AS media_id,
         (['image','audio','video'])[(g.range % 3)::INT + 1] AS kind
  FROM generate_series(0, {n_media - 1}) g(range)
),
dims AS (
  SELECT media_id, kind,
    CASE kind WHEN 'image' THEN 8 + media_id % 24
              WHEN 'video' THEN 8 + media_id % 8 ELSE 0 END AS w,
    CASE kind WHEN 'image' THEN 8 + media_id % 16
              WHEN 'video' THEN 8 + media_id % 8 ELSE 0 END AS h,
    CASE kind WHEN 'image' THEN 1
              WHEN 'video' THEN 2 + media_id % 4 ELSE 0 END AS nf,
    CASE kind WHEN 'audio' THEN 400 + (media_id % 5) * 100 ELSE 0 END AS ns
  FROM m
),
pf AS (
  SELECT media_id, w, h, unnest(range(0, nf)) AS f
  FROM dims WHERE kind IN ('image', 'video')
),
pfx AS (SELECT media_id, h, f, unnest(range(0, w)) AS x FROM pf),
pfxy AS (SELECT media_id, f, x, unnest(range(0, h)) AS y FROM pfx),
pix AS (
  SELECT media_id,
    CAST(SUM((7*media_id + 3*x + 5*y + 11*f) % 256) AS BIGINT) AS sum_r,
    CAST(SUM((11*media_id + 5*x + 7*y + 13*f) % 256) AS BIGINT) AS sum_g,
    CAST(SUM((13*media_id + 7*x + 11*y + 17*f) % 256) AS BIGINT) AS sum_b
  FROM pfxy GROUP BY media_id
),
at AS (
  SELECT media_id, unnest(range(0, ns)) AS t FROM dims WHERE kind = 'audio'
),
aud AS (
  SELECT media_id,
    CAST(SUM(ABS((media_id*37 + t*73) % 4001 - 2000)) AS BIGINT) AS sum_abs_sample
  FROM at GROUP BY media_id
)
SELECT d.media_id, d.kind,
       CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       CAST(d.nf AS BIGINT) AS n_frames, CAST(d.ns AS BIGINT) AS n_samples,
       CAST(CASE d.kind
         WHEN 'image' THEN 54 + d.h * ((3*d.w + 3) // 4 * 4)
         WHEN 'audio' THEN 44 + 2 * d.ns
         ELSE {AVI_HEADER_BYTES} + d.nf * (8 + d.h * ((3*d.w + 3) // 4 * 4))
       END AS BIGINT) AS n_bytes,
       COALESCE(p.sum_r, 0) AS sum_r,
       COALESCE(p.sum_g, 0) AS sum_g,
       COALESCE(p.sum_b, 0) AS sum_b,
       COALESCE(a.sum_abs_sample, 0) AS sum_abs_sample
FROM dims d LEFT JOIN pix p USING (media_id) LEFT JOIN aud a USING (media_id)
"""


@register(
    "multimodal_features",
    _multimodal_oracle_sql(256),
    "Multimodal binary pipeline with REAL stdlib codecs: BMP images, WAV audio, "
    "uncompressed-DIB AVI video, generated distributed and decoded back "
    "byte-for-byte in one Arrow mapInPandas pass (multimodal/binary.py). Content "
    "is integer arithmetic in (media_id, frame, x, y), so the oracle recomputes "
    "pixel/sample sums and exact container byte-sizes WITHOUT parsing — any "
    "header/stride/bottom-up mistake in the codec changes the values and fails "
    "the exact comparison",
)
def q_multimodal_features(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import media_features, synthetic_media

    return media_features(synthetic_media(spark, n=256))


def _frame_sample_oracle_sql(n_media: int, every_ms: int) -> str:
    # fps=4 → period_frames = every_ms*4//1000; offsets = idx*250 ms
    from dask_datapipeline_spark.multimodal.binary import VIDEO_FPS

    period = max(every_ms * VIDEO_FPS // 1000, 1)
    return f"""
WITH v AS (
  SELECT g.range AS media_id,
         8 + g.range % 8 AS w, 8 + g.range % 8 AS h, 2 + g.range % 4 AS nf
  FROM generate_series(0, {n_media - 1}) g(range) WHERE g.range % 3 = 2
),
sampled AS (
  SELECT media_id, w, h, unnest(range(0, nf, {period})) AS fi FROM v
),
sx AS (SELECT media_id, w, h, fi, unnest(range(0, w)) AS x FROM sampled),
sxy AS (SELECT media_id, w, h, fi, x, unnest(range(0, h)) AS y FROM sx)
SELECT media_id,
       CAST(fi AS INTEGER) AS frame_index,
       CAST(fi * (1000 // {VIDEO_FPS}) AS INTEGER) AS frame_offset_ms,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(54 + h * ((3*w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
       CAST(SUM((7*media_id + 3*x + 5*y + 11*fi) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((11*media_id + 5*x + 7*y + 13*fi) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((13*media_id + 7*x + 11*y + 17*fi) % 256) AS BIGINT) AS sum_b
FROM sxy
GROUP BY media_id, fi, w, h
"""


@register_extra(
    "video_frame_sample",
    _frame_sample_oracle_sql(256, 500),
    "Video frame sampling end-to-end with real codecs (multimodal/binary.py::"
    "extract_frames + frame_features): AVI containers decoded, every-500ms frames "
    "re-encoded as standalone BMPs, then decoded AGAIN by the image path for "
    "per-frame pixel sums — the oracle recomputes sampled indices/offsets and "
    "sums arithmetically; kind filter runs JVM-side on metadata so only video "
    "bytes reach Python",
)
def q_video_frame_sample(spark, sf_dir):
    from dask_datapipeline_spark.multimodal.binary import (
        extract_frames,
        frame_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=256)
    return frame_features(extract_frames(media, every_ms=500))


# ----- window analytics over the events stream (batch twins) ---------


@register_extra(
    "tumbling_window",
    """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY window_start
""",
    "10-min tumbling window agg — batch twin of the Structured Streaming "
    "pipeline (streaming/windows.py). Rotated to EXTRA_CATALOG round 8: "
    "streaming_tumbling is pinned bit-identical to this exact body, so the "
    "pair held two driver slots for one semantics; slot freed for html_extract",
)
def q_tumbling_window(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


@register_extra(
    "rollup_hierarchy",
    """
SELECT date_trunc('hour', ts) AS hour_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY hour_start
""",
    "Hierarchical time-series rollup (hypertable-style continuous aggregate): the "
    "hourly tier is REAGGREGATED from a minute-level rollup, never from raw events — "
    "the oracle aggregates raw directly, proving the multi-resolution cascade is "
    "lossless (exact decimal sums / count / min / max compose associatively). At "
    "scale each tier is a materialized table ~60x smaller than the one below; "
    "dashboards and coarser tiers rescan the rollup, not the corpus",
)
def q_rollup_hierarchy(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    minute = ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("minute_start")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    return (
        minute.groupBy(F.date_trunc("hour", F.col("minute_start")).alias("hour_start"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


@register_extra(
    "sliding_window",
    """
SELECT window_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '10 minutes', ts, INTERVAL '5 minutes') AS window_start, value FROM events
) GROUP BY window_start
""",
    "10-min window sliding every 5 min (each event in 2 windows; oracle = union of offset bucket grids)",
)
def q_sliding_window(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


_STREAM_SEQ = iter(range(10**9))

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY window_start
"""


@register(
    "streaming_tumbling",
    _TUMBLING_ORACLE,
    "The ACTUAL Structured Streaming pipeline (readStream parquet → tumbling agg → "
    "memory sink, availableNow): complete mode over the bounded input must equal the "
    "batch twin bit-for-bit, so it shares tumbling_window's oracle",
)
def q_streaming_tumbling(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        tumbling_agg,
    )

    name = f"stream_tumbling_{next(_STREAM_SEQ)}"
    run_to_memory(
        tumbling_agg(stream_events(spark, sf_dir)), name, "complete", state_partitions=8
    )
    return spark.table(name)


@register(
    "streaming_user_totals",
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
""",
    "Custom stateful streaming operator (applyInPandasWithState): running per-user "
    "count/total, one state row per key. State accumulates INTEGER CENTS (exact, "
    "arrival-order independent), so the final per-key update equals the batch GROUP "
    "BY exactly; the update-mode memory sink keeps every intermediate update, so the "
    "final state is selected per key by max n_events (strictly increasing per user)",
)
def q_streaming_user_totals(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        stateful_user_totals,
    )

    name = f"stream_totals_{next(_STREAM_SEQ)}"
    run_to_memory(
        stateful_user_totals(stream_events(spark, sf_dir)), name, "update", state_partitions=8
    )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_cents", "n_events").alias("total_cents"),
        )
        .select(
            "user_id",
            "n_events",
            (F.col("total_cents") / F.lit(100.0)).alias("total_value"),
        )
    )


@register_extra(
    "streaming_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
    "Streaming exact dedup (append-mode dropDuplicates on the key columns, memory "
    "sink): projected to the keys, the emitted set is exactly DISTINCT regardless of "
    "arrival order. Production uses dropDuplicatesWithinWatermark (bounded state; "
    "see streaming/windows.py::stream_dedup) — unbounded-state dropDuplicates here "
    "keeps the oracle exact over replayed late data. Rotated to EXTRA_CATALOG "
    "round 12 (README policy rule 2): dedup semantics is the most driver-covered "
    "family (dedup_exact/jaccard/minhash/dup_clusters) and the streaming family "
    "keeps three driver rows; slot freed for streaming_corpus_clean",
)
def q_streaming_dedup(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import run_to_memory, stream_events

    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    dedup = (
        stream_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    run_to_memory(dedup, name, "append", state_partitions=8)
    return spark.table(name)


@register(
    "session_window",
    """
WITH lagd AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '6 hours'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  -- the running sum MUST use the same (ts, event_id) order as lagd:
  -- ordering ties by new_s would put a tied event BEFORE the row that
  -- opened its session, assigning it to the previous session
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagd
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL '6 hours' AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
""",
    "Session windows (6h gap) per user — batch twin of streaming session_window; gaps-and-islands oracle",
)
def q_session_window(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ----- composed end-to-end pipeline ----------------------------------


def _corpus_clean_sql(front_ctes: str = "", src: str = "documents") -> str:
    """End-to-end pipeline oracle, composed from the proven fragments:
    quality gate → exact-dedup survivors → capped-shingle MinHash+LSH
    near-dup clustering (keep canonical) → deterministic split.

    ``front_ctes``/``src`` prepend an upstream stage (web_corpus_clean's
    HTML-extract + URL-dedup front end) ahead of the same cascade —
    ``front_ctes`` must end with a comma and ``src`` must expose
    (doc_id, text, lang)."""
    ctes, _lang_pred, quality = _lang_ctes_and_exprs(src)
    return (
        "WITH RECURSIVE "
        + front_ctes
        + ctes
        + f""",
kept1 AS (SELECT doc_id, text FROM scored WHERE {quality} >= 0.5),
fpt AS (SELECT doc_id, text, {_SQL_FINGERPRINT} AS f FROM kept1),
surv AS (SELECT MIN(doc_id) AS doc_id FROM fpt GROUP BY f),
kept AS (SELECT t.doc_id, t.text FROM fpt t JOIN surv s ON s.doc_id = t.doc_id),
"""
        + _sql_shingles_hashed("kept")
        + ","
        + _SQL_SIG
        + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS})),"""
        + _sql_jaccard_verify(
            extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b",
            as_pairs_cte=True,
        )
        + f""",
e AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(u, label) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT e.u, r.label FROM e JOIN reach r ON r.u = e.v
),
canon AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING MIN(label) = u)
SELECT doc_id,
       {_SQL_SPLIT_CASE}
FROM (
  SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket
  FROM canon
)
"""
    )


@register_extra(
    "corpus_clean",
    _corpus_clean_sql(),
    "THE end-to-end training-corpus pipeline, one composed query: quality gate "
    "(heuristic score >= 0.5) → exact-dedup min-id survivors → MinHash+LSH near-dup "
    "clustering over the capped shingle universe, keeping canonical docs → "
    "deterministic 80/10/10 split. Every stage is the cataloged operator; the oracle "
    "replays the whole cascade in SQL, proving the stages compose exactly",
)
def q_corpus_clean(spark, sf_dir):
    _kept, canon_split = _corpus_clean_split(spark, sf_dir)
    return canon_split


def _corpus_clean_split(spark, sf_dir, docs=None):
    """Shared body of the corpus_clean cascade: (kept docs with text,
    canonical survivors tagged with their split). corpus_export
    continues from both; web_corpus_clean passes its extracted +
    URL-deduped pages as ``docs``."""
    from pyspark.storagelevel import StorageLevel

    if docs is None:
        docs = load_testdata(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        TXT.quality_score("text").alias("__q"),
        TXT.fingerprint("text").alias("__fp"),
    )
    # kept1 feeds both the survivor groupBy and the semi-join; kept
    # feeds the shingle pipeline AND dup_clusters' singleton anti-join
    # — persist both so the quality/fingerprint scan runs once, not
    # 2-3 times (the operators persist their own shared intermediates
    # for the same reason)
    kept1 = scored.filter(F.col("__q") >= 0.5).persist(StorageLevel.MEMORY_AND_DISK)
    surv = kept1.groupBy("__fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    kept = (
        kept1.join(surv, on="doc_id", how="left_semi")
        .select("doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = DD.near_dup_pairs_minhash(
        kept, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    canon = (
        DD.dup_clusters(pairs, kept)
        .filter(F.col("is_canonical"))
        .select("doc_id")
    )
    return kept, canon.select("doc_id", _split_column())


def _web_corpus_clean_sql() -> str:
    """corpus_clean with the WEB FRONT END prepended: raw crawled pages
    (synthetic url + HTML-wrapped text) → HTML extract → unicode
    normalization → URL dedup → then the IDENTICAL quality/exact-dedup/
    MinHash/split cascade — built by the same ``_corpus_clean_sql``
    body over ``urlkept``. Normalization sits BEFORE any shingling so
    NFC/NFD or quote-variant near-dups collide downstream (identity on
    this ASCII corpus; exercised non-vacuously by extra:text_normalize)."""
    from dask_datapipeline_spark.functions.html import html_to_text_sql_steps
    from dask_datapipeline_spark.functions.normalize import normalize_text_sql_steps
    from dask_datapipeline_spark.functions.urls import canonical_url_sql_steps

    front = f"""rawdocs AS (
  SELECT doc_id, lang, {_RAW_URL_SQL} AS url, {_RAW_HTML_SQL} AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, lang, url,
         {normalize_text_sql_steps(html_to_text_sql_steps('html'))} AS text
  FROM rawdocs
),
urlcanon AS (
  SELECT doc_id, lang, text, {canonical_url_sql_steps('url')} AS curl
  FROM extracted
),
urlkept AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           MIN(doc_id) OVER (PARTITION BY curl) AS survivor
    FROM urlcanon
  ) WHERE survivor = doc_id
),
"""
    return _corpus_clean_sql(front_ctes=front, src="urlkept")


@register_extra(
    "web_corpus_clean",
    _web_corpus_clean_sql(),
    "THE web-pipeline variant of corpus_clean: crawled pages (synthetic URL + "
    "HTML-wrapped text) -> HTML->text extraction (functions/html.py) -> unicode "
    "normalization (functions/normalize.py, ahead of all shingling) -> URL-level "
    "dedup (functions/urls.py, min-id survivor per canonical URL) -> then the "
    "IDENTICAL quality gate / exact dedup / MinHash+LSH clustering / split "
    "cascade, composed from the same SQL body as corpus_clean so the stages "
    "provably chain. The RefinedWeb/FineWeb front-end order: URL dedup removes "
    "crawl duplicates for one window shuffle BEFORE any content hashing runs",
)
def q_web_corpus_clean(spark, sf_dir):
    from pyspark.sql.window import Window

    from dask_datapipeline_spark.functions.html import html_to_text
    from dask_datapipeline_spark.functions.normalize import normalize_text
    from dask_datapipeline_spark.functions.urls import canonical_url

    docs = load_testdata(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "lang", _raw_url_col(), _raw_html_col())
    extracted = raw.select(
        "doc_id",
        "lang",
        normalize_text(html_to_text(F.col("html"))).alias("text"),
        canonical_url(F.col("url")).alias("__curl"),
    )
    w = Window.partitionBy("__curl")
    urlkept = (
        extracted.withColumn("__surv", F.min("doc_id").over(w))
        .filter(F.col("__surv") == F.col("doc_id"))
        .select("doc_id", "lang", "text")
    )
    _kept, canon_split = _corpus_clean_split(spark, sf_dir, docs=urlkept)
    return canon_split


@register(
    "streaming_corpus_clean",
    _web_corpus_clean_sql(),
    "Streaming twin of web_corpus_clean (streaming/windows.py::"
    "stream_stage_deltas): the crawled pages arrive as THREE micro-batch "
    "files through a real Structured Streaming foreachBatch sink; the "
    "ROW-LOCAL front (HTML->text, unicode normalization, URL "
    "canonicalization — the compute-dense Arrow/codegen work) runs per "
    "trigger at O(batch) and lands as replay-idempotent delta=<batch_id> "
    "parquet; the corpus-GLOBAL stages (URL dedup window, quality gate, "
    "exact dedup, MinHash clustering, split) then run ONCE over the "
    "accumulated deltas — the production split of streaming extraction "
    "vs periodic dedup compaction. Row-local stage + partitioning "
    "deltas means union-then-clean == clean-then-union, so this row "
    "shares web_corpus_clean's oracle VERBATIM: an exact match proves "
    "the streaming wiring (offsets, batch-id replay idempotence, drain) "
    "loses nothing end to end",
)
def q_streaming_corpus_clean(spark, sf_dir):
    return _in_work_dir("ddps_stream_clean_", _streaming_corpus_clean_in, spark, sf_dir)


def _streaming_corpus_clean_in(spark, sf_dir, work):
    import os as _os

    from pyspark.sql.window import Window

    from dask_datapipeline_spark.functions.html import html_to_text
    from dask_datapipeline_spark.functions.normalize import normalize_text
    from dask_datapipeline_spark.functions.urls import canonical_url
    from dask_datapipeline_spark.streaming.windows import stream_stage_deltas

    docs = load_testdata(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "lang", _raw_url_col(), _raw_html_col())
    # ``work`` is fresh per invocation (``_in_work_dir``): the sink
    # appends deltas, a reused dir would contaminate
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    # FIXTURE-ONLY collect (bounded: one id column) for the id cuts —
    # a real ingest's crawl files arrive already staged
    ids = sorted(r[0] for r in raw.select("doc_id").collect())
    cuts = (
        [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
        if len(ids) >= 3
        else [0, 0]
    )
    _stage_micro_batches(
        [
            raw.where(F.col("doc_id") < cuts[0]),
            raw.where((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
            raw.where(F.col("doc_id") >= cuts[1]),
        ],
        staged,
    )

    def _front(batch):
        return batch.select(
            "doc_id",
            "lang",
            normalize_text(html_to_text(F.col("html"))).alias("text"),
            canonical_url(F.col("url")).alias("__curl"),
        )

    extracted_dir = _os.path.join(work, "extracted")
    stream_stage_deltas(
        spark,
        staged,
        extracted_dir,
        "doc_id long, lang string, url string, html string",
        _front,
        checkpoint_dir=_os.path.join(work, "ckpt"),
    )
    extracted = spark.read.parquet(extracted_dir).drop("delta")
    w = Window.partitionBy("__curl")
    urlkept = (
        extracted.withColumn("__surv", F.min("doc_id").over(w))
        .filter(F.col("__surv") == F.col("doc_id"))
        .select("doc_id", "lang", "text")
    )
    _kept, canon_split = _corpus_clean_split(spark, sf_dir, docs=urlkept)
    return canon_split


def _web_corpus_main_sql() -> str:
    """corpus_clean with the MAIN-CONTENT front end: synthesized
    boilerplate-laden pages → DOM-grade block extraction
    (functions/content.py) → the identical quality/exact-dedup/
    MinHash/split cascade over the pages whose extraction kept
    anything. The front replays the extractor's exact-integer
    decisions off the documents table (the main_content_extract
    oracle's mc chain verbatim) — chaining proves the extracted text
    is byte-usable by every downstream text operator."""
    front = (
        _mc_expected_ctes()
        + """,
mckept AS (
  SELECT doc_id, lang, content AS text FROM mc WHERE content <> ''
),
"""
    )
    return _corpus_clean_sql(front_ctes=front, src="mckept")


@register_extra(
    "web_corpus_main",
    _web_corpus_main_sql(),
    "THE production-fidelity web pipeline: boilerplate-laden crawled pages -> "
    "DOM-grade main-content extraction (functions/content.py block scoring, "
    "one Arrow pass) -> quality gate / exact dedup / MinHash+LSH clustering / "
    "split, composed from the same SQL body as corpus_clean. Completes the "
    "crawl->clean cascade web_corpus_clean runs at regex tier: nav/footer/"
    "sidebar boilerplate is REMOVED before any shingle or quality score is "
    "computed, so near-dup clustering keys on prose, not on shared chrome — "
    "at 100 TB shared-boilerplate collisions are THE dominant false-dup mode",
)
def q_web_corpus_main(spark, sf_dir):
    from dask_datapipeline_spark.functions.content import extract_main_content

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    from dask_datapipeline_spark.parallel import fan_out

    # same single-file input rationale as q_main_content_extract
    pages = fan_out(docs.select("doc_id", "lang", _mc_page_col()))
    extracted = extract_main_content(
        pages, html_col="html", keep_cols=("doc_id", "lang")
    )
    kept_pages = extracted.where(F.col("content") != "").select(
        "doc_id", "lang", F.col("content").alias("text")
    )
    _kept, canon_split = _corpus_clean_split(spark, sf_dir, docs=kept_pages)
    return canon_split


# ----- benchmark decontamination + repetition quality ----------------

_SQL_DECONTAM = (
    """
WITH tr_t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
              FROM documents WHERE doc_id % 17 <> 0),
tr_i AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS i FROM tr_t),
tr_s AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh FROM tr_i),
tr AS (SELECT DISTINCT doc_id, """
    + _SQL_HASH.format(seed=0, col="sh")
    + """ AS h FROM tr_s WHERE sh <> ''),
ev_t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
         FROM documents WHERE doc_id % 17 = 0),
ev_i AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS i FROM ev_t),
ev_s AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh FROM ev_i),
ev AS (SELECT DISTINCT """
    + _SQL_HASH.format(seed=0, col="sh")
    + """ AS h FROM ev_s WHERE sh <> ''),
j AS (SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.h) AS n_shared
      FROM tr t LEFT JOIN ev e ON t.h = e.h GROUP BY t.doc_id)
SELECT doc_id, n_shingles, n_shared,
       CAST(n_shared AS DOUBLE) / n_shingles AS share_frac
FROM j WHERE n_shared > 0
"""
)


@register_extra(
    "decontaminate",
    _SQL_DECONTAM,
    "Benchmark decontamination (operators/dedup.py::contamination): training docs "
    "sharing word-3-gram hashes with a held-out eval slice (doc_id % 17). The eval "
    "side collapses to a distinct broadcast hash set, so the training corpus is "
    "never shuffled — one groupBy(doc) after a map-side join; hashes are the same "
    "md5-derived 60-bit longs as the whole dedup family",
)
def q_decontaminate(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 17 != 0)
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    return DD.contamination(train, eval_df, shingle_n=3, max_df=None)


_SQL_REPETITION = """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
           FROM documents WHERE text IS NOT NULL),
i AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-1, 0))) AS idx FROM t),
g AS (SELECT doc_id, array_to_string(tk[idx:idx+1], ' ') AS gram FROM i),
per AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
stats AS (SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_distinct, MAX(c) AS top_cnt
          FROM per GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
       CASE WHEN s.n_grams IS NULL THEN 0.0
            ELSE 1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_grams END AS dup_frac,
       CASE WHEN s.n_grams IS NULL THEN 0.0
            ELSE CAST(s.top_cnt AS DOUBLE) / s.n_grams END AS top_frac
FROM t LEFT JOIN stats s ON t.doc_id = s.doc_id
"""


@register_extra(
    "repetition_quality",
    _SQL_REPETITION,
    "Gopher-style repetition filters: per-document duplicate-bigram fraction "
    "(functions/text.py::dup_ngram_fraction — pure codegen'd array exprs, no "
    "shuffle) and most-common-bigram mass fraction (explode + two groupBys on "
    "doc_id, exchange reused). The scalar dup_frac and the exploded counts are "
    "independent computations of the same universe, cross-checked by the oracle",
)
def q_repetition_quality(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    grams = docs.select(
        "doc_id", F.explode(TXT.word_ngrams("text", 2)).alias("gram")
    )
    per = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_cnt"),
    )
    return (
        docs.select("doc_id", TXT.dup_ngram_fraction("text", 2).alias("dup_frac"))
        .join(stats, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            "dup_frac",
            F.coalesce(
                F.col("top_cnt") / F.col("n_grams"), F.lit(0.0)
            ).alias("top_frac"),
        )
    )


# ----- deterministic sampling + sequence packing ---------------------

_SQL_SAMPLE_BUCKET = (
    "CAST(CONCAT('0x', SUBSTRING(md5('sample:' || doc_id), 1, 15)) AS BIGINT) % 10000"
)


@register_extra(
    "stratified_sample",
    f"""
SELECT doc_id, lang, source FROM documents
WHERE {_SQL_SAMPLE_BUCKET} < CASE lang WHEN 'en' THEN 2500
                                       WHEN 'zh' THEN 10000
                                       WHEN 'de' THEN 5000
                                       ELSE 1000 END
""",
    "Deterministic stratified sampling (operators/sampling.py): per-language keep "
    "fractions decided by a pure hash of the row key — reproducible across cluster "
    "shapes/partitionings (unlike seeded sampleBy), pushdown-friendly stateless "
    "filter, nested across fractions",
)
def q_stratified_sample(spark, sf_dir):
    from dask_datapipeline_spark.operators.sampling import sample_stratified

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sample_stratified(
        docs,
        key_col="doc_id",
        strata_col="lang",
        fractions={"en": 0.25, "zh": 1.0, "de": 0.5},
        default_fraction=0.1,
        seed="sample",
    )


_PACK_CAPACITY = 256

_SQL_PACK_TOKENS = """
t AS (SELECT lang, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents)
"""


@register_extra(
    "pack_chunks",
    f"""
WITH {_SQL_PACK_TOKENS},
c AS (SELECT lang, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
SELECT lang, doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS stream_offset,
       CAST((cum - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS chunk_first,
       CAST(greatest(cum - 1, cum - n_tokens) // {_PACK_CAPACITY} AS BIGINT) AS chunk_last
FROM c
""",
    "GPT-style concat-then-chunk packing (operators/packing.py::chunk_token_stream): "
    "per-language token stream cut into fixed 256-token blocks, document-to-block "
    "mapping via one window cumsum — one shuffle on the shard key",
)
def q_pack_chunks(spark, sf_dir):
    from dask_datapipeline_spark.operators.packing import chunk_token_stream

    docs = load_testdata(spark, sf_dir, "documents").select(
        "lang", "doc_id", TXT.whitespace_token_count("text").cast("long").alias("tok")
    )
    return chunk_token_stream(
        docs, id_col="doc_id", token_col="tok",
        capacity=_PACK_CAPACITY, partition_col="lang",
    )


def _pack_input_ids_sql(seq_len: int = 128) -> str:
    from dask_datapipeline_spark.operators.packing import hashed_token_ids_sql

    ids = hashed_token_ids_sql("text", vocab_size=32768, seed="ids")
    return f"""
WITH ids AS (
  SELECT lang, doc_id, {ids} AS input_ids
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
tok AS (
  SELECT lang, doc_id, unnest(input_ids) AS tk,
         generate_subscripts(input_ids, 1) AS ord
  FROM ids WHERE len(input_ids) > 0
),
pos AS (
  SELECT lang, tk, ord,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id, ord) - 1 AS p
  FROM tok
)
SELECT lang, p // {seq_len} AS block_id,
       list(tk ORDER BY p) AS input_ids,
       COALESCE(list(CAST(p % {seq_len} AS INTEGER) ORDER BY p)
                  FILTER (WHERE ord = 1), CAST([] AS INTEGER[])) AS doc_starts
FROM pos
GROUP BY lang, p // {seq_len}
HAVING COUNT(*) = {seq_len}
"""


@register_extra(
    "pack_input_ids",
    _pack_input_ids_sql(),
    "The actual input_ids tensors: hashing-trick token ids "
    "(operators/packing.py::hashed_token_ids — shared md5 family, pure "
    "codegen transform fused with the scan) packed per-language into "
    "fixed 128-token blocks with within-block doc-start offsets (the "
    "attention-reset boundary set) via pack_input_ids — full blocks "
    "only, tail dropped (the padding-free pretraining discipline). "
    "applyInPandas holds ONE shard (a data-loader unit) in memory; "
    "oracle replays the stream with one ordinality window. Exact "
    "integer ids/positions; arrays compare element-ordered",
)
def q_pack_input_ids(spark, sf_dir):
    from dask_datapipeline_spark.operators.packing import (
        hashed_token_ids,
        pack_input_ids,
    )

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    )
    ids = hashed_token_ids(
        docs, "doc_id", "text", vocab_size=32768, seed="ids", keep_cols=("lang",)
    )
    return pack_input_ids(ids, "doc_id", "input_ids", seq_len=128, partition_col="lang")


@register_extra(
    "bpe_encode_ids",
    None,  # encoding under a TRAINED vocab is the iterative trainer's
    # output applied per word (rank-ordered merge sweeps) — non-SQL-
    # expressible like bpe_tokens; pinned against the shared _symbolize
    # twin in tests (encode ids decode back to the exact symbol seq)
    "BPE ids end-to-end (operators/bpe.py::bpe_vocab + bpe_encode_ids): "
    "corpus symbol vocabulary under the trained merges (one vocab-bounded "
    "distinct), then map-side encode to integer ids with -1 as the "
    "explicit UNK sentinel — composes with pack_input_ids for the real "
    "tensor hand-off",
)
def q_bpe_encode_ids(spark, sf_dir):
    from dask_datapipeline_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
        train_bpe,
    )

    docs = load_testdata(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", num_merges=16)
    vocab = bpe_vocab(docs, "text", merges)
    return bpe_encode_ids(docs, "doc_id", "text", merges, vocab)


@register_extra(
    "pack_greedy_bins",
    f"""
WITH RECURSIVE {_SQL_PACK_TOKENS},
o AS (SELECT lang, doc_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM t),
r AS (
  SELECT lang, doc_id, n_tokens, rn,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS bin_fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.lang, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN r.bin_fill + o.n_tokens > {_PACK_CAPACITY}
              THEN r.bin_id + 1 ELSE r.bin_id END,
         CASE WHEN r.bin_fill + o.n_tokens > {_PACK_CAPACITY}
              THEN o.n_tokens ELSE r.bin_fill + o.n_tokens END
  FROM r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1
)
SELECT lang, doc_id, n_tokens, bin_id, bin_fill,
       (n_tokens > {_PACK_CAPACITY}) AS oversize
FROM r
""",
    "No-split sequential first-fit packing (operators/packing.py::pack_greedy): "
    "Arrow-batched applyInPandas walk per language shard — shards pack in parallel, "
    "one shuffle on the shard key; the oracle replays the sequential walk as a "
    "recursive CTE",
)
def q_pack_greedy_bins(spark, sf_dir):
    from dask_datapipeline_spark.operators.packing import pack_greedy

    docs = load_testdata(spark, sf_dir, "documents").select(
        "lang", "doc_id", TXT.whitespace_token_count("text").cast("long").alias("tok")
    )
    return pack_greedy(
        docs, id_col="doc_id", token_col="tok",
        capacity=_PACK_CAPACITY, partition_col="lang",
    )


def _batch_oracle(name: str) -> str:
    """Reuse a batch twin's oracle SQL verbatim for its streaming
    variant — one source of truth; the streaming query must converge
    to the batch answer (the Structured Streaming contract)."""
    from dask_datapipeline_spark.plans.catalog import CATALOG

    return CATALOG[name].oracle


@register_extra(
    "streaming_session",
    None,  # resolved below after catalog registration completes
    "Streaming session windows (6h gap, complete mode over availableNow replay): "
    "same session_agg body as the batch session_window twin, same gaps-and-islands "
    "oracle — the stream must converge to the batch answer",
)
def q_streaming_session(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        session_agg,
        stream_events,
        with_watermark,
    )

    name = f"stream_session_{next(_STREAM_SEQ)}"
    run_to_memory(
        session_agg(with_watermark(stream_events(spark, sf_dir))),
        name,
        "complete",
        state_partitions=8,
    )
    return spark.table(name)


def _late_bind_streaming_session_oracle() -> None:
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG, QueryDef

    qd = EXTRA_CATALOG["streaming_session"]
    EXTRA_CATALOG["streaming_session"] = QueryDef(
        fn=qd.fn, oracle=_batch_oracle("session_window"), description=qd.description
    )


_late_bind_streaming_session_oracle()


# ----- round-2 additions: sketches, LM quality, PII, mixing, ORC -----

from dask_datapipeline_spark.operators.lm import (  # noqa: E402
    perplexity_oracle_sql,
    perplexity_scores,
)
from dask_datapipeline_spark.operators.sketches import (  # noqa: E402
    kmv_distinct,
    kmv_oracle_sql,
    quantile_sketch_oracle_sql,
)

_KMV_K = 64  # below the 150 distinct users/type at sf0.01 so the
#              ESTIMATION path (not the exact small-group fallback)
#              is what the driver gate exercises


@register_extra(
    "kmv_distinct",
    kmv_oracle_sql("events", "event_type", "user_id", k=_KMV_K),
    "KMV distinct-count sketch (operators/sketches.py): mergeable k-minimum-hash "
    "sketch built map-side (mapInPandas partial k-minima, <= parts*groups*k rows "
    "cross the shuffle vs every distinct value for exact count-distinct); min-merge "
    "is exact, so the oracle replays it as a plain rank over the full distinct set",
)
def q_kmv_distinct(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_distinct(ev, ["event_type"], "user_id", k=_KMV_K)


_QSK_K = 256  # well below the ~3000 orders/priority at sf0.01 so the
#               driver gate exercises the SAMPLING path, not the
#               exact small-group fallback


@register_extra(
    "quantile_sketch",
    quantile_sketch_oracle_sql(
        "orders",
        "o_totalprice",
        "o_orderkey",
        quantiles=(0.5, 0.9, 0.99),
        k=256,
        group_col="o_orderpriority",
    ),
    "Mergeable quantile sketch (operators/sketches.py): deterministic bottom-k-"
    "by-md5(id) row sample pruned map-side (partial_topk), estimates = exact "
    "order-statistic SELECTIONS from the sample (rank 1+floor(q*(n-1)), unique-id "
    "tiebreak — never interpolation, which drifts a ulp between engines). "
    "Min-merge is exact, so the oracle is a plain ranked window over the full "
    "table; the corpus-wide p50/p90/p99 a 100 TB profile wants without the "
    "single-reducer exact sort",
)
def q_quantile_sketch(spark, sf_dir):
    from dask_datapipeline_spark.operators.sketches import quantile_sketch

    orders = load_testdata(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return quantile_sketch(
        orders,
        "o_totalprice",
        "o_orderkey",
        quantiles=(0.5, 0.9, 0.99),
        k=_QSK_K,
        group_cols=["o_orderpriority"],
    )


@register_extra(
    "streaming_kmv",
    kmv_oracle_sql("events", "event_type", "user_id", k=_KMV_K),
    "Streaming twin of kmv_distinct (streaming/windows.py::"
    "stream_incremental_kmv): the events table arrives as THREE micro-batch "
    "files through a foreachBatch sink maintaining the per-group k-minimum "
    "DISTINCT hash set incrementally (union + re-take + atomic snapshot swap; "
    "replay idempotent for free — duplicates vanish in the distinct). KMV "
    "min-merge exactness makes the maintained sketch bit-identical to the "
    "batch sketch, so this row shares kmv_distinct's oracle verbatim",
)
def q_streaming_kmv(spark, sf_dir):
    return _in_work_dir("ddps_stream_kmv_", _streaming_kmv_in, spark, sf_dir)


def _streaming_kmv_in(spark, sf_dir, work):
    import os as _os

    from dask_datapipeline_spark.operators.sketches import (
        kmv_estimate_from_sketch,
    )
    from dask_datapipeline_spark.streaming.windows import stream_incremental_kmv

    ev = load_testdata(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3]
    parts = [
        ev.where(F.col("event_id") <= cuts[0]),
        ev.where((F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1])),
        ev.where(F.col("event_id") > cuts[1]),
    ]
    _stage_micro_batches(
        [p.select("event_type", "user_id") for p in parts], staged
    )
    sketch_dir = _os.path.join(work, "sketch")
    stream_incremental_kmv(
        spark,
        staged,
        sketch_dir,
        schema="event_type string, user_id long",
        group_cols=["event_type"],
        value_col="user_id",
        k=_KMV_K,
        checkpoint_dir=_os.path.join(work, "ckpt"),
    )
    return kmv_estimate_from_sketch(
        spark.read.parquet(sketch_dir), ["event_type"], _KMV_K
    )


@register_extra(
    "streaming_quantile",
    quantile_sketch_oracle_sql("events", "value", "event_id", k=_QSK_K),
    "Streaming twin of quantile_sketch (streaming/windows.py::"
    "stream_incremental_quantile_sample): the events table arrives as THREE "
    "micro-batch files through a real foreachBatch sink that maintains the "
    "bottom-k-by-hash sample incrementally (union + re-take + atomic snapshot "
    "swap; O(batch + k) per micro-batch, corpus never rescanned). Min-merge "
    "exactness makes the maintained sample BIT-IDENTICAL to the batch sketch "
    "over the full stream, so this row shares the batch oracle verbatim — the "
    "end-to-end proof the incremental wiring (offsets, replay-idempotent "
    "dedup-on-id, snapshot swap) loses nothing",
)
def q_streaming_quantile(spark, sf_dir):
    return _in_work_dir("ddps_stream_qsk_", _streaming_quantile_in, spark, sf_dir)


def _streaming_quantile_in(spark, sf_dir, work):
    import os as _os

    from dask_datapipeline_spark.operators.sketches import quantiles_from_sample
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_quantile_sample,
    )

    ev = load_testdata(spark, sf_dir, "events").select("event_id", "value")
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    # three id-range micro-batch files, mtime-ordered (any batching
    # yields the same sample — min-merge exactness; ranges just make
    # the fixture deterministic)
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3]
    parts = [
        ev.where(F.col("event_id") <= cuts[0]),
        ev.where((F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1])),
        ev.where(F.col("event_id") > cuts[1]),
    ]
    _stage_micro_batches(parts, staged)
    sample_dir = _os.path.join(work, "sample")
    stream_incremental_quantile_sample(
        spark,
        staged,
        sample_dir,
        schema="event_id long, value double",
        value_col="value",
        id_col="event_id",
        k=_QSK_K,
        checkpoint_dir=_os.path.join(work, "ckpt"),
    )
    return quantiles_from_sample(
        spark.read.parquet(sample_dir), "value", "event_id"
    )


@register_extra(
    "lm_perplexity",
    perplexity_oracle_sql(),
    "CCNet-style corpus quality gate (operators/lm.py): add-one-smoothed unigram "
    "LM trained on the corpus itself, per-doc avg negative log-likelihood, "
    "keep/drop flag; ln rounded to 9dp then EXACT decimal accumulation so the "
    "per-doc sum is independent of addition order",
)
def q_lm_perplexity(spark, sf_dir):
    return perplexity_scores(load_testdata(spark, sf_dir, "documents"))


# Deterministic PII injection: the synthetic corpus is PII-free, so a
# redaction query over it would verify a no-op. Salting every 7th doc
# with an email+phone and every 11th with an SSN (pure doc_id
# arithmetic, replayed in SQL) makes match counts and the redacted
# fingerprint carry real signal through the driver's hash compare.
_PII_EMAIL_SUFFIX = "@example.com or 555-123-4567."
_PII_SSN_SUFFIX = " SSN 123-45-6789."


def _pii_sql() -> str:
    pats = TXT.PII_PATTERNS
    red = "txt"
    for k, p in pats.items():
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(txt, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in pats.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' Contact user' || CAST(doc_id AS VARCHAR) || '{_PII_EMAIL_SUFFIX}'
              WHEN doc_id % 11 = 0 THEN text || '{_PII_SSN_SUFFIX}'
              ELSE text END AS txt
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       {counts},
       md5({red}) AS redacted_fp
FROM t
"""


@register_extra(
    "pii_redact",
    _pii_sql(),
    "PII scrub (functions/text.py::redact_pii): per-class regex match counts + "
    "md5 fingerprint of the redacted text, whole-stage codegen over the scan — "
    "patterns kept in the Java-regex/RE2 common subset so the oracle replays them; "
    "deterministic doc_id-keyed PII injection gives the hash compare real signal",
)
def q_pii_redact(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    injected = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" Contact user"),
                F.col("doc_id").cast("string"),
                F.lit(_PII_EMAIL_SUFFIX),
            ),
        )
        .when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(_PII_SSN_SUFFIX)))
        .otherwise(F.col("text"))
    )
    t = docs.select("doc_id", injected.alias("txt"))
    counts = TXT.pii_counts("txt")
    return t.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{k}") for k, c in counts.items()],
        F.md5(TXT.redact_pii("txt")).alias("redacted_fp"),
    )


_MIX_WEIGHTS = {"en": 3, "de": 2}


@register_extra(
    "corpus_mix",
    f"""
WITH w AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN {_MIX_WEIGHTS["en"]}
                   WHEN 'de' THEN {_MIX_WEIGHTS["de"]} ELSE 1 END AS w
  FROM documents
), e AS (
  SELECT doc_id, lang, unnest(generate_series(1, w)) AS copy_idx FROM w
)
SELECT doc_id, lang, CAST(copy_idx AS BIGINT) AS copy_idx,
       md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR)) AS mix_key
FROM e
""",
    "Epoch-weighted data mixing (operators/sampling.py::epoch_mix): integer "
    "per-language replication (en x3, de x2) + deterministic md5 interleave key — "
    "replication is explode(sequence) inside the scan stage, global order is the "
    "sink's range-partitioned sort on mix_key, never a one-reducer window",
)
def q_corpus_mix(spark, sf_dir):
    from dask_datapipeline_spark.operators.sampling import epoch_mix

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "lang")
    out = epoch_mix(docs, "doc_id", "lang", _MIX_WEIGHTS)
    return out.withColumn("copy_idx", F.col("copy_idx").cast("long"))


@register_extra(
    "scan_orc",
    f"""
SELECT s_nationkey, COUNT(*) AS n,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
FROM supplier GROUP BY s_nationkey
""",
    "ORC source/sink round-trip (sources/writers.py::write_orc + "
    "readers.py::scan_orc): supplier written to ORC and scanned back, decimal-"
    "exact money aggregate proves type fidelity through the format conversion",
)
def q_scan_orc(spark, sf_dir):
    import os as _os

    from dask_datapipeline_spark.sources.readers import scan_orc
    from dask_datapipeline_spark.sources.writers import write_orc

    sup = load_testdata(spark, sf_dir, "supplier")
    path = _os.path.join(
        "/tmp/spark_graft_orc", _os.path.basename(sf_dir.rstrip("/")), "supplier"
    )
    write_orc(sup, path)
    back = scan_orc(spark, path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("acctbal_sum"),
    )


@register_extra(
    "snapshot_diff",
    """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'added'
            WHEN o_orderkey % 7 = 0 THEN 'removed'
            WHEN o_orderkey % 5 = 0 THEN 'changed'
            ELSE 'unchanged' END AS diff_status
FROM orders
WHERE NOT (o_orderkey % 3 = 0 AND o_orderkey % 7 = 0)
""",
    "Versioned-table time travel (sources/writers.py::write_versioned / "
    "read_snapshot / snapshot_diff — the MinHash index's atomic staged-dir + "
    "_CURRENT manifest pattern generalized to any materialized artifact): two "
    "orders snapshots committed as v1/v2 of ONE table, then table_diff between "
    "the time-travel reads classifies every key added/removed/changed/unchanged. "
    "The oracle replays the snapshot construction rules directly (v1 = keys "
    "%3!=0, v2 = keys %7!=0 with %5==0 prices bumped)",
)
def q_snapshot_diff(spark, sf_dir):
    import os as _os
    import shutil as _shutil

    from dask_datapipeline_spark.sources.writers import (
        snapshot_diff,
        write_versioned,
    )

    orders = load_testdata(spark, sf_dir, "orders")
    v1 = orders.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    path = _os.path.join(
        "/tmp/spark_graft_versioned", _os.path.basename(sf_dir.rstrip("/")), "orders"
    )
    _shutil.rmtree(path, ignore_errors=True)
    va = write_versioned(v1, path)
    vb = write_versioned(v2, path)
    return snapshot_diff(
        spark, path, va, vb, ["o_orderkey"], ["o_totalprice"]
    )


@register_extra(
    "versioned_merge",
    """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
  FROM orders
  WHERE (o_orderkey % 3 <> 0 OR o_orderkey % 5 = 0)
    AND o_orderkey % 7 <> 0
)
SELECT o_orderkey, CAST(price AS DOUBLE) AS o_totalprice FROM final
""",
    "Copy-on-write MERGE INTO a versioned table (sources/writers.py::"
    "merge_versioned): base snapshot (keys %3<>0) -> change batch 1 upserts "
    "(%5==0 prices +1, inserting the %3==0 ones) -> change batch 2 deletes "
    "(%7==0) — each round commits a NEW manifest version, so every "
    "intermediate state stays time-travel readable while the oracle replays "
    "the FINAL state's per-key rules directly. Exact decimal arithmetic; one "
    "broadcast anti-join per merge round",
)
def q_versioned_merge(spark, sf_dir):
    import os as _os
    import shutil as _shutil

    from dask_datapipeline_spark.sources.writers import (
        merge_versioned,
        read_snapshot,
        write_versioned,
    )

    orders = load_testdata(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    base = orders.where(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", dec.alias("o_totalprice")
    )
    upserts = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", (dec + 1).cast("decimal(18,2)").alias("o_totalprice")
    )
    deletes = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", dec.alias("o_totalprice"), F.lit(True).alias("__del")
    )
    path = _os.path.join(
        "/tmp/spark_graft_versioned", _os.path.basename(sf_dir.rstrip("/")), "merge"
    )
    _shutil.rmtree(path, ignore_errors=True)
    write_versioned(base, path)
    merge_versioned(spark, path, upserts, ["o_orderkey"])
    final = merge_versioned(spark, path, deletes, ["o_orderkey"], delete_col="__del")
    snap = read_snapshot(spark, path, final)
    return snap.select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


# --------------------------------------------------------------------
# Segment-level exact dedup (C4-style) + count-min heavy hitters
# --------------------------------------------------------------------

_SEG_K = 10


@register_extra(
    "segment_dedup",
    f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), n AS (
  SELECT doc_id, tk,
         CAST(floor((len(tk) + {_SEG_K - 1}) / {_SEG_K}.0) AS BIGINT) AS n_seg_total
  FROM t
), seg AS (
  SELECT doc_id, n_seg_total, i,
         array_to_string(tk[i*{_SEG_K}+1 : i*{_SEG_K}+{_SEG_K}], ' ') AS seg
  FROM n, unnest(generate_series(0, CAST(n_seg_total - 1 AS INT))) g(i)
), h AS (
  SELECT doc_id, i, seg,
         CAST(CONCAT('0x', SUBSTRING(md5('0:' || seg), 1, 15)) AS BIGINT) AS hh
  FROM seg
), ranked AS (
  SELECT doc_id, i, seg,
         row_number() OVER (PARTITION BY hh ORDER BY doc_id, i) AS rn
  FROM h
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY i) AS text_dedup
  FROM ranked WHERE rn = 1 GROUP BY doc_id
)
SELECT n.doc_id,
       COALESCE(agg.text_dedup, '') AS text_dedup,
       COALESCE(agg.n_kept, 0) AS n_kept,
       n.n_seg_total
FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
""",
    "C4-style segment-level exact dedup (operators/dedup.py::segment_dedup): "
    "10-token segments, keep the first corpus-wide occurrence of each distinct "
    "segment (row_number over the md5 segment hash — one fixed-width shuffle), "
    "reassemble survivors in document order via array_sort(collect_list)",
)
def q_segment_dedup(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import segment_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=_SEG_K)


_SUBSTR_W = 50  # Lee et al. 2022's span threshold, in tokens


_SUBSTR_ORACLE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), n AS (
  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM t
), win AS (
  SELECT doc_id, i,
         CAST(CONCAT('0x', SUBSTRING(md5(
           '0:' || array_to_string(tk[i : i+{_SUBSTR_W - 1}], ' ')), 1, 15)) AS BIGINT) AS hh
  FROM n, unnest(generate_series(1, CAST(n_tokens - {_SUBSTR_W} + 1 AS INT))) g(i)
), dup AS (
  SELECT hh FROM (SELECT hh, COUNT(*) AS c FROM win GROUP BY hh) WHERE c >= 2
), dw AS (
  SELECT w.doc_id, w.i FROM win w JOIN dup d ON w.hh = d.hh
), tok AS (
  SELECT doc_id, t, tk[t] AS tok
  FROM n, unnest(generate_series(1, CAST(n_tokens AS INT))) g(t)
), kept AS (
  SELECT tok.doc_id, tok.t, tok.tok FROM tok
  WHERE NOT EXISTS (
    SELECT 1 FROM dw
    WHERE dw.doc_id = tok.doc_id AND dw.i <= tok.t AND tok.t < dw.i + {_SUBSTR_W}
  )
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY t) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT n.doc_id,
       COALESCE(agg.text_dedup, '') AS text_dedup,
       n.n_tokens,
       n.n_tokens - COALESCE(agg.n_kept, 0) AS n_cut
FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
"""


@register_extra(
    "substring_dedup",
    _SUBSTR_ORACLE_SQL,
    "Exact-substring dedup (operators/dedup.py::substring_dedup — Lee et al. "
    "2022 ExactSubstr): every token inside a >=50-token span that occurs more "
    "than once in the corpus is cut from ALL occurrences; rolling window hashes "
    "shuffle as (id, pos, 8-byte md5 long) fixed-width rows, coverage + "
    "reassembly are per-document array expressions (non-vacuous here: 280 "
    "duplicated 50-token window hashes at sf0.01)",
)
def q_substring_dedup(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    return substring_dedup(docs, window_tokens=_SUBSTR_W)


@register_extra(
    "substring_dedup_rolling",
    _SUBSTR_ORACLE_SQL,
    "substring_dedup with hashing='rolling' — the O(n_tokens) Karp-Rabin "
    "double-Mersenne-31 path (one md5 per DISTINCT token, vectorized prefix "
    "arithmetic per Arrow batch) feeding the SAME downstream dataflow. The "
    "oracle is the md5 variant's SEMANTICS replay, which is the stronger "
    "check here: any rolling-hash arithmetic bug OR 2^-62 collision changes "
    "the duplicated-window set and fails the exact match",
)
def q_substring_dedup_rolling(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    return substring_dedup(docs, window_tokens=_SUBSTR_W, hashing="rolling")


_BOILER_K, _BOILER_MAX_DF = 5, 1


@register_extra(
    "boilerplate_strip",
    f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), n AS (
  SELECT doc_id, tk,
         CAST(floor((len(tk) + {_BOILER_K - 1}) / {_BOILER_K}.0) AS BIGINT) AS n_seg_total
  FROM t
), seg AS (
  SELECT doc_id, n_seg_total, i,
         array_to_string(tk[i*{_BOILER_K}+1 : i*{_BOILER_K}+{_BOILER_K}], ' ') AS seg
  FROM n, unnest(generate_series(0, CAST(n_seg_total - 1 AS INT))) g(i)
), h AS (
  SELECT doc_id, i, seg,
         CAST(CONCAT('0x', SUBSTRING(md5('0:' || seg), 1, 15)) AS BIGINT) AS hh
  FROM seg
), boiler AS (
  SELECT hh FROM (
    SELECT hh, COUNT(DISTINCT doc_id) AS dfc FROM h GROUP BY hh
  ) WHERE dfc > {_BOILER_MAX_DF}
), kept AS (
  SELECT doc_id, i, seg FROM h
  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.hh = h.hh)
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY i) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT n.doc_id,
       COALESCE(agg.text_clean, '') AS text_clean,
       COALESCE(agg.n_kept, 0) AS n_kept,
       n.n_seg_total
FROM n LEFT JOIN agg ON n.doc_id = agg.doc_id
""",
    "Cross-document boilerplate strip (operators/dedup.py::boilerplate_strip): "
    "5-token segments occurring in more than one distinct document are removed "
    "EVERYWHERE (CCNet/RefinedWeb-style line dedup; contrast segment_dedup's C4 "
    "keep-first) — df count over fixed-width (id, hash) rows, broadcast anti-join "
    "of the small boilerplate hash set, per-document reassembly",
)
def q_boilerplate_strip(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import boilerplate_strip

    docs = load_testdata(spark, sf_dir, "documents")
    return boilerplate_strip(docs, seg_tokens=_BOILER_K, max_df=_BOILER_MAX_DF)


_WIN_K, _WIN_W, _WIN_MIN_SHARED, _WIN_MAX_DF = 4, 4, 3, 256


@register_extra(
    "winnow_near_dup",
    f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk
  FROM documents WHERE text IS NOT NULL
), kg AS (
  SELECT doc_id, i,
         CAST(CONCAT('0x', SUBSTRING(md5('0:' || array_to_string(tk[i : i+{_WIN_K - 1}], ' ')), 1, 15)) AS BIGINT) AS hh,
         len(tk) - {_WIN_K - 1} AS nk
  FROM t, unnest(generate_series(1, len(tk) - {_WIN_K - 1})) g(i)
  WHERE len(tk) >= {_WIN_K}
), win AS (
  SELECT doc_id, i, nk,
         MIN(hh) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING
         ) AS minh
  FROM kg
), fps0 AS (
  SELECT DISTINCT doc_id, minh AS hh FROM win WHERE i <= nk - {_WIN_W - 1}
), fps AS (
  SELECT doc_id, hh FROM (
    SELECT doc_id, hh, COUNT(*) OVER (PARTITION BY hh) AS dfc FROM fps0
  ) WHERE dfc <= {_WIN_MAX_DF}
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.hh = b.hh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {_WIN_MIN_SHARED}
)
SELECT p.id_a, p.id_b, p.n_shared,
       p.n_shared / least(ca.n, cb.n) AS sim
FROM pairs p
JOIN cnt ca ON ca.doc_id = p.id_a
JOIN cnt cb ON cb.doc_id = p.id_b
""",
    "Winnowing near-dup pairs (operators/dedup.py::winnow_near_dup — the MOSS "
    "algorithm): 4-gram hashes, window-4 minima as fingerprints (any shared run "
    ">= 7 tokens guarantees a common fingerprint), df-capped fingerprint "
    "equi-join, pairs sharing >= 3 fingerprints with containment-style sim; "
    "the oracle replays selection as a window MIN over the same md5 hashes",
)
def q_winnow_near_dup(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import winnow_near_dup

    docs = load_testdata(spark, sf_dir, "documents")
    return winnow_near_dup(
        docs,
        kgram=_WIN_K,
        window=_WIN_W,
        min_shared=_WIN_MIN_SHARED,
        max_df=_WIN_MAX_DF,
    )


from dask_datapipeline_spark.operators.sketches import (  # noqa: E402
    cms_heavy_hitters,
    cms_oracle_sql,
)

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOP = 4, 64, 20


@register_extra(
    "heavy_hitters_cms",
    cms_oracle_sql("events", "user_id", _CMS_DEPTH, _CMS_WIDTH, _CMS_TOP),
    "Count-min-sketch heavy hitters (operators/sketches.py::cms_heavy_hitters): "
    f"{_CMS_DEPTH}x{_CMS_WIDTH} integer sketch built in ONE bounded-output groupBy "
    "(the keyset never shuffles), candidates probe cells via broadcast join, "
    "estimate = min cell; exact counts alongside prove the one-sided CMS error",
)
def q_heavy_hitters_cms(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").select("user_id")
    return cms_heavy_hitters(
        ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH, top=_CMS_TOP
    )


# --------------------------------------------------------------------
# Bloom-filter semi-join pruning
# --------------------------------------------------------------------

from dask_datapipeline_spark.operators.bloom import (  # noqa: E402
    bloom_oracle_sql,
    bloom_semi_join,
)

_BLOOM_M, _BLOOM_K = 4096, 4


@register_extra(
    "bloom_semi_join",
    "WITH "
    + bloom_oracle_sql(
        fact="events",
        dim="customer",
        fact_key="user_id",
        dim_key="c_custkey",
        dim_where="c_mktsegment = 'BUILDING'",
        row_id="event_id",
        m_bits=_BLOOM_M,
        k_hashes=_BLOOM_K,
    )
    + """,
bl AS (
  SELECT e.event_type, COUNT(*) AS n_bloom
  FROM events e JOIN bloom_pass bp ON e.event_id = bp.rid
  GROUP BY e.event_type
), ex AS (
  SELECT e.event_type, COUNT(*) AS n_exact
  FROM events e
  WHERE e.user_id IN (SELECT key FROM dimk)
  GROUP BY e.event_type
), base AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
)
SELECT base.event_type, base.n_events,
       COALESCE(bl.n_bloom, 0) AS n_bloom,
       COALESCE(ex.n_exact, 0) AS n_exact,
       COALESCE(bl.n_bloom, 0) - COALESCE(ex.n_exact, 0) AS n_false_pos
FROM base
LEFT JOIN bl ON base.event_type = bl.event_type
LEFT JOIN ex ON base.event_type = ex.event_type
""",
    "Bloom-filter semi-join pruning (operators/bloom.py): the fact scan is "
    f"pruned by a {_BLOOM_M}-bit/{_BLOOM_K}-hash literal bitmap probe inside "
    "codegen — no shuffle, no broadcast exchange, no Python — against the "
    "exact broadcast semi-join alongside, exhibiting the bounded one-sided "
    "false-positive overcount",
)
def q_bloom_semi_join(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    dim = load_testdata(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    passed = bloom_semi_join(
        ev, dim, "user_id", "c_custkey", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    bl = passed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_bloom"))
    keys = dim.select(F.col("c_custkey").alias("user_id")).distinct()
    ex = (
        ev.join(F.broadcast(keys), on="user_id", how="left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    base = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        base.join(bl, on="event_type", how="left")
        .join(ex, on="event_type", how="left")
        .select(
            "event_type",
            "n_events",
            F.coalesce("n_bloom", F.lit(0)).alias("n_bloom"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            (F.coalesce("n_bloom", F.lit(0)) - F.coalesce("n_exact", F.lit(0))).alias(
                "n_false_pos"
            ),
        )
    )


@register_extra(
    "streaming_static_join",
    """
SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
       c.c_nationkey AS nationkey,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY window_start, nationkey
""",
    "Stream-static enrichment (streaming/windows.py::stream_static_enrich): each "
    "microbatch broadcast-joins the static customer dim (stream side stays map-only "
    "before the window agg's own exchange), tumbling per-nation rollup; complete "
    "mode over the bounded stream equals the batch join+GROUP BY bit-for-bit",
)
def q_streaming_static_join(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_events,
        stream_static_enrich,
    )

    name = f"stream_static_{next(_STREAM_SEQ)}"
    dim = load_testdata(spark, sf_dir, "customer")
    run_to_memory(
        stream_static_enrich(stream_events(spark, sf_dir), dim),
        name,
        "complete",
        state_partitions=8,
    )
    return spark.table(name)


# --------------------------------------------------------------------
# Deterministic weighted sampling (priority sampling)
# --------------------------------------------------------------------

from dask_datapipeline_spark.operators.sampling import (  # noqa: E402
    priority_sample,
    priority_sample_oracle_sql,
)

_PRI_K = 25


@register_extra(
    "weighted_sample",
    priority_sample_oracle_sql(
        "documents",
        "n_chars",
        _PRI_K,
        group_cols=["lang"],
        select_cols="doc_id, lang, n_chars",
    ),
    "Deterministic weighted sampling (operators/sampling.py::priority_sample, "
    "Duffield-Lund-Thorup priority sampling): per-language top-k by w/u with an "
    "md5-derived uniform — division-only, no RNG and no transcendentals, so "
    "priorities are bit-identical across engines; one window shuffle",
)
def q_weighted_sample(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return priority_sample(docs, "n_chars", _PRI_K, group_cols=["lang"])


# --------------------------------------------------------------------
# Incremental dedup (incoming batch vs existing corpus)
# --------------------------------------------------------------------


def _sql_shingles_sfx(src: str, sfx: str) -> str:
    """Distinct (doc_id, h) shingle-hash chain for one source CTE,
    suffix-disambiguated so the incremental oracle can shingle the
    corpus and the batch independently (same chain as
    ``_sql_shingles_hashed``)."""
    hash_expr = _SQL_HASH.format(seed=0, col="sh")
    return f"""
toks{sfx} AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM {src}),
idx{sfx} AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-2, 0))) AS i FROM toks{sfx}),
sh0{sfx} AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS sh FROM idx{sfx}),
hsh{sfx} AS (SELECT doc_id, {hash_expr} AS h FROM sh0{sfx} WHERE sh <> ''),
shh0{sfx} AS (SELECT DISTINCT doc_id, h FROM hsh{sfx})"""


def _sql_sig_from(src: str, name: str) -> str:
    return (
        f"{name} AS (SELECT doc_id, "
        + ", ".join(
            f"MIN(({a} * (h % {DD.MERSENNE_P}) + {b}) % {DD.MERSENNE_P}) AS mh_{i}"
            for i, (a, b) in enumerate(DD.affine_params(_NUM_HASHES))
        )
        + f" FROM {src} GROUP BY doc_id)"
    )


_SQL_INC_BAND_JOINS = " UNION ALL ".join(
    "SELECT a.doc_id AS u, b.doc_id AS v FROM sigB a JOIN sig b ON "
    + " AND ".join(
        f"a.mh_{i} = b.mh_{i}"
        for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
    )
    + " AND a.doc_id <> b.doc_id"
    for b in range(_BANDS)
)


_SQL_INCREMENTAL_DEDUP = (
    "WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),\n"
    "batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),"
    + _sql_shingles_sfx("corpus", "C")
    + ","
    + _sql_shingles_sfx("batch", "B")
    + f""",
hot AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shh0C GROUP BY h) WHERE df > {_MAX_DF}),
shhC AS (SELECT doc_id, h FROM shh0C WHERE h NOT IN (SELECT h FROM hot)),
shhB AS (SELECT doc_id, h FROM shh0B WHERE h NOT IN (SELECT h FROM hot)),
shh AS (SELECT * FROM shhC UNION ALL SELECT * FROM shhB),
"""
    + _sql_sig_from("shhC", "sigC")
    + ","
    + _sql_sig_from("shhB", "sigB")
    + f""",
sig AS (SELECT * FROM sigC UNION ALL SELECT * FROM sigB),
cand AS (
  SELECT DISTINCT LEAST(u, v) AS id_a, GREATEST(u, v) AS id_b
  FROM ({_SQL_INC_BAND_JOINS})
)
,"""
    + _sql_jaccard_verify(
        extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b",
        as_pairs_cte=True,
    )
    + """,
partners AS (
  -- an incoming (odd-id) doc's dup partner: any existing (even) match,
  -- or an earlier incoming doc (id_a < id_b always holds in pairs)
  SELECT id_b AS doc_id, id_a AS partner FROM pairs WHERE id_b % 2 = 1
  UNION ALL
  SELECT id_a AS doc_id, id_b AS partner FROM pairs
  WHERE id_a % 2 = 1 AND id_b % 2 = 0
), resolved AS (
  SELECT doc_id, MIN(partner) AS dup_of FROM partners GROUP BY doc_id
)
SELECT d.doc_id, r.dup_of, r.dup_of IS NULL AS is_new
FROM documents d LEFT JOIN resolved r ON d.doc_id = r.doc_id
WHERE d.doc_id % 2 = 1
"""
)


@register_extra(
    "incremental_dedup",
    _SQL_INCREMENTAL_DEDUP,
    "Incremental dedup — the production daily-ingest workflow: flag each doc of "
    "the incoming batch (odd ids) as new or a near-dup of the existing corpus "
    "(even ids) / an earlier incoming doc. The corpus side is a MATERIALIZED "
    "index (operators/minhash_index.py): LSH band keys + sorted shingle-hash "
    "arrays + the frozen df-cap hot-hash set written to parquet once (keyed by "
    "source mtime, parameters and layout) and only SCANNED per batch — corpus "
    "text is never re-shingled. The oracle replays the frozen-cap semantics (cap from corpus "
    "df only, not corpus+batch; identical results at test scales where "
    "nothing reaches the cap)",
)
def q_incremental_dedup(spark, sf_dir):
    import hashlib as _hl
    import os as _os
    import shutil as _sh
    import tempfile as _tf
    import uuid as _uuid

    from dask_datapipeline_spark.operators.minhash_index import (
        LAYOUT,
        build_minhash_index,
        incremental_near_dup_flags,
    )

    docs = load_testdata(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    src = _os.path.join(sf_dir, "documents.parquet")
    key = _hl.md5(
        f"{src}:{_os.path.getmtime(src)}:{_NUM_HASHES}:{_BANDS}:3:{_MAX_DF}:"
        f"layout{LAYOUT}".encode()
    ).hexdigest()[:16]
    index_path = _os.path.join(_tf.gettempdir(), "ddps_minhash_index", key)
    if not _os.path.exists(index_path):
        # write-once, keyed by source mtime, parameters and index
        # layout; built aside and renamed into place, so a concurrent
        # run never reads a half-built index
        tmp = f"{index_path}.tmp-{_uuid.uuid4().hex[:8]}"
        build_minhash_index(
            corpus, tmp, num_hashes=_NUM_HASHES, bands=_BANDS, shingle_n=3,
            max_df=_MAX_DF,
        )
        try:
            _os.replace(tmp, index_path)
        except OSError:
            if not _os.path.isdir(index_path):
                raise
            _sh.rmtree(tmp)  # another run renamed its build in first
    return incremental_near_dup_flags(batch, index_path, threshold=0.5)


@register_extra(
    "streaming_incremental_dedup",
    _SQL_INCREMENTAL_DEDUP,
    "Streaming incremental near-dup (streaming/windows.py::"
    "stream_incremental_dedup): the incoming corpus half arrives as THREE "
    "id-range-ordered micro-batches through a real Structured Streaming "
    "foreachBatch sink — each batch is APPENDED to the persisted MinHash index "
    "(idempotently, so later batches dedup against it), then flagged against "
    "the index from its committed increment and written idempotently. Because "
    "batches are id-ordered, the union of per-batch "
    "flags equals the monolithic incremental run EXACTLY (a dup partner is a "
    "corpus doc or a smaller-id ingested doc, reachable either via an index "
    "increment or the in-batch union) — so this row shares incremental_dedup's "
    "oracle verbatim, and the equality is the end-to-end proof the streaming "
    "wiring (offsets, increments, replay idempotence) loses nothing",
)
def q_streaming_incremental_dedup(spark, sf_dir):
    return _in_work_dir("ddps_stream_inc_", _streaming_incremental_dedup_in, spark, sf_dir)


def _streaming_incremental_dedup_in(spark, sf_dir, work):
    import os as _os

    from dask_datapipeline_spark.operators.minhash_index import build_minhash_index
    from dask_datapipeline_spark.streaming.windows import stream_incremental_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")

    # ``work`` is fresh per invocation (``_in_work_dir``): the stream
    # APPENDS increments to the index, so a reused one would contaminate
    # reruns
    index_path = _os.path.join(work, "index")
    build_minhash_index(
        corpus,
        index_path,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        max_df=_MAX_DF,
    )
    # stage the incoming half as 3 id-range files, mtime-ordered so the
    # file source drains them smallest-ids-first (see the operator
    # docstring for why id order makes per-batch flags exactly the
    # monolithic result).
    # FIXTURE-ONLY collect(): this harness stages a bounded TEST batch
    # into files and needs its id cut points; the operator under test
    # (stream_incremental_dedup / incremental_near_dup_flags) never
    # collects corpus-sized data — do not imitate this in a production
    # path (a real ingest's files arrive already staged).
    ids = sorted(r[0] for r in batch.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]] if len(ids) >= 3 else [0, 0]
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    parts = [
        batch.where(F.col("doc_id") < cuts[0]),
        batch.where((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        batch.where(F.col("doc_id") >= cuts[1]),
    ]
    _stage_micro_batches(parts, staged)
    out_dir = _os.path.join(work, "flags")
    stream_incremental_dedup(
        spark,
        staged,
        index_path,
        out_dir,
        checkpoint_dir=_os.path.join(work, "ckpt"),
        threshold=0.5,
    )
    return spark.read.parquet(_os.path.join(out_dir, "batch-*")).select(
        "doc_id", "dup_of", "is_new"
    )


# --------------------------------------------------------------------
# Equi-depth histogram
# --------------------------------------------------------------------


@register_extra(
    "equi_depth_histogram",
    """
WITH ranked AS (
  SELECT l_extendedprice,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS decile
  FROM lineitem
)
SELECT decile,
       COUNT(*) AS n_rows,
       MIN(l_extendedprice) AS lo,
       MAX(l_extendedprice) AS hi,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM ranked GROUP BY decile
""",
    "Equi-depth histogram: ntile(10) under a TOTAL order (unique-key tiebreak, "
    "so bucket boundaries are deterministic) computed by the two-pass "
    "distributed prefix-sum (operators/ranks.py::global_ntile) — a ~105-row "
    "price-range bucket table carries the offsets, every corpus-sized window "
    "is PARTITIONED by range bucket; the oracle replays it as one plain "
    "ntile window, bit-identical because tile math is exact BIGINT",
)
def q_equi_depth_histogram(spark, sf_dir):
    from dask_datapipeline_spark.operators.ranks import global_ntile

    li = load_testdata(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    # range bucket = floor(price/1000): monotone in the leading order
    # key (901.82..104997.88 -> ~105 buckets), the prefix the two-pass
    # rank needs; l_extendedprice is NOT NULL in the data contract
    tiled = global_ntile(
        li,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        F.floor(F.col("l_extendedprice") / 1000),
        10,
        tile_col="decile",
    )
    return (
        tiled.select("l_extendedprice", "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("price_sum"),
        )
    )


# --------------------------------------------------------------------
# Leakage-safe split (clusters never straddle train/test)
# --------------------------------------------------------------------

_DUP_CLUSTERS_ORACLE = None  # bound after registration completes


def _leakage_safe_oracle() -> str:
    from dask_datapipeline_spark.plans.catalog import CATALOG

    return f"""
SELECT c.doc_id, c.cluster_id,
       CASE WHEN c.b < 80 THEN 'train'
            WHEN c.b < 90 THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT t.doc_id, t.cluster_id,
         CAST(CONCAT('0x', SUBSTRING(md5('split:' || t.cluster_id), 1, 15)) AS BIGINT) % 100 AS b
  FROM ({CATALOG["dup_clusters"].oracle}) t
) c
"""


@register_extra(
    "leakage_safe_split",
    None,  # resolved below once dup_clusters' oracle exists
    "Leakage-safe 80/10/10 split: the split hash keys on the near-dup CLUSTER id, "
    "not the doc id, so no near-duplicate pair can straddle train/test (the "
    "contamination channel a doc-keyed split leaves open); reuses the cached "
    "MinHash+LSH clustering and the deterministic md5 bucket",
)
def q_leakage_safe_split(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    clusters = DD.dup_clusters(pairs, docs)
    bucket = DD.seeded_hash64(F.col("cluster_id").cast("string"), "split") % 100
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )


def _late_bind_leakage_safe_oracle() -> None:
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG, QueryDef

    qd = EXTRA_CATALOG["leakage_safe_split"]
    EXTRA_CATALOG["leakage_safe_split"] = QueryDef(
        fn=qd.fn, oracle=_leakage_safe_oracle(), description=qd.description
    )


_late_bind_leakage_safe_oracle()


@register_extra(
    "streaming_stream_join",
    """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL '1 hour'
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
""",
    "Stream-STREAM inner join (streaming/windows.py::stream_stream_click_purchase): "
    "purchases joined to the same user's clicks in the preceding hour, watermarks "
    "on both sides + a time-range condition so join state is EVICTABLE (the only "
    "shape that survives unbounded streams); availableNow replay equals the batch "
    "join bit-for-bit",
)
def q_streaming_stream_join(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_stream_click_purchase,
    )

    name = f"stream_ssj_{next(_STREAM_SEQ)}"
    run_to_memory(
        stream_stream_click_purchase(spark, sf_dir),
        name,
        "append",
        state_partitions=8,
    )
    return spark.table(name)


# --------------------------------------------------------------------
# Collocation mining (PMI co-occurrence)
# --------------------------------------------------------------------

_COLLOC_VOCAB, _COLLOC_TOP = 150, 25


@register_extra(
    "collocations",
    f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
dt AS (SELECT DISTINCT doc_id, token FROM toks WHERE token <> ''),
dfreq AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY token),
vocab AS (
  SELECT token, df FROM (
    SELECT token, df,
           row_number() OVER (ORDER BY df DESC, token) AS rn
    FROM dfreq WHERE df >= 2) WHERE rn <= {_COLLOC_VOCAB}
),
dtv AS (SELECT dt.doc_id, dt.token FROM dt JOIN vocab USING (token)),
n AS (SELECT COUNT(*) AS n FROM documents),
pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS n_co
  FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY tok_a, tok_b
)
SELECT tok_a, tok_b, n_co, df_a, df_b, pmi FROM (
  SELECT p.tok_a, p.tok_b, p.n_co, va.df AS df_a, vb.df AS df_b,
         round(ln(CAST(p.n_co * n.n AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE)), 9) AS pmi,
         row_number() OVER (ORDER BY p.n_co DESC, p.tok_a, p.tok_b) AS rn
  FROM pairs p
  JOIN vocab va ON va.token = p.tok_a
  JOIN vocab vb ON vb.token = p.tok_b
  CROSS JOIN n)
WHERE rn <= {_COLLOC_TOP}
""",
    "Collocation mining: document-level PMI over a df-ranked vocab cap "
    f"(top {_COLLOC_VOCAB} tokens — the cap is what bounds the per-doc pair "
    "fan-out, the same discipline as the shingle df cap), top "
    f"{_COLLOC_TOP} pairs by co-occurrence; ln of an exact integer ratio "
    "rounded to 9dp (the tfidf recipe)",
)
def q_collocations(spark, sf_dir):
    from dask_datapipeline_spark.operators.dedup import tokens
    from dask_datapipeline_spark.parallel import fan_out

    docs = load_testdata(spark, sf_dir, "documents")
    n_docs = docs.count()
    dt = (
        fan_out(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )
    dfreq = dt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # vocab cap as orderBy().limit() -> TakeOrderedAndProject (per-
    # partition top-k + driver merge of k rows), never a row_number
    # over an unpartitioned window on the full token-df table — the
    # same cap discipline as drift.py; (df desc, token) is a total
    # order so the cut is deterministic
    vocab = (
        dfreq.where(F.col("df") >= 2)
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(_COLLOC_VOCAB)
    )
    dtv = dt.join(F.broadcast(vocab.select("token")), on="token").select(
        "doc_id", "token"
    )
    pairs = (
        dtv.alias("a")
        .join(dtv.alias("b"), on="doc_id")
        .where(F.col("a.token") < F.col("b.token"))
        .groupBy(
            F.col("a.token").alias("tok_a"), F.col("b.token").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    va = vocab.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    scored = (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_co",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    (F.col("n_co") * n_docs).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                9,
            ).alias("pmi"),
        )
    )
    # same TakeOrdered discipline for the final cut (bounded at
    # vocab^2/2 rows anyway, but no reason to keep a window here)
    return scored.orderBy(
        F.desc("n_co"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(_COLLOC_TOP)


# --------------------------------------------------------------------
# Corpus report card
# --------------------------------------------------------------------


def _corpus_report_sql() -> str:
    ctes, lang_pred, quality = _lang_ctes_and_exprs()
    return f"""
WITH {ctes},
enriched AS (
  SELECT s.doc_id, d.source, s.n_tok,
         {lang_pred} AS lang_pred,
         {quality} AS quality
  FROM scored s JOIN (SELECT doc_id, source FROM documents) d
    ON d.doc_id = s.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_tok AS BIGINT)) AS BIGINT) AS total_tokens,
       COUNT(CASE WHEN lang_pred = 'en' THEN 1 END) AS n_en,
       COUNT(CASE WHEN quality >= 0.5 THEN 1 END) AS n_high_quality,
       COUNT(CASE WHEN n_tok < 50 THEN 1 END) AS n_short
FROM enriched GROUP BY source
"""


@register_extra(
    "corpus_report",
    _corpus_report_sql(),
    "Corpus report card: per-source profile (docs, tokens, language share, "
    "quality-gate pass count, short-doc count) in ONE scan+groupBy — every "
    "aggregate an exact integer (per-row quality doubles are deterministic, "
    "so threshold COUNTs are exact where a double AVG would be "
    "order-dependent); reuses the shared lang/quality SQL fragments",
)
def q_corpus_report(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    n_tok = TXT.whitespace_token_count("text")
    enriched = docs.select(
        "source",
        n_tok.alias("n_tok"),
        TXT.lang_id("text").alias("lang_pred"),
        TXT.quality_score("text").alias("quality"),
    )
    return enriched.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
        F.count(F.when(F.col("lang_pred") == "en", 1)).alias("n_en"),
        F.count(F.when(F.col("quality") >= 0.5, 1)).alias("n_high_quality"),
        F.count(F.when(F.col("n_tok") < 50, 1)).alias("n_short"),
    )


# ----- hashed linear quality classifier ------------------------------

from dask_datapipeline_spark.operators.classifier import (  # noqa: E402
    hashed_linear_score,
    hashed_linear_score_sql,
)


@register_extra(
    "quality_classifier",
    hashed_linear_score_sql(seed="qw", scale=1000),
    "fastText-style hashed linear classifier (operators/classifier.py): "
    "per-token integer weights from the shared md5 hash family, exact "
    "BIGINT margin accumulation, one correctly-rounded division — a pure "
    "map over the corpus scan with ZERO shuffles",
)
def q_quality_classifier(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return hashed_linear_score(docs, "doc_id", "text", seed="qw", scale=1000)


# ----- per-document n-gram novelty -----------------------------------

_SQL_NOVELTY = (
    "WITH "
    + _SQL_SHINGLES_HASHED
    + """,
dfreq AS (SELECT h, COUNT(*) AS df FROM shh0 GROUP BY h),
per AS (
  SELECT s.doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_copied
  FROM shh0 s JOIN dfreq d ON s.h = d.h GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, n_copied,
       CAST(n_copied AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS copied_frac
FROM per
"""
)


@register_extra(
    "ngram_novelty",
    _SQL_NOVELTY,
    "Per-document copied-n-gram fraction (operators/dedup.py::ngram_novelty): "
    "distinct shingle hashes with corpus document-frequency >= 2, over the "
    "UNCAPPED shingle universe (df here is row-preserving, never a join "
    "fan-out) — the cheap memorization/boilerplate risk signal",
)
def q_ngram_novelty(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return DD.ngram_novelty(docs, "doc_id", "text", shingle_n=3)


# ----- token-balanced training shards --------------------------------

_SHARD_TOKENS = 2000

#: the shard-assignment replay CTEs, shared by the training_shards
#: oracle AND the WDS export oracle — ONE fragment so the two cannot
#: drift (the hll_sql_parts discipline; these were two retyped copies
#: until the round-10 review)
_SQL_SHARD_ASSIGN_CTES = """
t AS (
  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(CONCAT('0x', SUBSTRING(md5('shard:' || doc_id), 1, 15)) AS BIGINT) AS h
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
c AS (
  -- n_tokens is the FINAL tie-break: a duplicated doc_id hashes to
  -- the same h, so (h, doc_id) alone is not a total order and the
  -- two engines may cumsum the tied rows in different orders. With
  -- n_tokens added, any remaining ties are between byte-identical
  -- rows, so the result multiset is engine-independent.
  -- CAST both outputs: DuckDB's windowed SUM(BIGINT) is HUGEINT, and a
  -- pandas fetch degrades HUGEINT to float64 (Spark emits int64), which
  -- hash-mismatches every row under a dtype-sensitive compare.
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id, n_tokens
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS stream_offset
  FROM t
)
"""

_SQL_TRAINING_SHARDS = f"""
WITH {_SQL_SHARD_ASSIGN_CTES.strip()}
SELECT doc_id, n_tokens, stream_offset,
       CAST(stream_offset // {_SHARD_TOKENS} AS BIGINT) AS shard_id
FROM c
"""


@register(
    "training_shards",
    _SQL_TRAINING_SHARDS,
    "Token-balanced training-shard assignment (operators/packing.py::"
    "shard_by_tokens): deterministic md5 global shuffle + TWO-PASS distributed "
    "prefix sum (bucket totals from the hash's top bits, then per-bucket "
    "windows) — no corpus-sized single-partition window anywhere; the oracle "
    "replays it as one plain window cumsum",
)
def q_training_shards(spark, sf_dir):
    from dask_datapipeline_spark.functions import text as _TXT
    from dask_datapipeline_spark.operators.packing import shard_by_tokens

    docs = load_testdata(spark, sf_dir, "documents")
    docs = docs.where(F.col("text").isNotNull()).select(
        "doc_id", _TXT.whitespace_token_count("text").alias("n_tok")
    )
    return shard_by_tokens(docs, "doc_id", "n_tok", shard_tokens=_SHARD_TOKENS)


_SQL_WDS_EXPORT = f"""
WITH {_SQL_SHARD_ASSIGN_CTES.strip()}
SELECT c.doc_id,
       CAST(c.stream_offset // {_SHARD_TOKENS} AS BIGINT) AS shard_id,
       d.text
FROM c JOIN (SELECT doc_id, text FROM documents
             WHERE text IS NOT NULL AND doc_id IS NOT NULL) d
  ON d.doc_id = c.doc_id
"""


@register_extra(
    "wds_export_pipeline",
    _SQL_WDS_EXPORT,
    "The training hand-off END-TO-END: token-balanced shard assignment "
    "(shard_by_tokens — the two-pass prefix sum) -> WebDataset tar packing "
    "keyed '{shard}/{doc}' (the path-key convention; packing groups on the "
    "shard id the assignment already computed, ONE shuffle for both) -> "
    "stream-parse back. The oracle replays only the ASSIGNMENT (one window "
    "cumsum) and joins the source text, so an exact match proves the whole "
    "tar leg transparent — the last stage of corpus production, closing "
    "crawl-in (WARC) to loader-out (WDS)",
)
def q_wds_export_pipeline(spark, sf_dir):
    from dask_datapipeline_spark.functions import text as _TXT
    from dask_datapipeline_spark.operators.packing import shard_by_tokens
    from dask_datapipeline_spark.sources.webdataset import (
        parse_wds,
        write_wds_shards,
    )

    # doc_id guard mirrors the oracle's join-side filter exactly:
    # shard_by_tokens drops NULL ids anyway, but the text join-back
    # must not resurrect a NULL-id row the assignment never saw
    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    sh = shard_by_tokens(
        docs.select("doc_id", _TXT.whitespace_token_count("text").alias("n_tok")),
        "doc_id",
        "n_tok",
        shard_tokens=_SHARD_TOKENS,
    )
    # key = '{shard}/{doc}' with NO padding: lpad TRUNCATES ids wider
    # than its length (lpad('1234567',6,'0') -> '123456'), which would
    # silently corrupt the mapping at 100 TB shard counts; each tar
    # holds ONE shard anyway, so padding buys no ordering
    staged = sh.join(docs.select("doc_id", "text"), "doc_id").select(
        "shard_id",
        F.concat(
            F.col("shard_id").cast("string"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("key"),
        "text",
    )
    members = parse_wds(write_wds_shards(staged, shard_col="shard_id")).where(
        F.col("ext") == "txt"
    )
    parts = F.split(F.col("key"), "/")
    return members.select(
        F.element_at(parts, 2).cast("long").alias("doc_id"),
        F.element_at(parts, 1).cast("long").alias("shard_id"),
        F.decode(F.col("content"), "utf-8").alias("text"),
    )


# ----- BPE tokenizer train + encode ----------------------------------


@register_extra(
    "bpe_tokens",
    None,  # iterative trainer (each merge depends on the last) — genuinely
    # non-SQL-expressible; correctness is pinned against a pure-Python
    # reference trainer in tests/test_bpe.py (fixed corpora, the real
    # testdata corpus, and hypothesis), so the gate records rows-only
    "Distributed BPE train (operators/bpe.py): Sennrich-style merges learned "
    "on the DISTINCT-WORD count table (Zipf: ~1e8 words vs ~1e13 tokens at "
    "100 TB) — per round one Arrow pass + one pair groupBy + a 1-row "
    "TakeOrdered; then per-doc token counts under the learned vocab "
    "(map-side, zero shuffles)",
)
def q_bpe_tokens(spark, sf_dir):
    from dask_datapipeline_spark.operators.bpe import bpe_token_count, train_bpe

    docs = load_testdata(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", num_merges=16)
    return bpe_token_count(docs, "doc_id", "text", merges)


@register_extra(
    "unigram_tokens",
    None,  # iterative EM trainer — genuinely non-SQL-expressible;
    # correctness is pinned against a pure-Python twin sharing the ONE
    # Viterbi symbolizer in tests/test_unigram.py (fixed corpora, real
    # testdata, hypothesis), so the gate records rows-only
    "SentencePiece-style unigram-LM train (operators/unigram.py, Kudo 2018 "
    "hard-EM): substring seed + Viterbi E-step + integer-exact M-step prune, "
    "all on the DISTINCT-WORD table (the BPE Zipf trick); then per-doc piece "
    "counts under the learned model (map-side, zero shuffles)",
)
def q_unigram_tokens(spark, sf_dir):
    from dask_datapipeline_spark.operators.unigram import (
        train_unigram,
        unigram_token_count,
    )

    docs = load_testdata(spark, sf_dir, "documents")
    model = train_unigram(docs, "text", vocab_size=96, num_iters=2, max_piece_len=6)
    return unigram_token_count(docs, "doc_id", "text", model, max_piece_len=6)


# ----- end-to-end training export ------------------------------------


def _corpus_export_sql() -> str:
    """corpus_clean's full cascade + classifier gate + token-balanced
    sharding, one composed recursive-CTE oracle. The classifier gate
    uses the INTEGER margin test (margin >= 0 ⇔ margin_raw >= 0 —
    the denominator is positive), so no division enters the cascade."""
    clean = _corpus_clean_sql()
    # reuse the whole clean query as a CTE chain by cutting after the
    # `canon` CTE (everything up to it is shared; the split SELECT is
    # re-derived below restricted to the train bucket)
    marker = "canon AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING MIN(label) = u)"
    pre, mid, _tail = clean.partition(marker)
    if not mid:
        raise AssertionError("corpus_clean SQL changed: canon CTE marker not found")
    head = pre + mid
    w = (
        "(CAST(CONCAT('0x', SUBSTRING(md5('qw:' || t), 1, 15)) AS BIGINT)"
        " % 2001) - 1000"
    )
    return (
        head
        + f""",
train_ids AS (
  SELECT doc_id FROM (SELECT doc_id, {_SQL_SPLIT_BUCKET} AS bucket FROM canon)
  WHERE bucket < 80
),
gated_src AS (
  SELECT k.doc_id, k.text FROM kept k JOIN train_ids t ON t.doc_id = k.doc_id
),
exp_toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk
  FROM gated_src WHERE text IS NOT NULL
),
exp_tw AS (SELECT doc_id, len(tk) AS n_tokens, unnest(tk) AS t FROM exp_toks),
exp_sc AS (
  SELECT doc_id, MAX(n_tokens) AS n_tokens,
         CAST(SUM({w}) AS BIGINT) AS margin_raw
  FROM exp_tw GROUP BY doc_id
),
exp_keep AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(CONCAT('0x', SUBSTRING(md5('shard:' || doc_id), 1, 15)) AS BIGINT) AS h
  FROM exp_sc WHERE margin_raw >= 0
),
exp_cum AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
           AS BIGINT) AS stream_offset
  FROM exp_keep
)
SELECT doc_id, n_tokens, stream_offset,
       CAST(stream_offset // {_SHARD_TOKENS} AS BIGINT) AS shard_id
FROM exp_cum
"""
    )


@register_extra(
    "corpus_export",
    _corpus_export_sql(),
    "THE training-export pipeline end-to-end, one composed query: the full "
    "corpus_clean cascade (quality gate → exact dedup → MinHash+LSH canonical "
    "survivors → split) → train split → hashed-linear classifier gate "
    "(integer margin test, no division) → token counts → token-balanced "
    "global sharding (two-pass prefix sum). The oracle replays every stage "
    "in SQL — proving the classifier and sharding operators compose exactly "
    "with the dedup cascade",
)
def q_corpus_export(spark, sf_dir):
    from dask_datapipeline_spark.operators.packing import shard_by_tokens

    kept, canon_split = _corpus_clean_split(spark, sf_dir)
    train_ids = canon_split.filter(F.col("split") == "train").select("doc_id")
    gated_src = kept.join(train_ids, on="doc_id", how="left_semi")
    scored = hashed_linear_score(gated_src, "doc_id", "text", seed="qw", scale=1000)
    kept2 = scored.filter(F.col("margin_raw") >= 0).select("doc_id", "n_tokens")
    return shard_by_tokens(kept2, "doc_id", "n_tokens", shard_tokens=_SHARD_TOKENS)


# ----- lead/lag event deltas -----------------------------------------

_SQL_LEAD_LAG = """
SELECT user_id, event_id, ts, value,
       value - lag(value)  OVER w AS delta_prev,
       lead(value) OVER w - value AS delta_next,
       CAST(date_diff('microsecond', lag(ts) OVER w, ts) AS BIGINT) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register_extra(
    "lead_lag_deltas",
    _SQL_LEAD_LAG,
    "LEAD/LAG window surface: per-user previous/next value deltas and "
    "inter-event gap (µs) under a (ts, event_id) total order — one "
    "entity-keyed shuffle; double SUBTRACTION of carried values is a single "
    "correctly-rounded IEEE op, so deltas are bit-exact cross-engine",
)
def q_lead_lag_deltas(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("long") * 1_000_000
        + F.date_format("ts", "SSSSSS").cast("long")
        - (
            F.lag("ts").over(w).cast("long") * 1_000_000
            + F.date_format(F.lag("ts").over(w), "SSSSSS").cast("long")
        )
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        (F.lead("value").over(w) - F.col("value")).alias("delta_next"),
        gap.alias("gap_us"),
    )


# ----- full-outer join + char-entropy quality ------------------------


@register_extra(
    "join_full",
    """
SELECT c.c_custkey, c.c_name,
       COALESCE(c.c_nationkey, n.n_nationkey) AS n_nationkey, n.n_name
FROM (SELECT * FROM customer WHERE c_custkey % 3 = 0) c
FULL OUTER JOIN (SELECT * FROM nation WHERE n_nationkey % 2 = 0) n
  ON c.c_nationkey = n.n_nationkey
""",
    "O4 generalized: FULL OUTER join (both sides filtered so both null "
    "fringes are non-empty) — completes the join-type surface. Spark's "
    "on=<name> join COALESCES the key (USING semantics), replayed as an "
    "explicit COALESCE in the oracle",
)
def q_join_full(spark, sf_dir):
    from dask_datapipeline_spark.operators.joins import equi_join

    c = (
        load_testdata(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .withColumnRenamed("c_nationkey", "n_nationkey")
    )
    n = load_testdata(spark, sf_dir, "nation").where(F.col("n_nationkey") % 2 == 0)
    j = equi_join(c, n, on="n_nationkey", how="full")
    return j.select("c_custkey", "c_name", "n_nationkey", "n_name")


@register_extra(
    "char_entropy",
    """
WITH ch AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS c,
         len(lower(text)) AS n
  FROM documents WHERE text IS NOT NULL AND len(text) > 0
),
freq AS (
  SELECT doc_id, MAX(n) AS n, c, COUNT(*) AS k FROM ch WHERE c <> '' GROUP BY doc_id, c
),
terms AS (
  SELECT doc_id, n, CAST(round(
           -(CAST(k AS DOUBLE) / n) * ln(CAST(k AS DOUBLE) / n) / ln(2.0), 9)
         AS DECIMAL(19,9)) AS term
  FROM freq
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(SUM(term) AS DOUBLE) AS entropy_bits
FROM terms GROUP BY doc_id, n
""",
    "Per-document character entropy (bits/char distribution): the cheap "
    "gibberish/compression-ratio quality signal. Each per-char term is "
    "rounded to 9 dp and cast to DECIMAL(19,9) BEFORE summing (the "
    "lm_perplexity pattern) — ln drift is absorbed by the round and the "
    "accumulation is exact, so the sum is order-independent under any "
    "partitioning, not just usually-equal",
)
def q_char_entropy(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    base = docs.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "")).alias("c"),
        F.length(F.lower(F.col("text"))).alias("n"),
    )
    freq = (
        base.where(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("k"))
    )
    p = F.col("k").cast("double") / F.col("n")
    term = F.round(-p * F.log(p) / F.log(F.lit(2.0)), 9).cast("decimal(19,9)")
    return (
        freq.groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum(term).cast("double").alias("entropy_bits"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            F.col("n_distinct_chars").cast("long").alias("n_distinct_chars"),
            "entropy_bits",
        )
    )


@register_extra(
    "filter_like",
    """
SELECT doc_id, source, lang FROM documents
WHERE text IS NOT NULL
  AND lower(text) LIKE '%the %'
  AND source NOT LIKE 'src1%'
  AND regexp_matches(text, '(scan|merge) (slow|fast)')
""",
    "LIKE / NOT LIKE / regexp predicate surface (completing §2.1's predicate "
    "checklist next to IN/BETWEEN/compound): Java-regex-and-RE2 common-subset "
    "pattern, NULL text gated explicitly on both engines",
)
def q_filter_like(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").isNotNull()
        & F.lower(F.col("text")).like("%the %")
        & ~F.col("source").like("src1%")
        & F.col("text").rlike("(scan|merge) (slow|fast)")
    ).select("doc_id", "source", "lang")


# ----- asymmetric containment (excerpt detection) --------------------

_SQL_CONTAINMENT = (
    "WITH "
    + _SQL_SHINGLES_HASHED
    + """,
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.i AS n_shared,
       CAST(i.i AS DOUBLE) / na.n AS containment_a_in_b,
       CAST(i.i AS DOUBLE) / nb.n AS containment_b_in_a
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE CAST(i.i AS DOUBLE) / na.n >= 0.8 OR CAST(i.i AS DOUBLE) / nb.n >= 0.8
"""
)


@register_extra(
    "containment_pairs",
    _SQL_CONTAINMENT,
    "ASYMMETRIC shingle containment |A∩B|/|A| (both directions, keep pairs "
    "where either >= 0.8): detects excerpts/quotes — a short doc contained in "
    "a long one has high containment but LOW Jaccard, so symmetric near-dup "
    "misses it. Same df-capped 8-byte-hash self-join universe as the Jaccard "
    "family (per-key fan-out bounded at df²); exact integer counts, "
    "correctly-rounded divisions",
)
def q_containment_pairs(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    sh = DD.cap_document_frequency(
        DD.hashed_shingles(docs, "doc_id", "text", 3).distinct(), _MAX_DF
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "__h")
    b = sh.select(F.col("doc_id").alias("id_b"), "__h")
    inter = (
        a.join(b, on="__h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("__na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("__nb"))
    ca = F.col("n_shared").cast("double") / F.col("__na")
    cb = F.col("n_shared").cast("double") / F.col("__nb")
    return (
        inter.join(na, on="id_a")
        .join(nb, on="id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            ca.alias("containment_a_in_b"),
            cb.alias("containment_b_in_a"),
        )
        .where(
            (F.col("containment_a_in_b") >= 0.8)
            | (F.col("containment_b_in_a") >= 0.8)
        )
    )


# ----- per-label embedding centroids ---------------------------------

_SQL_CENTROIDS = """
WITH idx AS (
  SELECT label, embedding AS e,
         unnest(generate_series(1, len(embedding))) AS i
  FROM embeddings
),
v AS (
  SELECT label, i - 1 AS dim,
         CAST(round(CAST(e[i] AS DOUBLE), 9) AS DECIMAL(19,9)) AS val
  FROM idx
)
SELECT label, CAST(dim AS INTEGER) AS dim, COUNT(*) AS n_vecs,
       CAST(SUM(val) AS DOUBLE) / COUNT(*) AS centroid_val
FROM v GROUP BY label, dim
"""


@register_extra(
    "label_centroids",
    _SQL_CENTROIDS,
    "Per-label embedding centroids in LONG form (label, dim): each float is "
    "exactly widened to double, rounded 9 dp, and summed as DECIMAL(19,9) — "
    "the order-independent accumulation rule — so class centroids are "
    "bit-stable under any partitioning (a naive per-dim double sum is not); "
    "one (label, dim)-keyed shuffle, map-side partials",
)
def q_label_centroids(spark, sf_dir):
    emb = load_testdata(spark, sf_dir, "embeddings")
    v = emb.select(
        "label", F.posexplode("embedding").alias("dim", "__val")
    ).select(
        "label",
        "dim",
        F.round(F.col("__val").cast("double"), 9).cast("decimal(19,9)").alias("__d"),
    )
    return v.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("__d").cast("double") / F.count(F.lit(1))).alias("centroid_val"),
    )


# ----- RAG-style overlapping chunking --------------------------------

_CHUNK_W, _CHUNK_STRIDE = 30, 20

_SQL_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, tk, unnest(generate_series(1, len(tk), {_CHUNK_STRIDE})) AS st
  FROM t
)
SELECT doc_id,
       (st - 1) // {_CHUNK_STRIDE} AS chunk_id,
       array_to_string(tk[st:st + {_CHUNK_W - 1}], ' ') AS chunk_text,
       CAST(least({_CHUNK_W}, len(tk) - st + 1) AS BIGINT) AS n_tokens
FROM s
"""


@register_extra(
    "doc_chunks",
    _SQL_CHUNKS,
    f"RAG-style overlapping chunking: {_CHUNK_W}-token windows at stride "
    f"{_CHUNK_STRIDE} (10-token overlap) as PURE array exprs — sequence + "
    "slice + concat_ws per row, zero Python, zero shuffles before the "
    "explode; the embed-and-index step downstream consumes (doc_id, "
    "chunk_id) keyed rows",
)
def q_doc_chunks(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        toks.alias("__tk"),
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(_CHUNK_STRIDE))
        ).alias("__st"),
    )
    chunk = F.slice(F.col("__tk"), F.col("__st"), _CHUNK_W)
    return base.select(
        "doc_id",
        F.expr(f"(__st - 1) DIV {_CHUNK_STRIDE}").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


# ----- rank-function family ------------------------------------------

_SQL_RANKS = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist()    OVER w AS cdist,
       ntile(4)       OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


@register_extra(
    "rank_functions",
    _SQL_RANKS,
    "The remaining rank-function surface in one pass: rank, dense_rank, "
    "percent_rank, cume_dist, ntile(4) per order-priority partition under a "
    "unique-key total order (price desc, key asc — the tiebreak rule); "
    "percent_rank/cume_dist are exact integer-ratio divisions, ntile is "
    "deterministic given the total order; one keyed shuffle",
)
def q_rank_functions(spark, sf_dir):
    from pyspark.sql.window import Window

    o = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register_extra(
    "ordered_collect",
    """
SELECT user_id,
       CAST(len(list(event_type ORDER BY ts, event_id)) AS BIGINT) AS n_events,
       array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
FROM events WHERE user_id % 25 = 0
GROUP BY user_id
""",
    "Ordered array aggregation (per-user event-type path in (ts, id) order): "
    "Spark's collect_list is arrival-ordered, so the deterministic spelling "
    "is array_sort over (ts, id, value) structs then transform-project — "
    "replayed as DuckDB's list(... ORDER BY); the '>'-joined path string "
    "makes ordering drift impossible to miss",
)
def q_ordered_collect(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").where(F.col("user_id") % 25 == 0)
    sorted_events = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    path_arr = F.transform(sorted_events, lambda s: s.getField("event_type"))
    return ev.groupBy("user_id").agg(
        F.size(path_arr).cast("long").alias("n_events"),
        F.array_join(path_arr, ">").alias("path"),
    )


# ----- fixed-width value histogram -----------------------------------

_HIST_LO, _HIST_W, _HIST_NB = 0, 500, 40  # cents: [0, 5.00) buckets

_SQL_VALUE_HIST = f"""
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cc
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT event_type,
         least(greatest((cc - {_HIST_LO}) // {_HIST_W}, 0), {_HIST_NB - 1}) AS bucket
  FROM c
)
SELECT event_type, bucket, COUNT(*) AS n
FROM b GROUP BY event_type, bucket
"""


@register_extra(
    "value_histogram",
    _SQL_VALUE_HIST,
    "Fixed-width histogram of event values per type (40 × 5.00-wide buckets, "
    "clamped tails): bucketing on exact integer cents with integer floor-div "
    "— bucket boundaries cannot drift between engines the way a double "
    "width_bucket can; one groupBy emitting at most types × 40 rows",
)
def q_value_histogram(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cc = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.select("event_type", cc.alias("__cc"))
        .select(
            "event_type",
            F.least(
                F.greatest(
                    F.expr(f"(__cc - {_HIST_LO}) DIV {_HIST_W}"), F.lit(0).cast("long")
                ),
                F.lit(_HIST_NB - 1).cast("long"),
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ----- blocked edit-distance fuzzy matching --------------------------

_SQL_FUZZY = """
WITH n AS (
  SELECT c_custkey, c_name,
         substring(c_name, 1, length(c_name) - 2) AS blk
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM n a JOIN n b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


@register_extra(
    "fuzzy_name_pairs",
    _SQL_FUZZY,
    "Blocked edit-distance matching (entity-resolution shape): self-join "
    "ONLY within a deterministic blocking key (name prefix), then exact "
    "Levenshtein <= 2 verify — the block bounds the pair fan-out the way "
    "df-caps bound the shingle joins; unit-cost Levenshtein is an integer, "
    "identical on both engines",
)
def q_fuzzy_name_pairs(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    n = c.select(
        "c_custkey",
        "c_name",
        F.expr("substring(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = n.select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"), "blk"
    )
    b = n.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"), "blk"
    )
    return (
        a.join(b, on="blk")
        .where(F.col("key_a") < F.col("key_b"))
        .where(F.levenshtein("name_a", "name_b") <= 2)
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
    )


# ----- TPC-H Q5-style six-table join ---------------------------------

_SQL_Q5ISH = """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n    ON c.c_nationkey = n.n_nationkey
JOIN region r    ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register_extra(
    "sql_q5ish",
    _SQL_Q5ISH,
    "TPC-H Q5 shape through the spark.sql entry point: six-table join "
    "(customer⋈orders⋈lineitem⋈supplier⋈nation⋈region) with the local-"
    "supplier nation condition and a region filter — Catalyst orders the "
    "joins and broadcasts the dimensions; revenue accumulates as exact "
    "DECIMAL and casts to double once",
)
def q_sql_q5ish(spark, sf_dir):
    for t in ["customer", "orders", "lineitem", "supplier", "nation", "region"]:
        load_testdata(spark, sf_dir, t).createOrReplaceTempView(f"__q5_{t}")
    return spark.sql(
        _SQL_Q5ISH.replace("FROM customer c", "FROM __q5_customer c")
        .replace("JOIN orders o", "JOIN __q5_orders o")
        .replace("JOIN lineitem l", "JOIN __q5_lineitem l")
        .replace("JOIN supplier s", "JOIN __q5_supplier s")
        .replace("JOIN nation n", "JOIN __q5_nation n")
        .replace("JOIN region r", "JOIN __q5_region r")
    )


# ----- k-anonymity check ---------------------------------------------

_SQL_K_ANON = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, group_size,
       group_size < 5 AS below_k
FROM g
"""


@register_extra(
    "k_anonymity",
    _SQL_K_ANON,
    "k-anonymity audit over quasi-identifiers (nation × market segment): "
    "equivalence-class sizes with a k=5 risk flag — the release-gate check "
    "run before publishing any user-derived table; one groupBy, exact "
    "integer counts",
)
def q_k_anonymity(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") < 5).alias("below_k"),
        )
    )


# ----- classifier margin deciles (calibration readout) ---------------

_SQL_MARGIN_DECILES = (
    """
WITH d AS (
  SELECT doc_id, n_tokens, margin_raw,
         ntile(10) OVER (ORDER BY margin_raw, doc_id) AS decile
  FROM ("""
    + hashed_linear_score_sql(seed="qw", scale=1000)
    + """) sc
)
SELECT decile, COUNT(*) AS n_docs,
       CAST(SUM(margin_raw) AS BIGINT) AS sum_margin_raw,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       COUNT(CASE WHEN margin_raw >= 0 THEN 1 END) AS n_keep
FROM d GROUP BY decile
"""
)


@register_extra(
    "margin_deciles",
    _SQL_MARGIN_DECILES,
    "Classifier calibration readout: documents ranked into margin deciles "
    "(ntile over the (margin_raw, doc_id) total order — margin_raw orders "
    "identically to margin and stays integer) via the two-pass prefix-sum "
    "(operators/ranks.py::global_ntile, ~110 margin-range buckets of "
    "DIV 256 — truncating integer division is monotone, so the bucket is a "
    "prefix of the order and no corpus-sized window exists); per-decile "
    "doc/keep counts and EXACT integer margin/token sums — no double "
    "aggregate anywhere",
)
def q_margin_deciles(spark, sf_dir):
    from dask_datapipeline_spark.operators.ranks import global_ntile

    docs = load_testdata(spark, sf_dir, "documents")
    sc = hashed_linear_score(docs, "doc_id", "text", seed="qw", scale=1000)
    d = global_ntile(
        sc.select("doc_id", "n_tokens", "margin_raw"),
        ["margin_raw", "doc_id"],
        F.expr("margin_raw DIV 256"),
        10,
        tile_col="decile",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("margin_raw").alias("sum_margin_raw"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.count(F.when(F.col("margin_raw") >= 0, 1)).alias("n_keep"),
    )


# ----- data-quality rule report --------------------------------------

_SQL_DQ_REPORT = """
WITH nulls AS (
  SELECT 'documents.lang_null' AS rule, COUNT(*) AS n_checked,
         COUNT(CASE WHEN lang IS NULL THEN 1 END) AS n_violations
  FROM documents
),
ranges AS (
  SELECT 'lineitem.l_discount_range' AS rule, COUNT(*) AS n_checked,
         COUNT(CASE WHEN CAST(l_discount AS DOUBLE) < 0
                      OR CAST(l_discount AS DOUBLE) > 0.5 THEN 1 END) AS n_violations
  FROM lineitem
),
qty AS (
  SELECT 'lineitem.l_quantity_positive' AS rule, COUNT(*) AS n_checked,
         COUNT(CASE WHEN CAST(l_quantity AS DOUBLE) <= 0 THEN 1 END) AS n_violations
  FROM lineitem
),
fk AS (
  SELECT 'orders.o_custkey_fk' AS rule,
         (SELECT COUNT(*) FROM orders) AS n_checked,
         (SELECT COUNT(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)) AS n_violations
)
SELECT rule, n_checked, CAST(n_violations AS BIGINT) AS n_violations,
       n_violations = 0 AS passed
FROM (SELECT * FROM nulls UNION ALL SELECT * FROM ranges
      UNION ALL SELECT * FROM qty UNION ALL SELECT * FROM fk)
"""


@register_extra(
    "dq_report",
    _SQL_DQ_REPORT,
    "Data-quality rule report in one pass per table: null-rate, value-range, "
    "positivity, and referential-integrity (anti-join) rules with exact "
    "violation counts and a pass flag — the expectation-suite shape "
    "(Deequ/Great-Expectations) as plain aggregates; FK check is a "
    "broadcast anti-join count, never a row-by-row lookup",
)
def q_dq_report(spark, sf_dir):
    o = load_testdata(spark, sf_dir, "orders")
    li = load_testdata(spark, sf_dir, "lineitem")
    c = load_testdata(spark, sf_dir, "customer")
    d = load_testdata(spark, sf_dir, "documents")
    nulls = d.agg(
        F.lit("documents.lang_null").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("lang").isNull(), 1)).alias("n_violations"),
    )
    disc = F.col("l_discount").cast("double")
    ranges = li.agg(
        F.lit("lineitem.l_discount_range").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when((disc < 0) | (disc > 0.5), 1)).alias("n_violations"),
    )
    qty = li.agg(
        F.lit("lineitem.l_quantity_positive").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("l_quantity").cast("double") <= 0, 1)).alias(
            "n_violations"
        ),
    )
    # checked and orphan counts in ONE left-join aggregation (a
    # crossJoin of two 1-row aggs would plan as a Cartesian shape and
    # trip the plan guard, even at 1x1)
    fk = (
        o.select("o_custkey")
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"))
                .distinct()
                .withColumn("__hit", F.lit(1))
            ),
            on="o_custkey",
            how="left",
        )
        .agg(
            F.lit("orders.o_custkey_fk").alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(F.col("__hit").isNull(), 1)).alias("n_violations"),
        )
    )
    rep = nulls.unionByName(ranges).unionByName(qty).unionByName(fk)
    return rep.select(
        "rule", "n_checked", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


# ----- dup-cluster size distribution ---------------------------------

_SQL_CLUSTER_SIZES = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES_HASHED
    + ","
    + _SQL_SIG
    + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS}))
,"""
    + _sql_jaccard_verify(
        extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b",
        as_pairs_cte=True,
    )
    + """,
e AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(u, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.u, r.label FROM e JOIN reach r ON r.u = e.v
),
cl AS (SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u),
csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY cluster_id)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM csizes GROUP BY cluster_size
"""
)


@register_extra(
    "dup_cluster_sizes",
    _SQL_CLUSTER_SIZES,
    "Duplication profile of the corpus: the dup_clusters cascade reduced to "
    "its cluster-SIZE distribution (how many singletons / pairs / k-clusters, "
    "and the doc mass in each) — the number a dedup report actually leads "
    "with; composes the full clustering oracle, output bounded by distinct "
    "sizes",
)
def q_dup_cluster_sizes(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    clusters = DD.dup_clusters(pairs, docs)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


# ----- cleaning-funnel attrition report ------------------------------


def _clean_funnel_sql() -> str:
    """Stage-by-stage doc/token attrition through the corpus_clean
    cascade — reuses the clean oracle's CTE chain up to `canon`."""
    clean = _corpus_clean_sql()
    marker = "canon AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING MIN(label) = u)"
    pre, mid, _tail = clean.partition(marker)
    if not mid:
        raise AssertionError("corpus_clean SQL changed: canon CTE marker not found")
    ntok = "CAST(len(string_split(lower(text), ' ')) AS BIGINT)"
    return (
        pre
        + mid
        + f""",
s0 AS (SELECT 0 AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs,
              CAST(SUM({ntok}) AS BIGINT) AS n_tokens
       FROM documents WHERE text IS NOT NULL),
s1 AS (SELECT 1, 'quality_kept', COUNT(*), CAST(SUM({ntok}) AS BIGINT)
       FROM kept1),
s2 AS (SELECT 2, 'exact_deduped', COUNT(*), CAST(SUM({ntok}) AS BIGINT)
       FROM kept),
s3 AS (SELECT 3, 'canonical', COUNT(*), CAST(SUM({ntok}) AS BIGINT)
       FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
SELECT * FROM s0 UNION ALL SELECT * FROM s1
UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
"""
    )


@register_extra(
    "clean_funnel",
    _clean_funnel_sql(),
    "Cleaning-funnel attrition report: doc and token counts at each stage of "
    "the corpus_clean cascade (raw → quality gate → exact dedup → near-dup "
    "canonical) — the before/after table every dedup writeup leads with; "
    "token counts are exact integer sums, the oracle re-runs the whole "
    "cascade",
)
def q_clean_funnel(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    kept, canon_split = _corpus_clean_split(spark, sf_dir)
    ntok = TXT.whitespace_token_count("text").cast("long")

    def stage(df, no, name):
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).alias("n_tokens"),
        )

    s0 = stage(docs.where(F.col("text").isNotNull()), 0, "raw")
    # kept1 (quality-gated) is internal to the helper; recompute its
    # membership from the same predicate so the stages stay aligned
    quality_kept = docs.where(
        F.col("text").isNotNull() & (TXT.quality_score("text") >= 0.5)
    )
    s1 = stage(quality_kept, 1, "quality_kept")
    s2 = stage(kept, 2, "exact_deduped")
    s3 = stage(
        kept.join(canon_split.select("doc_id"), on="doc_id", how="left_semi"),
        3,
        "canonical",
    )
    return s0.unionByName(s1).unionByName(s2).unionByName(s3)


# ----- source-mix rebalance rates ------------------------------------

#: target token share per source bucket (md5-free: source string) —
#: uniform target across the 20 synthetic sources
_MIX_TARGET_PCT = 5  # percent, exact integer

_SQL_MIX_REBALANCE = f"""
WITH t AS (
  SELECT source, CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS toks
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM t)
SELECT t.source, t.toks AS n_tokens,
       CAST(t.toks AS DOUBLE) / tot.total AS actual_share,
       {_MIX_TARGET_PCT} / 100.0 AS target_share,
       least(CAST({_MIX_TARGET_PCT} AS DOUBLE) * tot.total
               / (100.0 * t.toks), 1.0) AS keep_rate,
       100 * t.toks > {_MIX_TARGET_PCT} * tot.total AS downsample
FROM t, tot
"""


@register_extra(
    "mix_rebalance",
    _SQL_MIX_REBALANCE,
    "Source-mix rebalance plan: per-source token share vs a uniform target "
    "and the keep-rate that hits it (capped at 1 — upsampling is epoch_mix's "
    "job) — the planning step before deterministic sampling; shares and "
    "rates derive from exact integer token sums, and the downsample flag is "
    "an INTEGER cross-multiplication (100·toks > pct·total), no float at "
    "the decision",
)
def q_mix_rebalance(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    t = (
        docs.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.sum(TXT.whitespace_token_count("text").cast("long")).alias("n_tokens"))
    )
    tot = t.agg(F.sum("n_tokens").alias("__total"))
    # data-derived constant equi-key: a bare cross/literal-key join
    # degrades to BroadcastNestedLoopJoin (the plan guard forbids it);
    # id*0 keeps a BroadcastHashJoin
    joined = t.withColumn("__one", F.col("n_tokens") * F.lit(0)).join(
        F.broadcast(tot.withColumn("__one", F.col("__total") * F.lit(0))),
        on="__one",
    )
    pct = _MIX_TARGET_PCT
    return joined.select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("__total")).alias("actual_share"),
        (F.lit(pct) / F.lit(100.0)).alias("target_share"),
        F.least(
            F.lit(float(pct)) * F.col("__total") / (F.lit(100.0) * F.col("n_tokens")),
            F.lit(1.0),
        ).alias("keep_rate"),
        (100 * F.col("n_tokens") > pct * F.col("__total")).alias("downsample"),
    )


# ----- keep-best near-dup survivor policy ----------------------------


def _keep_best_sql() -> str:
    """Compose the full clustering oracle with the shared quality
    mirror: argmax-by-(quality DESC NULLS LAST, doc_id) per cluster.
    NULLS LAST is spelled explicitly — Spark's DESC default happens to
    match, but DuckDB's default_null_order is configurable."""
    from dask_datapipeline_spark.plans.catalog import CATALOG

    ctes, _lang, quality = _lang_ctes_and_exprs()
    return f"""
SELECT c.doc_id, c.cluster_id, q.quality,
       (row_number() OVER (PARTITION BY c.cluster_id
          ORDER BY q.quality DESC NULLS LAST, c.doc_id) = 1) AS keep
FROM ({CATALOG["dup_clusters"].oracle}) c
JOIN (WITH {ctes} SELECT doc_id, {quality} AS quality FROM scored) q
  ON q.doc_id = c.doc_id
"""


@register_extra(
    "keep_best_dedup",
    None,  # resolved below once dup_clusters' oracle exists
    "Keep-best survivor policy over near-dup clusters: instead of the min-id "
    "canonical, each cluster keeps its HIGHEST-quality member (ties to the "
    "smallest id) — the RefinedWeb/FineWeb-style policy that stops near-dup "
    "removal from systematically deleting the good copy. One id-keyed join "
    "plus one window over bounded cluster partitions on top of the clustering "
    "cascade; oracle composes the full recursive-CTE clustering replay with "
    "the shared quality mirror",
)
def q_keep_best_dedup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    pairs = DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    clusters = DD.dup_clusters(pairs, docs)
    scores = docs.select("doc_id", TXT.quality_score("text").alias("quality"))
    return DD.keep_best(clusters, scores)


def _resolve_keep_best_oracle() -> None:
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG, QueryDef

    qd = EXTRA_CATALOG["keep_best_dedup"]
    EXTRA_CATALOG["keep_best_dedup"] = QueryDef(
        fn=qd.fn, oracle=_keep_best_sql(), description=qd.description
    )


_resolve_keep_best_oracle()


# ----- inverted index (capped posting lists) -------------------------

_IDX_MIN_DF = 4  # drop hapax-ish terms: bounded, report-sized output
_IDX_POSTINGS_CAP = 16  # stored postings per term (df stays exact/full)

_SQL_INVERTED_INDEX = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.token
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents WHERE text IS NOT NULL) t
  WHERE token <> ''
),
r AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM toks
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id)
                         FILTER (WHERE rn <= {_IDX_POSTINGS_CAP}), ',') AS postings
FROM r GROUP BY token HAVING COUNT(*) >= {_IDX_MIN_DF}
"""


@register_extra(
    "inverted_index",
    _SQL_INVERTED_INDEX,
    "Inverted-index build: term -> exact document frequency + posting list "
    "capped at the first 16 doc_ids. Per-doc dedup is array_distinct INSIDE "
    "the row (no (doc,term) distinct shuffle); the only exchange is the "
    "term-keyed window that caps postings, so a stopword's million-doc "
    "posting list can never materialize — df stays exact via count over the "
    "same partitioning. Postings render as a joined string so ordering "
    "drift is impossible to miss",
)
def q_inverted_index(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = load_testdata(spark, sf_dir, "documents")
    toks = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("token"),
        )
        .where(F.col("token") != "")
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    r = toks.withColumn("__rn", F.row_number().over(w))
    return (
        r.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(
                                F.col("__rn") <= _IDX_POSTINGS_CAP, F.col("doc_id")
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )


# ----- correlated scalar-aggregate subquery (TPC-H Q17 shape) --------

_SQL_Q17ISH = """
SELECT p.p_brand,
       COUNT(*) AS n_small,
       CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
            / 700.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey)
GROUP BY p.p_brand
"""


@register_extra(
    "sql_q17ish",
    _SQL_Q17ISH,
    "Correlated SCALAR-AGGREGATE subquery (TPC-H Q17 shape) through the SQL "
    "entry point: per lineitem, compare quantity against 0.2x the part's "
    "average — Catalyst decorrelates the per-row subquery into one "
    "aggregate-then-join (the plan shows a single Aggregate on l_partkey "
    "feeding a join, not a subquery per row), which is what makes the shape "
    "viable at 100 TB. Money sums via the exact-cents pattern; the avg "
    "threshold is bit-identical across engines (integral quantities sum "
    "exactly in double, then one IEEE divide and multiply)",
)
def q_sql_q17ish(spark, sf_dir):
    for t in ("lineitem", "part"):
        load_testdata(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_Q17ISH)


# ----- snapshot reconciliation (table diff) --------------------------

_SQL_TABLE_DIFF = """
WITH base AS (SELECT doc_id, text FROM documents),
rev0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN COALESCE(text, '') || ' [rev2]'
              ELSE text END AS text
  FROM base WHERE doc_id % 17 <> 3
),
adds AS (
  SELECT doc_id + 1000000 AS doc_id,
         'added ' || CAST(doc_id AS VARCHAR) AS text
  FROM base WHERE doc_id % 11 = 0
),
rev AS (SELECT * FROM rev0 UNION ALL SELECT * FROM adds)
SELECT COALESCE(b.doc_id, r.doc_id) AS doc_id,
       CASE WHEN b.doc_id IS NULL THEN 'added'
            WHEN r.doc_id IS NULL THEN 'removed'
            WHEN b.text IS NOT DISTINCT FROM r.text THEN 'unchanged'
            ELSE 'changed' END AS diff_status
FROM base b FULL OUTER JOIN rev r ON b.doc_id = r.doc_id
"""


@register_extra(
    "table_diff",
    _SQL_TABLE_DIFF,
    "Snapshot reconciliation (operators/merge.py::table_diff): full-outer "
    "key join of two corpus versions classifying every key added/removed/"
    "changed/unchanged via a null-safe codegen compare — the audit that a "
    "MERGE/CDC replication converged. The revised side is derived "
    "deterministically in-query (every-5th doc edited, every-17th deleted, "
    "every-11th re-added under a shifted key); one key-keyed shuffle, "
    "exchange-free when both snapshots are bucketed",
)
def q_table_diff(spark, sf_dir):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = load_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    rev0 = base.where(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    adds = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("added "), F.col("doc_id").cast("string")).alias("text"),
    )
    revised = rev0.unionByName(adds)
    return table_diff(base, revised, ["doc_id"], ["text"])


# ----- vocabulary growth (Heaps-law curve) ---------------------------

_VOCAB_BUCKET = 50  # FLOOR: docs per curve point at small corpora
_VOCAB_MAX_POINTS = 10_000  # CAP: curve points at ANY corpus size


def _vocab_bucket_width(max_doc_id: int) -> int:
    """Bucket width for the Heaps-law curve: at least ``_VOCAB_BUCKET``
    docs per point, and wide enough that the curve never exceeds
    ``_VOCAB_MAX_POINTS`` points — so the cumulative window's input
    (one row per bucket, a single partition by construction) stays
    BOUNDED as the corpus grows instead of linear in it. Exact
    integer ceil-division, replayed verbatim by the oracle SQL."""
    return max(
        _VOCAB_BUCKET,
        (int(max_doc_id) + _VOCAB_MAX_POINTS) // _VOCAB_MAX_POINTS,
    )


_SQL_VOCAB_GROWTH = f"""
WITH wparam AS (
  SELECT GREATEST({_VOCAB_BUCKET},
                  (MAX(doc_id) + {_VOCAB_MAX_POINTS}) // {_VOCAB_MAX_POINTS}) AS w
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
t2 AS (SELECT doc_id // (SELECT w FROM wparam) AS b, token
       FROM tok WHERE token <> ''),
per_b AS (SELECT b, COUNT(*) AS n_tokens FROM t2 GROUP BY b),
firsts AS (SELECT token, MIN(b) AS fb FROM t2 GROUP BY token),
nv AS (SELECT fb AS b, COUNT(*) AS n_new FROM firsts GROUP BY fb)
SELECT CAST(p.b AS BIGINT) AS bucket,
       CAST(SUM(p.n_tokens) OVER (ORDER BY p.b) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nv.n_new, 0)) OVER (ORDER BY p.b) AS BIGINT) AS cum_vocab
FROM per_b p LEFT JOIN nv ON nv.b = p.b
"""


@register_extra(
    "vocab_growth",
    _SQL_VOCAB_GROWTH,
    "Vocabulary-growth (Heaps-law) curve: cumulative token count vs "
    "cumulative DISTINCT-type count as the corpus grows in doc_id order, "
    "with the bucket width derived from corpus size (>=50 docs per point, "
    "<=10k points at ANY size — the cumulative window's input is bounded, "
    "not linear in the corpus). A type's first-appearance bucket is "
    "min(bucket) per token — one token-keyed groupBy, never a global "
    "distinct-so-far window; the only ordered window runs over the BUCKET "
    "table (<=10k rows, the bounded-prefix-sum pattern shard_by_tokens "
    "uses), so nothing corpus-sized ever concentrates. Both windowed sums "
    "cast to BIGINT against the DuckDB HUGEINT/float64 fetch trap",
)
def q_vocab_growth(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = load_testdata(spark, sf_dir, "documents")
    # bounded scalar collect (one MAX row) — the width parameter both
    # engines derive identically; see _vocab_bucket_width
    max_id = docs.agg(F.max("doc_id")).first()[0] or 0
    width = _vocab_bucket_width(max_id)
    t2 = (
        docs.where(F.col("text").isNotNull())
        .select(
            F.expr(f"doc_id DIV {width}").alias("b"),
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
        )
        .where(F.col("token") != "")
    )
    per_b = t2.groupBy("b").agg(F.count(F.lit(1)).alias("n_tokens"))
    nv = (
        t2.groupBy("token")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_b.join(nv, on="b", how="left")
        .select(
            F.col("b").cast("long").alias("bucket"),
            F.sum("n_tokens").over(w).alias("cum_tokens"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w).alias("cum_vocab"),
        )
    )


# ----- Z-order layout keys -------------------------------------------

_Z_BITS = 16


def _zorder_sql() -> str:
    a = "(user_id & 65535)"
    b = "((epoch_us(ts) // 60000000) & 65535)"
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    z = " + ".join(terms)
    return f"""
SELECT event_id,
       CAST({a} AS BIGINT) AS dim_user,
       CAST({b} AS BIGINT) AS dim_minute,
       CAST({z} AS BIGINT) AS zkey,
       CAST(({z}) >> 26 AS BIGINT) AS file_bucket
FROM events
"""


@register_extra(
    "zorder_layout",
    _zorder_sql(),
    "Z-order (Morton) layout keys (functions/numeric.py::zorder_key): "
    "user and minute-of-epoch dimensions bit-interleaved into one sort key, "
    "plus the 64-way file bucket its top bits induce — range-partition + "
    "sort by zkey at write time clusters rows close in BOTH dimensions "
    "into the same files, so parquet min/max footers prune filters on "
    "EITHER column (the multi-dimensional file skipping a linear sort "
    "can't give). Pure codegen bit arithmetic, zero shuffles in the key "
    "computation; the oracle replays the identical 32-term interleave",
)
def q_zorder_layout(spark, sf_dir):
    from dask_datapipeline_spark.functions.numeric import zorder_key

    ev = load_testdata(spark, sf_dir, "events")
    mask = (1 << _Z_BITS) - 1
    dim_user = F.col("user_id").bitwiseAND(F.lit(mask))
    dim_minute = F.expr("unix_micros(ts) DIV 60000000").bitwiseAND(F.lit(mask))
    z = zorder_key(F.col("user_id"), F.expr("unix_micros(ts) DIV 60000000"), _Z_BITS)
    return ev.select(
        "event_id",
        dim_user.cast("long").alias("dim_user"),
        dim_minute.cast("long").alias("dim_minute"),
        z.alias("zkey"),
        F.shiftright(z, 26).cast("long").alias("file_bucket"),
    )


# ----- bucketed (storage-partitioned) join ---------------------------

_BUCKETS = 16


@register(
    "bucketed_join",
    """
SELECT c.c_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
""",
    "Shuffle-free storage-partitioned join: customer and orders written as "
    "16-bucket tables on the customer key (sources/writers.py::write_parquet "
    "bucket_by + saveAsTable), then join + per-key agg — the bucketed scans "
    "report HashPartitioning(key, 16), so the planner inserts ZERO Exchange "
    "operators for the join OR the groupBy (tests/test_plan_shapes.py asserts "
    "an Exchange-free executed plan). At 100 TB pre-bucketed layout is the "
    "single biggest shuffle lever: a fact table bucketed at write time joins "
    "dimensions and re-aggregates on the bucket key for free, every run, "
    "amortizing one write-time shuffle over every downstream query. The "
    "merge hint pins sort-merge (a broadcast would hide the demonstration); "
    "the oracle is the plain logical join on the raw tables — bucketing must "
    "not change a single row",
)
def q_bucketed_join(spark, sf_dir):
    import hashlib as _hl
    import os
    import tempfile

    from dask_datapipeline_spark.sources.writers import write_parquet

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_bucketed_{tag}")
    cust = load_testdata(spark, sf_dir, "customer").select("c_custkey")
    orders = load_testdata(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    for tname, df, key in (
        (f"bk_customer_{tag}", cust, "c_custkey"),
        (f"bk_orders_{tag}", orders, "o_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        # repartition to one file per bucket: same murmur3 hash as the
        # bucket assignment, so each output task holds exactly one
        # bucket and the per-bucket sortBy metadata stays usable
        write_parquet(
            df.repartition(_BUCKETS, F.col(key)),
            os.path.join(base, tname),
            bucket_by=(_BUCKETS, [key]),
            table_name=tname,
        )
    c = spark.table(f"bk_customer_{tag}")
    o = spark.table(f"bk_orders_{tag}")
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ----- join-key skew diagnostics -------------------------------------


def _skew_sql_one(table: str, col: str, label: str) -> str:
    return f"""
SELECT '{label}' AS key, n_rows, n_keys, max_count, p50_count,
       CAST(max_count AS DOUBLE) / p50_count AS skew_ratio
FROM (
  WITH c0 AS (SELECT {col} AS k, COUNT(*) AS c FROM {table} GROUP BY 1),
  coc AS (SELECT c, COUNT(*) AS nk FROM c0 GROUP BY c),
  cum AS (SELECT c, nk, SUM(nk) OVER (ORDER BY c
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM coc),
  t AS (SELECT CAST(SUM(c * nk) AS BIGINT) AS n_rows,
               CAST(SUM(nk) AS BIGINT) AS n_keys,
               CAST(MAX(c) AS BIGINT) AS max_count FROM cum),
  m AS (SELECT CAST(MIN(c) AS BIGINT) AS p50_count
        FROM cum, t WHERE cm >= (n_keys + 1) // 2)
  SELECT * FROM t, m
)
"""


_SKEW_KEYS = [
    ("events", "user_id", "events.user_id"),
    ("lineitem", "l_partkey", "lineitem.l_partkey"),
    ("documents", "source", "documents.source"),
]

_SQL_SKEW_REPORT = " UNION ALL ".join(
    _skew_sql_one(t, c, lbl) for t, c, lbl in _SKEW_KEYS
)


@register_extra(
    "skew_report",
    _SQL_SKEW_REPORT,
    "Join-key skew diagnostics (operators/aggregates.py::key_skew_profile): "
    "per candidate key, row/key counts, hottest-key multiplicity, EXACT "
    "median multiplicity and the max/median ratio that picks plain hash "
    "join vs AQE skew split vs salting. The median is selected from the "
    "COUNT-OF-COUNTS degree histogram — bounded by distinct multiplicities, "
    "hundreds of rows at any corpus size — never an order statistic over "
    "the billion-row per-key count table; the report to run before "
    "shuffling 100 TB on a hoped-uniform key",
)
def q_skew_report(spark, sf_dir):
    from dask_datapipeline_spark.operators.aggregates import key_skew_profile

    out = None
    for table, col, label in _SKEW_KEYS:
        p = key_skew_profile(load_testdata(spark, sf_dir, table), col, label)
        out = p if out is None else out.unionByName(p)
    return out


# ----- VARIANT semi-structured path ----------------------------------


@register_extra(
    "variant_props_agg",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
    "Semi-structured props through Spark 4's VARIANT type: parse_json once "
    "into the binary variant encoding, then variant_get path access — the "
    "OPEN-schema twin of json_props_agg (from_json needs the schema pinned "
    "up front; variant defers typing to the access site, the right trade "
    "when a 100 TB event stream carries heterogeneous producer payloads). "
    "Same exact aggregates, so the two rows cross-check each other",
)
def q_variant_props_agg(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
        F.max(k).alias("max_k"),
    )


# ----- referentially-consistent (linked) sampling --------------------

_LINKED_PCT = 20  # keep 20% of USERS, then every event of a kept user


@register_extra(
    "linked_sample",
    f"""
WITH kept AS (
  SELECT DISTINCT user_id FROM events
  WHERE CAST(CONCAT('0x', SUBSTRING(md5('usr:' || CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 100 < {_LINKED_PCT}
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN kept k ON e.user_id = k.user_id
WHERE e.value IS NOT NULL
GROUP BY e.event_type
""",
    "Referentially-consistent sampling: the sampling UNIT is the user, not "
    "the row — an md5 keep-decision on user_id, then a semi-join keeps EVERY "
    "event of a kept user, so per-user sequences (sessions, funnels, "
    "attribution) stay intact in the sample where row-level sampling would "
    "shred them. Deterministic across runs/engines/cluster shapes (same md5 "
    "family as data_split); the keep-set never materializes driver-side — "
    "the decision is a codegen predicate, the join a broadcast/AQE choice",
)
def q_linked_sample(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    bucket = DD.seeded_hash64(F.col("user_id").cast("string"), "usr") % 100
    sampled = ev.where(bucket < _LINKED_PCT).where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(cents).alias("cents"),
    )


# ----- entity resolution (fuzzy pairs -> entity clusters) ------------

_SQL_ENTITY_RESOLUTION = """
WITH RECURSIVE n AS (
  SELECT c_custkey, c_name,
         substring(c_name, 1, length(c_name) - 2) AS blk
  FROM customer WHERE c_custkey % 5 = 0
),
pairs AS (
  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
  FROM n a JOIN n b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
e AS (SELECT key_a AS u, key_b AS v FROM pairs
      UNION SELECT key_b, key_a FROM pairs),
reach(u, label) AS (
  SELECT c_custkey, c_custkey FROM n
  UNION
  SELECT e.u, r.label FROM e JOIN reach r ON r.u = e.v
)
SELECT r.u AS c_custkey, n.c_name,
       MIN(r.label) AS entity_id,
       (MIN(r.label) = r.u) AS is_canonical
FROM reach r JOIN n ON n.c_custkey = r.u
GROUP BY r.u, n.c_name
"""


@register_extra(
    "entity_resolution",
    _SQL_ENTITY_RESOLUTION,
    "End-to-end entity resolution: blocked Levenshtein match pairs "
    "(fuzzy_name_pairs) closed into ENTITIES by the same min-label "
    "connected-components loop as dup_clusters — transitive matches "
    "(A~B~C with A never directly compared to C) land in one entity, "
    "which pairwise output alone cannot express; min-key canonical "
    "record per entity. One blocked self-join + edge-bounded label "
    "rounds; oracle replays the match + a recursive-CTE closure",
)
def q_entity_resolution(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    n = c.select(
        "c_custkey",
        "c_name",
        F.expr("substring(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = n.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("na"), "blk")
    b = n.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("nb"), "blk")
    pairs = (
        a.join(b, on="blk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.levenshtein("na", "nb") <= 2)
        .select("id_a", "id_b")
    )
    clusters = DD.dup_clusters(pairs, n.select("c_custkey"), id_col="c_custkey")
    return clusters.join(n.select("c_custkey", "c_name"), on="c_custkey").select(
        "c_custkey",
        "c_name",
        F.col("cluster_id").alias("entity_id"),
        F.col("is_canonical"),
    )


# ----- triangle counting (degree-ordered orientation) ----------------

_SQL_TRIANGLES = """
WITH p AS (
  SELECT a.c_custkey AS u, b.c_custkey AS v
  FROM (SELECT c_custkey, c_name,
               substring(c_name, 1, length(c_name) - 2) AS blk
        FROM customer WHERE c_custkey % 5 = 0) a
  JOIN (SELECT c_custkey, c_name,
               substring(c_name, 1, length(c_name) - 2) AS blk
        FROM customer WHERE c_custkey % 5 = 0) b
    ON a.blk = b.blk AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
deg AS (
  SELECT x, COUNT(*) AS d
  FROM (SELECT u AS x FROM p UNION ALL SELECT v FROM p)
  GROUP BY x
),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.u < p.v)
              THEN p.u ELSE p.v END AS s,
         CASE WHEN da.d < db.d OR (da.d = db.d AND p.u < p.v)
              THEN p.v ELSE p.u END AS t
  FROM p JOIN deg da ON da.x = p.u JOIN deg db ON db.x = p.v
),
tri AS (
  SELECT 't' AS tag, 1 AS val
  FROM (SELECT o1.s AS a, o1.t AS b, o2.t AS c
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t) w
  JOIN p ON p.u = least(w.b, w.c) AND p.v = greatest(w.b, w.c)
),
tagged AS (
  SELECT 'n' AS tag, 1 AS val FROM deg
  UNION ALL SELECT 'e', 1 FROM p
  UNION ALL SELECT 'w', CAST(d * (d - 1) // 2 AS INTEGER) FROM deg
  UNION ALL SELECT * FROM tri
)
SELECT CAST(SUM(CASE WHEN tag = 'n' THEN val END) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN tag = 'e' THEN val END) AS BIGINT) AS n_edges,
       CAST(SUM(CASE WHEN tag = 'w' THEN val END) AS BIGINT) AS n_wedges,
       CAST(COALESCE(SUM(CASE WHEN tag = 't' THEN val END), 0) AS BIGINT)
         AS n_triangles,
       CAST(3 * COALESCE(SUM(CASE WHEN tag = 't' THEN val END), 0) AS DOUBLE)
         / SUM(CASE WHEN tag = 'w' THEN val END) AS clustering
FROM tagged
"""


@register_extra(
    "triangle_count",
    _SQL_TRIANGLES,
    "Distributed triangle counting over the fuzzy-match graph with DEGREE-"
    "ORDERED orientation: each edge points low-degree -> high-degree (ties "
    "by id), so every triangle has exactly one wedge apex and the wedge "
    "join's fan-out is bounded by the ORIENTED out-degree (O(sqrt(m)) on "
    "any graph) — the standard fix for the hub-explosion a naive wedge "
    "join hits on power-law graphs at scale. Global clustering coefficient "
    "3T/W from exact integer counts; metrics union-tagged into ONE "
    "aggregate, so no single-row joins anywhere",
)
def q_triangle_count(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    n = c.select(
        "c_custkey",
        "c_name",
        F.expr("substring(c_name, 1, length(c_name) - 2)").alias("blk"),
    )
    a = n.select(F.col("c_custkey").alias("u"), F.col("c_name").alias("na"), "blk")
    b = n.select(F.col("c_custkey").alias("v"), F.col("c_name").alias("nb"), "blk")
    p = (
        a.join(b, on="blk")
        .where(F.col("u") < F.col("v"))
        .where(F.levenshtein("na", "nb") <= 2)
        .select("u", "v")
    )
    deg = (
        p.select(F.col("u").alias("x"))
        .unionByName(p.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    j = (
        p.join(deg.select(F.col("x").alias("u"), F.col("d").alias("da")), on="u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("db")), on="v")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("u") < F.col("v"))
    )
    o = j.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    o1 = o.select(F.col("s"), F.col("t").alias("b"))
    o2 = o.select(F.col("s"), F.col("t").alias("c"))
    wedges = o1.join(o2, on="s").where(F.col("b") < F.col("c"))
    closed = wedges.join(
        p,
        (F.col("u") == F.least("b", "c")) & (F.col("v") == F.greatest("b", "c")),
    )
    tagged = (
        deg.select(F.lit("n").alias("tag"), F.lit(1).alias("val"))
        .unionByName(p.select(F.lit("e").alias("tag"), F.lit(1).alias("val")))
        .unionByName(
            deg.select(
                F.lit("w").alias("tag"),
                F.expr("CAST(d * (d - 1) DIV 2 AS INT)").alias("val"),
            )
        )
        .unionByName(closed.select(F.lit("t").alias("tag"), F.lit(1).alias("val")))
    )
    t_sum = F.coalesce(F.sum(F.when(F.col("tag") == "t", F.col("val"))), F.lit(0))
    w_sum = F.sum(F.when(F.col("tag") == "w", F.col("val")))
    return tagged.agg(
        F.sum(F.when(F.col("tag") == "n", F.col("val"))).cast("long").alias("n_nodes"),
        F.sum(F.when(F.col("tag") == "e", F.col("val"))).cast("long").alias("n_edges"),
        w_sum.cast("long").alias("n_wedges"),
        t_sum.cast("long").alias("n_triangles"),
        ((3 * t_sum).cast("double") / w_sum).alias("clustering"),
    )


# ----- VARIANT inside Structured Streaming ---------------------------


@register_extra(
    "streaming_variant",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k
FROM events GROUP BY event_type
""",
    "VARIANT parsing inside a REAL Structured Streaming pipeline: "
    "readStream -> parse_json/variant_get -> grouped aggregation -> memory "
    "sink (complete mode, availableNow) — the open-schema semi-structured "
    "path works identically under the micro-batch engine, and over the "
    "bounded input the final state must equal the batch variant_props_agg "
    "aggregates exactly (integer sums are associative across micro-batches)",
)
def q_streaming_variant(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import run_to_memory, stream_events

    name = f"stream_variant_{next(_STREAM_SEQ)}"
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k"))
    )
    run_to_memory(agg, name, "complete", state_partitions=8)
    return spark.table(name)


# ----- DSIR importance scoring ---------------------------------------

from dask_datapipeline_spark.operators.dsir import (  # noqa: E402
    dsir_oracle_sql,
    dsir_scores,
)


@register_extra(
    "dsir_selection",
    dsir_oracle_sql("lang = 'en'"),
    "DSIR importance scoring (operators/dsir.py): hashed bag-of-ngrams "
    "log-likelihood ratio of a target sub-corpus (lang='en') vs the raw pool "
    "(Xie et al. 2023). Both model tables are bounded at 1024 md5 buckets "
    "regardless of corpus size (broadcast join); ln drift absorbed by the "
    "round-9dp -> exact-decimal-sum recipe; selection is a threshold flag, "
    "no global sort (true resampling composes with the priority sampler)",
)
def q_dsir_selection(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return dsir_scores(docs, F.col("lang") == "en")


# ----- sliding-window chunking ---------------------------------------

from dask_datapipeline_spark.operators.chunking import (  # noqa: E402
    chunk_documents,
    chunking_oracle_sql,
)


@register_extra(
    "chunk_overlap",
    chunking_oracle_sql(),
    "RAG/long-context chunker (operators/chunking.py): 32-token windows, "
    "stride 24 (8-token overlap) — pure row-local codegen array exprs over "
    "the scan, ZERO shuffles and zero Python; all-integer index math; md5 "
    "chunk fingerprints keep output rows narrow",
)
def q_chunk_overlap(spark, sf_dir):
    return chunk_documents(load_testdata(spark, sf_dir, "documents"))


# ----- PageRank over the near-dup graph ------------------------------

from dask_datapipeline_spark.operators.pagerank import (  # noqa: E402
    pagerank,
    pagerank_oracle_tail_sql,
)


@register_extra(
    "pagerank_dup_graph",
    "WITH "
    + _SQL_SHINGLES_HASHED
    + ","
    + _SQL_SIG
    + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS}))
,"""
    + _sql_jaccard_verify(
        extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b",
        as_pairs_cte=True,
    )
    + pagerank_oracle_tail_sql(),
    "PageRank power iteration (operators/pagerank.py) over the MinHash near-dup "
    "pair graph: 5 rounds of one edge-keyed join + one dst-keyed exact-decimal "
    "aggregation each, edge set built ONCE and localCheckpoint-ed; per-edge r/deg "
    "is a single IEEE division, incoming mass summed via the round-9dp decimal "
    "recipe so the result is bit-identical to the unrolled-CTE oracle",
)
def q_pagerank_dup_graph(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    prs = DD.near_dup_pairs_minhash(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=0.5, max_df=_MAX_DF
    )
    return pagerank(docs, prs)


# ----- Gopher-style document-quality rules ---------------------------

from dask_datapipeline_spark.functions.quality import (  # noqa: E402
    FAIL_NAMES,
    SIGNAL_NAMES,
    gopher_fail_flags,
    gopher_fail_flags_sql,
    gopher_keep,
    gopher_keep_sql,
    gopher_signal_cols,
    gopher_sql_projections,
)


def _gopher_quality_sql() -> str:
    sig = gopher_sql_projections("text")
    cols = ",\n       ".join(f"{sig[n]} AS {n}" for n in SIGNAL_NAMES)
    return f"""
SELECT doc_id,
       {cols},
       {gopher_keep_sql(sig)} AS keep
FROM documents
WHERE text IS NOT NULL
"""


@register(
    "gopher_quality",
    _gopher_quality_sql(),
    "Gopher document-shape + repetition quality rules (functions/quality.py; "
    "Rae et al. 2021 A.1.1): word-count bounds, mean word length, symbol "
    "ratio, bullet/ellipsis line fractions, alphabetic-word fraction, "
    "stopword floor, duplicate-line and duplicate-line-char fractions, and "
    "the keep flag — ALL per-row codegen array/string exprs fused into the "
    "scan: zero shuffles, zero Python; ratios are single IEEE divisions of "
    "exact integer counts so no rounding is needed anywhere",
)
def q_gopher_quality(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = gopher_signal_cols(F.col("text"))
    return docs.select(
        "doc_id",
        *[sig[n].alias(n) for n in SIGNAL_NAMES],
        gopher_keep(sig).alias("keep"),
    )


def _gopher_report_sql() -> str:
    sig = gopher_sql_projections("text")
    flags = gopher_fail_flags_sql(sig)
    inner = ",\n         ".join(f"{flags[n]} AS {n}" for n in FAIL_NAMES)
    outer = ",\n       ".join(
        f"CAST(SUM(CASE WHEN {n} THEN 1 ELSE 0 END) AS BIGINT) AS {n}"
        for n in FAIL_NAMES
    )
    return f"""
WITH flagged AS (
  SELECT {gopher_keep_sql(sig)} AS keep,
         {inner}
  FROM documents
  WHERE text IS NOT NULL
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       {outer}
FROM flagged
"""


@register_extra(
    "gopher_report",
    _gopher_report_sql(),
    "Per-rule drop-count funnel over the Gopher quality rules — the "
    "curation-report stage every production pipeline runs next to the "
    "filter (which rule is deleting my corpus?). One scan, one ungrouped "
    "aggregate of 0/1 longs; the fail flags and the keep flag come from the "
    "SAME gopher_fail_flags source in both engines, so filter and report "
    "cannot disagree",
)
def q_gopher_report(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = gopher_signal_cols(F.col("text"))
    flags = gopher_fail_flags(sig)
    flagged = docs.select(
        gopher_keep(sig).alias("keep"),
        *[flags[n].alias(n) for n in FAIL_NAMES],
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *[F.sum(F.col(n).cast("long")).alias(n) for n in FAIL_NAMES],
    )


def _gopher_multilang_sql() -> str:
    from dask_datapipeline_spark.functions.quality import (
        THRESHOLDS,
        gopher_sql_projections,
    )
    from dask_datapipeline_spark.functions.quality import _q
    from dask_datapipeline_spark.functions.text import LANG_MARKERS

    # marker words routed through the same _q escaper as
    # stopword_hits_by_lang_sql — an apostrophe-bearing marker
    # (plausible French/Italian function words) must not break the SQL
    whens = " ".join(
        f"WHEN lang = '{_q(lg)}' THEN '{_q(m[0])} {_q(m[1])} '"
        for lg, m in LANG_MARKERS.items()
        if lg != "en"
    )
    en = LANG_MARKERS["en"]
    prefix = f"CASE {whens} ELSE '{_q(en[0])} {_q(en[1])} ' END"
    hits_lang = gopher_sql_projections("text2", lang_expr="lang")["stop_hits"]
    hits_en = gopher_sql_projections("text2")["stop_hits"]
    floor = int(THRESHOLDS["min_stopword_hits"])
    return f"""
WITH t AS (
  SELECT doc_id, lang, {prefix} || text AS text2
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
)
SELECT doc_id, lang,
       {hits_lang} AS stop_hits,
       {hits_en} AS stop_hits_en,
       {hits_lang} < {floor} AS fail_stopwords,
       {hits_en} < {floor} AS fail_stopwords_en
FROM t
"""


@register_extra(
    "gopher_multilang",
    _gopher_multilang_sql(),
    "Per-language Gopher stopword floor (functions/quality.py::"
    "stopword_hits_by_lang): each document scores against ITS OWN "
    "language's marker table (the LANG_MARKERS discipline, keyed by the "
    "lang column) so the quality gate composes with lang_id on "
    "multilingual shards instead of mass-failing non-English docs against "
    "English function words. Fixture prepends each doc's two native "
    "markers, so every doc passes its own floor while the ride-along "
    "English-only columns show the counterfactual; still one per-row "
    "codegen expression, the marker table is literals, never a join",
)
def q_gopher_multilang(spark, sf_dir):
    from dask_datapipeline_spark.functions.quality import (
        THRESHOLDS,
        stopword_hits_by_lang,
    )
    from dask_datapipeline_spark.functions.text import LANG_MARKERS, stopword_hits

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    prefix = None
    for lg, m in LANG_MARKERS.items():
        if lg == "en":
            continue
        cond = F.col("lang") == F.lit(lg)
        val = F.lit(f"{m[0]} {m[1]} ")
        prefix = F.when(cond, val) if prefix is None else prefix.when(cond, val)
    en = LANG_MARKERS["en"]
    prefix = prefix.otherwise(F.lit(f"{en[0]} {en[1]} "))
    text2 = F.concat(prefix, F.col("text"))
    hits_lang = stopword_hits_by_lang(text2, F.col("lang")).cast("long")
    hits_en = stopword_hits(text2).cast("long")
    floor = int(THRESHOLDS["min_stopword_hits"])
    return docs.select(
        "doc_id",
        "lang",
        hits_lang.alias("stop_hits"),
        hits_en.alias("stop_hits_en"),
        (hits_lang < floor).alias("fail_stopwords"),
        (hits_en < floor).alias("fail_stopwords_en"),
    )


# ----- classifier calibration vs rule-based gates ---------------------


def _classifier_calibration_sql() -> str:
    from dask_datapipeline_spark.functions.quality import c4_sql_projections

    sig = gopher_sql_projections("text")
    c4 = c4_sql_projections("text")
    return f"""
WITH sc AS ({hashed_linear_score_sql(seed="qw", scale=1000)}),
q AS (
  SELECT doc_id, {gopher_keep_sql(sig)} AS gopher_keep,
         {c4["keep_doc"]} AS c4_keep
  FROM documents WHERE text IS NOT NULL
),
d AS (
  SELECT sc.doc_id, sc.margin_raw, q.gopher_keep, q.c4_keep,
         ntile(10) OVER (ORDER BY sc.margin_raw, sc.doc_id) AS decile
  FROM sc JOIN q ON sc.doc_id = q.doc_id
)
SELECT decile, COUNT(*) AS n_docs,
       COUNT(CASE WHEN margin_raw >= 0 THEN 1 END) AS n_clf_keep,
       COUNT(CASE WHEN gopher_keep THEN 1 END) AS n_gopher_keep,
       COUNT(CASE WHEN c4_keep THEN 1 END) AS n_c4_keep,
       COUNT(CASE WHEN gopher_keep AND c4_keep AND margin_raw >= 0 THEN 1 END) AS n_all_keep
FROM d GROUP BY decile
"""


@register_extra(
    "classifier_calibration",
    _classifier_calibration_sql(),
    "Classifier CALIBRATION report: margin deciles (the margin_deciles "
    "two-pass prefix-sum ntile — margin_raw orders identically to margin "
    "and stays integer) cross-tabulated against the RULE-BASED gates "
    "(Gopher keep, C4 page keep) per decile — production pipelines gate "
    "on thresholds calibrated this way (does a higher classifier margin "
    "actually predict passing the hand-written rules?), not on raw "
    "margins. One broadcast-sized join of two per-row codegen scans; "
    "every output an exact integer count",
)
def q_classifier_calibration(spark, sf_dir):
    from dask_datapipeline_spark.functions.quality import c4_clean_cols
    from dask_datapipeline_spark.operators.classifier import hashed_linear_score
    from dask_datapipeline_spark.operators.ranks import global_ntile

    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sc = hashed_linear_score(docs, "doc_id", "text", seed="qw", scale=1000)
    sig = gopher_signal_cols(F.col("text"))
    c4 = c4_clean_cols(F.col("text"))
    q = docs.select(
        "doc_id",
        gopher_keep(sig).alias("gopher_keep"),
        c4["keep_doc"].alias("c4_keep"),
    )
    d = global_ntile(
        sc.select("doc_id", "margin_raw").join(q, "doc_id"),
        ["margin_raw", "doc_id"],
        F.expr("margin_raw DIV 256"),
        10,
        tile_col="decile",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("margin_raw") >= 0, 1)).alias("n_clf_keep"),
        F.count(F.when(F.col("gopher_keep"), 1)).alias("n_gopher_keep"),
        F.count(F.when(F.col("c4_keep"), 1)).alias("n_c4_keep"),
        F.count(
            F.when(
                F.col("gopher_keep") & F.col("c4_keep") & (F.col("margin_raw") >= 0), 1
            )
        ).alias("n_all_keep"),
    )


# ----- trained char-n-gram language ID --------------------------------

from dask_datapipeline_spark.operators import langid as LID  # noqa: E402

#: trained ONCE at import (pure Python, deterministic, ~0.3 s): the
#: same weights feed the Spark scorer's closure AND the oracle SQL's
#: VALUES literals, so the two paths score the identical model
_LID_WEIGHTS = LID.train_lang_ngram()


def _lang_id_trained_sql() -> str:
    langs = LID.LANGS
    truth = (
        "CASE doc_id % 5 "
        + " ".join(f"WHEN {i} THEN '{lg}'" for i, lg in enumerate(langs))
        + " END"
    )
    tail = f",\n       {truth} AS lang_true,\n       lang = {truth} AS hit"
    return LID.lang_id_trained_sql(
        _LID_WEIGHTS,
        src="ft",
        front_ctes=LID.synth_doc_sql_ctes() + ",\n",
        tail_cols=tail,
    )


@register_extra(
    "lang_id_trained",
    _lang_id_trained_sql(),
    "Trained char-3-gram language ID (operators/langid.py) — the production-"
    "grade upgrade of the marker-word heuristic: multi-class averaged "
    "perceptron over hashed char-3-grams, trained at import on the "
    "deterministic synthetic multilingual fixture, scored with EXACT-INTEGER "
    "per-language margins in one Arrow pass (weights in the closure, zero "
    "shuffles). The eval corpus is MARKER-FREE text synthesized from the "
    "documents table via shared md5 word draws — the slice where the marker "
    "heuristic collapses to 20% (no hits, tie falls to the first language) "
    "while orthography still routes correctly (accuracy pinned 100% vs the "
    "20% baseline in tests/test_langid.py). Oracle rebuilds the same fixture, "
    "replays the same weight table as VALUES literals, the same bucket "
    "hashes, integer sums and argmax CASE — bit-exact end to end",
)
def q_lang_id_trained(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", LID.synth_doc_col().alias("text"))
    scored = LID.lang_id_trained(fixture, "doc_id", "text", _LID_WEIGHTS)
    truth = None
    for i, lg in enumerate(LID.LANGS):
        cond = F.col("doc_id") % 5 == i
        truth = F.when(cond, lg) if truth is None else truth.when(cond, lg)
    return scored.select(
        "*",
        truth.alias("lang_true"),
        (F.col("lang") == truth).alias("hit"),
    )


def _lang_id_abstain_sql() -> str:
    langs = LID.LANGS
    truth = (
        "CASE doc_id % 6 "
        + " ".join(f"WHEN {i} THEN '{lg}'" for i, lg in enumerate(langs))
        + f" ELSE '{LID.UND}' END"
    )
    tail = f",\n       {truth} AS lang_true,\n       lang = {truth} AS hit"
    return LID.lang_id_trained_sql(
        _LID_WEIGHTS,
        src="ft",
        front_ctes=LID.synth_doc_sql_ctes(include_oov=True) + ",\n",
        tail_cols=tail,
        abstain_milli=LID.DEFAULT_ABSTAIN_MILLI,
    )


@register_extra(
    "lang_id_abstain",
    _lang_id_abstain_sql(),
    "Trained LID with the margin-threshold ABSTAIN path (operators/"
    "langid.py::decide_lang): lang='und' iff (top1 - top2) * 1000 < "
    f"{LID.DEFAULT_ABSTAIN_MILLI} * n_grams — an all-integer inequality "
    "both engines replay exactly. A 5-language model sees ~95% of web "
    "languages as out-of-vocabulary; without 'und' every one is "
    "confidently mislabeled and mis-routed to a per-language Gopher "
    "floor (downstream, stopword_hits_by_lang routes 'und' to the "
    "English floor explicitly). Fixture routes id%6: five in-vocab "
    "marker-free languages (calibrated min margin/gram 25.5 — never "
    "abstains) plus an out-of-vocab Polish slice (max 8.6 — always "
    "abstains); held-out REAL-text accuracy incl. the two sentences "
    "the plain argmax mislabels is pinned in tests/test_langid.py",
)
def q_lang_id_abstain(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select(
        "doc_id", LID.synth_doc_col(include_oov=True).alias("text")
    )
    scored = LID.lang_id_trained(
        fixture,
        "doc_id",
        "text",
        _LID_WEIGHTS,
        abstain_milli=LID.DEFAULT_ABSTAIN_MILLI,
    )
    truth = None
    for i, lg in enumerate(LID.LANGS):
        cond = F.col("doc_id") % 6 == i
        truth = F.when(cond, lg) if truth is None else truth.when(cond, lg)
    truth = truth.otherwise(F.lit(LID.UND))
    return scored.select(
        "*",
        truth.alias("lang_true"),
        (F.col("lang") == truth).alias("hit"),
    )


def _multilang_gate_trained_sql() -> str:
    from dask_datapipeline_spark.functions.quality import (
        THRESHOLDS,
        stopword_hits_by_lang_sql,
    )

    lid_sql = LID.lang_id_trained_sql(
        _LID_WEIGHTS,
        src="ft",
        front_ctes=LID.synth_doc_sql_ctes(
            marker_free=False, include_oov=True
        )
        + ",\n",
        abstain_milli=LID.DEFAULT_ABSTAIN_MILLI,
    )
    hits = stopword_hits_by_lang_sql("t.text", "l.lang")
    floor = int(THRESHOLDS["min_stopword_hits"])
    # the outer ft rebuilds the SAME deterministic fixture for the
    # text join; the inner WITH (lid) shadows its own copy — scoped,
    # no collision
    return f"""
WITH {LID.synth_doc_sql_ctes(marker_free=False, include_oov=True)},
lid AS ({lid_sql})
SELECT l.doc_id, l.lang,
       {hits} AS stop_hits,
       {hits} < {floor} AS fail_stopwords
FROM lid l JOIN ft t ON l.doc_id = t.doc_id
"""


@register_extra(
    "multilang_gate_trained",
    _multilang_gate_trained_sql(),
    "THE composed multilingual quality gate (round 12): trained LID with "
    "the abstain path routes every document — five in-vocab languages "
    "plus an out-of-vocab slice — and the per-language Gopher stopword "
    "floor scores each doc against ITS PREDICTED language's markers "
    "(stopword_hits_by_lang), with 'und' falling to the English floor "
    "explicitly. Marker-inclusive fixture: correctly-routed docs hit "
    "their own floor, the OOV slice abstains and (correctly) fails the "
    "English floor — the observable difference between 'und' and a "
    "confident mislabel that would have scored a random language's "
    "markers. One Arrow LID pass + one codegen floor expression; the "
    "oracle composes the lang_id_abstain scoring (nested WITH) with the "
    "same marker CASE, bit-exact end to end",
)
def q_multilang_gate_trained(spark, sf_dir):
    from dask_datapipeline_spark.functions.quality import (
        THRESHOLDS,
        stopword_hits_by_lang,
    )

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select(
        "doc_id",
        LID.synth_doc_col(marker_free=False, include_oov=True).alias("text"),
    )
    scored = LID.lang_id_trained(
        fixture,
        "doc_id",
        "text",
        _LID_WEIGHTS,
        abstain_milli=LID.DEFAULT_ABSTAIN_MILLI,
    )
    joined = scored.select("doc_id", "lang").join(fixture, "doc_id")
    hits = stopword_hits_by_lang(F.col("text"), F.col("lang")).cast("long")
    floor = int(THRESHOLDS["min_stopword_hits"])
    return joined.select(
        "doc_id",
        "lang",
        hits.alias("stop_hits"),
        (hits < floor).alias("fail_stopwords"),
    )


# ----- Unicode-script routing + CJK-safe tier (round 13) ----------------

from dask_datapipeline_spark.operators import scripts as USC  # noqa: E402


def _script_route_sql() -> str:
    from dask_datapipeline_spark.functions.quality import (
        quality_keep_routed_sql,
    )

    counts = USC.script_count_sql("text")
    count_cols = ",\n         ".join(
        f"{sql} AS {name}" for name, sql in counts.items() if name != "n_letters"
    )
    lid = USC.lang_id_script_routed_sql(
        _LID_WEIGHTS, src="fx", abstain_milli=LID.DEFAULT_ABSTAIN_MILLI
    )
    n_cols = ", ".join(f"psp.n_{s}" for s in USC.SCRIPTS)
    return f"""
WITH fx AS (
  SELECT doc_id, {USC.script_fixture_sql()} AS text FROM documents
),
psc AS (
  SELECT doc_id, text, {count_cols}
  FROM fx WHERE text IS NOT NULL
),
psp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM psc),
psr AS (
  SELECT doc_id, text, {USC.script_route_sql()} AS script FROM psp
),
lr AS (
{lid}
),
kq AS (
  SELECT doc_id, {quality_keep_routed_sql("psr.text", "psr.script")} AS keep
  FROM psr
)
SELECT psp.doc_id, psp.n_chars, {n_cols}, psp.n_letters,
       psr.script, lr.lang, kq.keep
FROM psp
JOIN psr ON psr.doc_id = psp.doc_id
JOIN lr ON lr.doc_id = psp.doc_id
JOIN kq ON kq.doc_id = psp.doc_id
"""


@register(
    "script_route",
    _script_route_sql(),
    "Unicode-script profiling + routing + the CJK-safe quality tier "
    "(operators/scripts.py, functions/quality.py routed tier — round 13): "
    "per-script codepoint counts via the length-difference regex device "
    "(the \\x{..} class syntax Java regex and RE2 share), the all-integer "
    "majority route (han→zh unless kana≥1/20 of CJK→ja, hangul→ko, "
    "cyrillic/arabic→honest und-* script labels, latin→trained trigram "
    "model with margin abstain), and the script-routed page-quality keep "
    "(char-based Gopher bounds + CJK function-character stopword floor "
    "for unsegmented zh/ja, full Gopher for latin, the script-agnostic "
    "shape subset elsewhere). Fixture: real held-out sentences in seven "
    "scripts + edge shapes, synthesized from the documents table by one "
    "shared literal pool. Everything is exact integers or single IEEE "
    "divisions — bit-exact across engines; zero Python outside the "
    "Latin-routed trigram slice. DRIVER row since round 13 (rotation: "
    "html_extract out — extraction stays driver-checked via "
    "main_content_extract, its DOM-grade superset)",
)
def q_script_route(spark, sf_dir):
    from dask_datapipeline_spark.functions.quality import quality_keep_routed
    from dask_datapipeline_spark.parallel import fan_out

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", USC.script_fixture_col().alias("text"))
    # counts, route AND the routed keep in ONE projection chain (text
    # carried along, then dropped) — the keep leg needs no second
    # scan/join. Counts materialize as columns BEFORE the route
    # references them (script_profile's one-regex-execution-per-row
    # discipline). Round 14 optimization pass: fan_out at the scan
    # (the single-file test parquet is ONE partition — the regex
    # passes ran on one core; no-op at real split counts), and the
    # Arrow LID leg REUSES this chain's route via routed= instead of
    # recomputing the 10-class profile and joining it back (guide
    # §2.4: one count pass and one doc_id join fewer; measured
    # 14.4 s → see OPTIMIZATION_r14.md).
    pre = fan_out(fixture.where(F.col("text").isNotNull())).select(
        "doc_id", "text", USC.nonascii_col("text").alias("__na")
    )
    counts = USC.script_count_cols("text", nonascii=F.col("__na"))
    step = pre.select(
        "doc_id", "text", *[counts[k].alias(k) for k in counts]
    )
    refs = {k: F.col(k) for k in counts}
    from pyspark.storagelevel import StorageLevel

    # the routed frame is the shared root of THREE consumers (the keep
    # chain and both classifier arms) — persist it so the count
    # projection runs once per session, the dedup family's shared-root
    # discipline (hashed_shingles et al.)
    routed = step.select(
        "doc_id",
        "text",
        *counts.keys(),
        USC.script_route_col(refs).alias("script"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prof = routed.select(
        *[c for c in routed.columns if c != "text"],
        quality_keep_routed("text", "script").alias("keep"),
    )
    lang = USC.lang_id_script_routed(
        fixture,
        "doc_id",
        "text",
        _LID_WEIGHTS,
        LID.DEFAULT_ABSTAIN_MILLI,
        routed=routed.select("doc_id", "text", "script"),
    ).select("doc_id", "lang")
    return prof.join(lang, "doc_id").select(
        *[c for c in prof.columns if c != "keep"], "lang", "keep"
    )


def _script_token_stats_sql() -> str:
    counts = USC.script_count_sql("text")
    count_cols = ",\n         ".join(
        f"{sql} AS {name}" for name, sql in counts.items() if name != "n_letters"
    )
    words = "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    return f"""
WITH fx AS (
  SELECT doc_id, {USC.script_fixture_sql()} AS text FROM documents
),
psc AS (
  SELECT doc_id, text, {count_cols}
  FROM fx WHERE text IS NOT NULL
),
psp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM psc),
psr AS (
  SELECT doc_id, text, {", ".join(f"n_{s}" for s in USC.SCRIPTS)},
         {USC.script_route_sql()} AS script
  FROM psp
)
SELECT doc_id, script,
       {USC.routed_token_count_sql("text", "script")} AS n_tokens,
       CAST({words} AS BIGINT) AS n_tokens_word
FROM psr
"""


@register_extra(
    "script_token_stats",
    _script_token_stats_sql(),
    "Script-aware token counting (operators/scripts.py::"
    "routed_token_count — round 13): whitespace words for segmented "
    "scripts, LETTER CODEPOINTS for unsegmented zh/ja (where the word "
    "count is 1 by construction and chars approximate morphemes — how "
    "production pipelines size CJK docs for packing/length floors). The "
    "contrast column n_tokens_word pins the mis-measurement the routing "
    "fixes: a 30-char Han sentence counts ~7 'words' only because the "
    "classical fixture uses clause spaces; real unsegmented text counts "
    "1. Exact integers, pure codegen, bit-exact oracle",
)
def q_script_token_stats(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", USC.script_fixture_col().alias("text"))
    prof = USC.script_profile(fixture, "doc_id", "text").select(
        "doc_id", "script"
    )
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    )
    return (
        fixture.join(prof, "doc_id")
        .select(
            "doc_id",
            "script",
            USC.routed_token_count("text", "script").alias("n_tokens"),
            words.cast("long").alias("n_tokens_word"),
        )
    )


# Char-shingle near-dup for unsegmented CJK (round 13): word shingles
# see ONE giant token on a no-space page and emit an EMPTY array —
# zero recall by construction (pytest-pinned) — so the CJK slice of a
# multilingual corpus dedups on char n-grams instead.

#: 120-char Han vocabulary for the deterministic unique tails (opening
#: of the Thousand Character Classic — public domain; its 1000 chars
#: are all DISTINCT). Width matters for the scaling battery: a 40-char
#: alphabet saturates the 3-gram space by ~50k docs (per-gram df grows
#: with the corpus → quadratic join fan-out — a FIXTURE artifact, not
#: operator behavior); 120 chars give ~1.7M possible grams, so tail
#: grams stay near-unique through the x10 tier.
_CJK_TAIL_VOCAB = list(
    "天地玄黃宇宙洪荒日月盈昃辰宿列張寒來暑往秋收冬藏閏餘成歲律呂調陽雲騰致雨露結為霜"
    "金生麗水玉出崑岡劍號巨闕珠稱夜光果珍李柰菜重芥薑海鹹河淡鱗潛羽翔龍師火帝鳥官人皇"
    "始制文字乃服衣裳推位讓國有虞陶唐弔民伐罪周發殷湯坐朝問道垂拱平章"
)
_CJK_TAIL_LEN = 36
#: appended to odd doc_ids only — the partner-pair delta
_CJK_EXTRA = "。另外再說一句話"


def _cjk_bases() -> list[str]:
    return LID.HELDOUT_SENTENCES["zh"] + LID.HELDOUT_SCRIPT_SENTENCES["ja"]


def _cjk_fixture_col():
    """text(doc_id) = bases[(doc_id//2) % 6] + 36 unique-per-pair Han
    tail chars + an extra clause on odd ids — docs 2k/2k+1 are planted
    near-dup partners (share base+tail), different pairs share at most
    the base sentence (tails are md5-unique), so char-3-gram Jaccard
    cleanly separates partners (≈0.8) from cross-pair (≤0.4)."""
    bases = _cjk_bases()
    base_arr = F.array(*[F.lit(s) for s in bases])
    g = F.floor(F.col("doc_id") / 2).cast("long")
    base = F.element_at(base_arr, (g % len(bases)).cast("int") + 1)
    vocab_arr = F.array(*[F.lit(c) for c in _CJK_TAIL_VOCAB])
    tail = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(_CJK_TAIL_LEN - 1)),
            lambda j: F.element_at(
                vocab_arr,
                (
                    DD.seeded_hash64(
                        F.concat(
                            g.cast("string"), F.lit(":"), j.cast("string")
                        ),
                        "cjktail",
                    )
                    % len(_CJK_TAIL_VOCAB)
                ).cast("int")
                + 1,
            ),
        ),
        "",
    )
    return F.concat(
        base,
        tail,
        F.when(F.col("doc_id") % 2 == 1, F.lit(_CJK_EXTRA)).otherwise(
            F.lit("")
        ),
    )


def _sql_char_shingles_hashed(src: str = "documents", n: int = 3) -> str:
    """Char-n-gram twin of ``_sql_shingles_hashed`` — substr over
    generate_series on the lowercased text, then the SAME hash/
    distinct/df-cap chain ending in ``shh``."""
    return (
        f"""
chs AS (SELECT doc_id, lower(text) AS s FROM {src}),
cidx AS (SELECT doc_id, s, unnest(generate_series(1, greatest(length(s)-{n - 1}, 0))) AS i FROM chs),
csh0 AS (SELECT doc_id, substr(s, i, {n}) AS sh FROM cidx),
hsh AS (SELECT doc_id, """
        + _SQL_HASH.format(seed=0, col="sh")
        + f""" AS h FROM csh0 WHERE sh <> ''),
shh0 AS (SELECT DISTINCT doc_id, h FROM hsh),
hkeep AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shh0 GROUP BY h) WHERE df <= {_MAX_DF}),
shh AS (SELECT s.doc_id, s.h FROM shh0 s JOIN hkeep k ON s.h = k.h)
"""
    )


def _cjk_near_dup_sql() -> str:
    bases = _cjk_bases()
    base_lst = (
        "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in bases) + "]"
    )
    vocab_lst = "[" + ", ".join(f"'{c}'" for c in _CJK_TAIL_VOCAB) + "]"
    h = _SQL_HASH.format(
        seed="cjktail", col="CAST(g AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    fixture = f"""
tg AS (SELECT doc_id, doc_id // 2 AS g FROM documents),
tj AS (SELECT doc_id, g, unnest(generate_series(0, {_CJK_TAIL_LEN - 1})) AS j FROM tg),
td AS (SELECT doc_id, j, ({vocab_lst})[({h}) % {len(_CJK_TAIL_VOCAB)} + 1] AS ch FROM tj),
tt AS (SELECT doc_id, string_agg(ch, '' ORDER BY j) AS tail FROM td GROUP BY doc_id),
fx AS (
  SELECT tg.doc_id,
         ({base_lst})[(tg.g % {len(bases)}) + 1] || tt.tail ||
         CASE WHEN tg.doc_id % 2 = 1 THEN '{_CJK_EXTRA}' ELSE '' END AS text
  FROM tg JOIN tt ON tt.doc_id = tg.doc_id
),"""
    return (
        "WITH "
        + fixture
        + _sql_char_shingles_hashed("fx")
        + ","
        + _sql_jaccard_verify()
    )


@register_extra(
    "cjk_near_dup",
    _cjk_near_dup_sql(),
    "CHAR-3-gram shingle near-dup for unsegmented CJK text (round 13: "
    "dedup.char_shingles / shingle_mode='char' threaded through the whole "
    "MinHash/Jaccard family): a no-space Han/kana page is ONE token to the "
    "word shingler — empty shingle array, ZERO near-dup recall by "
    "construction (pytest-pinned) — so the CJK slice of a multilingual "
    "corpus dedups on char n-grams (CCNet practice). Fixture plants "
    "partner pairs (2k, 2k+1) sharing a real Han/kana sentence + a "
    "36-char md5-unique tail, odd ids adding one clause: partners score "
    "J≈0.8, cross-pair ≤0.4, so threshold 0.5 separates exactly; same "
    "PPJoin prefix-filtered self-join as jaccard_near_dup, md5-identical "
    "oracle via substr/generate_series",
)
def q_cjk_near_dup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", _cjk_fixture_col().alias("text"))
    return DD.jaccard_pairs(
        fixture, None, threshold=0.5, max_df=_MAX_DF, shingle_mode="char"
    )


# ----- script-ROUTED shingle mode (round 14; VERDICT r13 item 1) ------
#
# shingle_mode was corpus-global through round 13: a MIXED-script
# corpus had to word-shingle everything (ZERO recall on its
# unsegmented CJK slice — pytest-pinned) or char-shingle everything
# (different Latin precision/recall than the gate-proven word mode).
# 'routed' picks per ROW via the round-13 script router, with the mode
# folded into the shingle string as a namespace tag ('w|'/'c|') so
# cross-mode hashes can never collide. The fixture plants partner
# pairs in BOTH families, each constructed so exactly one single mode
# finds it:
#
# - Latin groups: 8 shared base words + 12 group-keyed hex tail words
#   + one 128-hex-char DOC-unique word. Word shingles: partners differ
#   in 1 of 19 shingles (J = 18/20 = 0.9, found); char 3-grams: the
#   long unique words dominate the union (J ≈ 0.34 < 0.5 — char mode
#   MISSES the pair).
# - CJK groups: the r13 device (real Han/kana base, space-STRIPPED so
#   word mode sees one giant token and zero shingles — word mode
#   MISSES) + 36 group-keyed Han tail chars + an extra clause on odd
#   ids (char J ≈ 0.8, found).
#
# The routed mode must find BOTH. Same MinHash(16)/LSH(4)/exact-verify
# chain and df cap as minhash_near_dup; md5-identical oracle.

#: 8-word Latin base phrases (held-out openers, lowercased/truncated)
_RT_LAT_BASES = [
    "it is a truth universally acknowledged that a",
    "call me ishmael some years ago never mind",
    "en un lugar de la mancha de cuyo",
]
_RT_TAIL_WORDS = 12  # group-keyed 6-hex-char tail words (latin arm)
_RT_LONG_PARTS = 4  # doc-unique word = 4 concatenated md5 hexes


def _rt_cjk_bases() -> list[str]:
    """The r13 CJK bases with clause spaces STRIPPED — genuinely
    unsegmented, so the word arm's zero-recall property is by
    construction, not by accident of the fixture."""
    return [s.replace(" ", "") for s in _cjk_bases()]


def _routed_fixture_col():
    """text(doc_id) for the mixed-script corpus: groups g = doc_id//2
    alternate families (even g Latin, odd g CJK); partners (2g, 2g+1)
    are planted near-dups within their family's mode."""
    g = F.floor(F.col("doc_id") / 2).cast("long")
    k = F.floor(g / 2).cast("long")
    # latin arm
    lat_arr = F.array(*[F.lit(s) for s in _RT_LAT_BASES])
    lat_base = F.element_at(
        lat_arr, (k % len(_RT_LAT_BASES)).cast("int") + 1
    )
    tail = F.concat_ws(
        " ",
        *[
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rtw:"), g.cast("string"), F.lit(f":{j}")
                    )
                ),
                1,
                6,
            )
            for j in range(_RT_TAIL_WORDS)
        ],
    )
    longw = F.concat(
        *[
            F.md5(
                F.concat(
                    F.lit("rtl:"),
                    F.col("doc_id").cast("string"),
                    F.lit(f":{p}"),
                )
            )
            for p in range(_RT_LONG_PARTS)
        ]
    )
    lat_text = F.concat_ws(" ", lat_base, tail, longw)
    # cjk arm — the r13 tail device under its own seed
    bases = _rt_cjk_bases()
    base_arr = F.array(*[F.lit(s) for s in bases])
    cjk_base = F.element_at(base_arr, (k % len(bases)).cast("int") + 1)
    vocab_arr = F.array(*[F.lit(c) for c in _CJK_TAIL_VOCAB])
    ctail = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(_CJK_TAIL_LEN - 1)),
            lambda j: F.element_at(
                vocab_arr,
                (
                    DD.seeded_hash64(
                        F.concat(
                            g.cast("string"), F.lit(":"), j.cast("string")
                        ),
                        "rtail",
                    )
                    % len(_CJK_TAIL_VOCAB)
                ).cast("int")
                + 1,
            ),
        ),
        "",
    )
    cjk_text = F.concat(
        cjk_base,
        ctail,
        F.when(F.col("doc_id") % 2 == 1, F.lit(_CJK_EXTRA)).otherwise(
            F.lit("")
        ),
    )
    return F.when(g % 2 == 1, cjk_text).otherwise(lat_text)


def _sql_routed_fixture(src: str = "documents") -> str:
    """DuckDB replay of :func:`_routed_fixture_col` as CTEs ending in
    ``fx(doc_id, text)``."""
    lat_lst = (
        "["
        + ", ".join("'" + s.replace("'", "''") + "'" for s in _RT_LAT_BASES)
        + "]"
    )
    cjk_lst = (
        "["
        + ", ".join("'" + s.replace("'", "''") + "'" for s in _rt_cjk_bases())
        + "]"
    )
    vocab_lst = "[" + ", ".join(f"'{c}'" for c in _CJK_TAIL_VOCAB) + "]"
    th = _SQL_HASH.format(
        seed="rtail", col="CAST(g AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
    )
    longw = " || ".join(
        f"md5('rtl:' || CAST(rg.doc_id AS VARCHAR) || ':{p}')"
        for p in range(_RT_LONG_PARTS)
    )
    return f"""
rg AS (SELECT doc_id, doc_id // 2 AS g, (doc_id // 2) // 2 AS k FROM {src}),
ltj AS (SELECT doc_id, g, unnest(generate_series(0, {_RT_TAIL_WORDS - 1})) AS j FROM rg WHERE g % 2 = 0),
ltw AS (SELECT doc_id, j, substr(md5('rtw:' || CAST(g AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 6) AS w FROM ltj),
ltt AS (SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS tail FROM ltw GROUP BY doc_id),
lfx AS (
  SELECT rg.doc_id,
         ({lat_lst})[(rg.k % {len(_RT_LAT_BASES)}) + 1] || ' ' || ltt.tail
         || ' ' || {longw} AS text
  FROM rg JOIN ltt ON ltt.doc_id = rg.doc_id
),
ctj AS (SELECT doc_id, g, unnest(generate_series(0, {_CJK_TAIL_LEN - 1})) AS j FROM rg WHERE g % 2 = 1),
ctd AS (SELECT doc_id, j, ({vocab_lst})[({th}) % {len(_CJK_TAIL_VOCAB)} + 1] AS ch FROM ctj),
ctt AS (SELECT doc_id, string_agg(ch, '' ORDER BY j) AS tail FROM ctd GROUP BY doc_id),
cfx AS (
  SELECT rg.doc_id,
         ({cjk_lst})[(rg.k % {len(_rt_cjk_bases())}) + 1] || ctt.tail ||
         CASE WHEN rg.doc_id % 2 = 1 THEN '{_CJK_EXTRA}' ELSE '' END AS text
  FROM rg JOIN ctt ON ctt.doc_id = rg.doc_id
),
fx AS (SELECT * FROM lfx UNION ALL SELECT * FROM cfx)"""


def _sql_routed_shingles_hashed(src: str = "fx", n: int = 3) -> str:
    """Routed twin of ``_sql_shingles_hashed``: route per row from the
    shared script constants, word-shingle the segmented slice tagged
    'w|', char-gram the unsegmented slice tagged 'c|', then the SAME
    hash/distinct/df-cap chain ending in ``shh``. Mirrors
    ``operators/dedup.py::_routed_hashed_shingles`` exactly (the ''
    word-shingle filter runs pre-tag as ``sh <> 'w|'``)."""
    counts = USC.script_count_sql("text")
    count_cols = ",\n       ".join(
        f"{sql} AS {name}"
        for name, sql in counts.items()
        if name != "n_letters"
    )
    unseg = ", ".join(f"'{r}'" for r in USC.UNSEGMENTED_ROUTES)
    return (
        f"""
rsc AS (SELECT doc_id, text, {count_cols} FROM {src}),
rsp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM rsc),
rsr AS (SELECT doc_id, text, {USC.script_route_sql()} AS script FROM rsp),
wt AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM rsr WHERE script NOT IN ({unseg})),
wi AS (SELECT doc_id, tk, unnest(generate_series(1, greatest(len(tk)-{n - 1}, 0))) AS i FROM wt),
wsh AS (SELECT doc_id, 'w|' || array_to_string(tk[i:i+{n - 1}], ' ') AS sh FROM wi),
ct AS (SELECT doc_id, lower(text) AS s FROM rsr WHERE script IN ({unseg})),
ci AS (SELECT doc_id, s, unnest(generate_series(1, greatest(length(s)-{n - 1}, 0))) AS i FROM ct),
csh AS (SELECT doc_id, 'c|' || substr(s, i, {n}) AS sh FROM ci),
rsh0 AS (SELECT * FROM wsh WHERE sh <> 'w|' UNION ALL SELECT * FROM csh),
hsh AS (SELECT doc_id, """
        + _SQL_HASH.format(seed=0, col="sh")
        + f""" AS h FROM rsh0),
shh0 AS (SELECT DISTINCT doc_id, h FROM hsh),
hkeep AS (SELECT h FROM (SELECT h, COUNT(*) AS df FROM shh0 GROUP BY h) WHERE df <= {_MAX_DF}),
shh AS (SELECT s.doc_id, s.h FROM shh0 s JOIN hkeep k ON s.h = k.h)
"""
    )


def _routed_near_dup_sql() -> str:
    # MATERIALIZED on the multi-referenced CTEs: the band-join UNION
    # references sig 8×, the verify references shh 4×, and both arms
    # of the routed shingler reference the fixture+route chain — fully
    # inlined, DuckDB's binder blows its memory budget on the
    # resulting expression tree (observed OOM at 50 docs). Semantics
    # identical; the hint only pins the evaluate-once plan.
    fx = _sql_routed_fixture().replace("fx AS (", "fx AS MATERIALIZED (")
    sh = _sql_routed_shingles_hashed("fx").replace(
        "rsr AS (", "rsr AS MATERIALIZED ("
    ).replace("shh AS (", "shh AS MATERIALIZED (")
    sig = _SQL_SIG.replace("sig AS (", "sig AS MATERIALIZED (")
    return (
        "WITH "
        + fx
        + ","
        + sh
        + ","
        + sig
        + f""",
cand AS (SELECT DISTINCT id_a, id_b FROM ({_SQL_BAND_JOINS}))
,"""
        + _sql_jaccard_verify(
            extra_join="JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b"
        )
    )


@register(
    "routed_near_dup",
    _routed_near_dup_sql(),
    "Script-ROUTED shingle mode through MinHash+LSH near-dup (round 14: "
    "dedup.py shingle_mode='routed'): each row shingles in ITS script's "
    "mode — char 3-grams for unsegmented zh/ja/th, word shingles "
    "otherwise — with the mode folded into the shingle string as a "
    "namespace tag ('w|'/'c|') so cross-mode hashes never collide. "
    "Closes the last systematic-recall hole in the dedup family: a "
    "mixed-script corpus previously chose ONE global mode (word = zero "
    "CJK recall, char = different Latin precision). Fixture plants "
    "partner pairs in BOTH families, each findable by exactly one "
    "single mode (pytest-pinned: word misses the CJK pair, char misses "
    "the long-unique-word Latin pair, routed finds both). Same "
    "MinHash(16)/LSH(4 bands)/exact-Jaccard verify and df cap as "
    "minhash_near_dup; md5-identical oracle. DRIVER row on arrival "
    "(round-14 rotation: jaccard_near_dup out to extras — production "
    "configuration over demo: the routed mode is what a mixed-script "
    "100 TB crawl runs; the exact-Jaccard baseline stays gate-swept)",
)
def q_routed_near_dup(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", _routed_fixture_col().alias("text"))
    return DD.near_dup_pairs_minhash(
        fixture,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        threshold=0.5,
        max_df=_MAX_DF,
        shingle_mode="routed",
    )


# ----- HyperLogLog distinct sketch -----------------------------------

from dask_datapipeline_spark.operators.sketches import (  # noqa: E402
    HLL_P,
    HLL_SEED,
    hll_distinct,
    hll_oracle_sql,
)


@register_extra(
    "hll_distinct",
    hll_oracle_sql("events", "event_type", "user_id", p=HLL_P, seed=HLL_SEED),
    "HyperLogLog distinct-count sketch (operators/sketches.py): 2^p register "
    "maxes per group built entirely by Catalyst's map-side partial MAX — only "
    "groups*2^p register rows ever cross the shuffle vs every distinct value "
    "for exact count-distinct; completes the mergeable-sketch family next to "
    "CMS/KMV/quantile. rho via length(bin(x)) — no transcendentals — and an "
    "exact-integer harmonic-mean denominator, so the oracle is bit-exact; the "
    "linear-counting branch's ln is rounded 6dp (tfidf discipline)",
)
def q_hll_distinct(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_distinct(ev, ["event_type"], "user_id", p=HLL_P, seed=HLL_SEED)


@register_extra(
    "streaming_hll",
    hll_oracle_sql("events", "event_type", "user_id", p=HLL_P, seed=HLL_SEED),
    "Streaming twin of hll_distinct (streaming/windows.py::"
    "stream_incremental_hll): the events table arrives as THREE micro-batch "
    "files through a foreachBatch sink maintaining the per-(group,bucket) "
    "register MAX incrementally (union + max-merge + atomic snapshot swap; "
    "replay idempotent for free — re-merged registers max into themselves). "
    "Register max-merge exactness makes the maintained sketch bit-identical "
    "to the batch sketch, so this row shares hll_distinct's oracle verbatim",
)
def q_streaming_hll(spark, sf_dir):
    return _in_work_dir("ddps_stream_hll_", _streaming_hll_in, spark, sf_dir)


def _streaming_hll_in(spark, sf_dir, work):
    import os as _os

    from dask_datapipeline_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from dask_datapipeline_spark.streaming.windows import stream_incremental_hll

    ev = load_testdata(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    hi = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3]
    parts = [
        ev.where(F.col("event_id") <= cuts[0]),
        ev.where((F.col("event_id") > cuts[0]) & (F.col("event_id") <= cuts[1])),
        ev.where(F.col("event_id") > cuts[1]),
    ]
    _stage_micro_batches(
        [p.select("event_type", "user_id") for p in parts], staged
    )
    sketch_dir = _os.path.join(work, "sketch")
    stream_incremental_hll(
        spark,
        staged,
        sketch_dir,
        schema="event_type string, user_id long",
        group_cols=["event_type"],
        value_col="user_id",
        p=HLL_P,
        checkpoint_dir=_os.path.join(work, "ckpt"),
    )
    return hll_estimate_from_registers(
        spark.read.parquet(sketch_dir), ["event_type"], p=HLL_P
    )


# ----- BM25 scored retrieval -----------------------------------------

from dask_datapipeline_spark.operators.bm25 import (  # noqa: E402
    bm25_topk,
    bm25_topk_oracle_sql,
)

#: mixed-selectivity probe: 'dup' is rare (positive idf), the others
#: near-ubiquitous (negative idf at df > N/2 — the classic Robertson
#: idf behavior, kept as-is since both engines share the formula)
_BM25_QUERY = ["dup", "vector", "spark"]
_BM25_K = 15


@register(
    "bm25_topk",
    bm25_topk_oracle_sql("documents", _BM25_QUERY, k=_BM25_K),
    "Okapi BM25 top-k retrieval (operators/bm25.py): the query-time half of "
    "the inverted_index row — literal IN filter prunes to query-term postings "
    "BEFORE any shuffle, one (doc,term) groupBy for tf, <=|Q|-row broadcast df "
    "join, TakeOrderedAndProject top-k (no global sort). ln-idf rounded 9dp "
    "-> exact DECIMAL sum -> double (lm_perplexity recipe); (score DESC, "
    "doc_id) unique-key order. Promoted to the driver window in round 10 "
    "(README policy rule 3: retrieval is a production stage with no driver "
    "representative; slot freed by filter_between_sum)",
)
def q_bm25_topk(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, k=_BM25_K)


@register_extra(
    "bm25_from_index",
    bm25_topk_oracle_sql("documents", _BM25_QUERY, k=_BM25_K),
    "Index-backed BM25 (operators/bm25.py::bm25_topk_from_index): the "
    "materialized inverted index made scorable — build_bm25_index writes "
    "token-clustered postings (token, doc_id, tf, dl) + one-row corpus "
    "stats; the query then probes ONLY query-term postings (IN filter "
    "pushed into the postings parquet scan) and never re-tokenizes the "
    "corpus — at 100 TB a seconds-scale row-group probe vs a full pass. "
    "Shares bm25_topk's oracle verbatim: an exact match proves the index "
    "round trip is transparent (the scoring tail is literally the same "
    "function)",
)
def q_bm25_from_index(spark, sf_dir):
    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
    )
    from dask_datapipeline_spark.plans.catalog import gate_tmpdir

    docs = load_testdata(spark, sf_dir, "documents")
    idx = gate_tmpdir(spark, sf_dir, "bm25_idx", "index")
    build_bm25_index(docs, idx)
    return bm25_topk_from_index(spark, idx, _BM25_QUERY, k=_BM25_K)


@register_extra(
    "streaming_bm25_index",
    bm25_topk_oracle_sql("documents", _BM25_QUERY, k=_BM25_K),
    "Streaming twin of the BM25 index build (streaming/windows.py::"
    "stream_incremental_bm25_index): documents arrive as THREE micro-batch "
    "files through a real foreachBatch sink that appends replay-idempotent "
    "postings/stats DELTAS (overwrite by stable batch_id path — per-batch "
    "cost O(batch), the index is never rewritten). Scoring the drained "
    "index shares bm25_topk's oracle verbatim: an exact match proves the "
    "incremental wiring (delta union, stats SUM, checkpoint replay) loses "
    "nothing vs the one-shot batch build",
)
def q_streaming_bm25_index(spark, sf_dir):
    return _in_work_dir("ddps_stream_bm25_", _streaming_bm25_index_in, spark, sf_dir)


def _streaming_bm25_index_in(spark, sf_dir, work):
    import os as _os

    from dask_datapipeline_spark.operators.bm25 import bm25_topk_from_index
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_bm25_index,
    )

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    staged = _os.path.join(work, "staged")
    _os.makedirs(staged, exist_ok=True)
    hi = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    cuts = [hi // 3, 2 * hi // 3]
    parts = [
        docs.where(F.col("doc_id") <= cuts[0]),
        docs.where((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        docs.where(F.col("doc_id") > cuts[1]),
    ]
    _stage_micro_batches(parts, staged)
    index_dir = _os.path.join(work, "index")
    stream_incremental_bm25_index(
        spark,
        staged,
        index_dir,
        schema="doc_id long, text string",
        checkpoint_dir=_os.path.join(work, "ckpt"),
    )
    return bm25_topk_from_index(spark, index_dir, _BM25_QUERY, k=_BM25_K)


# ----- C4 line-level page cleaning -----------------------------------

from dask_datapipeline_spark.functions.quality import (  # noqa: E402
    C4_COLS,
    c4_clean_cols,
    c4_sql_projections,
)

# Deterministic multi-line "web page" synthesized from each document
# (the html_extract fixture precedent): a mix of keepable sentences,
# a short line, a javascript notice, a punctuation-less nav line
# (doc_id%3), a lorem-ipsum page killer (doc_id%4) and a curly-brace
# code line (doc_id%5) — so per-line keeps AND page-level kills both
# vary across the corpus. Twin builders, shared shape.
_RAW_PAGE_SQL = """'This is the lead paragraph of document ' || doc_id || '.' || chr(10) ||
  'Too short here' || chr(10) ||
  'Please enable JavaScript to view document ' || doc_id || '.' || chr(10) ||
  'The corpus text reads ' || substring(text, 1, 40) || ' and then it ends.' || chr(10) ||
  CASE WHEN doc_id % 3 = 0 THEN 'Menu Home About Contact Sitemap' || chr(10) ELSE '' END ||
  CASE WHEN doc_id % 4 = 0 THEN 'Filler follows: lorem ipsum dolor sit amet.' || chr(10) ELSE '' END ||
  CASE WHEN doc_id % 5 = 0 THEN 'var config = years[0];' || chr(10) ELSE '' END ||
  'A closing sentence that easily clears the word floor.'"""


def _raw_page_col():
    """Spark twin of ``_RAW_PAGE_SQL``."""
    d = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    return F.concat(
        F.lit("This is the lead paragraph of document "), d, F.lit("."), nl,
        F.lit("Too short here"), nl,
        F.lit("Please enable JavaScript to view document "), d, F.lit("."), nl,
        F.lit("The corpus text reads "), F.substring(F.col("text"), 1, 40),
        F.lit(" and then it ends."), nl,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("Menu Home About Contact Sitemap"), nl),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("Filler follows: lorem ipsum dolor sit amet."), nl),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("var config = years[0];"), nl),
        ).otherwise(F.lit("")),
        F.lit("A closing sentence that easily clears the word floor."),
    )


def _c4_line_filter_sql() -> str:
    sig = c4_sql_projections("page")
    cols = ",\n       ".join(f"{sig[n]} AS {n}" for n in C4_COLS)
    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_PAGE_SQL} AS page
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       {cols}
FROM raw
"""


@register_extra(
    "c4_line_filter",
    _c4_line_filter_sql(),
    "C4 line-level page cleaning (functions/quality.py; Raffel et al. 2020 "
    "§2.2): keep lines ending in terminal punctuation with >=5 words and "
    "no 'javascript'; drop pages with <3 surviving lines, 'lorem ipsum', or "
    "a curly brace; survivors reassembled order-preserving. The LINE-"
    "granularity complement to the gopher_quality document rules — same "
    "zero-shuffle zero-Python per-row array plan, fused into the scan",
)
def q_c4_line_filter(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = c4_clean_cols(_raw_page_col())
    return docs.select("doc_id", *[sig[n].alias(n) for n in C4_COLS])


# ----- within-document duplicate-line removal --------------------------

# Fixture: template chrome stamped through each page — a subscribe
# banner before AND after the body, the body repeated (pagination
# echo), a 40-char teaser that equals the body only for short docs
# (exercising the collision branch), and every 3rd doc a second
# banner pair. Exact cross-engine string ops only.
_DDL_BANNER = "Subscribe to our newsletter today"
_DDL_RIGHTS = "All rights reserved worldwide"


def _raw_dupline_page_col():
    nl = F.lit("\n")
    return F.concat(
        F.lit(_DDL_BANNER), nl,
        F.col("text"), nl,
        F.lit(_DDL_BANNER), nl,
        F.substring(F.col("text"), 1, 40), nl,
        F.col("text"), nl,
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_DDL_RIGHTS), nl, F.lit(_DDL_RIGHTS), nl),
        ).otherwise(F.lit("")),
        F.lit(_DDL_RIGHTS),
    )


_RAW_DUPLINE_PAGE_SQL = f"""'{_DDL_BANNER}' || chr(10) ||
  text || chr(10) ||
  '{_DDL_BANNER}' || chr(10) ||
  substr(text, 1, 40) || chr(10) ||
  text || chr(10) ||
  CASE WHEN doc_id % 3 = 0
       THEN '{_DDL_RIGHTS}' || chr(10) || '{_DDL_RIGHTS}' || chr(10)
       ELSE '' END ||
  '{_DDL_RIGHTS}'"""


def _line_dedup_sql() -> str:
    from dask_datapipeline_spark.functions.quality import (
        dedup_lines_sql_projections,
    )

    sig = dedup_lines_sql_projections("page")
    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_DUPLINE_PAGE_SQL} AS page
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, {sig["n_lines"]} AS n_lines, {sig["n_unique"]} AS n_unique,
       {sig["text_dedup"]} AS text_dedup
FROM raw
"""


@register_extra(
    "line_dedup_within_doc",
    _line_dedup_sql(),
    "Within-document duplicate-line removal (functions/quality.py::"
    "dedup_lines_cols; round 12) — the RefinedWeb 'remove duplicated "
    "lines within page' TRANSFORM complementing the dup_line_frac Gopher "
    "SIGNAL: template chrome (subscribe banners, rights lines, "
    "pagination echoes of the body) is repaired so the page passes "
    "instead of being dropped whole. First occurrence kept, document "
    "order preserved — Spark array_distinct vs the oracle's EXPLICIT "
    "index-aware list_filter/list_position first-occurrence statement, "
    "so the cross-engine order contract is gate-verified. Fixture "
    "stamps banners/echoes through each page incl. a teaser line that "
    "collides with the body only for short docs. Pure per-row array "
    "exprs, zero shuffles, fused into the scan",
)
def q_line_dedup_within_doc(spark, sf_dir):
    from dask_datapipeline_spark.functions.quality import dedup_lines_cols

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    sig = dedup_lines_cols(_raw_dupline_page_col())
    return docs.select(
        "doc_id",
        sig["n_lines"].alias("n_lines"),
        sig["n_unique"].alias("n_unique"),
        sig["text_dedup"].alias("text_dedup"),
    )


# ----- C4 -> Gopher curation funnel ----------------------------------

# The funnel's own page fixture carries the FULL document text in its
# corpus line (the c4_line_filter fixture truncates to 40 chars, which
# would leave every cleaned page under Gopher's 50-word floor and make
# the final stage degenerate-zero).
_RAW_FUNNEL_PAGE_SQL = """'This is the lead paragraph of document ' || doc_id || '.' || chr(10) ||
  'Too short here' || chr(10) ||
  'The corpus text reads ' || text || ' and then it properly ends.' || chr(10) ||
  CASE WHEN doc_id % 4 = 0 THEN 'Filler follows: lorem ipsum dolor sit amet.' || chr(10) ELSE '' END ||
  'A closing sentence that easily clears the word floor.'"""


def _raw_funnel_page_col():
    """Spark twin of ``_RAW_FUNNEL_PAGE_SQL``."""
    d = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    return F.concat(
        F.lit("This is the lead paragraph of document "), d, F.lit("."), nl,
        F.lit("Too short here"), nl,
        F.lit("The corpus text reads "), F.col("text"),
        F.lit(" and then it properly ends."), nl,
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("Filler follows: lorem ipsum dolor sit amet."), nl),
        ).otherwise(F.lit("")),
        F.lit("A closing sentence that easily clears the word floor."),
    )


def _quality_funnel_sql() -> str:
    c4 = c4_sql_projections("page")
    g = gopher_sql_projections("clean_text")
    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_FUNNEL_PAGE_SQL} AS page
  FROM documents WHERE text IS NOT NULL
),
c4 AS (
  SELECT doc_id,
         {c4["keep_doc"]} AS c4_keep,
         {c4["clean_text"]} AS clean_text,
         {c4["n_lines"]} AS n_lines,
         {c4["n_lines_kept"]} AS n_lines_kept
  FROM raw
),
staged AS (
  SELECT c4_keep, n_lines, n_lines_kept,
         length(clean_text) AS clean_chars,
         (c4_keep AND {gopher_keep_sql(g)}) AS final_keep
  FROM c4
)
SELECT COUNT(*) AS n_pages,
       CAST(SUM(CASE WHEN c4_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_c4_kept,
       CAST(SUM(CASE WHEN final_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_final_kept,
       CAST(SUM(n_lines) AS BIGINT) AS lines_in,
       CAST(SUM(n_lines_kept) AS BIGINT) AS lines_kept,
       CAST(SUM(clean_chars) AS BIGINT) AS clean_chars
FROM staged
"""


@register_extra(
    "quality_funnel",
    _quality_funnel_sql(),
    "The curation funnel, composed cross-module: synthetic page -> C4 line "
    "cleaning (functions/quality.py::c4_clean_cols) -> Gopher document rules "
    "over the CLEANED text (gopher_signal_cols) -> per-stage survivor counts. "
    "Proves the two quality stages chain (C4 cleans within the page, Gopher "
    "judges what survives) — still ONE scan, one ungrouped aggregate: the "
    "whole two-stage filter remains per-row expressions fused onto the scan",
)
def q_quality_funnel(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c4 = c4_clean_cols(_raw_funnel_page_col())
    staged = docs.select(
        c4["keep_doc"].alias("c4_keep"),
        c4["clean_text"].alias("clean_text"),
        c4["n_lines"].alias("n_lines"),
        c4["n_lines_kept"].alias("n_lines_kept"),
    )
    gsig = gopher_signal_cols(F.col("clean_text"))
    staged = staged.select(
        "c4_keep",
        "n_lines",
        "n_lines_kept",
        F.length("clean_text").alias("clean_chars"),
        (F.col("c4_keep") & gopher_keep(gsig)).alias("final_keep"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.col("c4_keep").cast("long")).alias("n_c4_kept"),
        F.sum(F.col("final_keep").cast("long")).alias("n_final_kept"),
        F.sum("n_lines").alias("lines_in"),
        F.sum("n_lines_kept").alias("lines_kept"),
        F.sum("clean_chars").alias("clean_chars"),
    )


def _hll_rollup_sql() -> str:
    """Per-type register tables + the GLOBAL estimate, sharing one
    hashed CTE — the global side builds registers over the full
    distinct hash set, which register max-merge exactness guarantees
    equals merging the per-type registers (what the Spark side
    actually does). All HLL fragments come from ONE shared builder
    (``sketches.hll_sql_parts``) so the replay family cannot drift."""
    from dask_datapipeline_spark.operators.sketches import (
        _SQL_HASH60,
        hll_sql_parts,
    )

    parts = hll_sql_parts(HLL_P)
    hash_expr = _SQL_HASH60.format(seed=HLL_SEED, col="CAST(user_id AS VARCHAR)")
    est = parts["est"]
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {hash_expr} AS hh
  FROM events WHERE user_id IS NOT NULL
),
reg_t AS (
  SELECT event_type, hh >> {parts["w"]} AS bucket, {parts["rho_max"]} AS m_reg
  FROM h GROUP BY 1, 2
),
agg_t AS (
  SELECT event_type AS scope, COUNT(*) AS n_buckets_used,
         {parts["s_occ"]} AS s_occ
  FROM reg_t GROUP BY 1
),
reg_g AS (
  SELECT bucket, MAX(m_reg) AS m_reg FROM reg_t GROUP BY 1
),
agg_g AS (
  SELECT 'ALL' AS scope, COUNT(*) AS n_buckets_used,
         {parts["s_occ"]} AS s_occ
  FROM reg_g
)
SELECT scope, n_buckets_used, {est} AS est_distinct FROM agg_t
UNION ALL
SELECT scope, n_buckets_used, {est} AS est_distinct FROM agg_g
"""


def _hll_set_ops_sql() -> str:
    """Two filtered register CTEs + their max-merge, shared hash CTE;
    intersection by inclusion-exclusion over the same 6dp-rounded
    estimates both engines emit. HLL fragments from the ONE shared
    builder (``sketches.hll_sql_parts``)."""
    from dask_datapipeline_spark.operators.sketches import (
        _SQL_HASH60,
        hll_sql_parts,
    )

    parts = hll_sql_parts(HLL_P)
    hash_expr = _SQL_HASH60.format(seed=HLL_SEED, col="CAST(user_id AS VARCHAR)")
    est = parts["est"]
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {hash_expr} AS hh
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
),
reg_t AS (
  SELECT event_type, hh >> {parts["w"]} AS bucket, {parts["rho_max"]} AS m_reg
  FROM h GROUP BY 1, 2
),
agg_t AS (
  SELECT event_type AS scope, COUNT(*) AS n_buckets_used,
         {parts["s_occ"]} AS s_occ
  FROM reg_t GROUP BY 1
),
reg_u AS (
  SELECT bucket, MAX(m_reg) AS m_reg FROM reg_t GROUP BY 1
),
agg_u AS (
  SELECT 'union' AS scope, COUNT(*) AS n_buckets_used,
         {parts["s_occ"]} AS s_occ
  FROM reg_u
),
longt AS (
  SELECT scope, {est} AS est FROM agg_t
  UNION ALL
  SELECT scope, {est} AS est FROM agg_u
)
SELECT SUM(CASE WHEN scope = 'click' THEN est END) AS est_click,
       SUM(CASE WHEN scope = 'purchase' THEN est END) AS est_purchase,
       SUM(CASE WHEN scope = 'union' THEN est END) AS est_union,
       SUM(CASE WHEN scope = 'click' THEN est END)
         + SUM(CASE WHEN scope = 'purchase' THEN est END)
         - SUM(CASE WHEN scope = 'union' THEN est END) AS est_intersection
FROM longt
"""


@register_extra(
    "hll_set_ops",
    _hll_set_ops_sql(),
    "HLL set algebra: |A|, |B|, |A∪B| (register max-merge — exact on the "
    "sketch) and |A∩B| by inclusion-exclusion over the same estimates — "
    "the audience-overlap question (how many users did BOTH) answered from "
    "kilobytes of mergeable register state, never a distinct-pair shuffle. "
    "Registers build once and serve all four numbers; intersection is one "
    "double add/subtract of the 6dp-rounded estimates, identical in both "
    "engines",
)
def q_hll_set_ops(spark, sf_dir):
    from dask_datapipeline_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    ev = (
        load_testdata(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .where(F.col("event_type").isin("click", "purchase"))
    )
    reg = hll_registers(ev, ["event_type"], "user_id", p=HLL_P, seed=HLL_SEED)
    reg = reg.localCheckpoint(eager=True)  # built once, read twice
    per = hll_estimate_from_registers(reg, ["event_type"], p=HLL_P).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )
    uni = hll_estimate_from_registers(
        hll_merge_registers(reg.drop("event_type"), []), [], p=HLL_P
    ).select(F.lit("union").alias("scope"), "est_distinct")
    longt = per.unionByName(uni)

    def pick(scope: str):
        return F.sum(
            F.when(F.col("scope") == scope, F.col("est_distinct"))
        )

    return longt.agg(
        pick("click").alias("est_click"),
        pick("purchase").alias("est_purchase"),
        pick("union").alias("est_union"),
        (pick("click") + pick("purchase") - pick("union")).alias(
            "est_intersection"
        ),
    )


@register_extra(
    "hll_rollup",
    _hll_rollup_sql(),
    "The mergeability payoff of HLL: per-event-type registers built ONCE, "
    "then the GLOBAL distinct-user estimate comes from max-merging those "
    "registers — no second scan of the corpus (at 100 TB: daily registers "
    "roll up to weekly/monthly/all-time estimates from kilobytes of state). "
    "Register max-merge exactness makes the merged table literally equal "
    "the global-build table, which is what the oracle's shared-CTE replay "
    "checks bit-for-bit",
)
def q_hll_rollup(spark, sf_dir):
    from dask_datapipeline_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    ev = load_testdata(spark, sf_dir, "events").select("event_type", "user_id")
    reg = hll_registers(ev, ["event_type"], "user_id", p=HLL_P, seed=HLL_SEED)
    reg = reg.localCheckpoint(eager=True)  # built once, read twice
    per_type = hll_estimate_from_registers(reg, ["event_type"], p=HLL_P).select(
        F.col("event_type").alias("scope"), "n_buckets_used", "est_distinct"
    )
    global_est = hll_estimate_from_registers(
        hll_merge_registers(reg.drop("event_type"), []), [], p=HLL_P
    ).select(F.lit("ALL").alias("scope"), "n_buckets_used", "est_distinct")
    return per_type.unionByName(global_est)


# ----- WARC round trip (Common Crawl front door) ---------------------

from dask_datapipeline_spark.sources.warc import (  # noqa: E402
    parse_warc,
    write_warc_batches,
)


@register_extra(
    "warc_roundtrip",
    """
SELECT doc_id,
       'https://crawl.example.com/doc/' || doc_id AS url,
       200 AS http_status,
       text
FROM documents WHERE text IS NOT NULL
""",
    "WARC record codec (sources/warc.py, stdlib-only like the BMP/WAV/AVI "
    "codecs): documents packed into multi-record RECORD-WISE-gzip WARC blobs "
    "(the Common Crawl layout, mtime=0 reproducible) then stream-parsed back "
    "— the oracle states the expected OUTPUT directly, so an exact match "
    "proves the synthesize->gzip->parse round trip byte-perfect. Parsing is "
    "one flatMap-style Arrow pass (no shuffle, state = one record) and runs "
    "unchanged on binaryFile ingest of real *.warc.gz",
)
def q_warc_roundtrip(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    staged = docs.select(
        (F.col("doc_id") % 16).alias("batch_id"),
        F.concat(
            F.lit("https://crawl.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    warc = write_warc_batches(staged, gzip_records=True)
    parsed = parse_warc(warc)
    return parsed.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        "http_status",
        "text",
    )


def _warc_web_pipeline_sql() -> str:
    from dask_datapipeline_spark.functions.html import html_to_text_sql_steps

    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_HTML_SQL} AS page
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       'https://crawl.example.com/doc/' || doc_id AS url,
       {html_to_text_sql_steps("page")} AS text
FROM raw
"""


@register_extra(
    "warc_web_pipeline",
    _warc_web_pipeline_sql(),
    "The crawl front door END-TO-END: HTML pages packed into record-wise-"
    "gzip WARC blobs (sources/warc.py) -> stream-parsed back -> html_to_text "
    "extraction (functions/html.py) — the oracle builds the same pages and "
    "applies the extraction SQL directly, so an exact match proves the WARC "
    "leg is transparent to the downstream cascade. This is stages 0-1 of the "
    "RefinedWeb/FineWeb order whose later stages (url_dedup, normalize, "
    "gopher/c4 quality, dedup, split) are the web_corpus_clean + "
    "quality_funnel rows",
)
def q_warc_web_pipeline(spark, sf_dir):
    from dask_datapipeline_spark.functions.html import html_to_text

    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    staged = docs.select(
        (F.col("doc_id") % 16).alias("batch_id"),
        F.concat(
            F.lit("https://crawl.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        _raw_html_col().alias("text"),
    )
    parsed = parse_warc(write_warc_batches(staged, gzip_records=True))
    return parsed.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "url",
        html_to_text(F.col("text")).alias("text"),
    )


def _warc_wet_sql() -> str:
    from dask_datapipeline_spark.functions.html import html_to_text_sql_steps

    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_HTML_SQL} AS page
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       'https://crawl.example.com/doc/' || doc_id AS url,
       'conversion' AS record_type,
       {html_to_text_sql_steps("page")} AS text
FROM raw
"""


@register_extra(
    "warc_wet",
    _warc_wet_sql(),
    "WET derivation over a MIXED-record crawl stream: pages packed with the "
    "real record mix (warcinfo head + request/response/metadata per doc, "
    "write_warc_batches mixed_records=True) -> parse_warc_typed routes by "
    "WARC-Type (a mis-routed request/metadata record would surface as an "
    "extra row and fail the row count) -> responses html_to_text -> packed "
    "as WET conversion records -> re-parsed. The oracle builds the expected "
    "text directly, so an exact match proves BOTH the mixed-record routing "
    "and the conversion-record codec round trip",
)
def q_warc_wet(spark, sf_dir):
    from dask_datapipeline_spark.functions.html import html_to_text
    from dask_datapipeline_spark.sources.warc import (
        parse_warc_typed,
        write_wet_batches,
    )

    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    staged = docs.select(
        (F.col("doc_id") % 16).alias("batch_id"),
        F.concat(
            F.lit("https://crawl.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        _raw_html_col().alias("text"),
    )
    warc = write_warc_batches(staged, gzip_records=True, mixed_records=True)
    responses = parse_warc_typed(warc).where(F.col("record_type") == "response")
    wet_in = responses.select(
        (F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long") % 16).alias(
            "batch_id"
        ),
        "url",
        html_to_text(F.col("text")).alias("text"),
    )
    wet = write_wet_batches(wet_in, gzip_records=True)
    return (
        parse_warc_typed(wet)
        .where(F.col("record_type") == "conversion")
        .select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
            "url",
            "record_type",
            "text",
        )
    )


@register_extra(
    "wds_roundtrip",
    """
SELECT doc_id, text
FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
""",
    "WebDataset tar shard codec (sources/webdataset.py, stdlib-only): "
    "documents packed into numbered .tar shards ({key}.txt members, "
    "zeroed mtime/uid — reproducible bytes) then stream-parsed back — the "
    "export format GPU data loaders consume (sequential member reads, the "
    "unit of parallelism = the shard file). One applyInPandas pack per "
    "shard (the shard key comes from the packing stage at scale, reusing "
    "its shuffle) + one flatMap parse pass; oracle states the expected "
    "output directly, so an exact match proves the round trip byte-perfect",
)
def q_wds_roundtrip(spark, sf_dir):
    from dask_datapipeline_spark.sources.webdataset import (
        parse_wds,
        write_wds_shards,
    )

    # doc_id guard (mirrored in the oracle): a NULL id would NaN the
    # pandas shard group and ANSI-crash the key cast on parse-back
    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    staged = docs.select(
        (F.col("doc_id") % 16).alias("shard_id"),
        F.col("doc_id").cast("string").alias("key"),
        "text",
    )
    shards = write_wds_shards(staged, gzip_shards=True)
    members = parse_wds(shards).where(F.col("ext") == "txt")
    return members.select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode(F.col("content"), "utf-8").alias("text"),
    )


# ----- corpus distribution drift -------------------------------------

from dask_datapipeline_spark.operators.drift import (  # noqa: E402
    source_drift,
    source_drift_oracle_sql,
)


@register_extra(
    "source_drift",
    source_drift_oracle_sql("documents", "source", "text", vocab_k=256),
    "Per-source Jensen-Shannon divergence vs the rest of the corpus over a "
    "top-256 capped vocab + <other> bucket (operators/drift.py) — the "
    "is-this-source-drifting monitoring stage. ONE corpus-sized counting "
    "groupBy; every later table bounded at groups*(k+1) rows (dense grid "
    "via a driver-collected symbol literal, never a cross join); ln terms "
    "via the round-9dp exact-decimal recipe",
)
def q_source_drift(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents")
    return source_drift(docs, "source", "text", vocab_k=256)


# ----- HTML page metadata --------------------------------------------

from dask_datapipeline_spark.functions.html import (  # noqa: E402
    html_meta_cols,
    html_meta_sql_projections,
)

# metadata-bearing page fixture: title always present (multi-line,
# entity-bearing), robots-noindex on doc_id%6, canonical link on
# doc_id%4 — twin builders, shared shape
_RAW_META_HTML_SQL = """'<html><head><title>' || chr(10) || '  Doc ' || doc_id ||
  ' — ' || source || chr(10) || '</title>' ||
  CASE WHEN doc_id % 6 = 0
       THEN '<meta name="robots" content="nofollow, noindex">' ELSE '' END ||
  CASE WHEN doc_id % 4 = 0
       THEN '<link rel="canonical" href="https://Example.com/c/' || doc_id || '?utm_source=x">'
       ELSE '' END ||
  '</head><body><p>' || text || '</p></body></html>'"""


def _raw_meta_html_col():
    """Spark twin of ``_RAW_META_HTML_SQL``."""
    d = F.col("doc_id").cast("string")
    nl = F.lit("\n")
    return F.concat(
        F.lit("<html><head><title>"), nl, F.lit("  Doc "), d,
        F.lit(" — "), F.col("source"), nl, F.lit("</title>"),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.lit('<meta name="robots" content="nofollow, noindex">'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<link rel="canonical" href="https://Example.com/c/'),
                d,
                F.lit('?utm_source=x">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>"), F.col("text"), F.lit("</p></body></html>"),
    )


def _html_meta_sql() -> str:
    sig = html_meta_sql_projections("page")
    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_META_HTML_SQL} AS page
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       {sig["title"]} AS title,
       {sig["noindex"]} AS noindex,
       {sig["canonical"]} AS canonical
FROM raw
"""


@register_extra(
    "html_meta",
    _html_meta_sql(),
    "HTML page-metadata extraction (functions/html.py::html_meta_cols): "
    "first <title> body (collapsed+trimmed), robots-noindex flag (the "
    "opt-out crawl pipelines must honor BEFORE content enters the corpus) "
    "and rel=canonical href (feeds canonical_url ahead of URL dedup). Pure "
    "codegen regex fused into the scan — the metadata sibling of "
    "html_extract, same shared-pattern discipline",
)
def q_html_meta(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = html_meta_cols(_raw_meta_html_col())
    return docs.select(
        "doc_id",
        sig["title"].alias("title"),
        sig["noindex"].alias("noindex"),
        sig["canonical"].alias("canonical"),
    )


# ----- robots.txt compliance -----------------------------------------

from dask_datapipeline_spark.functions.robots import (  # noqa: E402
    parse_robots,
    robots_allowed,
)


@register_extra(
    "robots_allow",
    """
SELECT doc_id,
       source AS host,
       CASE WHEN doc_id % 5 = 0 THEN '/private/' || doc_id
            WHEN doc_id % 5 = 1 THEN '/private/ok/' || doc_id
            WHEN doc_id % 5 = 2 THEN '/articles/' || doc_id
            WHEN doc_id % 5 = 3 THEN '/'
            ELSE '/public/' || doc_id END AS path,
       CASE WHEN doc_id % 5 = 0 THEN FALSE
            WHEN doc_id % 5 = 2
            -- TRY_CAST + COALESCE: a regenerated source value with no
            -- trailing digits extracts '' (NULL under TRY_CAST) — the
            -- Spark twin appends no Disallow line then, so ground
            -- truth is allowed=TRUE, never an oracle crash
            THEN COALESCE(
              TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) % 3 <> 0,
              TRUE)
            ELSE TRUE END AS allowed
FROM documents WHERE text IS NOT NULL
""",
    "robots.txt compliance (functions/robots.py): per-host policies "
    "synthesized as TEXT, parsed by the Arrow rule-table pass (UA groups, "
    "comments, CRLF), URLs decided by RFC 9309 longest-prefix-match with "
    "allow-wins ties via ONE broadcast equi-join + max_by — the oracle "
    "states the ground-truth policy directly, so an exact match proves the "
    "parse+match round trip. Rules: * group disallows /private, allows "
    "/private/ok, hosts %3==0 also disallow /articles; an evilbot group "
    "must NOT leak into the * decision",
)
def q_robots_allow(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    num = F.expr("try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS INT)")
    txt = F.concat(
        F.lit(
            "# crawl policy\r\nUser-agent: *\nDisallow: /private\n"
            "Allow: /private/ok\n"
        ),
        F.when(num % 3 == 0, F.lit("Disallow: /articles\n")).otherwise(F.lit("")),
        F.lit("\nUser-agent: evilbot\nDisallow: /\n"),
    )
    hosts = docs.select("source").distinct().select(
        F.col("source").alias("host"), txt.alias("robots_txt")
    )
    rules = parse_robots(hosts)
    d = F.col("doc_id").cast("string")
    urls = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/"), d))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/ok/"), d))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/articles/"), d))
        .when(F.col("doc_id") % 5 == 3, F.lit("/"))
        .otherwise(F.concat(F.lit("/public/"), d))
        .alias("path"),
    )
    return robots_allowed(urls, rules, "host", "path", agent="*")


@register_extra(
    "robots_agent_group",
    """
SELECT doc_id,
       source AS host,
       CASE WHEN doc_id % 5 = 0 THEN '/private/' || doc_id
            WHEN doc_id % 5 = 1 THEN '/private/ok/' || doc_id
            WHEN doc_id % 5 = 2 THEN '/articles/' || doc_id
            WHEN doc_id % 5 = 3 THEN '/'
            ELSE '/public/' || doc_id END AS path,
       CASE WHEN COALESCE(
              TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INTEGER) % 2 = 0,
              FALSE)
            -- host HAS a goodbot group: ONLY it applies (RFC 9309
            -- most-specific) — /articles disallowed, and the * group's
            -- /private rules must NOT leak in
            THEN doc_id % 5 <> 2
            -- no goodbot group: the * group decides
            ELSE doc_id % 5 <> 0 END AS allowed
FROM documents WHERE text IS NOT NULL
""",
    "RFC 9309 most-specific group, oracle-gated for a NAMED agent: hosts "
    "with even suffixes carry a goodbot group (Disallow /articles) on top "
    "of the * group (Disallow /private, Allow /private/ok); deciding as "
    "goodbot must use ONLY the goodbot group there (so /private is "
    "ALLOWED — the union semantics the round-9 advice flagged would flip "
    "it) and fall back to * on odd hosts. The oracle states ground truth "
    "per the spec directly, so an exact match pins the group-selection "
    "logic cross-engine, not just in pytest",
)
def q_robots_agent_group(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    num = F.expr("try_cast(regexp_extract(source, '(\\\\d+)$', 1) AS INT)")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
        F.when(
            num % 2 == 0, F.lit("\nUser-agent: goodbot\nDisallow: /articles\n")
        ).otherwise(F.lit("")),
    )
    hosts = docs.select("source").distinct().select(
        F.col("source").alias("host"), txt.alias("robots_txt")
    )
    rules = parse_robots(hosts)
    d = F.col("doc_id").cast("string")
    urls = docs.select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/"), d))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/ok/"), d))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/articles/"), d))
        .when(F.col("doc_id") % 5 == 3, F.lit("/"))
        .otherwise(F.concat(F.lit("/public/"), d))
        .alias("path"),
    )
    return robots_allowed(urls, rules, "host", "path", agent="goodbot")


@register_extra(
    "streaming_gopher_report",
    _gopher_report_sql(),
    "Streaming twin of gopher_report: the documents table arrives through "
    "readStream and the per-rule drop-count funnel aggregates under the "
    "micro-batch engine (complete mode, availableNow) — 0/1 long sums are "
    "associative across micro-batches, so the final state equals the batch "
    "report exactly and this row shares its oracle verbatim. The web front "
    "door's quality gate demonstrably runs as a LIVE pipeline stage, not "
    "just a batch pass",
)
def q_streaming_gopher_report(spark, sf_dir):
    from dask_datapipeline_spark.streaming.windows import (
        run_to_memory,
        stream_documents,
    )

    name = f"stream_gopher_{next(_STREAM_SEQ)}"
    docs = stream_documents(spark, sf_dir).where(F.col("text").isNotNull())
    sig = gopher_signal_cols(F.col("text"))
    flags = gopher_fail_flags(sig)
    flagged = docs.select(
        gopher_keep(sig).alias("keep"),
        *[flags[n].alias(n) for n in FAIL_NAMES],
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *[F.sum(F.col(n).cast("long")).alias(n) for n in FAIL_NAMES],
    )
    run_to_memory(agg, name, "complete", state_partitions=8)
    return spark.table(name)


def _gopher_triage_sql() -> str:
    sig = gopher_sql_projections("text")
    flags = gopher_fail_flags_sql(sig)
    branches = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{n}' AS rule FROM flagged WHERE {n}"
        for n in FAIL_NAMES
    )
    inner = ",\n         ".join(f"{flags[n]} AS {n}" for n in FAIL_NAMES)
    return f"""
WITH flagged AS (
  SELECT doc_id,
         {inner}
  FROM documents WHERE text IS NOT NULL
), offenders AS (
{branches}
)
SELECT rule,
       COUNT(*) AS n_failing,
       array_to_string(list_transform(
         (array_agg(doc_id ORDER BY doc_id))[1:3],
         x -> CAST(x AS VARCHAR)), ',') AS sample_doc_ids
FROM offenders GROUP BY rule
"""


@register_extra(
    "gopher_triage",
    _gopher_triage_sql(),
    "Quality triage report: per Gopher rule, the failing-doc count plus the "
    "3 lowest offending doc_ids (the click-through sample a curation "
    "reviewer reads before trusting a threshold). One scan -> per-rule "
    "posexplode of the SHARED fail flags -> one rule-keyed groupBy with a "
    "map-side min-3 semantics (sort_array(collect_list)[:3] over <=3-id "
    "slices after a window prune); ids render as a joined string so "
    "ordering drift is impossible to miss",
)
def q_gopher_triage(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = load_testdata(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sig = gopher_signal_cols(F.col("text"))
    flags = gopher_fail_flags(sig)
    flagged = docs.select(
        "doc_id", *[flags[n].alias(n) for n in FAIL_NAMES]
    )
    names = F.array(*[F.lit(n) for n in FAIL_NAMES])
    vals = F.array(*[F.col(n) for n in FAIL_NAMES])
    offenders = flagged.select(
        "doc_id",
        F.explode(F.filter(F.arrays_zip(names.alias("rule"), vals.alias("f")),
                           lambda s: s["f"])).alias("z"),
    ).select("doc_id", F.col("z.rule").alias("rule"))
    w = Window.partitionBy("rule").orderBy("doc_id")
    pruned = offenders.withColumn("__rn", F.row_number().over(w))
    return (
        pruned.groupBy("rule")
        .agg(
            F.count(F.lit(1)).alias("n_failing"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("__rn") <= 3, F.col("doc_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("sample_doc_ids"),
        )
    )


# ----- code-corpus front door (round 14): license + code signals -----

from dask_datapipeline_spark.functions.code import (  # noqa: E402
    code_like_col,
    code_like_sql,
    code_signal_cols,
    code_signal_sql,
    license_col,
    license_sql,
    permissive_col,
    permissive_sql,
)

#: one header line per license family in the fixture rotation —
#: mit / apache-2.0 / gpl / bsd (phrase) / mpl-2.0 / SPDX tag /
#: no license. The phrases are the LICENSE_PHRASES constants' carriers.
CODE_FIXTURE_HEADERS: list[str] = [
    "// Permission is hereby granted, free of charge, to any person"
    " obtaining a copy of this software",
    '// Licensed under the Apache License, Version 2.0 (the "License");'
    " you may not use this file",
    "// This program is free software: you can redistribute it under"
    " the terms of the GNU General Public License",
    "// Redistribution and use in source and binary forms, with or"
    " without modification, are permitted",
    "// This Source Code Form is subject to the terms of the Mozilla"
    " Public License, v. 2.0",
    "// SPDX-License-Identifier: BSD-3-Clause",
    "// utility helpers",
]

#: the repeated function body — braces, semicolons, 4-space indent,
#: one long line: every code_signal_cols signal is non-vacuous
CODE_FIXTURE_BODY = (
    "static int frob(int a, int b) {\n"
    "    int acc = 0;\n"
    "    for (int i = 0; i < a; i += 1) {\n"
    "        acc += acc * b + i;  /* accumulate the mixed product"
    " term into the running total */\n"
    "    }\n"
    "    return acc;\n"
    "}"
)


def _code_fixture_bodies() -> list[str]:
    """k in 1..3 copies of the body (k = doc_id % 3 + 1), each copy
    newline-prefixed — precomputed literals so neither engine needs a
    repeat() with a column count."""
    return [("\n" + CODE_FIXTURE_BODY) * k for k in (1, 2, 3)]


def _code_fixture_col():
    """Even doc_ids become synthetic source files (license family
    rotating through the 7 headers by (doc_id%14)//2, body repeated
    doc_id%3+1 times); odd doc_ids keep the REAL documents text as
    prose negatives."""
    hdrs = F.array(*[F.lit(h) for h in CODE_FIXTURE_HEADERS])
    bodies = F.array(*[F.lit(b) for b in _code_fixture_bodies()])
    fam = F.floor((F.col("doc_id") % 14) / 2).cast("int")
    k = (F.col("doc_id") % 3).cast("int")
    code = F.concat(
        F.element_at(hdrs, fam + 1), F.element_at(bodies, k + 1)
    )
    return F.when(F.col("doc_id") % 2 == 0, code).otherwise(F.col("text"))


def _sql_str(s: str) -> str:
    """A SQL string literal with newlines/tabs spelled chr() — keeps
    every generated oracle single-line-safe."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ch in ("\n", "\t"):
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return "(" + " || ".join(parts) + ")" if len(parts) > 1 else parts[0]


def _code_license_report_sql() -> str:
    hdr_lst = "[" + ", ".join(_sql_str(h) for h in CODE_FIXTURE_HEADERS) + "]"
    body_lst = (
        "[" + ", ".join(_sql_str(b) for b in _code_fixture_bodies()) + "]"
    )
    sig = code_signal_sql("text")
    sig_cols = ",\n         ".join(f"{v} AS {k}" for k, v in sig.items())
    return f"""
WITH fx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN ({hdr_lst})[((doc_id % 14) // 2) + 1]
                   || ({body_lst})[(doc_id % 3) + 1]
              ELSE text END AS text
  FROM documents WHERE text IS NOT NULL
),
sig AS (
  SELECT doc_id, {license_sql("text")} AS license,
         {sig_cols}
  FROM fx
),
per AS (
  SELECT *, {permissive_sql("license")} AS permissive,
         {code_like_sql()} AS code_like
  FROM sig
)
SELECT license, permissive,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN code_like THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code_like,
       CAST(SUM(n_braces) AS BIGINT) AS braces,
       CAST(SUM(n_semicolons) AS BIGINT) AS semicolons,
       CAST(SUM(n_indented) AS BIGINT) AS indented,
       CAST(MAX(max_line_len) AS BIGINT) AS max_line_len
FROM per
GROUP BY license, permissive
"""


@register_extra(
    "code_license_report",
    _code_license_report_sql(),
    "Code-corpus front door (round 14, functions/code.py): license "
    "detection (SPDX tag wins, else the legally-operative phrase per "
    "family, else 'unknown' — fail-closed permissive flag, The Stack "
    "practice) + exact-integer code-vs-prose structure signals "
    "(lines/indent/braces/semicolons/max-line via the length-difference "
    "substring-count device), folded into an all-integer code_like "
    "decision. Everything is ONE codegen projection over the scan — "
    "zero Python, zero extra shuffle beyond the report's groupBy. "
    "Fixture plants 7 license families on even doc_ids (body repeated "
    "1-3x), real prose on odd ids; oracle replays fixture + signals + "
    "CASE from the same module constants",
)
def q_code_license_report(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    fixture = docs.select("doc_id", _code_fixture_col().alias("text"))
    sig = code_signal_cols(F.col("text"))
    per = fixture.select(
        "doc_id",
        license_col(F.col("text")).alias("license"),
        *[sig[k].alias(k) for k in sig],
    )
    refs = {k: F.col(k) for k in sig}
    per = per.select(
        "*",
        permissive_col("license").alias("permissive"),
        code_like_col(refs).alias("code_like"),
    )
    return per.groupBy("license", "permissive").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("code_like").cast("long")).alias("n_code_like"),
        F.sum("n_braces").alias("braces"),
        F.sum("n_semicolons").alias("semicolons"),
        F.sum("n_indented").alias("indented"),
        F.max("max_line_len").alias("max_line_len"),
    )


# ----- route-aware sentence statistics (round 14) --------------------

from dask_datapipeline_spark.operators.scripts import (  # noqa: E402
    script_count_cols,
    script_count_sql,
    script_fixture_col,
    script_fixture_sql,
    script_route_col,
    script_route_sql,
    sentence_count_col,
    sentence_count_sql,
)


def _sentence_stats_sql() -> str:
    counts = script_count_sql("text")
    count_cols = ",\n         ".join(
        f"{sql} AS {name}"
        for name, sql in counts.items()
        if name != "n_letters"
    )
    return f"""
WITH fx AS (
  SELECT doc_id, {script_fixture_sql()} AS text
  FROM documents
),
sc AS (
  SELECT doc_id, text, {count_cols}
  FROM fx WHERE text IS NOT NULL
),
sp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM sc),
sr AS (
  SELECT doc_id, text, n_chars, {script_route_sql()} AS script FROM sp
),
per AS (
  SELECT doc_id, script, n_chars,
         {sentence_count_sql("text", "script")} AS n_sentences
  FROM sr
)
SELECT script,
       COUNT(*) AS n_docs,
       CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CASE WHEN SUM(n_sentences) > 0
            THEN CAST(SUM(n_chars) AS DOUBLE) / SUM(n_sentences)
            ELSE NULL END AS mean_sentence_chars
FROM per
GROUP BY script
"""


@register_extra(
    "sentence_stats",
    _sentence_stats_sql(),
    "Route-aware sentence statistics (round 14, operators/scripts.py::"
    "sentence_count_col): sentence count = maximal terminator RUNS "
    "('...' is one boundary) with the terminator CLASS picked by the "
    "row's script route — zh/ja read the ideographic/fullwidth set "
    "(\\u3002 etc.) that a Latin-only splitter scores as zero "
    "sentences, everything else the ASCII+ellipsis set; Thai "
    "documented 0-sentence honest scope (no terminal mark in the "
    "script, div guarded). Pure codegen regexp_count per row over the "
    "multilingual fixture pool; per-route report with IEEE-exact "
    "integer-ratio mean. Completes the routed text-statistics tier "
    "next to routed_token_count",
)
def q_sentence_stats(spark, sf_dir):
    from dask_datapipeline_spark.operators.scripts import nonascii_col

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", script_fixture_col().alias("text"))
    pre = fixture.where(F.col("text").isNotNull()).select(
        "doc_id", "text", nonascii_col("text").alias("__na")
    )
    counts = script_count_cols("text", nonascii=F.col("__na"))
    step = pre.select(
        "doc_id", "text", *[counts[k].alias(k) for k in counts]
    )
    refs = {k: F.col(k) for k in counts}
    routed = step.select(
        "doc_id", "text", "n_chars", script_route_col(refs).alias("script")
    )
    per = routed.select(
        "doc_id",
        "script",
        "n_chars",
        sentence_count_col("text", "script").alias("n_sentences"),
    )
    agg = per.groupBy("script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sentences").alias("sum_sent"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return agg.select(
        "script",
        "n_docs",
        F.col("sum_sent").alias("n_sentences"),
        F.col("sum_chars").alias("n_chars"),
        F.when(
            F.col("sum_sent") > 0,
            F.col("sum_chars").cast("double") / F.col("sum_sent"),
        ).alias("mean_sentence_chars"),
    )


# ----- positional phrase search (round 14) ---------------------------

from dask_datapipeline_spark.operators.phrase import (  # noqa: E402
    build_positional_index,
    phrase_search,
    phrase_search_from_index,
    phrase_search_oracle_sql,
)

#: the probe phrase — a repeated term ('alpha' occupies indices 0 AND
#: 2) so the multi-index token arm and OVERLAP counting are both
#: non-vacuous in the gate, not just in pytest
PHRASE_TERMS: list[str] = ["alpha", "beta", "alpha"]

#: planted tails: doc_id%3==0 gets 'alpha beta alpha beta alpha' —
#: the phrase at anchors 0 AND 2, overlapping (sharing the middle
#: 'alpha') — doc_id%3==1 a partial 'alpha beta gamma' (prefix hits
#: that must NOT count), the rest untouched real prose
_PHRASE_TAIL_FULL = " alpha beta alpha beta alpha"
_PHRASE_TAIL_PART = " alpha beta gamma"


def _phrase_fixture_col():
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_PHRASE_TAIL_FULL))
        .when(F.col("doc_id") % 3 == 1, F.lit(_PHRASE_TAIL_PART))
        .otherwise(F.lit("")),
    )


def _phrase_fixture_cte() -> str:
    return f"""fx AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN '{_PHRASE_TAIL_FULL}'
                      WHEN doc_id % 3 = 1 THEN '{_PHRASE_TAIL_PART}'
                      ELSE '' END AS text
  FROM documents
),
"""


@register_extra(
    "phrase_search",
    phrase_search_oracle_sql(
        PHRASE_TERMS, src="fx", front_ctes=_phrase_fixture_cte()
    ),
    "Positional phrase search, scan path (round 14, operators/"
    "phrase.py): exact consecutive-token matching via ANCHOR alignment "
    "— term i at position p votes for anchor p-i, an anchor with all m "
    "distinct indices is a match (COUNT(DISTINCT i)=m) — one shuffle "
    "keyed (doc, anchor) carrying only phrase-term postings, never the "
    "corpus; OVERLAPPING matches count separately (the substring-count "
    "device undercounts exactly those, pytest-pinned) and a repeated "
    "phrase term maps to BOTH its indices through a literal map "
    "(zero joins). The decontamination primitive BM25 cannot answer: "
    "does any training doc contain this exact sequence? Fixture plants "
    "the phrase twice-overlapping on doc_id%3==0 and a must-not-match "
    "prefix on %3==1; exact-integer oracle replays the same device",
)
def q_phrase_search(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    fixture = docs.select("doc_id", _phrase_fixture_col().alias("text"))
    return phrase_search(fixture, PHRASE_TERMS)


@register_extra(
    "phrase_from_index",
    phrase_search_oracle_sql(
        PHRASE_TERMS, src="fx", front_ctes=_phrase_fixture_cte()
    ),
    "Positional phrase search, index path (round 14): "
    "build_positional_index materializes (token, doc_id, poss) "
    "clustered on token (the build_bm25_index layout — probes read "
    "only the phrase terms' row groups, PushedFilters In(token,...) "
    "pytest-pinned), then phrase_search_from_index explodes those "
    "position arrays back through THE SAME anchor tail as the scan "
    "path (one shared function, the _score_and_rank precedent). "
    "Shares phrase_search's oracle verbatim: the exact match proves "
    "the positional index round trip is transparent",
)
def q_phrase_from_index(spark, sf_dir):
    from dask_datapipeline_spark.plans.catalog import gate_tmpdir

    docs = load_testdata(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    fixture = docs.select("doc_id", _phrase_fixture_col().alias("text"))
    idx = gate_tmpdir(spark, sf_dir, "phrase_idx", "index")
    build_positional_index(fixture, idx)
    return phrase_search_from_index(spark, idx, PHRASE_TERMS)


# ----- homoglyph-fold dedup keys (round 14) --------------------------

from dask_datapipeline_spark.functions.normalize import (  # noqa: E402
    fold_homoglyphs,
    fold_homoglyphs_sql,
)

#: the fixture's spoof direction: Latin -> visually-identical Cyrillic
#: (a subset of the fold table, applied in REVERSE to synthesize the
#: adversarial copies — so fold(spoof(t)) == fold(t) by construction)
_SPOOF_SRC = "aeopc"
_SPOOF_DST = "".join(chr(c) for c in (0x0430, 0x0435, 0x043E, 0x0440, 0x0441))


def _homoglyph_dedup_sql() -> str:
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT doc_id * 2 AS id, text AS t FROM src
  UNION ALL
  SELECT doc_id * 2 + 1 AS id,
         translate(text, '{_SPOOF_SRC}', '{_SPOOF_DST}') AS t
  FROM src
),
folded AS (
  SELECT id, md5({fold_homoglyphs_sql("t")}) AS folded_md5,
         md5(t) AS kraw
  FROM pairs
)
SELECT folded_md5, COUNT(*) AS n, MIN(id) AS id_a, MAX(id) AS id_b,
       COUNT(DISTINCT kraw) AS raw_forms
FROM folded GROUP BY folded_md5
"""


@register_extra(
    "homoglyph_dedup",
    _homoglyph_dedup_sql(),
    "Homoglyph-folded dedup keys (round 14, functions/normalize.py::"
    "fold_homoglyphs): spam/SEO duplicates swap Latin letters for "
    "visually-identical Cyrillic/Greek/fullwidth codepoints to defeat "
    "hash dedup — one curated-confusables translate() pass at the KEY "
    "boundary (never the stored text) makes the spoofed copy collide "
    "with its original. Fixture explodes each real doc into (original, "
    "Cyrillic-spoofed copy); the folded-md5 groups reunite every pair "
    "while raw_forms=2 per group proves the raw hashes did NOT collide "
    "— the fold is load-bearing, not vacuous. Pure codegen (translate "
    "+ md5), one bounded groupBy; exact oracle from the same constants",
)
def q_homoglyph_dedup(spark, sf_dir):
    docs = (
        load_testdata(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    spoofed = F.translate(F.col("text"), _SPOOF_SRC, _SPOOF_DST)
    pairs = docs.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("doc_id") * 2).alias("id"),
                    F.col("text").alias("t"),
                ),
                F.struct(
                    (F.col("doc_id") * 2 + 1).alias("id"),
                    spoofed.alias("t"),
                ),
            )
        ).alias("r")
    ).select("r.id", "r.t")
    folded = pairs.select(
        "id",
        F.md5(fold_homoglyphs(F.col("t"))).alias("folded_md5"),
        F.md5(F.col("t")).alias("kraw"),
    )
    return folded.groupBy("folded_md5").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("id_a"),
        F.max("id").alias("id_b"),
        F.countDistinct("kraw").alias("raw_forms"),
    )


#: the fixture benchmark set for the batch probe: the overlap pair,
#: the prefix sentence, and a never-matching control
PHRASE_BENCH: list[tuple[int, str]] = [
    (0, "alpha beta alpha"),
    (1, "alpha beta gamma"),
    (2, "delta epsilon zeta"),
]


def _phrase_decontaminate_sql() -> str:
    from dask_datapipeline_spark.operators.phrase import (
        phrase_decontaminate_oracle_sql,
    )

    vals = ", ".join(
        f"({i}, '{t}')" for i, t in PHRASE_BENCH
    )
    front = (
        _phrase_fixture_cte()
        + f"phrases(phrase_id, text) AS (VALUES {vals}),\n"
    )
    return phrase_decontaminate_oracle_sql(
        docs_src="fx", phrases_cte="phrases", front_ctes=front
    )


@register_extra(
    "phrase_decontaminate",
    _phrase_decontaminate_sql(),
    "Batch decontamination probe (round 14, operators/phrase.py::"
    "phrase_decontaminate): EVERY benchmark sentence at once in ONE "
    "corpus pass — sentences tokenize into a (phrase_id, i, term) "
    "table BROADCAST against the corpus tokens (map-side filter: "
    "non-matching tokens never leave the scan), anchors vote per "
    "(doc, phrase, anchor), a full-phrase anchor needs all m distinct "
    "indices of ITS phrase. Output (doc_id, phrase_id, n_matches) is "
    "the exclusion table a training run applies before sharding; "
    "candidate volume bounded by the benchmark vocabulary's posting "
    "mass, never a corpus self-join. Same planted tails as "
    "phrase_search plus a never-matching control phrase; exact-integer "
    "oracle replays the generalized anchor device",
)
def q_phrase_decontaminate(spark, sf_dir):
    from dask_datapipeline_spark.operators.phrase import (
        phrase_decontaminate,
    )

    docs = load_testdata(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    fixture = docs.select("doc_id", _phrase_fixture_col().alias("text"))
    phrases = spark.createDataFrame(
        PHRASE_BENCH, "phrase_id int, text string"
    )
    return phrase_decontaminate(fixture, phrases)


@register_extra(
    "phrase_decontaminate_from_index",
    _phrase_decontaminate_sql(),
    "Index-path batch decontamination (round 14): the corpus side of "
    "phrase_decontaminate is REPLACED by the positional index's "
    "postings, pruned to the benchmark vocabulary with a pushed "
    "In(token,...) filter — the corpus is never re-tokenized, each "
    "benchmark revision costs one row-group probe (the bounded driver "
    "collect is the benchmark vocabulary, the bm25 query-terms class). "
    "Shares phrase_decontaminate's oracle verbatim: the exact match "
    "proves the positional index transparent for the batch probe too",
)
def q_phrase_decontaminate_from_index(spark, sf_dir):
    from dask_datapipeline_spark.operators.phrase import (
        phrase_decontaminate_from_index,
    )
    from dask_datapipeline_spark.plans.catalog import gate_tmpdir

    docs = load_testdata(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    fixture = docs.select("doc_id", _phrase_fixture_col().alias("text"))
    idx = gate_tmpdir(spark, sf_dir, "phrase_idx_bench", "index")
    build_positional_index(fixture, idx)
    phrases = spark.createDataFrame(
        PHRASE_BENCH, "phrase_id int, text string"
    )
    return phrase_decontaminate_from_index(spark, idx, phrases)


# ----- mixed-script page detection (round 14) ------------------------

from dask_datapipeline_spark.operators.scripts import (  # noqa: E402
    nonascii_col,
    script_mix_cols,
    script_mix_sql,
)


def _script_mix_report_sql() -> str:
    counts = script_count_sql("text")
    count_cols = ",\n         ".join(
        f"{sql} AS {name}"
        for name, sql in counts.items()
        if name != "n_letters"
    )
    mix = script_mix_sql()
    return f"""
WITH fx AS (
  SELECT doc_id, {script_fixture_sql()} AS text
  FROM documents
),
mc AS (
  SELECT doc_id, {count_cols}
  FROM fx WHERE text IS NOT NULL
),
mp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM mc),
mr AS (
  SELECT doc_id, {script_route_sql()} AS script,
         {mix["n_scripts_present"]} AS n_scripts_present,
         {mix["n_scripts_major"]} AS n_scripts_major,
         {mix["mixed_script"]} AS mixed_script
  FROM mp
)
SELECT script, mixed_script,
       COUNT(*) AS n_docs,
       CAST(SUM(n_scripts_present) AS BIGINT) AS sum_present,
       CAST(MAX(n_scripts_major) AS BIGINT) AS max_major
FROM mr
GROUP BY script, mixed_script
"""


@register_extra(
    "script_mix_report",
    _script_mix_report_sql(),
    "Mixed-script page detection (round 14, operators/scripts.py::"
    "script_mix_cols): the page-level consistency check behind "
    "boilerplate-injection / SEO-spam triage — a prose page whose "
    "letters split across two scripts (>=2 scripts each holding >=1/4 "
    "of the letters) is template chrome, machine-joined content, or "
    "spam. ALL-INTEGER decisions over the already-materialized script "
    "counts (no entropy, no division); the fixture pool's "
    "half-and-half CJK/Latin edge page plants the mixed=TRUE class by "
    "construction. Per-(route, mixed) report, exact oracle from the "
    "same constants",
)
def q_script_mix_report(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", script_fixture_col().alias("text"))
    pre = fixture.where(F.col("text").isNotNull()).select(
        "doc_id", "text", nonascii_col("text").alias("__na")
    )
    counts = script_count_cols("text", nonascii=F.col("__na"))
    step = pre.select(
        "doc_id", *[counts[k].alias(k) for k in counts]
    )
    refs = {k: F.col(k) for k in counts}
    mix = script_mix_cols(refs)
    per = step.select(
        "doc_id",
        script_route_col(refs).alias("script"),
        *[mix[k].alias(k) for k in mix],
    )
    return per.groupBy("script", "mixed_script").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_scripts_present").alias("sum_present"),
        F.max("n_scripts_major").alias("max_major"),
    )
