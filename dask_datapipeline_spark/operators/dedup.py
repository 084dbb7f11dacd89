"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.2): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

- **Exact dedup** is a hash groupBy on the dedup key — one shuffle,
  map-side partial agg. ``keep='min_id'`` makes the survivor
  deterministic (``dropDuplicates`` keeps an arbitrary row).
- **MinHash+LSH** avoids the O(N²) pairwise comparison: signatures are
  one explode+groupBy (shuffle on doc_id), banding turns "similar"
  into "equal on a band key", so candidate generation is a self
  equi-join on (band, signature) — shuffle-partitioned by bucket.
  Only candidates (a tiny fraction) pay the exact-Jaccard verify.
- **SimHash** is a single Arrow-batched pandas UDF pass (no shuffle);
  near-dup candidates are equal-prefix buckets or small Hamming
  distance within buckets.

Cross-engine determinism: the token hash is
``int64(hex_prefix_15(md5(seed || ':' || token)))`` — md5 is identical
in Spark, DuckDB, and Python's hashlib, so every operator here has an
exactly-matching SQL oracle (no engine-specific hash functions).

Tokenization everywhere: ``split(lower(text), ' ')`` — simple,
identical in both engines; swap in a regexp tokenizer per-corpus.

Cache contract: operators persist (MEMORY_AND_DISK) intermediates
that their own plans reference multiple times (shingle tables,
signatures, labels). Cached tables live for the session — a service
processing many distinct corpora should call
``spark.catalog.clearCache()`` between corpora, or materialize the
intermediate to parquet instead (the 100 TB deployment does the
latter; see docs/SCALE.md).
"""

from __future__ import annotations

import hashlib
from fractions import Fraction
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_datapipeline_spark.errors import observed_metric, require_columns
from dask_datapipeline_spark.parallel import fan_out

# ----- shared primitives --------------------------------------------

#: Modulus for the affine MinHash family: Mersenne prime 2^31-1.
#: (a * (h % P) + b) with a, b, h%P < 2^31 stays < 2^62 — exact in
#: int64 on both Spark and DuckDB, no overflow, no float.
MERSENNE_P = (1 << 31) - 1


def affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine hash family
    g_i(h) = (a_i * h + b_i) mod P. Derived from md5 so the DuckDB
    oracle builder (catalog_llm.py) embeds the same literals."""
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (MERSENNE_P - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % MERSENNE_P
        out.append((a, b))
    return out


def tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(c), " ")


def seeded_hash64(col: Column, seed: str | int) -> Column:
    """Deterministic 60-bit hash shared with the DuckDB oracle:
    first 15 hex chars of md5('<seed>:' || value), parsed base-16.
    ``seed`` is any f-string-renderable domain separator — integer
    hash indexes and string namespaces ('shard', 'qw', ...) alike."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def shingles(text_col: Column | str, n: int) -> Column:
    """Word n-gram shingles as an array of strings (consecutive
    n-token windows joined by spaces). Documents with fewer than ``n``
    tokens yield an EMPTY array — the guard matters because Spark's
    ``sequence(1, 0)`` is descending ([1, 0]) and ``slice(_, 0, _)``
    throws, so without it one short document kills the whole job."""
    toks = tokens(text_col)
    stop = F.size(toks) - n + 1
    # branch-free: clamp the sequence to a valid range, then filter
    # out-of-range indices — avoids a when() whose duplicated branch
    # expressions can defeat subexpression elimination
    idx = F.filter(F.sequence(F.lit(1), F.greatest(stop, F.lit(1))), lambda i: i <= stop)
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def char_shingles(text_col: Column | str, n: int) -> Column:
    """CHAR n-gram shingles of the lowercased text (round 13) — the
    non-whitespace-script member of the shingle family: an unsegmented
    CJK page has no word delimiters, so :func:`shingles` sees ONE
    giant token and emits an EMPTY array (zero near-dup recall by
    construction, pytest-pinned). Char n-grams are the standard
    substitute (CCNet/fastText practice). Same empty-array guard as
    the word variant for texts shorter than ``n``; spaces count as
    characters (both engines agree)."""
    c = F.lower(F.col(text_col) if isinstance(text_col, str) else text_col)
    stop = F.length(c) - n + 1
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(stop, F.lit(1))), lambda i: i <= stop
    )
    return F.transform(idx, lambda i: c.substr(i, F.lit(n)))


#: shingle extraction modes shared by the whole near-dup family.
#: 'routed' (round 14, VERDICT r13 item 1) picks PER ROW: char n-grams
#: for unsegmented scripts (zh/ja/th via operators/scripts.py routing),
#: word shingles otherwise — a mixed-script corpus no longer has to
#: choose one corpus-global mode (word = zero CJK recall, pinned;
#: char = different Latin precision/recall than the gate-proven word
#: mode).
SHINGLE_MODES = ("word", "char", "routed")

#: mode-namespace tags prepended to every shingle STRING in 'routed'
#: mode before hashing, so a char gram can never hash-equal an
#: identical word shingle — cross-mode docs share zero shingle hashes
#: by construction (their true Jaccard over routed features is 0).
#: Single-mode corpora ('word'/'char') stay untagged: their hashes
#: remain byte-compatible with every r1-r13 index and oracle.
ROUTED_TAGS = {"word": "w|", "char": "c|"}


def _shingle_col(text_col: str, shingle_n: int, mode: str) -> Column:
    if mode not in SHINGLE_MODES:
        raise ValueError(f"shingle_mode={mode!r} not in {SHINGLE_MODES}")
    if mode == "routed":
        raise ValueError(
            "mode='routed' needs the per-row script route — use "
            "hashed_shingles(), which materializes the count columns "
            "first (one regex execution per row)"
        )
    return (
        shingles(text_col, shingle_n)
        if mode == "word"
        else char_shingles(text_col, shingle_n)
    )


def _routed_hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """The 'routed' arm of :func:`hashed_shingles`: route each row by
    Unicode script (pure codegen — ``operators/scripts.py``), then
    shingle it in ITS mode: char n-grams for the unsegmented routes
    (zh/ja/th), word shingles otherwise, each tagged with its
    :data:`ROUTED_TAGS` namespace before the one md5.

    ``shingle_n`` applies to both arms (n words / n chars — the same
    default 3 both single modes use). Two projections on purpose: the
    mode bit is referenced by both shingle arms, so it materializes as
    a column first (script_profile's one-regex-execution-per-row
    discipline). Scale shape is unchanged from the single modes: one
    explode + one md5 per shingle occurrence, no shuffle, no Python.

    Round 14 optimization pass: the mode bit comes from
    ``scripts.unsegmented_route_col`` — THREE regex passes (union
    letters class, han+kana, thai) instead of the full 10-class
    profile + route CASE this previously materialized; the shingler
    only needs char-tier membership, provably equal to
    ``route ∈ UNSEGMENTED_ROUTES`` (see that function's docstring;
    pytest-pinned against py_route on unicode soup)."""
    from dask_datapipeline_spark.operators.scripts import (
        nonascii_col,
        unsegmented_route_col,
    )

    # materialize the non-ASCII probe ahead of the mode bit (round-14
    # review: the default branch inlines one rlike per class —
    # re-scans per row on the ASCII-majority corpus shape this hot
    # path runs over; script_profile's discipline applies here)
    pre = fan_out(df.select(id_col, text_col)).select(
        id_col, text_col, nonascii_col(text_col).alias("__sc_na")
    )
    step = pre.select(
        id_col,
        text_col,
        unsegmented_route_col(text_col, nonascii=F.col("__sc_na")).alias(
            "__sc_char"
        ),
    )
    char_mode = F.col("__sc_char")
    # the single-mode path drops '' shingles AFTER explode; here the
    # tag would mask them, so drop them BEFORE tagging (char grams are
    # never '' — substr always yields exactly n chars in range)
    tagged = F.when(
        char_mode,
        F.transform(
            char_shingles(text_col, shingle_n),
            lambda g: F.concat(F.lit(ROUTED_TAGS["char"]), g),
        ),
    ).otherwise(
        F.transform(
            F.filter(
                shingles(text_col, shingle_n), lambda s: s != F.lit("")
            ),
            lambda s: F.concat(F.lit(ROUTED_TAGS["word"]), s),
        )
    )
    return step.select(F.col(id_col), F.explode(tagged).alias("__sh"))


def hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    shingle_mode: str = "word",
) -> DataFrame:
    """(id, __h) rows — one 60-bit hash per shingle occurrence
    (duplicates kept; callers distinct/min as needed).

    The single md5 here is the only string hashing in the whole
    MinHash/Jaccard family; every downstream shuffle, join, and
    distinct moves 8-byte longs instead of shingle strings — at 100 TB
    that's the difference between shuffling the corpus's n-grams and
    shuffling fixed-width keys.

    The result is persisted (MEMORY_AND_DISK): the shingle table is
    the shared root of the whole near-dup family — signatures AND the
    Jaccard verify read it within one query, and Spark's CacheManager
    plan-matching lets every other query over the same corpus
    (jaccard / minhash / clustering / decontamination) hit the same
    cache entry instead of re-exploding and re-hashing the corpus.
    Identical plans share ONE entry, so repeated calls don't stack
    copies. See the module docstring's cache contract — a service
    processing many corpora clears or materializes instead, and a
    streaming caller, whose every micro-batch is a new plan, unpersists
    the result once it is written (``append_to_minhash_index``)."""
    require_columns(df, [id_col, text_col])
    from pyspark.storagelevel import StorageLevel

    if shingle_mode == "routed":
        exploded = _routed_hashed_shingles(df, id_col, text_col, shingle_n)
    else:
        exploded = (
            fan_out(df.select(id_col, text_col))
            .select(
                F.col(id_col),
                F.explode(
                    _shingle_col(text_col, shingle_n, shingle_mode)
                ).alias("__sh"),
            )
            .where(F.col("__sh") != "")
        )
    return exploded.select(
        F.col(id_col), seeded_hash64(F.col("__sh"), 0).alias("__h")
    ).persist(StorageLevel.MEMORY_AND_DISK)


# ----- exact dedup ---------------------------------------------------


def cap_document_frequency(sh: DataFrame, max_df: int | None) -> DataFrame:
    """Drop shingle hashes that appear in more than ``max_df``
    documents, given the DISTINCT (doc, __h) table.

    This is the guard that keeps the Jaccard/MinHash family from
    going quadratic on hot keys: the intersection (and banding)
    self-joins key on ``__h``, so one stopword-ish shingle shared by
    k documents emits k² join rows. An ABSOLUTE cap (not a corpus
    fraction) bounds that at max_df² rows per key no matter how large
    the corpus grows — and a shingle present in hundreds of documents
    carries ~zero similarity signal anyway (it is the n-gram analogue
    of a stopword). Downstream Jaccard values are over the capped
    shingle universe; the SQL oracles replay the identical cap.

    Physical shape: a count-over-window partitioned by ``__h`` plus a
    filter — ONE shuffle and ONE pass over the input lineage. The
    groupBy+semi-join alternative reads the (typically un-persisted)
    upstream lineage twice and shuffles three times — at scale that is
    two extra wide exchanges of the full shingle table. The window's
    shuffle keys on the same column as the downstream intersection
    self-join, so that exchange is reusable."""
    if max_df is None:
        return sh
    if max_df < 1:
        raise ValueError(f"max_df={max_df} must be >= 1")
    from pyspark.sql.window import Window

    w = Window.partitionBy("__h")
    return (
        sh.withColumn("__df", F.count(F.lit(1)).over(w))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
    )


def exact_dedup(df: DataFrame, key_cols: Sequence[str], id_col: str | None = None) -> DataFrame:
    """Exact deduplication on ``key_cols``.

    With ``id_col``: deterministic survivor (min id) + dup count per
    key — one groupBy shuffle. Without: ``dropDuplicates`` (arbitrary
    survivor, cheapest)."""
    require_columns(df, list(key_cols))
    if id_col is None:
        return df.dropDuplicates(list(key_cols))
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    )


# ----- MinHash + LSH -------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """Per-document MinHash signature: sig[i] = min over distinct
    shingles of g_i(shingle), where g_i(h) = (a_i·h + b_i) mod P is an
    affine family over ONE md5 base hash per shingle — 1 md5 + 16
    integer ops instead of 16 md5s, identical math in the SQL oracle.

    One explode + one groupBy computing all ``num_hashes`` mins in a
    single pass (partial aggregation map-side — the explode never
    leaves the executor unreduced). No distinct before the groupBy:
    ``min`` over duplicate shingles equals min over the set, and a
    distinct would cost a full extra shuffle."""
    hashed = hashed_shingles(df, id_col, text_col, shingle_n, shingle_mode)
    return _signatures_from_hashed(hashed, id_col, num_hashes)


def _signatures_from_hashed(hashed: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    base = F.col("__h") % MERSENNE_P
    aggs = [
        F.min((F.lit(a) * base + F.lit(b)) % MERSENNE_P).alias(f"mh_{i}")
        for i, (a, b) in enumerate(affine_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, __t, __band) rows — one per (doc, band), where ``__band``
    concatenates that band's signature slots. The shared banding side
    of every LSH join (self-join candidates, batch-vs-index
    incremental flagging): equality on (__t, __band) is the
    "similar" predicate banding makes joinable."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be divisible by bands={bands} — "
            "truncating would silently ignore trailing signature slots"
        )
    rows_per_band = num_hashes // bands
    keys = [
        F.concat_ws(
            "_",
            *[
                F.col(f"mh_{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), F.posexplode(F.array(*keys)).alias("__t", "__band")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banding: docs equal on ALL rows of any band are candidates.

    Implemented as posexplode of the ``bands`` band keys (concat of
    that band's signature slots) followed by ONE self equi-join on
    (band index, band key) — versus ``bands`` separate join+union
    branches, which would recompute the signature aggregation per
    branch and per side. The two sides of the self-join are identical
    subplans, so Spark reuses the shuffle (ReusedExchange). Shuffle is
    on the band key → bucket-local work, scales linearly.
    Output: (id_a, id_b) with id_a < id_b."""
    side = band_keys(signatures, id_col, num_hashes, bands)
    return (
        side.alias("a")
        .join(side.alias("b"), on=["__t", "__band"])
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingle_mode: str = "word",
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (or all pairs
    sharing ≥1 shingle when ``candidates`` is None — the small-scale /
    oracle path).

    Sets are of 60-bit shingle hashes (see ``hashed_shingles``) —
    collision probability is negligible and the oracle hashes
    identically, so the Jaccard values match bit-for-bit. Intersection
    per candidate pair by ``array_intersect`` of the two documents'
    sorted hash arrays, union by |A|+|B|−∩ from the array sizes (see
    ``_verify_pairs``). Output: (id_a, id_b, jaccard ≥ threshold).

    ``max_df`` bounds the hot-shingle skew: shingles present in more
    than ``max_df`` documents are dropped BEFORE any join on the hash
    (see ``cap_document_frequency``), capping the prefix join's
    fan-out at max_df² rows per key. Jaccard is then over the capped
    shingle universe — pass the same cap to the oracle.

    The distinct shingle-hash table is persisted (memory, spilling to
    disk) so that every near-dup query over the same corpus in the
    session (``near_dup_pairs_minhash`` builds the identical plan)
    shares one materialization instead of re-exploding and re-hashing
    the corpus's n-grams.

    The no-candidates path uses PPJoin-style PREFIX FILTERING
    (Chaudhuri/Ganti/Kaushik 2006, Xiao et al. 2008) — exact, not a
    heuristic: see ``_jaccard_allpairs_prefix``.

    ``shingle_mode='char'`` swaps in char n-grams (round 13) — the
    correct feature for unsegmented CJK corpora, where word shingles
    are empty by construction."""
    hashed = hashed_shingles(df, id_col, text_col, shingle_n, shingle_mode)
    from pyspark.storagelevel import StorageLevel

    sh = (
        cap_document_frequency(hashed.distinct(), max_df)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if candidates is None:
        return _jaccard_allpairs_prefix(sh, id_col, threshold)
    return _jaccard_from_distinct(sh, candidates, id_col, threshold)


def _exact_ceil_mul(n_col: Column, threshold: float) -> Column:
    """Integer-exact ``ceil(threshold * n)`` for an integer column.

    ``F.ceil`` over the double product can land one off when the
    product's rounding crosses an integer, and the prefix-filter math
    is only safe with the TRUE ceiling (a too-high ceil shortens the
    prefix and can drop a qualifying pair). The float result is always
    within 1 of the true ceiling (relative error < 2^-53 on a product
    < 2^53), so use it as a candidate and correct it with exact
    integer tests against the threshold's exact binary rational
    P/Q = Fraction(threshold): the true ceiling m is the unique
    integer with (m-1)·Q < P·n <= m·Q. decimal(38,0) holds every
    product exactly (P < 2^53, Q <= 2^53, n < 2^31 → < 10^38)."""
    frac = Fraction(threshold)
    p_num, q_den = frac.numerator, frac.denominator
    dec = "decimal(38,0)"
    c0 = F.ceil(F.lit(threshold) * n_col).cast("long")
    pn = F.lit(p_num).cast(dec) * n_col.cast(dec)
    cq = c0.cast(dec) * F.lit(q_den).cast(dec)
    return (
        F.when(pn > cq, c0 + 1)
        .when(pn <= cq - F.lit(q_den).cast(dec), c0 - 1)
        .otherwise(c0)
    )


def _exact_jaccard_ge(inter_col: Column, na_col: Column, nb_col: Column, threshold: float) -> Column:
    """Integer-exact ``J >= threshold`` with the threshold read as its
    exact binary rational P/Q: ``Q·inter >= P·(na+nb-inter)``.

    Why not ``(inter/union) >= threshold`` on doubles: the prefix and
    positional filters prune with the EXACT rational (they must — see
    ``_exact_ceil_mul``), so a double final compare creates boundary
    pairs (exact J < P/Q but fl(J) rounds up to the threshold, e.g.
    J = 1/10 at threshold 0.1) that are kept by the candidates path
    but may be pruned by the prefix path — two verify paths, two
    answers. Found by
    tests/test_properties.py::test_prefix_filter_allpairs_matches_brute_force.
    decimal(38,0) holds every product exactly (Q <= 2^53, sets < 2^31)."""
    frac = Fraction(threshold)
    dec = "decimal(38,0)"
    q = F.lit(frac.denominator).cast(dec)
    p = F.lit(frac.numerator).cast(dec)
    return inter_col.cast(dec) * q >= p * (na_col + nb_col - inter_col).cast(dec)


def _jaccard_allpairs_prefix(
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ t via prefix filtering.

    With every document's (distinct, capped) shingle hashes SORTED
    under one global order, any pair with J ≥ t must share an element
    within both docs' first ``n - ceil(t·n) + 1`` hashes (the smallest
    common element cannot sit past either prefix — pigeonhole on the
    ≥ ceil(t·n) common elements). So candidate generation only joins
    the prefixes (~(1-t) of each set at threshold t: 4× fewer join
    rows at t=0.5 than the full intersection self-join), and
    verification computes the EXACT intersection per candidate pair
    with ``array_intersect`` on the full sorted hash arrays — a
    per-pair map-side operation bounded by document length (the
    ``_verify_pairs`` the candidates path uses too).

    Same output, bit-for-bit, as the naive plan (the oracle SQL is
    unchanged); the speedup is pure candidate pruning. The per-doc
    array table is O(corpus shingles) but partitioned by doc — at
    100 TB it joins candidate pairs by id (AQE broadcasts it only
    when small). The df cap upstream still bounds prefix-join fan-out
    per hash key."""
    from pyspark.storagelevel import StorageLevel

    arrs = (
        _hash_arrays(sh, id_col)
        .withColumn(
            "__p",
            (F.col("__n") - _exact_ceil_mul(F.col("__n"), threshold) + 1).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pref = arrs.select(
        F.col(id_col),
        F.col("__n"),
        F.posexplode(F.slice("__arr", 1, F.col("__p"))).alias("__pos", "__h"),
    )
    # POSITIONAL filter (PPJoin, Xiao et al. 2008), exact-safe: a
    # qualifying pair's FIRST shared element (in the global hash
    # order) lies in BOTH prefixes (the prefix-filter theorem), and
    # every other shared element sits after it on both sides, so
    # overlap <= 1 + min(na-1-i, nb-1-j) at its 0-based positions
    # (i, j) — prefix position == array position since the prefix is
    # an array prefix. Qualifying at threshold t needs overlap >=
    # ceil(t*(na+nb)/(1+t)); pairs whose bound falls short can never
    # reach t and are dropped BEFORE the array join + verify.
    # min_by(__h) picks the first-in-order shared prefix element
    # deterministically; for non-qualifying pairs it may pick a later
    # one, which only shrinks the bound further (more pruning, still
    # no false drop of anything qualifying).
    matched = (
        pref.alias("a")
        .join(pref.alias("b"), on="__h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "__h",
            F.col("a.__pos").alias("__pa"),
            F.col("a.__n").alias("__na0"),
            F.col("b.__pos").alias("__pb"),
            F.col("b.__n").alias("__nb0"),
        )
    )
    cand = (
        matched.groupBy("id_a", "id_b")
        .agg(
            F.min_by("__pa", "__h").alias("__fa"),
            F.min_by("__pb", "__h").alias("__fb"),
            F.first("__na0").alias("__na1"),
            F.first("__nb0").alias("__nb1"),
        )
        # integer bound >= t*(na+nb)/(1+t) tested EXACTLY as
        # bound*(P+Q) >= P*(na+nb) with P/Q = Fraction(threshold) —
        # for an integer b, b >= x and b >= ceil(x) are equivalent, so
        # the rational inequality replaces the float ceil (whose
        # product/division rounding could raise the requirement by one
        # and drop a qualifying pair at thresholds like 0.1 or 0.55)
        .filter(
            (1 + F.least(F.col("__na1") - 1 - F.col("__fa"),
                         F.col("__nb1") - 1 - F.col("__fb")))
            .cast("decimal(38,0)")
            * F.lit(
                Fraction(threshold).numerator + Fraction(threshold).denominator
            ).cast("decimal(38,0)")
            >= F.lit(Fraction(threshold).numerator).cast("decimal(38,0)")
            * (F.col("__na1") + F.col("__nb1")).cast("decimal(38,0)")
        )
        .select("id_a", "id_b")
    )
    return _verify_pairs(cand, arrs, id_col, threshold)


def _hash_arrays(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, __arr, __n): each doc's distinct hashes as a sorted array, its size."""
    return (
        sh.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__h")).alias("__arr"))
        .withColumn("__n", F.size("__arr"))
    )


def _verify_pairs(cand: DataFrame, arrs: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The one exact verify of candidate pairs ``(id_a, id_b)``: one row
    per pair, the size of its two hash arrays' ``array_intersect``, kept
    when they share a shingle and pass the exact rational test."""
    na = arrs.select(
        F.col(id_col).alias("id_a"), F.col("__arr").alias("__aa"), F.col("__n").alias("__na")
    )
    nb = arrs.select(
        F.col(id_col).alias("id_b"), F.col("__arr").alias("__ab"), F.col("__n").alias("__nb")
    )
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__aa", "__ab")))
        .filter(
            (F.col("__inter") > 0)
            & _exact_jaccard_ge(F.col("__inter"), F.col("__na"), F.col("__nb"), threshold)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))).alias(
                "jaccard"
            ),
        )
    )


def _jaccard_from_distinct(
    sh: DataFrame,
    candidates: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard >= ``threshold`` of the ``candidates`` pairs over
    the DISTINCT ``(id, __h)`` table ``sh``, arraying only the hashes
    of candidate docs (a doc-level filter: set sizes are unchanged)."""
    ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionByName(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # No broadcast hint: AQE broadcasts the id set when it is small
    # (the common case) but can fall back to a shuffled semi-join
    # when a pathological corpus yields huge candidate sets.
    arrs = _hash_arrays(sh.join(ids, on=id_col, how="left_semi"), id_col)
    return _verify_pairs(candidates, arrs, id_col, threshold)


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingle_mode: str = "word",
) -> DataFrame:
    """End-to-end near-dup detection: MinHash → LSH banding →
    exact-Jaccard verification of candidates only. ``max_df`` caps
    hot-shingle document frequency ahead of BOTH the signatures and
    the verify (one consistent shingle universe; see
    ``cap_document_frequency``).

    The DISTINCT shingle-hash table is computed once and persisted —
    signatures and the Jaccard verify both derive from it (min over a
    set equals min over its duplicates), so the corpus text is
    shingled+hashed a single time and the cached table is shared with
    any ``jaccard_pairs`` run in the same session (identical canonical
    plan → CacheManager hit). Signatures are persisted too: the
    banding self-join references them on both sides, and one signature
    row per doc (16 longs) is far cheaper to hold than to recompute."""
    from pyspark.storagelevel import StorageLevel

    sh = (
        cap_document_frequency(
            hashed_shingles(
                df, id_col, text_col, shingle_n, shingle_mode
            ).distinct(),
            max_df,
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = _signatures_from_hashed(sh, id_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the candidate pair set is read twice by the verify (doc-id
    # restriction + pair join); un-persisted, the banding
    # self-join would run twice per evaluation
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _jaccard_from_distinct(sh, cands, id_col, threshold)


# ----- SimHash -------------------------------------------------------

def _simhash_schema(id_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("simhash_hi", T.LongType()),
            T.StructField("simhash_lo", T.LongType()),
        ]
    )


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """64-bit SimHash per document over distinct word n-gram shingles,
    emitted as two uint32 halves (hi, lo) so values stay positive in
    both engines' int64.

    Shingles (not single tokens) are the features: on a small shared
    vocabulary, token-level SimHash collapses (every doc sees the same
    token set); n-gram shingles preserve locality so Hamming distance
    tracks Jaccard similarity.

    Arrow-batched pandas UDF (mapInPandas): shingle, md5 each distinct
    shingle (same md5-hex → bits algorithm as the SQL oracle), sum ±1
    per bit position, sign → bit. One narrow pass, no shuffle — the
    scale-correct shape for per-document feature extraction. The
    per-bit work is a vectorized numpy unpack over all of a document's
    shingle hashes at once (not a 64×n_shingles Python loop).

    Documents with no shingles (fewer than ``shingle_n`` tokens) are
    DROPPED, matching the SQL oracle, which derives hashes from the
    exploded shingle table. An all-zero hash for feature-less docs
    would otherwise make every pair of them Hamming distance 0 — a
    false-positive near-dup clique that also piles a quadratic
    candidate blowup onto one join bucket."""
    id_name, text_name = id_col, text_col
    shifts = np.arange(64, dtype=np.uint64)

    def _doc_hash(text) -> tuple[int, int] | None:
        toks = (text or "").lower().split(" ")
        shs = {
            " ".join(toks[i : i + shingle_n])
            for i in range(max(len(toks) - shingle_n + 1, 0))
        } - {""}
        if not shs:
            return None
        hs = np.array(
            [int(hashlib.md5(t.encode()).hexdigest()[:16], 16) for t in shs],
            dtype=np.uint64,
        )
        bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        counts = (2 * bits - 1).sum(axis=0)
        v = int(((counts > 0).astype(np.uint64) << shifts).sum())
        return (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF

    def _batch(iterator):
        for pdf in iterator:
            rows = [
                (i, hl)
                for i, hl in zip(pdf[id_name], (_doc_hash(t) for t in pdf[text_name]))
                if hl is not None
            ]
            yield pd.DataFrame(
                {
                    id_name: [i for i, _ in rows],
                    "simhash_hi": [h for _, (h, _) in rows],
                    "simhash_lo": [l for _, (_, l) in rows],
                }
            )

    src = fan_out(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(_batch, schema=_simhash_schema(id_col))


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    shortcut: bool = False,
) -> DataFrame:
    """Connected components of the near-dup pair graph →
    (id, cluster_id, is_canonical), where cluster_id is the MINIMUM id
    in the component — the deterministic canonical survivor, and rows
    with ``is_canonical`` false are the ones a dedup pipeline drops.

    Iterative min-label propagation (the standard Spark encoding of an
    algorithm SQL can't stream): each round joins labels across edges
    and keeps the per-node min, converging in O(component diameter)
    rounds — near-dup components are shallow, so a handful. Each round
    is one keyed join + one groupBy shuffle over the EDGE set only
    (the edge table carries self-loops, so a relaxation references the
    label table exactly once). Driver coordinates the loop; for
    numeric ids the convergence metric (exact label sum) rides INSIDE
    the relaxation job via ``df.observe`` — ``CollectMetrics``
    accumulates during the eager checkpoint — and TWO relaxations fuse
    into each eager action (round 15): the common diameter-≤2 graph
    (one propagation + one stability proof) costs 2 actions total
    (edges + one fused double-round) instead of 3, and deeper graphs
    halve their action count. The join-based fallback for non-numeric
    ids and the shortcut path keep one relaxation per action plus a
    second convergence action.

    Edges and per-round labels are materialized with an EAGER
    ``localCheckpoint`` — not ``persist``: in an iterative loop each
    round's plan nests the previous round's, and a cache miss (or a
    failed cached-plan substitution) silently recomputes the whole
    upstream pipeline once per round, turning O(rounds) into
    O(rounds × pipeline) — measured 32 s/round vs 0.3 s/round at
    sf0.1. Checkpointing truncates the lineage so a round can only
    ever cost one small join+groupBy. (Production note: local
    checkpoints live in executor storage and do not survive executor
    loss; a long-running 100 TB job should point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and
    use ``checkpoint`` — same plan shape, reliable recovery.)

    The loop runs over EDGE-INCIDENT nodes only: a node with no
    near-dup pair is its own canonical singleton forever, so dragging
    the full corpus through every round would multiply each round's
    shuffle by corpus/|incident| for zero information. Singletons are
    re-attached with one anti-join after convergence. In a near-dup
    workload the pair graph is orders of magnitude smaller than the
    corpus, so this is the difference between rounds costing
    O(corpus) and O(duplicates).

    ``shortcut=True`` adds pointer doubling (label ← min(label,
    label[label]) after each relaxation — one extra keyed join per
    round) which cuts rounds from O(diameter) to O(log diameter).
    Near-dup graphs are shallow (measured diameter ≤ 2 at sf0.1 — the
    loop already converges in the minimum 2 rounds: one propagation +
    one stability proof, so shortcutting is OFF by default to avoid
    paying the extra join), but for adversarial chain-shaped
    components it is the difference between converging and hitting
    ``max_iter`` (tests/test_llm_ops.py exercises a 40-node chain).

    Raises RuntimeError if ``max_iter`` rounds don't converge (a
    pathological chain longer than max_iter)."""
    e = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    both = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # SELF-LOOPS (round 15): every incident node also carries (u, u).
    # A relaxation is then ONE join + ONE groupBy referencing the label
    # table exactly once — min over neighbors' labels includes the
    # node's own label via its self-loop, so the union-with-labels
    # branch (which referenced the loop-carried table twice per round)
    # disappears. Single-reference rounds are what makes the fused
    # two-rounds-per-action plan below safe: a twice-referenced
    # un-persisted intermediate would execute (and double-count its
    # ride-along metrics) twice.
    edges = (
        both.unionByName(both.select("u", F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # incident derives LAZILY from the checkpointed edges — one
    # distinct over cached blocks; only the per-round label table needs
    # its own checkpoint (it is the loop-carried state). Fewer eager
    # actions per call: at sf0.1 the fixed per-action scheduling cost
    # dominates this operator, not the 2-round loop.
    incident = edges.select("u").distinct()
    # FUSED first relaxation: propagating identity labels one step is
    # exactly label(u) = min over self+neighbors v (the self-loop
    # supplies u) — one groupBy over the checkpointed edges replaces
    # the identity-label checkpoint and the first keyed join.
    labels_plan = edges.groupBy("u").agg(F.min("v").alias("label"))
    numeric_ids = dict(labels_plan.dtypes)["label"] in {
        "tinyint", "smallint", "int", "bigint"
    }
    observable = numeric_ids and not shortcut

    def relax(lbl: DataFrame) -> DataFrame:
        # one keyed join + one groupBy; lbl referenced ONCE (self-loops)
        return (
            edges.join(lbl.select(F.col("u").alias("v"), "label"), on="v")
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )

    if observable:
        # Round 15 (VERDICT r14 item 6): TWO relaxations per eager
        # action, each with its own ride-along CollectMetrics — the
        # common diameter-<=2 pair graph (first relaxation already at
        # the fixed point, second is the stability proof) now costs
        # 2 eager actions total (edges + one fused double-round)
        # instead of 3. Labels only ever decrease, so the exact
        # decimal label sums are equal iff NOTHING changed; when
        # round 2a's sum equals the previous action's sum the prior
        # labels were already stable (2b == 2a == prior), and when
        # 2a == 2b the fixed point was reached at 2a — either way the
        # checkpointed 2b table IS the converged labeling. Per-action
        # cost is the same two join+groupBy shuffles the two separate
        # rounds paid; only the action/scheduling overhead halves.
        from pyspark.sql import Observation

        def _ssum(plan: DataFrame, obs: Observation) -> DataFrame:
            return plan.observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("__s")
            )

        def _get(obs: Observation) -> int:
            # an EMPTY pair graph (no near-dups) may prune the metrics
            # node; its label sum is 0, as is a NULL sum
            s = observed_metric(obs, "__s")
            return int(s if s is not None else 0)

        labels = None
        prev_sum: int | None = None
        cur = labels_plan
        rounds = 0
        converged = False
        while rounds < max_iter:
            obs_a, obs_b = Observation(), Observation()
            ra = _ssum(cur, obs_a)
            labels = _ssum(relax(ra), obs_b).localCheckpoint(eager=True)
            sa, sb = _get(obs_a), _get(obs_b)
            rounds += 2
            if (prev_sum is not None and sa == prev_sum) or sa == sb:
                converged = True
                break
            prev_sum = sb
            cur = relax(labels)
        if not converged:
            raise RuntimeError(
                f"label propagation did not converge in {max_iter} rounds"
            )
        return _attach_singletons(labels, nodes, incident, id_col)

    labels = labels_plan.localCheckpoint(eager=True)

    def label_sum(lbl: DataFrame) -> int:
        # Labels only ever decrease, so the exact-decimal sum strictly
        # decreases iff ANY label changed — a single aggregate on the
        # cached label table replaces a join-based change count.
        # Integer ids only; decimal(38,0) cannot overflow for any
        # realistic id×row count.
        row = lbl.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0]
        return int(row[0] if row[0] is not None else 0)

    def changed_count(new: DataFrame, old: DataFrame) -> int:
        # Fallback for non-numeric ids (string keys etc.): join-based
        # change detection — one extra keyed join per round.
        return (
            new.alias("n")
            .join(old.alias("o"), on="u")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )

    if numeric_ids:
        prev_sum = label_sum(labels)
    for _ in range(max_iter):
        # self-loop edges make this ONE join + ONE groupBy (labels
        # referenced once — min over self+neighbors includes the
        # node's own label via its self-loop)
        new_labels = relax(labels).localCheckpoint(eager=True)
        if shortcut:
            # pointer doubling: follow one hop of the label graph —
            # label[label] is defined for every label (labels point at
            # incident nodes), so the join is total; least() keeps
            # monotone non-increase and the component min is a fixed
            # point, so convergence detection is unchanged
            lab2 = new_labels.select(
                F.col("u").alias("label"), F.col("label").alias("__l2")
            )
            new_labels = (
                new_labels.join(lab2, on="label", how="left")
                .select(
                    "u",
                    F.least(
                        F.col("label"), F.coalesce(F.col("__l2"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
        if numeric_ids:
            new_sum = label_sum(new_labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = changed_count(new_labels, labels) == 0
        labels = new_labels
        if converged:
            break
    else:
        raise RuntimeError(f"label propagation did not converge in {max_iter} rounds")
    return _attach_singletons(labels, nodes, incident, id_col)


def _attach_singletons(
    labels: DataFrame, nodes: DataFrame, incident: DataFrame, id_col: str
) -> DataFrame:
    """Nodes without any near-dup edge never entered the loop: each is
    its own singleton cluster (label = self), attached with one
    anti-join against the incident-node set."""
    singles = (
        nodes.select(F.col(id_col).alias("u"))
        .distinct()
        .join(incident, on="u", how="left_anti")
        .withColumn("label", F.col("u"))
    )
    return labels.unionByName(singles).select(
        F.col("u").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("u")).alias("is_canonical"),
    )


def keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Quality-argmax survivor selection over near-dup clusters: per
    cluster, KEEP the highest-scoring member (ties broken by smallest
    id) and mark every other member for dropping.

    ``dup_clusters`` (and the reference-style min-id policy its
    ``is_canonical`` column encodes) keeps an *arbitrary* member; a
    training-data pipeline instead keeps the best one — highest
    quality score, longest, least boilerplate — so near-dup removal
    does not systematically delete the good copy (the keep-best
    policy of RefinedWeb/FineWeb-style dedup stages).

    Inputs: ``clusters`` is (id, cluster) — e.g. ``dup_clusters``
    output — and ``scores`` is (id, score); NULL scores sort LAST
    (explicitly, on both engines: Spark's DESC default happens to be
    NULLS LAST but DuckDB's is configurable, so the catalog oracle
    spells it out too). Output: (id, cluster, score, keep) for every
    clustered id, ``keep`` true on exactly one row per cluster.

    Plan shape / 100 TB: one keyed equi-join on id (both sides
    pre-shuffled on the same key; AQE picks broadcast when scores is
    a small sketch) and one window partitioned by cluster — clusters
    are near-dup components, bounded by the pair-generation caps, so
    no window partition is ever corpus-sized. Determinism: the window
    orders by (score DESC NULLS LAST, id ASC); id is unique, so the
    survivor is a total-order argmax — engine- and
    partitioning-independent.
    """
    from pyspark.sql.window import Window

    require_columns(clusters, [id_col, cluster_col])
    require_columns(scores, [id_col, score_col])
    j = clusters.select(id_col, cluster_col).join(
        scores.select(id_col, score_col), on=id_col
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return j.select(
        id_col,
        cluster_col,
        score_col,
        (F.row_number().over(w) == 1).alias("keep"),
    )


def hamming_band_pairs(
    sig: DataFrame,
    id_col: str,
    hi_col: str,
    lo_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over 64-bit signatures stored as two uint32
    halves (``hi_col``, ``lo_col``), by Hamming distance ≤
    ``max_hamming``.

    Candidate generation is DETERMINISTIC banding, not probabilistic
    LSH: the 64-bit signature splits into 4 16-bit chunks, and by
    pigeonhole any pair within Hamming distance 3 agrees on at least
    one chunk — so a self equi-join on (chunk index, chunk value) has
    perfect recall for ``max_hamming < 4``. Exact Hamming
    (bit_count of xor) verifies candidates. One shuffle keyed on the
    chunk; same shape and scale behavior as the MinHash banding join.
    Shared by SimHash text near-dup and perceptual image near-dup.
    Output: (id_a, id_b, hamming) with id_a < id_b."""
    if not 0 <= max_hamming < 4:
        raise ValueError("4-chunk banding guarantees recall only for max_hamming < 4")
    chunks = F.array(
        F.shiftright(F.col(hi_col), 16),
        F.col(hi_col).bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col(lo_col), 16),
        F.col(lo_col).bitwiseAND(F.lit(0xFFFF)),
    )
    side = sig.select(
        F.col(id_col),
        F.col(hi_col),
        F.col(lo_col),
        F.posexplode(chunks).alias("__i", "__chunk"),
    )
    ham = (
        F.bit_count(F.col(f"a.{hi_col}").bitwiseXOR(F.col(f"b.{hi_col}")))
        + F.bit_count(F.col(f"a.{lo_col}").bitwiseXOR(F.col(f"b.{lo_col}")))
    )
    return (
        side.alias("a")
        .join(side.alias("b"), on=["__i", "__chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming_band_pairs_wide(
    sig: DataFrame,
    id_col: str,
    word_cols: list[str] | tuple[str, ...],
    max_hamming: int = 3,
) -> DataFrame:
    """``hamming_band_pairs`` generalized to WIDE signatures: the hash
    is given as N 32-bit words (long columns in [0, 2^32)), each word
    is one banding chunk, and by pigeonhole any pair within Hamming
    distance N-1 agrees on at least one word — perfect recall for
    ``max_hamming < N``, exact bit_count(xor) verify.

    Why width matters at scale: chunk-value collisions cost
    ~N·C(n/2^bits_per_chunk, 2)·2^bits_per_chunk candidates on diverse
    hashes. The 64-bit/16-bit-chunk classic carries a structural
    n²/2^15 term that dominates around 10^7 items; four 32-BIT chunks
    (a 128-bit hash) push that to n²/2^31 — negligible to ~10^9 items
    for the same recall guarantee and the same single chunk-keyed
    shuffle of fixed-width rows (docs/SCALE.md, round-8 addendum).
    Output: (id_a, id_b, hamming) with id_a < id_b."""
    words = list(word_cols)
    if len(words) < 2:
        raise ValueError("need at least 2 word columns to band")
    if not 0 <= max_hamming < len(words):
        raise ValueError(
            f"{len(words)}-chunk banding guarantees recall only for "
            f"max_hamming < {len(words)}"
        )
    side = sig.select(
        F.col(id_col),
        *[F.col(c) for c in words],
        F.posexplode(F.array(*[F.col(c) for c in words])).alias("__i", "__chunk"),
    )
    ham = None
    for c in words:
        term = F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
        ham = term if ham is None else ham + term
    return (
        side.alias("a")
        .join(side.alias("b"), on=["__i", "__chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``
    — ``simhash`` feature extraction + the shared 4×16-bit pigeonhole
    banding join (``hamming_band_pairs``).
    Output: (id_a, id_b, hamming) with id_a < id_b."""
    from pyspark.storagelevel import StorageLevel

    s = simhash(df, id_col, text_col, shingle_n).persist(StorageLevel.MEMORY_AND_DISK)
    return hamming_band_pairs(
        s, id_col, "simhash_hi", "simhash_lo", max_hamming=max_hamming
    )


# ----- benchmark decontamination ------------------------------------


def contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int | None = None,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: which training documents contain
    n-grams from an evaluation set (the overlap check every serious
    LLM data pipeline runs before training — cf. the GPT-3/PaLM
    appendix methodology of 8-13-gram collision scans).

    Output per CONTAMINATED train doc (clean docs are absent — at
    corpus scale emitting "0 hits" for billions of clean rows is
    pure waste; left-join downstream if a flag column is needed):
      (id, n_shingles, n_shared, share_frac)
    where n_shingles is the doc's distinct shingle-hash count,
    n_shared the count also present anywhere in the eval set, and
    share_frac their ratio.

    Plan shape / 100 TB design:
    - Both corpora reduce to DISTINCT 8-byte shingle hashes
      (``hashed_shingles``): the join and every shuffle move longs,
      never n-gram strings.
    - The eval side collapses to a distinct hash SET (no doc ids) —
      eval suites are thousands of documents, so the set broadcasts
      (``broadcast_eval``) and the train side joins map-side with NO
      shuffle of the training corpus. At that point the whole
      operator is one groupBy(train id) shuffle.
    - ``max_df`` (see ``cap_document_frequency``) caps hot shingles
      on the train side; with a broadcast semi-join the cap is not
      needed for join fan-out (each train hash matches at most once)
      but keeps share_frac comparable with the near-dup family.
    """
    tr = hashed_shingles(train, id_col, text_col, shingle_n).distinct()
    tr = cap_document_frequency(tr, max_df)
    ev = (
        hashed_shingles(eval_df, id_col, text_col, shingle_n)
        .select("__h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, on="__h", how="left")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            id_col,
            "n_shingles",
            "n_shared",
            (F.col("n_shared") / F.col("n_shingles")).alias("share_frac"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: how much of each document's
    n-gram set also occurs in OTHER documents of the corpus. The
    complement of novelty ("copied fraction") is the standard cheap
    memorization/duplication risk signal — a document whose shingles
    are mostly corpus-frequent is boilerplate or a near-copy even
    when no single pair-wise match crosses a near-dup threshold.

    Output per document that has >= 1 shingle:
      (id, n_shingles, n_copied, copied_frac)
    where n_shingles counts the doc's DISTINCT shingle hashes and
    n_copied those with corpus document-frequency >= 2 (i.e. present
    in at least one other document — the distinct set makes df a true
    document count, so a shingle repeated within one doc does not
    mark itself as copied).

    Plan shape / 100 TB design:
    - Reuses the shared persisted shingle-hash table
      (``hashed_shingles``), so the corpus is exploded and hashed
      once across the whole dedup family.
    - Deliberately UNCAPPED: the highest-df shingles are exactly the
      copied mass this operator measures, so ``cap_document_frequency``
      would bias it. Unlike the self-join family, df here never
      fans out: the frequency groupBy emits ONE row per hash and the
      join back is row-count-preserving — per-key work is O(df), not
      O(df²), so hot shingles are safe without the cap.
    - Two bounded shuffles total (hash → df, id → per-doc counts);
      everything shuffled is an 8-byte long.
    - Exact integer counts; the single double division is
      correctly-rounded IEEE on both engines, and n_shingles >= 1
      by construction (groups only exist for docs with rows).
    """
    dist = hashed_shingles(df, id_col, text_col, shingle_n).distinct()
    dfreq = dist.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        dist.join(dfreq, on="__h")
        .groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).alias("n_copied"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_copied",
            (F.col("n_copied").cast("double") / F.col("n_shingles").cast("double")).alias(
                "copied_frac"
            ),
        )
    )


# ----- segment-level exact dedup (C4-style) --------------------------


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
    seed: int = 0,
) -> DataFrame:
    """C4-style segment-level exact dedup: split every document into
    consecutive ``seg_tokens``-token segments, keep only the FIRST
    corpus-wide occurrence of each distinct segment (first = smallest
    ``(id, position)``), and reassemble the surviving segments of each
    document in their original order.

    C4 does this at line granularity ("three-sentence spans");
    the driver corpus has no line structure, so the span unit is a
    fixed token window — the dataflow is identical.

    Output: ``(id, text_dedup, n_kept, n_seg_total)``; documents whose
    every segment was first seen elsewhere survive with an empty
    ``text_dedup`` (the caller decides whether to drop empties — that
    filter is corpus policy, not dedup semantics).

    Physical shape, and why it scales:

    - one posexplode pass builds ``(id, pos, segment)`` — map-only;
    - segments shuffle ONCE, as 8-byte md5-derived hashes plus their
      (id, pos) provenance, keyed on the hash (``row_number`` window) —
      never as strings;
    - keep-first is ``row_number() = 1`` over (id, pos) within a hash —
      deterministic, and exactly replayable in SQL (no ``first()``
      nondeterminism);
    - reassembly is one groupBy(id) with ``array_sort(collect_list)``
      over (pos, segment) structs — the sort is per-document
      (bounded by document length), not global.

    The keep-first shuffle carries ONLY (id, pos, hash): segment text
    is recovered by re-joining winners against the persisted segment
    table on (id, pos) — a uniform, skew-free key — so a corpus-hot
    segment's window partition receives fixed-width rows, never the
    text payload.
    """
    base, hashed = _hashed_segments(df, id_col, text_col, seg_tokens, seed)
    from pyspark.sql.window import Window

    # Keep-first runs over (id, pos, hash) ONLY — the window shuffle
    # keys on the segment hash, and a corpus-hot segment (shared by
    # millions of docs) funnels its entire occurrence set to one
    # partition; shipping fixed-width rows there instead of segment
    # TEXT is what keeps the hot partition bounded. Winners re-join
    # the persisted segment table on (id, pos) — a skew-free uniform
    # key — to recover the text for reassembly.
    slim = hashed.select(id_col, "__i", "__h")
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc(), F.col("__i").asc())
    winners = (
        slim.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, "__i")
    )
    kept = winners.join(hashed, on=[id_col, "__i"])
    return _reassemble(base, kept, id_col, "text_dedup")


def _hashed_segments(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int, seed: int
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of the segment-level dedup family.

    Returns ``(base, hashed)``: ``base`` is ``(id, text, n_seg_total)``
    for every non-null-text document; ``hashed`` is the PERSISTED
    ``(id, n_seg_total, __i, __seg, __h)`` segment table (referenced
    at least twice by every caller — winner selection/boilerplate
    counting, then text recovery)."""
    require_columns(df, [id_col, text_col])
    k = seg_tokens
    if k < 1:
        raise ValueError(f"seg_tokens={k} must be >= 1")
    toks = tokens(text_col)
    # integer-exact ceil(size / k): doubles are exact here but the
    # integer form replays verbatim in the oracle with no float step
    nseg = F.floor((F.size(toks) + (k - 1)) / k).cast("long")
    seg_arr = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
    )
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.col(text_col), nseg.alias("n_seg_total")
    )
    segs = fan_out(base).select(
        F.col(id_col),
        F.col("n_seg_total"),
        F.posexplode(seg_arr).alias("__i", "__seg"),
    )
    from pyspark.storagelevel import StorageLevel

    hashed = segs.select(
        id_col, "n_seg_total", "__i", "__seg", seeded_hash64(F.col("__seg"), seed).alias("__h")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return base, hashed


def _reassemble(base: DataFrame, kept: DataFrame, id_col: str, out_col: str) -> DataFrame:
    """Rebuild each document from its surviving ``(__i, __seg)`` rows in
    original order; documents whose every segment was dropped come back
    with an empty string (the caller decides whether to drop empties —
    that filter is corpus policy, not dedup semantics). The sort is
    per-document ``array_sort(collect_list)`` — bounded by document
    length, never global."""
    assembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__seg"))),
                lambda s: s["__seg"],
            ),
            " ",
        ).alias(out_col),
    )
    return (
        base.select(id_col, "n_seg_total")
        .join(assembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            "n_seg_total",
        )
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 5,
    max_df: int = 1,
    seed: int = 0,
    broadcast_boiler: bool = True,
) -> DataFrame:
    """Cross-document boilerplate removal (CCNet/RefinedWeb-style line
    dedup, generalized to fixed token windows — the driver corpus has
    no line structure): drop EVERY occurrence of any segment that
    appears in MORE THAN ``max_df`` distinct documents, then
    reassemble the survivors in document order.

    Contrast with ``segment_dedup`` (C4 keep-first): keep-first leaves
    one copy of a repeated span somewhere in the corpus; boilerplate
    strip removes headers/footers/nav chrome EVERYWHERE — a repeated
    span is evidence the text is template, not content.

    Output: ``(id, text_clean, n_kept, n_seg_total)``.

    Physical shape, and why it scales BETTER than keep-first:

    - document frequency per segment hash is distinct-then-count over
      fixed-width ``(id, hash)`` rows — two shuffles of 16-byte rows,
      map-side partial aggs, no text moved;
    - the boilerplate set (hashes with df > max_df) is by definition
      SMALL — segments repeated across many documents are few distinct
      values — so it broadcasts (``broadcast_boiler``) and the corpus
      is filtered by a map-side LEFT ANTI join: segment TEXT never
      shuffles at all. If a corpus violates the small-set assumption,
      ``broadcast_boiler=False`` degrades to a shuffled anti-join on
      the hash key;
    - reassembly is the per-document ``array_sort(collect_list)``
      shared with ``segment_dedup``.
    """
    if max_df < 1:
        raise ValueError(f"max_df={max_df} must be >= 1")
    base, hashed = _hashed_segments(df, id_col, text_col, seg_tokens, seed)
    boiler = (
        hashed.select(id_col, "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_df)
        .select("__h")
    )
    if broadcast_boiler:
        boiler = F.broadcast(boiler)
    kept = hashed.join(boiler, on="__h", how="left_anti")
    return _reassemble(base, kept, id_col, "text_clean")


# ----- exact-substring dedup (Lee et al. 2022) ------------------------


#: Karp-Rabin parameters: two independent Mersenne-31 polynomial
#: hashes combined into one 62-bit key. All modular products stay
#: under 2^62 (operands < 2^31), so the whole pipeline is exact
#: uint64 numpy — no Python bigints in the hot path.
_KR_P = (1 << 31) - 1
_KR_BASES = (1_000_003, 1_000_033)


def _rolling_window_hashes(base: DataFrame, id_col: str, w: int, seed: int) -> DataFrame:
    """(id, __i, __h) rows — one combined Karp-Rabin hash per rolling
    ``w``-token window, O(n_tokens) per document (the 100 TB hashing
    path; contrast the md5 variant's O(n_tokens × w) characters).

    Vectorized per Arrow batch: per-token base hashes (md5-derived,
    cached per distinct token), then for each of two Mersenne-31
    polynomial hashes the standard prefix trick —
    ``g[i] = h[i]·B^(-i) mod p`` cumulative-summed EXACTLY in uint64
    (terms < 2^31, docs < 2^33 tokens ⇒ no overflow), window sum
    re-based by ``B^(start+w-1) mod p``. Two independent 31-bit hashes
    combine to a 62-bit key: cross-window collision odds ~2^-62 per
    pair, and a collision can only CUT an extra span, never resurrect
    one — and the semantics oracle would flag it."""
    import hashlib

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("__i", T.IntegerType()),
            T.StructField("__h", T.LongType()),
        ]
    )
    p = _KR_P
    bases = _KR_BASES

    def gen(batches):
        import numpy as np
        import pandas as pd

        tok_cache: dict[str, tuple[int, int]] = {}

        def tok_hashes(t: str) -> tuple[int, int]:
            got = tok_cache.get(t)
            if got is None:
                d = hashlib.md5(f"kr{seed}:{t}".encode()).digest()
                got = (
                    int.from_bytes(d[:8], "big") % p,
                    int.from_bytes(d[8:], "big") % p,
                )
                tok_cache[t] = got
            return got

        inv = [pow(b, p - 2, p) for b in bases]
        # modular power tables, grown on demand and shared across docs
        pow_tabs: dict[int, np.ndarray] = {}

        def pow_tab(b: int, upto: int) -> np.ndarray:
            tab = pow_tabs.get(b)
            if tab is None or len(tab) <= upto:
                size = max(upto + 1, 2 * len(tab) if tab is not None else 256)
                new = np.ones(size, dtype=np.uint64)
                if tab is not None:
                    new[: len(tab)] = tab
                    start = len(tab)
                else:
                    start = 1
                for k in range(start, size):
                    new[k] = (new[k - 1] * np.uint64(b)) % np.uint64(p)
                pow_tabs[b] = new
                tab = new
            return tab

        for pdf in batches:
            ids_out, pos_out, h_out = [], [], []
            for rid, toks_arr in zip(pdf[id_col], pdf["__tk"]):
                toks_list = list(toks_arr)
                n = len(toks_list)
                if n < w:
                    continue
                hs = np.array(
                    [tok_hashes(t) for t in toks_list], dtype=np.uint64
                )  # (n, 2)
                starts = np.arange(n - w + 1, dtype=np.int64)
                combined = np.zeros(n - w + 1, dtype=np.uint64)
                for j, (b, binv) in enumerate(zip(bases, inv)):
                    pw = pow_tab(b, n)
                    ipw = pow_tab(binv, n - 1)
                    g = (hs[:, j] * ipw[:n]) % np.uint64(p)
                    gsum = np.concatenate(
                        [np.zeros(1, dtype=np.uint64), np.cumsum(g)]
                    )  # exact: n·p < 2^64 for n < 2^33
                    wsum = (gsum[starts + w] - gsum[starts]) % np.uint64(p)
                    hj = (wsum * pw[starts + w - 1]) % np.uint64(p)
                    combined = combined * np.uint64(p) + hj
                ids_out.append(np.full(n - w + 1, int(rid), dtype=np.int64))
                pos_out.append((starts + 1).astype(np.int32))  # 1-based
                h_out.append(combined.astype(np.int64))
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "__i": np.concatenate(pos_out),
                        "__h": np.concatenate(h_out),
                    }
                )

    return fan_out(base.select(id_col, "__tk")).mapInPandas(gen, out_schema)


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 50,
    seed: int = 0,
    hashing: str = "md5",
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022's ExactSubstr, the
    operator their trained-model experiments showed matters most for
    memorization): cut every token that lies inside a duplicated span
    of at least ``window_tokens`` tokens, where "duplicated" means the
    span's text occurs MORE THAN ONCE anywhere in the corpus
    (cross-document or within-document), then reassemble each document
    from its surviving token runs.

    Spark-native reformulation of their suffix-array scan: hash every
    ``window_tokens``-wide ROLLING window (stride 1 — contrast
    ``segment_dedup``'s disjoint segments); a token is inside a
    duplicated ≥W-token span IFF at least one window covering it has
    corpus frequency ≥ 2. Both directions are exact: a duplicated
    window IS a duplicated W-span containing all its tokens, and a
    duplicated span of length L ≥ W contains a duplicated window
    through every one of its tokens. So token-level output equals the
    suffix-array formulation's for spans ≥ W; spans duplicated only at
    lengths in (0, W) are below the dedup threshold by definition.

    Like the reference tool (google-research/deduplicate-text-datasets),
    ALL occurrences are removed — keep-first is ill-defined when
    duplicated spans partially overlap, and Lee et al. cut every copy.

    Output: ``(id, text_dedup, n_tokens, n_cut)`` — every non-null-text
    document survives as a row (possibly with empty ``text_dedup``);
    the empties-drop is corpus policy, not dedup semantics.

    Physical shape, and why it scales:

    - windows hash to 8-byte md5-derived longs scan-side; the ONLY
      corpus-sized shuffles move ``(id, pos, hash)`` fixed-width rows
      (frequency groupBy with map-side combine, then the join back) —
      window TEXT never moves;
    - the duplicated-window set joins back on the hash, then collapses
      to ONE sorted positions-array per document (groupBy id); token
      filtering and reassembly are per-row array expressions —
      coverage testing is O(n_tokens × dup_windows_in_doc) inside the
      doc, never a corpus-level range join;
    - hashing: ``hashing="md5"`` (default) hashes each window string
      with one md5 — O(n_tokens × W) characters per doc, exactly
      replayable by the SQL oracle as one md5 call per window.
      ``hashing="rolling"`` is the 100 TB path: a vectorized
      Karp-Rabin double-Mersenne-31 polynomial hash, O(n_tokens) per
      doc with one md5 per DISTINCT token (``_rolling_window_hashes``).
      Everything downstream is SHARED — the dataflow only ever sees
      (id, pos, 8-byte hash) rows — and the two variants produce
      IDENTICAL output absent a ~2^-62 hash collision (pinned by
      tests; the semantics oracle would flag a collision as a
      mismatch).
    """
    require_columns(df, [id_col, text_col])
    w = window_tokens
    if w < 2:
        raise ValueError(f"window_tokens={w} must be >= 2")
    toks = tokens(text_col)
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("__tk"), F.size(toks).cast("long").alias("n_tokens")
    )
    if hashing == "md5":
        stop = F.col("n_tokens") - w + 1
        # branch-free short-doc guard (see ``shingles``): sequence(1, m)
        # counts DOWNWARD for m < 1, so clamp then filter
        idx = F.filter(
            F.sequence(F.lit(1), F.greatest(stop, F.lit(1)).cast("int")),
            lambda i: i <= stop,
        )
        wins = fan_out(base).select(
            F.col(id_col),
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.alias("__i"),
                        seeded_hash64(
                            F.concat_ws(" ", F.slice(F.col("__tk"), i, w)), seed
                        ).alias("__h"),
                    ),
                )
            ).alias("__w"),
        ).select(id_col, F.col("__w.__i").alias("__i"), F.col("__w.__h").alias("__h"))
    elif hashing == "rolling":
        wins = _rolling_window_hashes(base, id_col, w, seed)
    else:
        raise ValueError(f"hashing={hashing!r} not in ('md5', 'rolling')")
    dup = (
        wins.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("__h")
    )
    # one sorted duplicated-window-starts array per document; docs with
    # no duplicated window fall out and rejoin as an empty array
    dup_starts = (
        wins.join(dup, on="__h")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("__i")).alias("__dups"))
    )
    joined = base.join(dup_starts, on=id_col, how="left").select(
        id_col,
        "__tk",
        "n_tokens",
        F.coalesce(F.col("__dups"), F.array().cast("array<int>")).alias("__dups"),
    )
    covered = lambda t: F.exists(  # noqa: E731 — bound per-row, twice below
        F.col("__dups"), lambda s: (s <= t) & (t < s + w)
    )
    kept = F.filter(
        F.sequence(F.lit(1), F.greatest(F.col("n_tokens"), F.lit(1)).cast("int")),
        lambda t: (t <= F.col("n_tokens")) & ~covered(t),
    )
    return joined.select(
        id_col,
        F.array_join(
            F.transform(kept, lambda t: F.element_at(F.col("__tk"), t)), " "
        ).alias("text_dedup"),
        "n_tokens",
        (F.col("n_tokens") - F.size(kept).cast("long")).alias("n_cut"),
    )


# ----- winnowing fingerprints (MOSS-style) ---------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 4,
    window: int = 4,
    seed: int = 0,
) -> DataFrame:
    """DISTINCT winnowing fingerprints per document — ``(id, __h)``
    rows (persisted; the shared root of the winnow family).

    Winnowing (Schleimer/Wilkerson/Aiken's MOSS algorithm): hash every
    ``kgram``-token gram, slide a ``window``-wide window over the hash
    sequence, select each window's MINIMUM hash. The guarantee: any
    shared token run of length ≥ kgram + window - 1 contributes at
    least one COMMON selected fingerprint, while only ~2/(window+1) of
    all k-gram hashes are selected — detection with a bounded
    fingerprint table.

    Taking the DISTINCT SET of window minima makes the classic
    position tiebreak irrelevant (a tie selects the same VALUE), which
    is what keeps the SQL oracle a plain window-MIN replay.

    Documents shorter than kgram + window - 1 tokens emit NO
    fingerprints. The ``when`` guard is load-bearing: Spark's
    ``sequence(1, m)`` counts DOWNWARD for m < 1 and would fabricate
    positions for short documents.

    Everything is per-row array expressions over the scan — no
    shuffle, no Python; the explode emits ~2·n_tokens/(window+1)
    fixed-width rows per document.
    """
    require_columns(df, [id_col, text_col])
    if kgram < 1:
        raise ValueError(f"kgram={kgram} must be >= 1")
    if window < 1:
        raise ValueError(f"window={window} must be >= 1")
    toks = tokens(text_col)
    base = df.where(F.col(text_col).isNotNull()).select(F.col(id_col), toks.alias("__tk"))
    n_kg = F.size("__tk") - (kgram - 1)
    kg = base.select(
        id_col,
        F.when(
            n_kg >= 1,
            F.transform(
                F.sequence(F.lit(1), n_kg),
                lambda i: seeded_hash64(F.concat_ws(" ", F.slice("__tk", i, kgram)), seed),
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("__kg"),
    )
    n_win = F.size("__kg") - (window - 1)
    fps = kg.select(
        id_col,
        F.when(
            n_win >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda j: F.array_min(F.slice("__kg", j, window)),
                )
            ),
        )
        .otherwise(F.array().cast("array<bigint>"))
        .alias("__fps"),
    )
    from pyspark.storagelevel import StorageLevel

    return (
        fan_out(fps)
        .select(F.col(id_col), F.explode("__fps").alias("__h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def winnow_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 4,
    window: int = 4,
    min_shared: int = 3,
    max_df: int | None = 256,
    seed: int = 0,
) -> DataFrame:
    """Near-duplicate pairs by shared winnowing fingerprints — the
    MOSS similarity join.

    Output per qualifying pair (id_a < id_b):
    ``(id_a, id_b, n_shared, sim)`` where ``n_shared`` is the count of
    common distinct fingerprints and ``sim = n_shared /
    least(|fp_a|, |fp_b|)`` (containment-style, over the df-capped
    fingerprint universe — robust to length asymmetry, unlike plain
    Jaccard).

    Why a THIRD near-dup family next to MinHash and SimHash: winnowing
    detects LOCAL plagiarism-style overlap (any shared run ≥
    kgram+window-1 tokens is guaranteed a shared fingerprint) rather
    than global set similarity — a document that copies one paragraph
    from another scores here but not on whole-document MinHash.

    Physical shape / 100 TB: fingerprinting is per-row array exprs
    over the scan (no shuffle); ``cap_document_frequency`` bounds the
    per-key fan-out of the fingerprint self-join at max_df² exactly as
    in the Jaccard family; the join moves only (id, 8-byte hash) rows;
    per-doc counts join back on the uniform id key. No window/verify
    pass is needed — the fingerprint intersection IS the evidence.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared={min_shared} must be >= 1")
    fp = winnow_fingerprints(df, id_col, text_col, kgram, window, seed)
    fp = cap_document_frequency(fp, max_df)
    counts = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    pairs = (
        fp.alias("a")
        .join(fp.alias("b").hint("shuffle_hash"), on="__h")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        pairs.join(ca, on="id_a")
        .join(cb, on="id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("n_shared") / F.least("__na", "__nb")).alias("sim"),
        )
    )
