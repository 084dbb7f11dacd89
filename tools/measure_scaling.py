"""Measure wall-time-vs-input-rows scaling for the shuffliest catalog
queries across the driver-generated scale factors PLUS any extra
corpus dirs (see tools/gen_scale_corpus.py, which tiles sf0.1 into a
content-disjoint 10× corpus — 50k docs / 20k vectors — so the top pair
measures a genuine 10× row ratio above the overhead floor).

Usage:
    python3 tools/gen_scale_corpus.py 10        # once
    python3 tools/measure_scaling.py [extra_dir...]
        (default extra dir: /root/repo/.scale_corpus/x10 if it exists)

Prints a markdown table (warm secs per corpus, growth exponents) for
pasting into docs/SCALE.md.

Streaming-dedup probe (ROADMAP item 6):
    python3 tools/measure_scaling.py --stream [base_docs...]
        (default: 1000 10000)
For each base size, ``perfbench.gen.gen_stream`` (seed 7) writes a
corpus, an earlier ingest and three 200-doc micro-batches. The corpus
is indexed and the earlier ingest appended; then each micro-batch runs
what ``stream_incremental_dedup`` runs per batch with no compaction:
the append, and the flags write from its increment. One table row per
batch: stage ``inputRecords`` summed from the status store and Spark
jobs, for the whole batch and for its flags write alone (any job the
reads of the index run is billed to the batch only), and wall seconds.
Input rows that grow with the base size are work in proportion to the
index, not to the batch.

Fixed Spark overhead dominates the small sfs, so two exponents are
reported, both from warm runs:
    alpha_top  = log(t_top/t_prev) / log(rows_top/rows_prev)
                 (the two largest corpora — 10× rows with the default
                 generated corpus)
    alpha_full = same formula between sf0.01 and the largest corpus
                 (100× rows; still floor-contaminated at the low end,
                 so it UNDERSTATES growth — a cross-check, not the
                 headline)
alpha ≈ 1 is linear-in-input; the wall-clock noise band is ±50%
(CLAUDE.md), i.e. ±0.18 on alpha at a 10× rows ratio — only
alpha > ~1.3 is evidence of super-linear growth. Do NOT run while
pytest or another Spark session is live.

Env knobs:
    SPARK_GRAFT_DRIVER_MEM=48g   recommended for the x30/x100 tiers —
        the 8g default heap thrashes the shingle cache at 500k docs
        and the measurement becomes GC, not the operator.
    SPARK_GRAFT_PIN_PLAN=1       disable broadcast joins (static + AQE
        thresholds -1) so EVERY tier runs the SortMergeJoin plan a
        100 TB input would. Without it, AQE legitimately broadcasts
        the small tiers and the top pair's alpha conflates the
        broadcast→SMJ strategy transition with data growth (measured:
        jaccard x10 plans 3×BHJ, x100 plans 3×SMJ — the apparent
        alpha 1.4+ drops to ~1.1 once the plan is pinned). Use the
        pinned run for the asymptotic exponent, the default run for
        the wall times a user actually sees.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dask_datapipeline_spark.plans.catalog import CATALOG
from dask_datapipeline_spark.session import get_spark
from dask_datapipeline_spark.sources.readers import load_testdata

#: (query, primary input table) — the table whose row count is the
#: scale variable for that query's exponent.
QUERIES = [
    ("jaccard_near_dup", "documents"),
    ("minhash_near_dup", "documents"),
    ("simhash_near_dup", "documents"),
    ("dup_clusters", "documents"),
    ("embedding_near_dup", "embeddings"),
    ("embedding_near_dup_scaled", "embeddings"),
    ("knn_join_lsh", "embeddings"),
    ("training_shards", "documents"),
    ("multimodal_features_scaled", "media"),
    ("image_near_dup_scaled", "media"),
    ("image_near_dup_128_scaled", "media"),
    ("substring_dedup_md5_scaled", "documents"),
    ("substring_dedup_rolling_scaled", "documents"),
    ("gopher_quality_scaled", "documents"),
    ("c4_line_filter_scaled", "documents"),
    ("bm25_topk_scaled", "documents"),
    ("bm25_from_index_scaled", "documents"),
    ("equi_depth_histogram_scaled", "documents"),
    ("wds_export_scaled", "documents"),
    ("robots_allow_scaled", "documents"),
    ("margin_deciles_scaled", "documents"),
    ("hll_distinct_scaled", "documents"),
    ("warc_roundtrip_scaled", "documents"),
    ("main_content_scaled", "documents"),
    ("pack_input_ids_scaled", "documents"),
    ("unigram_train_scaled", "documents"),
    ("script_route_scaled", "documents"),
    ("cjk_near_dup_scaled", "documents"),
    ("routed_near_dup", "documents"),
    # round-14 phrase family: scan-path probe and the batch
    # decontamination probe (both EXTRA_CATALOG rows — the resolver
    # reads either catalog half)
    ("phrase_search", "documents"),
    ("phrase_decontaminate", "documents"),
]


def _embedding_near_dup_scaled(spark, sf_dir, n_rows):
    """The catalog row runs the FIXED 16×8-bit geometry its oracle
    replays — correct, but 256 buckets/table saturate ≈ 20k+ vectors
    and the bucket_cap guard then (correctly) prunes everything, so
    its wall time SHRINKS with corpus size. Deployment discipline is
    to size bits to the corpus (constant expected occupancy); this
    variant measures exactly that: bits = ceil(log2(n/8)) keeps ~8
    rows/bucket at every tier, cap stays 8× the expected occupancy —
    so candidate volume Σ C(occ,2) grows linearly in n and the
    exponent measures the operator, not a saturated geometry."""
    import math

    from dask_datapipeline_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    bits = max(8, math.ceil(math.log2(max(n_rows, 2048) / 8)))
    emb = load_testdata(spark, sf_dir, "embeddings")
    # threshold 0.9 = the real near-dup setting (the catalog row's
    # 0.45 is a small-corpus artifact to stay non-vacuous; on a tiled
    # corpus it sits inside the cross-tile cosine tail and the OUTPUT
    # grows super-linearly, polluting the exponent). The wall-time
    # cost is candidate generation + exact verify of bucket
    # cohabitants, which the threshold does not change.
    return embedding_near_dup_pairs(
        emb,
        threshold=0.9,
        bits_per_table=bits,
        num_tables=16,
        bucket_cap=64,
    )


def _load_media(spark, sf_dir):
    """media.parquet when the corpus dir has one (scale tiers —
    tools/gen_scale_corpus.py tiles the fixture), else the catalog
    row's 256-row in-Spark fixture (the driver sf dirs)."""
    import os as _os

    p = _os.path.join(sf_dir, "media.parquet")
    if _os.path.exists(p):
        return spark.read.parquet(p)
    from dask_datapipeline_spark.multimodal.binary import synthetic_media

    return synthetic_media(spark, n=256)


def _media_rows(spark, sf_dir) -> int:
    return _load_media(spark, sf_dir).count()


def _multimodal_features_scaled(spark, sf_dir, n_rows):
    """The catalog row regenerates its 256-row fixture at every tier —
    constant work, no exponent. This variant decodes the TILED media
    parquet (real binary column scan → one Arrow mapInPandas pass),
    which is the claimed-linear path (docs/SCALE.md): zero shuffles,
    per-row work bounded by payload size."""
    from dask_datapipeline_spark.multimodal.binary import media_features

    return media_features(_load_media(spark, sf_dir))


def _scaled_image_corpus(spark, n_rows):
    """Planted-variant image corpus sized to the tier — with content that CANNOT
    alias. The catalog fixture's gradient formula is mod-256 in the
    group id with dims cycling mod 48, so image content repeats
    IDENTICALLY every lcm(256,48)=768 groups: scaling it up grows
    identical-image classes linearly and the TRUE near-dup pair count
    quadratically — measuring the generator, not the operator
    (measured: apparent alpha 2.2 before this was fixed; the same
    tile-identical trap gen_scale_corpus.py's docstring warns about).

    Here each group's image is per-8x8-cell random gray from a
    splitmix64 of (group, cell) — aHash bits are i.i.d. coin flips in
    a 2^64 hash space, cross-group collisions are negligible, and the
    only near-dups are the 4 planted brightness variants per group.
    Measures the real pipeline: Arrow decode+hash pass (linear) + the
    4x16-bit pigeonhole banding join, whose candidate volume carries
    the structural ~4·C(n/2^16, 2)·2^16 ≈ n²/2^15 term of 16-bit
    banding (docs/SCALE.md) — at these tiers that term is comparable
    to n, so expect alpha slightly above 1, not 1.0."""
    import numpy as np
    import pandas as pd

    from dask_datapipeline_spark.multimodal.binary import (
        MEDIA_SCHEMA,
        encode_bmp,
    )

    factor = max(1, n_rows // 256)  # media tier factor (256 = base fixture)
    n_groups, variants = 48 * factor, 4

    def gen(it):
        def mix(x):  # splitmix64, vectorized
            x = (x + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(30)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(27)
            return x ^ (x >> np.uint64(31))

        for pdf in it:
            out = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                grp, v = divmod(mid, variants)
                w, h = 8 + grp % 24, 8 + grp % 16
                cy, cx = np.mgrid[0:h, 0:w]
                cell = (cy * 8 // h) * 8 + (cx * 8 // w)
                key = mix(
                    np.uint64(grp) * np.uint64(0x2545F4914F6CDD1D)
                    + cell.astype(np.uint64)
                )
                px = np.stack(
                    [
                        (key & np.uint64(0xFF)).astype(np.int64),
                        ((key >> np.uint64(8)) & np.uint64(0xFF)).astype(np.int64),
                        ((key >> np.uint64(16)) & np.uint64(0xFF)).astype(np.int64),
                    ],
                    axis=-1,
                )
                px[:, :, 0] = (px[:, :, 0] + v) % 256
                out.append(
                    {
                        "media_id": mid,
                        "payload": encode_bmp(px.astype(np.uint8)),
                        "meta": {
                            "kind": "image",
                            "width": w,
                            "height": h,
                            "duration_ms": 0,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return (
        spark.range(n_groups * variants)
        .select(F.col("id").alias("media_id"))
        .mapInPandas(gen, MEDIA_SCHEMA)
    )


def _image_near_dup_scaled(spark, sf_dir, n_rows):
    from dask_datapipeline_spark.multimodal.binary import image_near_dup_pairs

    return image_near_dup_pairs(
        _scaled_image_corpus(spark, n_rows), max_hamming=3
    )


def _image_near_dup_128_scaled(spark, sf_dir, n_rows):
    """The 4x32-bit-banded 128-bit hash over the SAME corpus — the
    head-to-head that shows the banding-width candidate term: 16-bit
    chunks cost ~4*C(n/2^16,2)*2^16 = n^2/2^15 candidate pairs on
    i.i.d. hashes, 32-bit chunks ~n^2/2^31 (docs/SCALE.md)."""
    from dask_datapipeline_spark.multimodal.binary import image_near_dup_pairs_128

    return image_near_dup_pairs_128(
        _scaled_image_corpus(spark, n_rows), max_hamming=3
    )


def _substring_dedup_scaled(spark, sf_dir, hashing):
    """ExactSubstr at the tier. The harness drives queries with
    .count(), and Catalyst ELIMINATES this operator's whole
    hash→df→join pipeline under a bare count (the left join against
    the per-id aggregate is provably row-preserving, and the costly
    text columns are pruned) — measured 0.24 s "count" vs 11.8 s real
    work at x100. So this row returns a 1-row aggregate over the
    output payload. A 1-row ungrouped aggregate is NOT enough either —
    count() over it short-circuits without evaluating the sums
    (measured 1.6 s vs 14 s). A FILTER referencing the computed
    columns is: count() must evaluate the predicate per row, which
    forces text_dedup/n_cut and everything upstream (verified: the
    timed numbers match a full .collect() run)."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    docs = load_testdata(spark, sf_dir, "documents")
    out = substring_dedup(docs, window_tokens=50, hashing=hashing)
    return out.where(F.length("text_dedup") + F.col("n_cut") >= 0)


def _substring_dedup_md5_scaled(spark, sf_dir, n_rows):
    """md5 window hashing — O(n_tokens x W) characters hashed per doc
    (the oracle-replayable default)."""
    return _substring_dedup_scaled(spark, sf_dir, "md5")


def _substring_dedup_rolling_scaled(spark, sf_dir, n_rows):
    """Karp-Rabin rolling hashing — O(n_tokens) per doc, one md5 per
    DISTINCT token; the 100 TB hashing path whose wall-time gap to the
    md5 variant this row quantifies."""
    return _substring_dedup_scaled(spark, sf_dir, "rolling")


def _gopher_quality_scaled(spark, sf_dir, n_rows):
    """The catalog row is a row-preserving Project — a bare count()
    prunes every signal column and times the SCAN alone (the
    substring_dedup lesson). The filter references every signal, so
    count() must evaluate them all per row."""
    from dask_datapipeline_spark.functions.quality import (
        SIGNAL_NAMES,
        gopher_keep,
        gopher_signal_cols,
    )

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    sig = gopher_signal_cols(F.col("text"))
    out = docs.select(
        "doc_id",
        *[sig[n].alias(n) for n in SIGNAL_NAMES],
        gopher_keep(sig).alias("keep"),
    )
    force = (
        F.col("n_words")
        + F.col("stop_hits")
        + (
            F.col("mean_word_len")
            + F.col("symbol_word_ratio")
            + F.col("bullet_line_frac")
            + F.col("ellipsis_line_frac")
            + F.col("alpha_word_frac")
            + F.col("dup_line_frac")
            + F.col("dup_line_char_frac")
        ).cast("long")
    )
    return out.where((force >= 0) & F.col("keep").isNotNull())


def _c4_line_filter_scaled(spark, sf_dir, n_rows):
    """Same forcing discipline over the C4 cleaner (built directly on
    the real text as the page, no synthetic wrapper — the wrapper adds
    constant work per row and is irrelevant to the exponent)."""
    from dask_datapipeline_spark.functions.quality import C4_COLS, c4_clean_cols

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    sig = c4_clean_cols(F.col("text"))
    out = docs.select("doc_id", *[sig[n].alias(n) for n in C4_COLS])
    return out.where(
        (F.col("n_lines") + F.col("n_lines_kept") + F.length("clean_text") >= 0)
        & F.col("keep_doc").isNotNull()
    )


def _bm25_topk_scaled(spark, sf_dir, n_rows):
    """BM25 at the tier. Tiled tokens are t<k>-prefixed, so the fixed
    query terms only match tile 0 — the CANDIDATE set stays constant
    while the scan+explode grows with the corpus, which is exactly the
    claimed scan-bound shape (alpha ~= 1 measures the scan, the right
    asymptote for a one-shot probe). Top-k aggregation is not
    row-preserving, so no forcing filter is needed."""
    from dask_datapipeline_spark.operators.bm25 import bm25_topk

    docs = load_testdata(spark, sf_dir, "documents")
    return bm25_topk(docs, ["dup", "vector", "spark"], k=15)


def _warc_roundtrip_scaled(spark, sf_dir, n_rows):
    """Pack the tier's documents into record-wise-gzip WARC blobs and
    stream-parse them back — both legs of the codec, ~1000 records
    per blob. The parse is a mapInPandas barrier, so count() cannot
    prune through it; the filter keeps the forcing discipline uniform
    anyway."""
    from dask_datapipeline_spark.sources.warc import parse_warc, write_warc_batches

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    staged = docs.select(
        (F.col("doc_id") % 512).alias("batch_id"),
        F.concat(
            F.lit("https://crawl.example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    parsed = parse_warc(write_warc_batches(staged, gzip_records=True))
    return parsed.where(F.length("text") + F.length("url") >= 0)


def _hll_distinct_scaled(spark, sf_dir, n_rows):
    """HLL over a corpus-sized distinct domain (full document texts):
    register state stays 2^12 rows at every tier while the hashed scan
    grows linearly. count() over the 1-row estimate short-circuits
    (CLAUDE.md), so the filter references the computed columns."""
    from dask_datapipeline_spark.operators.sketches import hll_distinct

    docs = load_testdata(spark, sf_dir, "documents")
    out = hll_distinct(docs, [], "text", p=12)
    return out.where(
        F.col("est_distinct") + F.col("n_buckets_used") >= 0
    )


_BM25_IDX_CACHE: dict[str, str] = {}


def _bm25_from_index_scaled(spark, sf_dir, n_rows):
    """The index-backed probe at the tier. The index builds ONCE per
    corpus dir (cached across the cold/warm pair — the cold number
    includes the build, the WARM number is the pure probe, which is
    what the exponent reports). Tiled tokens are t<k>-prefixed so the
    candidate postings stay constant across tiers: the probe should be
    near-FLAT (alpha ~ 0) where bm25_topk_scaled's live scan is
    alpha ~ 1 — the measured value of materializing the index."""
    import os as _os
    import tempfile as _tf

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
    )

    idx = _BM25_IDX_CACHE.get(sf_dir)
    if idx is None:
        idx = _os.path.join(_tf.mkdtemp(prefix="ddps_scale_bm25idx_"), "index")
        build_bm25_index(load_testdata(spark, sf_dir, "documents"), idx)
        _BM25_IDX_CACHE[sf_dir] = idx
    return bm25_topk_from_index(spark, idx, ["dup", "vector", "spark"], k=15)


def _equi_depth_histogram_scaled(spark, sf_dir, n_rows):
    """The two-pass distributed ntile (operators/ranks.py) over the
    tier's documents (text length as the value, doc_id tiebreak) —
    the round-10 replacement for the global-window ntile. Output is a
    10-row aggregate, so count() forces the full rank pipeline."""
    from dask_datapipeline_spark.operators.ranks import global_ntile

    docs = load_testdata(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    src = docs.select(F.length("text").alias("v"), "doc_id")
    tiled = global_ntile(
        src, ["v", "doc_id"], F.floor(F.col("v") / 64), 10, tile_col="decile"
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


def _wds_export_scaled(spark, sf_dir, n_rows):
    """The training-export leg at the tier: token-balanced shard
    assignment -> WebDataset tar pack -> stream-parse back (the
    catalog composition row on the tier's documents). Parse output is
    row-preserving through mapInPandas (count() cannot prune a Python
    barrier), so a bare count forces both tar legs."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    return EXTRA_CATALOG["wds_export_pipeline"].fn(spark, sf_dir)


def _robots_allow_scaled(spark, sf_dir, n_rows):
    """robots.txt compliance at the tier: per-HOST rule table (bounded
    by distinct sources) broadcast against the tier's URL corpus — the
    claim is the URL side never shuffles for compliance, so wall time
    should track the scan (alpha ~ 1 at worst)."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    return EXTRA_CATALOG["robots_allow"].fn(spark, sf_dir)


def _margin_deciles_scaled(spark, sf_dir, n_rows):
    """The classifier-calibration deciles at the tier — the second
    round-10 prefix-sum rewrite, measured on its real body (hashed
    linear score + global ntile + integer sums)."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    return EXTRA_CATALOG["margin_deciles"].fn(spark, sf_dir)


def _main_content_scaled(spark, sf_dir, n_rows):
    """DOM-grade block extraction at the tier: the stdlib-parser Arrow
    stage — per-row O(page bytes), no shuffle, so the claim is
    alpha ≈ 1 scan-bound. Row-preserving mapInPandas: count() cannot
    prune the Python barrier."""
    from dask_datapipeline_spark.plans.catalog import CATALOG as _C

    return _C["main_content_extract"].fn(spark, sf_dir)


def _pack_input_ids_scaled(spark, sf_dir, n_rows):
    """input_ids materialization + per-language block packing at the
    tier: codegen hashed ids feed ONE shard-keyed applyInPandas walk —
    the cost is the id-stream concatenation, linear per shard."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    return EXTRA_CATALOG["pack_input_ids"].fn(spark, sf_dir)


def _unigram_train_scaled(spark, sf_dir, n_rows):
    """Unigram-LM train + encode at the tier: the corpus-sized work is
    ONE distinct-word pass; each EM round re-maps the (Zipf-bounded)
    word table, so wall time should grow with DISTINCT words, not
    documents — the claim behind training tokenizers at 100 TB."""
    from dask_datapipeline_spark.operators.unigram import (
        train_unigram,
        unigram_token_count,
    )

    docs = load_testdata(spark, sf_dir, "documents")
    model = train_unigram(docs, "text", vocab_size=96, num_iters=2, max_piece_len=6)
    return unigram_token_count(docs, "doc_id", "text", model, max_piece_len=6)


_LID_W = None


def _script_route_scaled(spark, sf_dir, n_rows):
    """The full round-13 multilingual front door over the REAL corpus
    text: script profile (codegen counts+route), the composed LID
    (Arrow trigram stage over the Latin-routed slice — on this corpus
    that is ~every row, the worst case for the UDF), and the routed
    quality keep. Forcing filter references a column from every leg so
    count() cannot prune any of the three."""
    global _LID_W
    from dask_datapipeline_spark.functions.quality import quality_keep_routed
    from dask_datapipeline_spark.operators import langid as LID
    from dask_datapipeline_spark.operators import scripts as USC

    if _LID_W is None:
        _LID_W = LID.train_lang_ngram()
    docs = (
        load_testdata(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    prof = USC.script_profile(docs, "doc_id", "text")
    lang = USC.lang_id_script_routed(
        docs, "doc_id", "text", _LID_W, LID.DEFAULT_ABSTAIN_MILLI
    ).select("doc_id", "lang")
    keep = docs.join(prof.select("doc_id", "script"), "doc_id").select(
        "doc_id", quality_keep_routed("text", "script").alias("keep")
    )
    out = prof.join(lang, "doc_id").join(keep, "doc_id")
    return out.where(
        (F.col("n_letters") >= 0)
        & F.col("lang").isNotNull()
        & F.col("keep").isNotNull()
        & F.col("script").isNotNull()
    )


def _cjk_near_dup_scaled(spark, sf_dir, n_rows):
    """Char-3-gram PPJoin near-dup over the planted CJK fixture — the
    pair join IS the work, so count() forces everything."""
    from dask_datapipeline_spark.operators import dedup as DD
    from dask_datapipeline_spark.plans.catalog_llm import (
        _MAX_DF,
        _cjk_fixture_col,
    )

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id")
    fixture = docs.select("doc_id", _cjk_fixture_col().alias("text"))
    return DD.jaccard_pairs(
        fixture, None, threshold=0.5, max_df=_MAX_DF, shingle_mode="char"
    )


#: rows measured through a scale-parameterized builder instead of the
#: fixed-config catalog row; fn(spark, sf_dir, n_input_rows) → DataFrame
CUSTOM = {
    "script_route_scaled": _script_route_scaled,
    "cjk_near_dup_scaled": _cjk_near_dup_scaled,
    "embedding_near_dup_scaled": _embedding_near_dup_scaled,
    "multimodal_features_scaled": _multimodal_features_scaled,
    "image_near_dup_scaled": _image_near_dup_scaled,
    "image_near_dup_128_scaled": _image_near_dup_128_scaled,
    "substring_dedup_md5_scaled": _substring_dedup_md5_scaled,
    "substring_dedup_rolling_scaled": _substring_dedup_rolling_scaled,
    "gopher_quality_scaled": _gopher_quality_scaled,
    "c4_line_filter_scaled": _c4_line_filter_scaled,
    "bm25_topk_scaled": _bm25_topk_scaled,
    "bm25_from_index_scaled": _bm25_from_index_scaled,
    "equi_depth_histogram_scaled": _equi_depth_histogram_scaled,
    "wds_export_scaled": _wds_export_scaled,
    "robots_allow_scaled": _robots_allow_scaled,
    "margin_deciles_scaled": _margin_deciles_scaled,
    "hll_distinct_scaled": _hll_distinct_scaled,
    "warc_roundtrip_scaled": _warc_roundtrip_scaled,
    "main_content_scaled": _main_content_scaled,
    "pack_input_ids_scaled": _pack_input_ids_scaled,
    "unigram_train_scaled": _unigram_train_scaled,
}

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
DEFAULT_SCALE_DIR = "/root/repo/.scale_corpus/x10"


def stream_probe(sizes: list[int], seed: int = 7) -> None:
    """The streaming-dedup probe of the module docstring."""
    import glob
    import shutil
    import tempfile

    from dask_datapipeline_spark.operators.minhash_index import (
        _flags,
        _read_increment,
        append_to_minhash_index,
        build_minhash_index,
        read_minhash_index,
    )
    from perfbench.gen import gen_stream
    from perfbench.trace import SparkStatus

    spark = get_spark("stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)
    print("| base docs | batch | input rows | jobs | flags-write input rows "
          "| flags-write jobs | wall s |")
    print("|---|---|---|---|---|---|---|")
    for n_base in sizes:
        work = tempfile.mkdtemp(prefix=f"stream_probe_{n_base}_")
        try:
            gen_stream(seed, work, n_base, 3, 200)
            idx = os.path.join(work, "index")
            build_minhash_index(spark.read.parquet(os.path.join(work, "base.parquet")), idx)
            append_to_minhash_index(
                spark.read.parquet(os.path.join(work, "prior.parquet")), idx, "prior"
            )
            staged = sorted(glob.glob(os.path.join(work, "staged", "*.parquet")))
            for k, path in enumerate(staged):
                groups, tag = [f"probe-{n_base}-{k}-{s}" for s in "af"], f"b{k:05d}"
                spark.sparkContext.setJobGroup(groups[0], groups[0])
                t0 = time.perf_counter()
                batch = spark.read.parquet(path)
                append_to_minhash_index(batch, idx, tag)
                # positional: the probe does not name the index tables
                idx_a, idx_b, _, meta = read_minhash_index(spark, idx)
                b_a, b_b = _read_increment(spark, idx, tag, meta)
                flags = _flags(batch, idx_a, idx_b, b_a, b_b, meta, 0.5)
                spark.sparkContext.setJobGroup(groups[1], groups[1])
                flags.write.parquet(os.path.join(work, "flags", tag))
                wall = time.perf_counter() - t0
                status.drain()
                sums = status.stage_sums(groups)
                app, fl = sums[groups[0]], sums[groups[1]]
                print(f"| {n_base} | {k} "
                      f"| {int(app['inputRecords'] + fl['inputRecords'])} "
                      f"| {int(app['jobs'] + fl['jobs'])} | {int(fl['inputRecords'])} "
                      f"| {int(fl['jobs'])} | {wall:.2f} |", flush=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--stream"]:
        stream_probe([int(n) for n in sys.argv[2:]] or [1000, 10000])
        return
    # SPARK_GRAFT_ONLY_ARGS=1: measure ONLY the dirs given on argv
    # (skip the sf floor tiers — used by the pinned asymptotic run,
    # where the small tiers carry no exponent information)
    # SPARK_GRAFT_ONLY_QUERIES=a,b: restrict to a query subset (family
    # re-measurement without paying for the whole battery)
    global QUERIES
    only = os.environ.get("SPARK_GRAFT_ONLY_QUERIES")
    if only:
        names = {n.strip() for n in only.split(",") if n.strip()}
        unknown = names - {q for q, _ in QUERIES}
        if unknown:
            raise SystemExit(f"unknown SPARK_GRAFT_ONLY_QUERIES: {sorted(unknown)}")
        QUERIES = [(q, t) for q, t in QUERIES if q in names]
    dirs = [] if os.environ.get("SPARK_GRAFT_ONLY_ARGS") == "1" else list(SF_DIRS)
    extra = sys.argv[1:] or (
        [DEFAULT_SCALE_DIR] if os.path.isdir(DEFAULT_SCALE_DIR) else []
    )
    dirs += extra

    pin = os.environ.get("SPARK_GRAFT_PIN_PLAN") == "1"
    spark = get_spark(
        "scaling",
        extra_conf=(
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            }
            if pin
            else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    if pin:
        print("# PIN_PLAN: broadcast joins disabled (asymptotic-plan run)",
              file=sys.stderr)
    # Python-worker pool warmup (same rationale as bench.py)
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").count()

    labels = [d.rstrip("/").split("/")[-1] for d in dirs]
    rows: dict[str, dict[str, int]] = {}
    warm: dict[str, dict[str, float]] = {}
    for d, lab in zip(dirs, labels):
        # only count the tables the (possibly filtered) query set keys
        # its exponents on — lets a media-only corpus dir (no
        # documents/embeddings parquet) host the big multimodal tiers
        needed = {t for _, t in QUERIES}
        rows[lab] = {
            t: load_testdata(spark, d, t).count()
            for t in ("documents", "embeddings")
            if t in needed
        }
        if "media" in needed:
            rows[lab]["media"] = _media_rows(spark, d)
        for name, tbl in QUERIES:
            if name in CUSTOM:
                fn = lambda: CUSTOM[name](spark, d, rows[lab][tbl])  # noqa: B023
            else:
                from dask_datapipeline_spark.plans.catalog import (
                    EXTRA_CATALOG,
                )

                # rotation-proof: a measured query may live in either
                # half of the catalog (r14: jaccard_near_dup → extras)
                qd = CATALOG.get(name) or EXTRA_CATALOG[name]
                fn = lambda: qd.fn(spark, d)  # noqa: B023
            t0 = time.perf_counter()
            fn().count()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            fn().count()
            warm.setdefault(name, {})[lab] = round(time.perf_counter() - t0, 3)
            print(
                f"# {lab} {name}: cold {cold:.2f}s warm {warm[name][lab]:.2f}s",
                file=sys.stderr,
            )
        spark.catalog.clearCache()  # don't let one corpus's caches serve the next

    hdr_times = " | ".join(f"warm s {lab}" for lab in labels)
    print(f"| query | input | rows {'/'.join(labels)} | {hdr_times} "
          "| alpha_top | alpha_full |")
    print("|---|---|" + "---|" * (len(labels) + 3))
    for name, tbl in QUERIES:
        r = [rows[lab][tbl] for lab in labels]
        w = [warm[name][lab] for lab in labels]
        a_top = math.log(w[-1] / w[-2]) / math.log(r[-1] / r[-2])
        i_001 = labels.index("sf0.01") if "sf0.01" in labels else 0
        a_full = math.log(w[-1] / w[i_001]) / math.log(r[-1] / r[i_001])
        print(
            f"| {name} | {tbl} | {'/'.join(str(x) for x in r)} | "
            + " | ".join(f"{x:.2f}" for x in w)
            + f" | {a_top:.2f} | {a_full:.2f} |"
        )


if __name__ == "__main__":
    main()
