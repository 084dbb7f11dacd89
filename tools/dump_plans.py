"""Regenerate docs/PLANS.md: the ACTUAL physical plans (explain
formatted) of the headline catalog queries at sf0.01, as evidence for
the scale claims in docs/SCALE.md (pushdown reaching the scan,
whole-stage codegen spans, broadcast vs shuffle choices, zero-exchange
probes). Run after changing any of the listed queries:

    python3 tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# (query, what the plan is evidence OF)
SHOWCASE = [
    ("flagship_onepass", "one conditional-agg shuffle + broadcast dim joins; filters/pruning reach the parquet scan"),
    ("scan_projection", "column pruning + predicate pushdown into the scan (ReadSchema / PushedFilters)"),
    ("minhash_near_dup", "banded LSH self-join: ReusedExchange on the signature subplan, no Cartesian shapes"),
    ("extra:jaccard_near_dup", "prefix-filtered exact Jaccard (driver rows 6-13, extras since round 14): candidate join on exploded prefixes + array_intersect verify"),
    ("routed_near_dup", "script-routed MinHash near-dup (driver row since round 14): ONE shingle projection whose per-row CASE picks word or char mode (namespace-tagged before the md5), then the same banded LSH self-join shapes as minhash_near_dup — routing adds zero exchanges"),
    ("knn_join_lsh", "bucket equi-join (shuffle_hash) over Arrow-batched SRP buckets; window top-k"),
    ("extra:bloom_semi_join", "the bloom PROBE branch (events scan -> literal-bitmap Filter) has no Exchange before its aggregate — the comparison aggregates around it shuffle as any groupBy does; the probe-only zero-exchange shape is pinned by tests/test_plan_shapes.py"),
    ("sql_q3ish", "SQL entry point: broadcast joins + partial aggregation under AQE"),
    ("semantic_dedup", "SemDeDup: one Arrow cell-assignment pass -> cell-keyed shuffle_hash self-join -> Arrow strict-order cosine verify; codebook in the UDF closure, never a join"),
    ("extra:boilerplate_strip", "boilerplate set broadcast into a LEFT ANTI join over the persisted segment table — segment text never shuffles; df count over fixed-width rows"),
    ("extra:winnow_near_dup", "winnowing: fingerprint selection as per-row array exprs (no exchange before the explode); df-capped fingerprint equi-join moves only 8-byte hashes"),
    ("extra:quality_classifier", "hashed linear classifier: ONE scan, transform+aggregate fold in the projection — zero Exchange operators in the whole plan"),
    ("training_shards", "two-pass distributed prefix sum: bucket-totals groupBy + bounded bucket-offset window, then a window PARTITIONED by bucket — no corpus-sized single-partition Window/Sort"),
    ("embedding_near_dup", "sparse-regime SRP-LSH self-join (driver row since round 6): the bucket_cap guard is a count window on the (table,bucket) exchange the shuffle_hash bucket join needs anyway, and the other join side is a ReusedExchange of it (AQE marks the reuse at run time), so the Arrow bucket+sketch UDF runs once per vector with nothing cached; the 128-bit sketch Hamming bound is a join condition, so pruned pairs never reach the pair dedup or the Arrow cosine"),
    ("bucketed_join", "storage-partitioned join: both scans Bucketed: true, SortMergeJoin AND the downstream per-key HashAggregate with ZERO Exchange operators — the write-time shuffle amortized over every later query"),
    ("image_near_dup", "perceptual image dedup: one shuffle-free Arrow decode+aHash pass; only 24-byte hash rows enter the 4x16-bit pigeonhole banding join"),
    ("extra:embedding_moments", "moments pass: ONE keyed exchange above a partial (i,j) HashAggregate — shuffled bytes bounded by d(d+1)/2 rows per partition, corpus size absent from the exchange"),
    ("multimodal_features", "real-codec decode: single mapInPandas over the generated media frame, no joins, no shuffle — featurization is embarrassingly parallel"),
    ("extra:inverted_index", "capped posting lists: per-doc array_distinct dedup inside the row (no (doc,term) distinct exchange), then ONE term-keyed shuffle reused by both the rn-window and the df groupBy"),
    ("extra:vocab_growth", "Heaps-law curve: token-keyed min-bucket groupBy + per-bucket counts; the only ordered window runs over the bounded bucket table (the WindowExec single-partition warning applies to corpus/50 rows, not the corpus)"),
    ("extra:keep_best_dedup", "keep-best survivor: one id-keyed join attaching quality + one window partitioned by bounded near-dup clusters, stacked on the banded clustering cascade"),
    ("extra:skew_report", "skew diagnostics: per-key groupBy collapses to the count-of-counts histogram before any ordered window — the window input is bounded by distinct multiplicities"),
    ("extra:html_extract", "HTML->text (driver rows 8-12, extras since round 13): the whole extraction is regexp_replace/replace expressions fused into the scan projection — zero Exchange, zero Python in the plan"),
    ("script_route", "Unicode-script routing (driver row since round 13; round-14 optimization): counts + route + routed quality keep ride ONE persisted projection chain (regexp_count expressions, no profile join), the Arrow trigram stage runs ONLY on the Latin-routed slice (filter above the cached route, below the UDF), and the single join left is the broadcast of the (id, lang) legs back onto the profile"),
    ("main_content_extract", "DOM-grade main-content extraction (driver row since round 11): ONE mapInPandas Arrow stage directly over the scan projection — no Exchange anywhere, no joins; block scoring is O(page bytes) per row and pipelines with the scan exactly like the media decoders"),
    ("extra:substring_dedup", "exact-substring dedup: rolling window hashes explode scan-side; the only corpus-sized exchanges carry (id, pos, 8-byte hash) — frequency groupBy with partial aggregation + hash-keyed join back; coverage/reassembly are array exprs in the final projection"),
    ("extra:zorder_layout", "z-order keys: 32 masked shifts as a pure codegen projection over the scan — zero Exchange in the whole plan"),
    ("extra:sql_q17ish", "correlated scalar-aggregate subquery DECORRELATED: one Aggregate over lineitem.l_partkey feeding a join — no per-row subquery node"),
    ("gopher_quality", "Gopher quality rules (driver row since round 9): every signal + the keep flag in ONE Project over the scan — zero Exchange, zero Python; the whole curation filter is scan-bound"),
    ("extra:hll_distinct", "HyperLogLog: register build is Catalyst partial_max alone (no Python), shuffle carries <= groups*2^p fixed-width register rows; estimate is a second bounded groupBy"),
    ("bm25_topk", "BM25 retrieval (driver row since round 10): ONE corpus scan — query-term IN filter prunes postings at the generator, df rides along as a token window over the small candidate frame, TakeOrderedAndProject top-k (no global sort, no second scan)"),
    ("extra:bm25_from_index", "index-backed BM25: the corpus scan is REPLACED by the materialized postings scan (ReadSchema is the postings struct, PushedFilters carries In(token, ...)) — the per-query cost is the candidate postings' row groups, the corpus is never re-tokenized"),
    ("extra:phrase_search", "positional phrase search (round 14): ONE tokenize pass filtered to phrase terms at the scan (isin), anchor voting via a literal index map (zero joins), one (doc, anchor)-keyed aggregation carrying only phrase-term postings"),
    ("extra:phrase_decontaminate", "batch decontamination probe (round 14): the benchmark (phrase_id,i,term) table BROADCAST against corpus tokens — a map-side filter, so the only exchange is the (doc,phrase,anchor) aggregation over tokens matching the benchmark vocabulary"),
    ("extra:equi_depth_histogram", "distributed equi-depth ntile (ranks.py::global_ntile): bucket-count groupBy + bounded offset window, then a window PARTITIONED by price-range bucket + broadcast offset join — the global ntile's Exchange SinglePartition is gone (round-10 rewrite)"),
    ("extra:partition_pruning", "partitionBy write + equality read-back: the partition filter prunes DIRECTORIES (PartitionFilters carries the event_type equality; ReadSchema omits the partition column entirely) — with bucketed_join and zorder_layout this completes the three-granularity pruning ladder"),
    ("extra:wds_export_pipeline", "training export end-to-end: the two-pass shard assignment's partitioned windows + ONE applyInPandas tar pack on the same shard key + the flatMap parse — no corpus-sized single-partition operator anywhere in the chain"),
    ("extra:web_corpus_clean", "web curation, the batch twin of the streaming_corpus_clean driver row (which runs the same corpus-global tail over its extraction deltas, then returns its rows materialized so its work dir can be removed): URL-dedup window + quality gate + banded MinHash clustering shapes; no corpus-sized single-partition operator"),
]


def main() -> None:
    from dask_datapipeline_spark.plans.catalog import CATALOG, EXTRA_CATALOG
    from dask_datapipeline_spark.session import get_spark

    spark = get_spark("dump_plans")
    out = [
        "# Physical plans of the headline queries (auto-generated)",
        "",
        f"Regenerated by `tools/dump_plans.py` at sf0.01 on local[*];",
        "evidence for the claims in docs/SCALE.md. AQE finalizes some",
        "shapes at runtime (isFinalPlan=false here): broadcast",
        "conversions and skew splits shown are the static choices.",
        "",
    ]
    for name, why in SHOWCASE:
        qd = (
            EXTRA_CATALOG[name.removeprefix("extra:")]
            if name.startswith("extra:")
            else CATALOG[name]
        )
        df = qd.fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", f"_{why}_", "", "```", plan.rstrip(), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
