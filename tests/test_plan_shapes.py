"""Physical-plan shape guard: no catalog query may plan a Cartesian
product or a nested-loop join — the two shapes that are quadratic per
partition-pair and kill a 100 TB run even when small-SF results stay
correct (SURVEY.md §4; docs/SCALE.md).

This is a regression net for the scale contract: an innocent-looking
rewrite (dropping an equi-key, an inequality-only join condition, a
missed broadcast hint) degrades to BroadcastNestedLoopJoin silently —
results identical, cost model catastrophically different.
"""

from __future__ import annotations

import re

import pytest

from dask_datapipeline_spark.plans.catalog import CATALOG, EXTRA_CATALOG

# Shapes that are always wrong for data-dependent cardinalities.
_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Streaming queries EXECUTE on construction (readStream → memory sink)
# and their returned memory-table plan is trivially scan-only; their
# transformation bodies are the same plan bodies as the batch twins
# checked below (streaming/windows.py shares the functions).
_SKIP_PREFIX = "streaming"

# embedding_near_dup_exact is the deliberate exception: its contract
# IS a (vectorized, broadcast-side-bounded) all-pairs comparison — the
# docstring owns the memory bound and it is demoted to a recall oracle.
_SKIP_EXTRAS = {"embedding_near_dup_exact"}


def _batch_queries():
    names = [n for n in CATALOG if not n.startswith(_SKIP_PREFIX)]
    names += [f"extra:{n}" for n in EXTRA_CATALOG if n not in _SKIP_EXTRAS]
    return names


def _lookup(name):
    if name.startswith("extra:"):
        return EXTRA_CATALOG[name.removeprefix("extra:")]
    return CATALOG[name]


# Operators that BOUND the rows flowing into an Exchange
# SinglePartition: an aggregate reduces to one row per group of an
# already-shuffled key set, a limit cuts to k rows. A single-partition
# exchange whose subtree reaches a scan with none of these is moving
# the full input onto one executor — the unpartitioned-window /
# global-sort scale-killer.
_BOUNDING = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
)


# Bounded-by-construction single-partition windows the heuristic
# cannot see: streaming_quantile's final estimate scans the
# MATERIALIZED sample snapshot — a parquet dir holding at most k=1024
# rows by the sketch contract (sketches.py::quantiles_from_sample
# docstring), so the "scan under a SinglePartition exchange" is a
# sketch read, not a corpus read.
_SKIP_SINGLE_PARTITION = {"extra:streaming_quantile"}


def _indent(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _unbounded_single_partition_exchanges(plan: str) -> list[str]:
    """Lines planning an Exchange SinglePartition with some scan in
    its subtree whose ANCESTOR PATH to the exchange carries no
    bounding operator — i.e. unbounded rows can actually reach the
    single partition. Checking per-path (not 'any bounding op
    anywhere in the subtree') closes the sibling-branch false
    negative: Join(Aggregate(small), full scan) under the exchange is
    still flagged, because the full scan's own path is unguarded.
    LocalTableScan (literal rows) never counts as an unbounded leaf;
    ReusedExchange references are audited at their definition site."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln or "ReusedExchange" in ln:
            continue
        d = _indent(ln)
        for j in range(i + 1, len(lines)):
            dj = _indent(lines[j])
            if dj <= d:
                break
            if "Scan" not in lines[j] or "LocalTableScan" in lines[j]:
                continue
            # ancestor chain of line j back to the exchange: lines
            # whose indent strictly decreases as we walk up
            guarded = False
            min_d = dj
            for k in range(j - 1, i, -1):
                dk = _indent(lines[k])
                if dk < min_d:
                    min_d = dk
                    if any(b in lines[k] for b in _BOUNDING):
                        guarded = True
                        break
            if not guarded:
                bad.append(ln.strip() + " <- " + lines[j].strip()[:80])
                break
    return bad


@pytest.mark.parametrize("name", _batch_queries())
def test_no_quadratic_join_shapes(spark, sf_dir, name):
    df = _lookup(name).fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = [m for m in _FORBIDDEN if m in plan]
    assert not hits, (
        f"{name} plans {hits} — quadratic per key/partition-pair; "
        "re-encode as an equi-join (bucketing, banding, broadcast of a "
        "bounded side) before this reaches a cluster"
    )
    if name in _SKIP_SINGLE_PARTITION:
        return
    solo = _unbounded_single_partition_exchanges(plan)
    assert not solo, (
        f"{name} plans a single-partition exchange over UNBOUNDED input "
        f"({solo}) — the whole input moves to one executor (global "
        "window/sort). Use the two-pass prefix-sum "
        "(operators/ranks.py::global_ntile, packing.py::shard_by_tokens) "
        "or an orderBy().limit() TakeOrdered cap instead"
    )


def _plan(spark, sf_dir, name) -> str:
    return CATALOG[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_scan_projection_pushes_filter_and_prunes(spark, sf_dir):
    """O1's contract at scale: the predicate reaches the parquet
    row-group filter and the scan reads ONLY the projected columns."""
    plan = _plan(spark, sf_dir, "scan_projection")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # ReadSchema must carry just the 3 projected columns, none of the
    # other 13 lineitem columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_dimension_joins_broadcast_not_shuffle(spark, sf_dir):
    """Fact→dim joins must broadcast the bounded dim side; shuffling
    the fact table on a dim key is the classic 100 TB mistake."""
    plan = _plan(spark, sf_dir, "join_inner")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, sf_dir, "flagship_onepass")
    assert "BroadcastHashJoin" in plan


def test_flagship_is_one_uncached_aggregation(spark, sf_dir):
    """The household features come from ONE aggregation over the
    joined fact: no cached intermediate, no per-feature aggregate
    folded back with joins (the reference's three-pass shape)."""
    plan = _plan(spark, sf_dir, "flagship_household_features")
    assert "InMemoryTableScan" not in plan, plan
    finals = re.findall(r"HashAggregate\(keys=\[hhid#\d+L?\], functions=\[(?!partial_)", plan)
    assert len(finals) == 1, plan


def _nested_cached_relations(plan: str) -> list[str]:
    """InMemoryRelation lines with another InMemoryRelation in their
    subtree: a cache built on top of a cache, whose plan string and
    planning time grow with every level."""
    lines = plan.splitlines()
    nested = []
    for i, ln in enumerate(lines):
        if "InMemoryRelation" not in ln:
            continue
        for below in lines[i + 1 :]:
            if _indent(below) <= _indent(ln):
                break
            if "InMemoryRelation" in below:
                nested.append(ln.strip()[:120])
                break
    return nested


def test_incremental_flags_have_no_nested_cache(spark, sf_dir):
    """The one-shot incremental flags keep one cached level, the batch's
    hashed shingles: no signature, candidate or verify cache stacked on
    it."""
    plan = (
        EXTRA_CATALOG["incremental_dedup"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryRelation" in plan
    assert not _nested_cached_relations(plan), _nested_cached_relations(plan)


def test_minhash_verify_intersects_arrays(spark, sf_dir):
    """Candidate pairs are verified by array_intersect of per-doc hash
    arrays, not by a self-join of the shingle table on the hash."""
    plan = _plan(spark, sf_dir, "minhash_near_dup")
    assert "array_intersect" in plan
    assert not re.findall(r"Join \[__h#\d+L?\]", plan), plan


def test_aggregations_have_mapside_partial(spark, sf_dir):
    """groupBy sums must plan two-phase hash aggregation (partial_sum
    map-side) so the shuffle moves one row per (partition, key), not
    one per input row."""
    plan = _plan(spark, sf_dir, "groupby_sum")
    assert "partial_sum" in plan
    plan = _plan(spark, sf_dir, "multi_agg_pricing")
    assert "partial_sum" in plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    top-k + driver merge of k rows), never a global Sort exchange."""
    plan = _plan(spark, sf_dir, "sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_plan_is_exchange_free(spark, sf_dir):
    """The bloom probe's whole point is scan-side pruning: any
    Exchange in its plan means the filter stopped being map-only."""
    from pyspark.sql import functions as F

    from dask_datapipeline_spark.operators.bloom import bloom_semi_join
    from dask_datapipeline_spark.sources.readers import load_testdata

    ev = load_testdata(spark, sf_dir, "events")
    dim = load_testdata(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    plan = (
        bloom_semi_join(ev, dim, "user_id", "c_custkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_embedding_moments_exchange_is_dimension_bounded(spark, sf_dir):
    """The moments shuffle must sit ABOVE a partial HashAggregate on
    (i, j): after map-side combine each partition contributes at most
    d(d+1)/2 rows to the exchange, so the corpus size never appears
    in shuffled bytes. A rewrite that exchanges the raw per-batch
    partials (or worse, per-row terms) breaks the 100 TB contract
    while staying value-correct."""
    from dask_datapipeline_spark.operators.similarity import embedding_moments
    from dask_datapipeline_spark.sources.readers import load_testdata

    emb = load_testdata(spark, sf_dir, "embeddings")
    plan = (
        embedding_moments(emb)._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one KEYED exchange — the (i,j) agg — fed by a partial
    # aggregate below it (fan_out's RoundRobinPartitioning over the
    # single-file local scan is the documented no-op-at-scale shim
    # and carries only the narrow (id, vec) projection)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    pre = plan.split("Exchange hashpartitioning", 1)[1]
    assert "partial_sum" in pre, plan


def test_chunking_and_dsir_plan_shapes(spark, sf_dir):
    """chunk_overlap is pure row-local codegen (zero exchanges); the
    DSIR weight join must broadcast the bounded bucket table, never
    shuffle the per-(doc, bucket) counts against it."""
    plan = (
        EXTRA_CATALOG["chunk_overlap"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan

    plan = (
        EXTRA_CATALOG["dsir_selection"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_join_elides_every_exchange(spark, sf_dir):
    """The storage-partitioned-join evidence row: both scans are
    bucketed on the join key at the SAME bucket count, so the
    SortMergeJoin AND the downstream per-key aggregate must plan with
    ZERO Exchange operators — the write-time shuffle is amortized over
    every downstream query, the single biggest shuffle lever at
    100 TB. A regression here (bucket-count drift, a lost bucketBy,
    hint removal letting broadcast in) silently reintroduces a
    corpus-sized shuffle per run."""
    df = CATALOG["bucketed_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_gopher_quality_is_one_codegen_scan(spark, sf_dir):
    """The quality filter's 100 TB claim IS its plan shape: every
    signal fused into one JVM Project over the file scan — no
    Exchange, no Python eval anywhere. (The higher-order array
    lambdas are interpreted JVM expressions, not codegen'd, so the
    shape check is no-shuffle/no-Python rather than a
    WholeStageCodegen span.)"""
    df = CATALOG["gopher_quality"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Project" in plan, plan


def test_hll_plan_is_pythonless_partial_max(spark, sf_dir):
    """HLL's scale story: the sketch builds on Catalyst's partial MAX
    alone — the plan must show map-side partial aggregation and no
    Python workers anywhere (unlike KMV's mapInPandas prune)."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    df = EXTRA_CATALOG["hll_distinct"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "EvalPython" not in plan, plan


def test_main_content_plan_is_one_arrow_pass_over_scan(spark, sf_dir):
    """The extractor's 100 TB claim IS its plan shape: one MapInPandas
    Arrow stage directly over the scan projection — no joins, no keyed
    shuffle. The ONLY Exchange allowed is fan_out's explicit
    round-robin (the single-file test parquet scans as ONE partition;
    a no-op at real partition counts), never a hash/range exchange."""
    df = CATALOG["main_content_extract"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "roundrobin" in plan.lower(), plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_bm25_plan_single_scan_and_takeordered(spark, sf_dir):
    """BM25's plan contract: ONE corpus scan (df rides along as a
    token window over the candidate frame — a join-back df planned a
    second full scan, measured round 9), the query-term IN filter
    prunes postings at the generator, and the top-k is
    TakeOrderedAndProject, not a global sort."""
    df = CATALOG["bm25_topk"].fn(spark, sf_dir)  # driver row since r10
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
