"""Query catalog: every operator from SURVEY.md §2 (+ §2.2 extensions)
as a (Spark callable, DuckDB oracle SQL) pair.

This is the single source of truth behind ``__spark_entry__.py``'s
``queries()`` / ``oracle_sql()`` driver contract.

Cross-engine determinism rules (why every query here hash-matches):

- **Money sums** aggregate on ``DECIMAL(18,2)`` (exact, associative →
  order-independent under parallelism) and cast the final value to
  double. Both engines produce the correctly-rounded double of the
  same exact decimal → bit-identical (values ≪ 2^53).
- **Averages** are expressed as exact-decimal-sum-cast-double divided
  by count: one IEEE division of identical operands → bit-identical.
- **Plain double arithmetic** appears only row-wise (never reordered
  reductions), where IEEE ops are deterministic.
- Every computed column is aliased identically on both sides; ties in
  top-k/window queries are broken by a unique key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_datapipeline_spark.functions.numeric import exact_sum
from dask_datapipeline_spark.functions.timestamps import cast_timestamp
from dask_datapipeline_spark.operators.aggregates import (
    AggSpec,
    group_agg,
    tagged_rollup_cube,
)
from dask_datapipeline_spark.operators.filters import filter_before, filter_between
from dask_datapipeline_spark.operators.joins import equi_join, fold_join
from dask_datapipeline_spark.plans import household_features as hf
from dask_datapipeline_spark.sources.readers import load_testdata


@dataclass(frozen=True)
class QueryDef:
    """One catalog entry. ``oracle`` is DuckDB SQL over the
    pre-registered views, or None for non-SQL-expressible ops
    (driver then records a weaker rows-only check)."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""


CATALOG: dict[str, QueryDef] = {}

#: Diagnostic / demoted queries: oracle-checked by the LOCAL gate
#: (tools/check_correctness.py) but not part of the driver contract.
#: The driver's correctness sweep records at most 50 rows, so the
#: driver-facing CATALOG is curated to exactly 50 entries; everything
#: squeezed out (component sub-queries, exact-but-unscalable recall
#: oracles) lives here and stays continuously verified.
EXTRA_CATALOG: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, description: str = ""):
    def deco(fn):
        if name in CATALOG or name in EXTRA_CATALOG:
            # a silent overwrite would drop the shadowed query from the
            # oracle gate with every check still passing
            raise ValueError(f"catalog query {name!r} registered twice")
        CATALOG[name] = QueryDef(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


def register_extra(name: str, oracle: str | None, description: str = ""):
    def deco(fn):
        if name in CATALOG or name in EXTRA_CATALOG:
            raise ValueError(f"catalog query {name!r} registered twice")
        EXTRA_CATALOG[name] = QueryDef(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


# SQL fragment: exact money sum, bit-stable across engines.
def _dsum(col: str, alias: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def gate_tmpdir(spark, sf_dir: str, name: str, *subdirs: str) -> str:
    """THE temp-path recipe for catalog rows that materialize on disk
    in their builder (partitioned/bloomed/indexed writes): one
    deterministic dir per (query, sf, Spark app), rewritten
    (mode=overwrite) per call — repeated gate runs in ONE session must
    not leak a fresh mkdtemp each time; the sf suffix keeps parallel
    gates on different sf dirs apart; the applicationId keeps two
    CONCURRENT gates on the SAME sf from overwriting the directory the
    other is reading. One helper so a future change to the isolation
    scheme cannot miss a site."""
    import os as _os
    import tempfile as _tf

    return _os.path.join(
        _tf.gettempdir(),
        f"spark_graft_{name}_"
        + _os.path.basename(sf_dir.rstrip("/"))
        + "_"
        + spark.sparkContext.applicationId,
        *subdirs,
    )


# --------------------------------------------------------------------
# Flagship pipeline (reference main(), SURVEY.md §3.1)
# --------------------------------------------------------------------

_FLAGSHIP_CTES = f"""
WITH tx AS (
  SELECT user_id AS individual_id, ts AS date, value AS transaction_amount FROM events
), map AS (
  SELECT c_custkey AS individual_id, c_nationkey AS hhid FROM customer
), demo AS (
  SELECT n_nationkey AS hhid, n_name AS nation_name, r_name AS region_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
), inner_j AS (
  SELECT m.hhid, t.date, t.transaction_amount
  FROM tx t JOIN map m ON t.individual_id = m.individual_id
)
"""

_W_LO = f"TIMESTAMP '{hf.CAMPAIGN_START}'"
_W_HI = f"TIMESTAMP '{hf.CAMPAIGN_END}'"


register(
    "flagship_household_features",
    _FLAGSHIP_CTES
    + f"""
, f2 AS (
  SELECT hhid, {_dsum('transaction_amount', 'total_amount_before_campaign')}
  FROM inner_j WHERE date < {_W_LO} GROUP BY hhid
), f3 AS (
  SELECT hhid, {_dsum('transaction_amount', 'total_amount_during_campaign')}
  FROM inner_j WHERE date BETWEEN {_W_LO} AND {_W_HI} GROUP BY hhid
), f4 AS (
  SELECT hhid, COUNT(transaction_amount) AS total_transactions FROM inner_j GROUP BY hhid
)
SELECT d.hhid, d.nation_name, d.region_name,
       f2.total_amount_before_campaign, f3.total_amount_during_campaign,
       f4.total_transactions
FROM demo d
JOIN f2 ON d.hhid = f2.hhid
JOIN f3 ON d.hhid = f3.hhid
JOIN f4 ON d.hhid = f4.hhid
""",
    "Reference main() re-targeted at testdata roles; oracle replays the reference "
    "dataflow (3 aggs + 4-way inner fold)",
)(hf.flagship_testdata)

# The same plan again, checked by an independent oracle shape: one
# conditional aggregation with a row-presence window filter.
register(
    "flagship_onepass",
    _FLAGSHIP_CTES
    + f"""
, feats AS (
  SELECT hhid,
    CAST(SUM(CASE WHEN date < {_W_LO} THEN CAST(transaction_amount AS DECIMAL(18,2)) END) AS DOUBLE)
      AS total_amount_before_campaign,
    CAST(SUM(CASE WHEN date BETWEEN {_W_LO} AND {_W_HI} THEN CAST(transaction_amount AS DECIMAL(18,2)) END) AS DOUBLE)
      AS total_amount_during_campaign,
    COUNT(transaction_amount) AS total_transactions
  FROM inner_j GROUP BY hhid
  HAVING COUNT(CASE WHEN date < {_W_LO} THEN 1 END) > 0
     AND COUNT(CASE WHEN date BETWEEN {_W_LO} AND {_W_HI} THEN 1 END) > 0
)
SELECT d.hhid, d.nation_name, d.region_name,
       f.total_amount_before_campaign, f.total_amount_during_campaign, f.total_transactions
FROM demo d JOIN feats f ON d.hhid = f.hhid
""",
    "The flagship plan against a one-pass oracle: conditional aggs, households kept "
    "only with rows in both windows",
)(hf.flagship_testdata)


# --------------------------------------------------------------------
# O1: scan + projection (+ predicate pushdown)
# --------------------------------------------------------------------


@register(
    "scan_projection",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45",
    "O1 generalized: parquet scan with column pruning + predicate pushed to row-group filter",
)
def q_scan_projection(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_quantity").filter(F.col("l_quantity") > 45)


# --------------------------------------------------------------------
# O3: string → timestamp cast
# --------------------------------------------------------------------


@register(
    "cast_timestamp",
    """
SELECT event_id,
       strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_parsed
FROM events
""",
    "O3: 'yyyy-MM-dd HH:mm:ss' string column parsed to timestamp (coerce semantics)",
)
def q_cast_timestamp(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    ev = ev.select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
    ev = cast_timestamp(ev, "ts_str")
    return ev.select("event_id", F.col("ts_str").alias("ts_parsed"))


# --------------------------------------------------------------------
# O4: binary equi-joins, all how= variants
# --------------------------------------------------------------------


@register(
    "join_inner",
    """
SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
""",
    "O4: inner equi-join fact→dim; dim side broadcast (hint) — no fact shuffle",
)
def q_join_inner(spark, sf_dir):
    o = load_testdata(spark, sf_dir, "orders")
    c = load_testdata(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    j = equi_join(o, c, on="o_custkey", broadcast="right")
    return j.select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", "o_totalprice")


@register_extra(
    "join_left",
    """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
""",
    "O4 generalized: left outer join (reference supports inner only, SURVEY.md §2.1). "
    "Demoted to the local gate in round 3 to free a driver row for merge_upsert — "
    "join_inner/join_semi/join_anti keep the join family driver-checked",
)
def q_join_left(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    o = load_testdata(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    j = equi_join(c, o, on="c_custkey", how="left")
    return j.select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_semi",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
""",
    "O4 generalized: left-semi join (EXISTS)",
)
def q_join_semi(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    o = (
        load_testdata(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 50000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return equi_join(c, o, on="c_custkey", how="left_semi").select("c_custkey", "c_name")


@register_extra(
    "join_anti",
    """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F' AND o.o_totalprice > 150000
)
""",
    "O4 generalized: left-anti join (NOT EXISTS); selective inner predicate keeps "
    "the result non-vacuous. Demoted to the local gate in round 3 to free a driver "
    "row for semantic_dedup — the anti-join code path stays driver-checked through "
    "merge_upsert (whose copy-on-write is a broadcast anti-join + union)",
)
def q_join_anti(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    o = (
        load_testdata(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 150000))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return equi_join(c, o, on="c_custkey", how="left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------
# O5/O8/O11/O12: group-by aggregations
# --------------------------------------------------------------------


@register(
    "groupby_sum",
    f"SELECT l_returnflag, {_dsum('l_quantity', 'sum_qty')} FROM lineitem GROUP BY l_returnflag",
    "O5: hash group-by + sum + round(2) + rename, one pass (map-side partial agg)",
)
def q_groupby_sum(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    return group_agg(li, "l_returnflag", AggSpec("l_quantity", "sum_exact", "sum_qty", round_scale=2))


@register(
    "count_agg",
    "SELECT user_id, COUNT(value) AS total_transactions FROM events GROUP BY user_id",
    "O8: non-null count (pandas 'count' parity — F.count(col), NOT COUNT(*))",
)
def q_count_agg(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return group_agg(ev, "user_id", AggSpec("value", "count", "total_transactions"))


@register(
    "multi_agg_pricing",
    f"""
SELECT l_returnflag, l_linestatus,
  {_dsum('l_quantity', 'sum_qty')},
  {_dsum('l_extendedprice', 'sum_base_price')},
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    "O5 generalized: TPC-H-Q1-style multi-agg in ONE groupBy pass (reference needs 1 pass per agg)",
)
def q_multi_agg_pricing(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_sum("l_quantity").alias("sum_qty"),
        exact_sum("l_extendedprice").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        (exact_sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------
# O6/O7: time-range filters feeding aggregation
# --------------------------------------------------------------------


@register(
    "filter_before_sum",
    f"""
SELECT user_id, {_dsum('value', 'total_amount_before_campaign')}
FROM events WHERE ts < {_W_LO} GROUP BY user_id
""",
    "O6: strict-< timestamp filter (feature2); predicate pushed below the agg into the scan",
)
def q_filter_before_sum(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return group_agg(
        filter_before(ev, "ts", hf.CAMPAIGN_START),
        "user_id",
        AggSpec("value", "sum_exact", "total_amount_before_campaign", round_scale=2),
    )


@register_extra(
    "filter_between_sum",
    f"""
SELECT user_id, {_dsum('value', 'total_amount_during_campaign')}
FROM events WHERE ts BETWEEN {_W_LO} AND {_W_HI} GROUP BY user_id
""",
    "O7: inclusive-both-ends BETWEEN (feature3) — Spark Column.between "
    "matches pandas inclusive. Rotated to the extras in round 10 (README "
    "policy rule 2: filter_before_sum keeps the time-filter-sum shape "
    "driver-checked — this row is its BETWEEN twin over the same agg body) "
    "to free the driver slot for bm25_topk; O7 stays swept by the local "
    "gate here",
)
def q_filter_between_sum(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return group_agg(
        filter_between(ev, "ts", hf.CAMPAIGN_START, hf.CAMPAIGN_END),
        "user_id",
        AggSpec("value", "sum_exact", "total_amount_during_campaign", round_scale=2),
    )


@register_extra(
    "filter_compound",
    """
SELECT event_id, user_id, event_type, value FROM events
WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL AND value > 5.0
""",
    "Predicate surface absent from reference (§2.1): IN + IS NOT NULL + compound AND "
    "— rotated to the extras in round 3 to free a driver slot for "
    "training_shards (the reference filter operators O6/O7 stay "
    "driver-checked via filter_before_sum/filter_between_sum, and the "
    "IN/IS NOT NULL predicates remain exercised here by the local gate)",
)
def q_filter_compound(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
        & (F.col("value") > 5.0)
    ).select("event_id", "user_id", "event_type", "value")


@register_extra(
    "partition_pruning",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events WHERE event_type = 'click' AND value IS NOT NULL
GROUP BY event_type
""",
    "Partition-pruned scan: events written partitionBy(event_type), read "
    "back with an equality filter — the filter becomes a PartitionFilter "
    "(directory-level pruning: non-matching partitions are never opened, "
    "the scan lists ONE directory) instead of a row-level PushedFilter. "
    "At 100 TB this is the difference between touching 1/K of the files "
    "and scanning everything; plan shape pinned in tests/test_round10_ops. "
    "Money as the gate-proven cents recipe; oracle reads the source table "
    "directly, so an exact match also proves the partitioned write "
    "round-trips values",
)
def q_partition_pruning(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    out = gate_tmpdir(spark, sf_dir, "part_prune", "events_by_type")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).where(
        (F.col("event_type") == "click") & F.col("value").isNotNull()
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_cents"),
    )


@register_extra(
    "bloom_point_probe",
    """
SELECT doc_id, lang, length(text) AS n_text_chars
FROM documents WHERE doc_id IN (7, 123, 456)
""",
    "Bloom-filter point probe: documents written with a parquet bloom "
    "filter on doc_id (pruning tier 4 after directory/bucket/row-group "
    "min-max), read back with an IN probe — on a randomly-ordered "
    "high-cardinality key every row group's min/max spans the domain, "
    "so only the bloom filter can skip groups; the skip itself is "
    "metric-asserted in tests/test_round11_ops.py (scan numOutputRows "
    "with blooms << without). Oracle reads the source table directly, "
    "so an exact match also proves the bloomed write round-trips values",
)
def q_bloom_point_probe(spark, sf_dir):
    from dask_datapipeline_spark.sources.writers import write_parquet

    docs = load_testdata(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_text_chars")
    )
    out = gate_tmpdir(spark, sf_dir, "bloom_probe", "documents_bloom")
    write_parquet(docs, out, bloom_cols=["doc_id"], bloom_ndv=1_000_000)
    return spark.read.parquet(out).where(F.col("doc_id").isin(7, 123, 456))


# --------------------------------------------------------------------
# O9: n-ary fold join
# --------------------------------------------------------------------


@register(
    "fold_join",
    f"""
WITH a AS (SELECT l_orderkey, {_dsum('l_quantity', 'sum_qty')} FROM lineitem GROUP BY l_orderkey),
     b AS (SELECT l_orderkey, COUNT(l_quantity) AS n_lines FROM lineitem GROUP BY l_orderkey),
     c AS (SELECT l_orderkey, MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_orderkey)
SELECT o.o_orderkey AS l_orderkey, o.o_totalprice, a.sum_qty, b.n_lines, c.max_price
FROM orders o
JOIN a ON o.o_orderkey = a.l_orderkey
JOIN b ON o.o_orderkey = b.l_orderkey
JOIN c ON o.o_orderkey = c.l_orderkey
""",
    "O9: left-deep fold of inner equi-joins — inner semantics drop keys absent from ANY input",
)
def q_fold_join(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    o = (
        load_testdata(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    a = group_agg(li, "l_orderkey", AggSpec("l_quantity", "sum_exact", "sum_qty", round_scale=2))
    b = group_agg(li, "l_orderkey", AggSpec("l_quantity", "count", "n_lines"))
    c = group_agg(li, "l_orderkey", AggSpec("l_extendedprice", "max", "max_price"))
    out = fold_join([o, a, b, c], on="l_orderkey", how="inner")
    return out.select("l_orderkey", "o_totalprice", "sum_qty", "n_lines", "max_price")


# --------------------------------------------------------------------
# Generalized relational surface (absent from reference, SURVEY.md §2.1)
# --------------------------------------------------------------------


@register(
    "window_topk",
    """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    "Window function: per-group top-k via row_number (deterministic tiebreak on unique key)",
)
def q_window_topk(spark, sf_dir):
    o = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_GSET_SQL_BODY = f"""
SELECT '{{mode}}' AS gmode, r_name, n_name,
       COUNT(*) AS n_customers, {_dsum('c_acctbal', 'sum_acctbal')}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY {{clause}} (r_name, n_name)
"""


@register(
    "rollup_cube_agg",
    _GSET_SQL_BODY.format(mode="rollup", clause="ROLLUP")
    + " UNION ALL "
    + _GSET_SQL_BODY.format(mode="cube", clause="CUBE"),
    "Grouping sets, both modes in one row: ROLLUP (region→nation hierarchy) and "
    "CUBE (adds the nation-only slice), tagged by gmode. The input is aggregated "
    "ONCE (single cube Expand + one shuffle); rollup rows are recovered from the "
    "cube output by grouping_id filter — the oracle aggregates each mode "
    "independently, proving the derivation exact",
)
def q_rollup_cube_agg(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    n = load_testdata(spark, sf_dir, "nation")
    r = load_testdata(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return tagged_rollup_cube(
        j,
        ["r_name", "n_name"],
        [
            AggSpec("*", "count_star", "n_customers"),
            AggSpec("c_acctbal", "sum_exact", "sum_acctbal"),
        ],
    )


@register(
    "set_ops",
    """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     big_spenders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000)
SELECT c_custkey FROM (
  (SELECT c_custkey FROM building UNION SELECT c_custkey FROM big_spenders)
  EXCEPT
  (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM big_spenders)
)
""",
    "Set operators (UNION/INTERSECT/EXCEPT, distinct semantics) — symmetric difference",
)
def q_set_ops(spark, sf_dir):
    c = load_testdata(spark, sf_dir, "customer")
    o = load_testdata(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        o.filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return building.union(big).distinct().subtract(building.intersect(big))


@register(
    "distinct_agg",
    """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
""",
    "Distinct aggregation (expand-based two-phase distinct agg in Spark)",
)
def q_distinct_agg(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


@register(
    "sort_limit",
    """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
    "Global top-k: Spark plans TakeOrderedAndProject (per-partition top-k + driver merge, no full sort)",
)
def q_sort_limit(spark, sf_dir):
    o = load_testdata(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "scalar_functions",
    """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       length(p_name) AS name_len,
       substring(p_type, 1, 5) AS type_prefix,
       concat(p_brand, '#', p_type) AS brand_type,
       p_size % 7 AS size_mod,
       abs(p_retailprice - 1000.0) AS price_diff
FROM part
""",
    "Scalar function surface (string/math) — all JVM-side, whole-stage-codegen'd",
)
def q_scalar_functions(spark, sf_dir):
    p = load_testdata(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_diff"),
    )


@register(
    "distribution_stats",
    """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
""",
    "Data-profiling aggregates: exact interpolated percentiles (Spark percentile == "
    "DuckDB quantile_cont bit-for-bit), min/max/count per group",
)
def q_distribution_stats(spark, sf_dir):
    li = load_testdata(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("median_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "token_histogram",
    """
SELECT (len(string_split(lower(text), ' ')) // 10) * 10 AS bucket_lo,
       COUNT(*) AS n_docs
FROM documents GROUP BY bucket_lo
""",
    "Corpus profiling: document token-count histogram in width-10 buckets "
    "(integer bucket math, one shuffle)",
)
def q_token_histogram(spark, sf_dir):
    from dask_datapipeline_spark.functions.text import whitespace_token_count

    docs = load_testdata(spark, sf_dir, "documents")
    bucket = (whitespace_token_count("text").cast("long") / 10).cast("long") * 10
    return docs.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


_SQL_Q3ISH = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_lines
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l.l_orderkey
ORDER BY revenue DESC, l.l_orderkey
LIMIT 20
"""


@register(
    "sql_q3ish",
    _SQL_Q3ISH,
    "SQL entry point: TPC-H-Q3-shaped query text run via spark.sql over registered "
    "views — Catalyst parses/plans the same string DuckDB runs (per-row decimal "
    "product, exact decimal sum, unique-key tiebreak)",
)
def q_sql_q3ish(spark, sf_dir):
    for t in ("customer", "orders", "lineitem"):
        load_testdata(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_Q3ISH)


@register(
    "asof_join",
    """
WITH r AS (
  SELECT user_id, ts,
         MAX(event_id) AS last_click_id,
         arg_max(value, event_id) AS last_click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id, l.user_id, l.ts, l.value, r.last_click_id, r.last_click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
    "As-of join (per purchase: the user's latest prior click) — union + last-non-null "
    "window, one keyed shuffle, no row multiplication; oracle is DuckDB's native ASOF JOIN",
)
def q_asof_join(spark, sf_dir):
    from dask_datapipeline_spark.operators.joins import asof_join

    ev = load_testdata(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("last_click_id"),
            F.max_by("value", "event_id").alias("last_click_value"),
        )
    )
    return asof_join(left, right, on="ts", by="user_id")


@register(
    "range_join_follow",
    """
SELECT a.event_id AS event_id, COUNT(*) AS n_follow,
       CAST(SUM(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS follow_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 7200 SECOND
GROUP BY a.event_id
""",
    "Interval/range join (per event: same-user events in the following 2h) — "
    "time-bucketed equi-join + exact µs residual, one hash shuffle instead of "
    "the O(N·M) nested-loop Spark would plan for a raw inequality join",
)
def q_range_join_follow(spark, sf_dir):
    from dask_datapipeline_spark.operators.joins import range_join

    ev = load_testdata(spark, sf_dir, "events")
    anchors = ev.select("user_id", F.col("event_id").alias("event_id"), F.col("ts").alias("a_ts"))
    followers = ev.select(
        "user_id", F.col("ts").alias("b_ts"), F.col("value").alias("b_value")
    )
    pairs = range_join(
        anchors, followers, by=["user_id"], left_ts="a_ts", right_ts="b_ts",
        lower_seconds=0, upper_seconds=7200,
    )
    return pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.sum(F.col("b_value").cast("decimal(18,2)")).cast("double").alias("follow_value"),
    )


@register(
    "skew_join_salted",
    """
SELECT c_mktsegment, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    "Skew-mitigated join (salt the fact side, explode the dim across salt buckets, "
    "join on key+salt) — same rows as the plain join (the oracle), different physical "
    "plan; the manual fallback for keys AQE skew-splitting can't fix",
)
def q_skew_join_salted(spark, sf_dir):
    from dask_datapipeline_spark.operators.joins import salt_join

    ev = load_testdata(spark, sf_dir, "events")
    cust = load_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salt_join(ev, cust, on="user_id", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )



_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_values",
    "SELECT user_id, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)"
        f" AS {t}_sum"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
    "Pivot: one row per user, one exact-decimal value column per event type "
    "(single shuffle; explicit pivot values avoid the extra distinct scan)",
)
def q_pivot_event_values(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"))
    )
    for t in _EVENT_TYPES:
        out = out.withColumnRenamed(t, f"{t}_sum")
    return out


@register(
    "running_window",
    """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
       LAG(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
       ROW_NUMBER() OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
FROM orders
""",
    "Running/cumulative window functions per customer (exact-decimal running sum, "
    "lag, sequence number) — one shuffle on the partition key, unique sort key",
)
def q_running_window(spark, sf_dir):
    o = load_testdata(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w_run)
        .cast("double")
        .alias("running_total"),
        F.lag("o_totalprice").over(w_ord).alias("prev_price"),
        F.row_number().over(w_ord).alias("order_seq"),
    )


@register(
    "merge_upsert",
    """
WITH upd AS (
  SELECT c_custkey, c_name, c_nationkey,
         c_acctbal + 100.0 AS c_acctbal,
         'UPDATED' AS c_mktsegment,
         (c_custkey % 97 = 0) AS deleted
  FROM customer
  WHERE c_custkey % 10 = 3 OR c_custkey % 97 = 0
  UNION ALL
  SELECT 2000 + g.range AS c_custkey,
         'new-' || (2000 + g.range) AS c_name,
         CAST((2000 + g.range) % 25 AS INTEGER) AS c_nationkey,
         0.0 AS c_acctbal,
         'NEW' AS c_mktsegment,
         FALSE AS deleted
  FROM generate_series(0, 9) g(range)
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM upd WHERE NOT deleted
""",
    "MERGE INTO as a DataFrame plan (operators/merge.py::merge_upsert): "
    "upsert + delete batch applied copy-on-write — broadcast anti-join "
    "keeps the base table unshuffled; the update batch (modified rows, "
    "ten inserts, %97 deletes) is derived deterministically from customer "
    "so the oracle replays it exactly",
)
def q_merge_upsert(spark, sf_dir):
    from dask_datapipeline_spark.operators.merge import merge_upsert

    c = load_testdata(spark, sf_dir, "customer")
    changed = c.filter((F.col("c_custkey") % 10 == 3) | (F.col("c_custkey") % 97 == 0)).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        (F.col("c_custkey") % 97 == 0).alias("deleted"),
    )
    inserts = spark.range(2000, 2010).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("id").cast("string")).alias("c_name"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(False).alias("deleted"),
    )
    return merge_upsert(
        c, changed.unionByName(inserts), ["c_custkey"], delete_col="deleted"
    )


# Extension surface (dedup / similarity / text / multimodal / windows)
# registers itself into CATALOG on import — keep this import last.
from dask_datapipeline_spark.plans import catalog_llm  # noqa: E402,F401

#: The exact enumeration order the driver contract exposes.
#:
#: The driver's correctness sweep records at most 50 rows (round 1
#: registered 52 queries and CORRECTNESS_r01 contains exactly the
#: first 50 — `streaming_dedup` and `session_window`, positions 50-51,
#: were silently dropped), so the catalog is curated to EXACTLY 50
#: driver-facing queries and this list pins their order: reference
#: parity first, then the generalized relational surface, then
#: windows/streaming, then the LLM-pipeline operators. Demoted /
#: diagnostic queries live in EXTRA_CATALOG and are swept by the
#: local gate only.
DRIVER_ORDER: list[str] = [
    # reference parity (SURVEY.md §2, O1-O13 + §3.1 flagship)
    "flagship_household_features",
    "flagship_onepass",
    "scan_projection",
    "cast_timestamp",
    "join_inner",
    "join_semi",
    "groupby_sum",
    "count_agg",
    "multi_agg_pricing",
    "filter_before_sum",
    # round-10 rotation (README policy rules 2+3): filter_between_sum
    # out to EXTRA_CATALOG — it is filter_before_sum's BETWEEN twin
    # over the same agg body, so the pair held two driver slots for
    # one shape. Slot freed for bm25_topk below.
    "fold_join",
    # generalized relational surface (SURVEY.md §2.1 absences)
    "window_topk",
    "rollup_cube_agg",
    "set_ops",
    "distinct_agg",
    "sort_limit",
    "scalar_functions",
    "distribution_stats",
    "token_histogram",
    "sql_q3ish",
    "asof_join",
    "range_join_follow",
    "skew_join_salted",
    "pivot_event_values",
    "running_window",
    # window analytics + streaming. Round-6 rotation (see README
    # §Catalog rotation policy): sliding_window and rollup_hierarchy
    # moved to EXTRA_CATALOG. Round-8 rotation (policy rules 2+3):
    # tumbling_window out — its aggregation body is LITERALLY
    # streaming_tumbling's (the batch twin the streaming row is pinned
    # bit-identical to), so the pair held two driver slots for one
    # semantics; the batch twin stays oracle-checked in EXTRA_CATALOG.
    # Slot freed for html_extract below.
    "session_window",
    "streaming_tumbling",
    # round-12 rotation (README policy rule 2): streaming_dedup out to
    # EXTRA_CATALOG — dedup semantics is the most driver-covered family
    # (dedup_exact/jaccard/minhash/dup_clusters) and the streaming
    # family keeps three representatives. Slot freed for the round-12
    # promotion below: streaming_corpus_clean, the END-TO-END streaming
    # web-curation proof (micro-batch HTML extraction as replay-
    # idempotent deltas -> corpus-global dedup/quality/split over the
    # union), sharing web_corpus_clean's oracle verbatim — exact-match
    # green on arrival
    "streaming_corpus_clean",
    "streaming_user_totals",
    # LLM-pipeline operators (SURVEY.md §2.2)
    "dedup_exact",
    # round-14 rotation (README policy rules 2+3): jaccard_near_dup
    # out to EXTRA_CATALOG — routed_near_dup runs the SAME exact-
    # Jaccard verify semantics under the production configuration (a
    # mixed-script corpus shingling each row in its script's mode:
    # char for zh/ja/th, word otherwise, namespace-tagged hashes), so
    # the family keeps four driver representatives while the
    # word-only baseline stays swept by the local gate
    "routed_near_dup",
    "minhash_near_dup",
    "dup_clusters",
    # round-9 rotation (README policy rule 2): simhash_near_dup out to
    # EXTRA_CATALOG — the near-dup family held FIVE driver slots
    # (exact/jaccard/minhash/clusters/simhash); four representatives
    # stay. Slot freed for gopher_quality below.
    "text_stats",
    "tfidf_top_terms",
    # round-10 promotion (slot freed by filter_between_sum above):
    # BM25 ranked retrieval — the retrieval/decontamination-probe
    # family's first driver row (tfidf_top_terms covers term weighting,
    # nothing covered scoring+top-k); exact-match green since round 9
    "bm25_topk",
    "data_split",
    "json_props_agg",
    "multimodal_features",
    # round-7 rotation (README policy rules 2+3): url_dedup in — the
    # first dedup stage of every RefinedWeb/FineWeb-style web pipeline,
    # production config, exact-match green — knn_brute_topk out to
    # EXTRA_CATALOG (the similarity family keeps its three production
    # driver rows below; brute force is the exact baseline, not the
    # 100 TB path)
    "url_dedup",
    # round-9 promotion (slot freed by simhash_near_dup above): the
    # Gopher document-quality rules — with html_extract + url_dedup
    # this puts ALL THREE stages of the web-curation front door
    # (extract -> canonicalize/dedup -> quality-filter) in the driver
    # window; exact-match green at sf0.01 on arrival
    "gopher_quality",
    # round-13 rotation (README policy rule 2): html_extract out to
    # EXTRA_CATALOG — the extraction family held two driver slots
    # (tag-strip html_extract + DOM-grade main_content_extract below)
    # for one extract semantics; the production path keeps it
    # driver-checked. Slot freed for the round-13 promotion:
    # script_route — Unicode-script profiling, the all-integer routing
    # rule (han/kana/hangul/cyrillic/arabic BEFORE the Latin-trained
    # trigram LID), and the script-routed CJK-safe quality keep; the
    # multilingual front door the driver window previously lacked.
    # Exact-match green on arrival.
    "script_route",
    "embedding_near_dup",
    "knn_join_lsh",
    # round-11 rotation (README policy rule 2): the IVF k-NN row out
    # (since deleted) — the ANN family held two index-variant slots
    # (LSH + IVF) for one query semantics; knn_join_lsh keeps it
    # driver-checked. Slot freed for main_content_extract below.
    # round-11 promotion: DOM-grade main-content extraction — with
    # url_dedup + html_extract + gopher_quality this puts the FULL
    # web-curation front door (extract -> main-content -> dedup ->
    # quality) in the driver window; exact-match green on arrival
    "main_content_extract",
    # SemDeDup semantic dedup — promoted round 3 in place of
    # join_anti (anti-join stays driver-checked through
    # merge_upsert's broadcast anti-join; join_anti is in
    # EXTRA_CATALOG)
    "semantic_dedup",
    # dataset maintenance (MERGE/CDC surface) — promoted round 3 in
    # place of join_left (the join family stays covered by
    # join_inner/join_semi/join_anti; join_left is in EXTRA_CATALOG)
    "merge_upsert",
    # training-shard export (two-pass distributed prefix sum) —
    # promoted round 3 in place of filter_compound so the
    # sampling/packing/export family has a driver row (O6/O7 keep the
    # filter operators driver-checked; filter_compound is in
    # EXTRA_CATALOG)
    "training_shards",
    # round-6 promotions (slots freed by sliding_window /
    # rollup_hierarchy above): perceptual image dedup — the one
    # first-class multimodal LLM-pipeline op the driver set lacked —
    # and the storage-partitioned-join evidence row (Exchange-free
    # join+agg over bucketed tables, plan-shape-guarded)
    "image_near_dup",
    "bucketed_join",
]


def ordered_catalog() -> dict[str, QueryDef]:
    """CATALOG in driver order. Raises if DRIVER_ORDER and the
    registrations ever drift (a query registered but not ordered
    would silently fall off the driver gate)."""
    missing = [n for n in DRIVER_ORDER if n not in CATALOG]
    unordered = [n for n in CATALOG if n not in DRIVER_ORDER]
    if missing or unordered:
        raise RuntimeError(
            f"catalog/order drift: missing={missing} unordered={unordered}"
        )
    if len(DRIVER_ORDER) > 50:
        raise RuntimeError(
            f"driver catalog has {len(DRIVER_ORDER)} queries; the driver "
            "correctness sweep records at most 50 rows"
        )
    return {n: CATALOG[n] for n in DRIVER_ORDER}
