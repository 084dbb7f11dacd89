"""Aggregation operators (reference O5 sum, O8 count — generalized).

The reference does one aggregate per group-by pass (reference
``main.py:142-174``), so its flagship pipeline scans the joined table
three times (``main.py:314-320``). Here ``group_agg`` takes a LIST of
agg specs and produces them in one ``groupBy().agg(...)`` — one
shuffle instead of three, with map-side partial aggregation for free
(HashAggregateExec partial/final).

Count semantics trap (SURVEY.md §7.4 item 4): the reference's "count"
is pandas non-null count of the value column (main.py:167 with 'count')
→ ``F.count(col)``, NOT ``COUNT(*)``.

Rounding trap (item 1): pandas ``.round`` is half-to-even → ``bround``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import require_columns, require_dataframe
from dask_datapipeline_spark.functions.numeric import exact_sum

_AGG_FNS = {
    "sum": F.sum,
    "count": F.count,          # non-null count — pandas parity
    "count_star": lambda _c: F.count(F.lit(1)),
    "count_distinct": F.count_distinct,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "mean": F.avg,
    "stddev": F.stddev,
    "first": F.first,
    "collect_set": F.collect_set,
    "sum_exact": exact_sum,    # decimal-exact money sum (numeric.py)
}


@dataclass(frozen=True)
class AggSpec:
    """One aggregate: ``fn(col)`` rounded to ``round_scale`` (bround,
    pandas parity) and aliased ``alias``. ``fn`` ∈ _AGG_FNS or a
    callable Column→Column."""

    col: str
    fn: str
    alias: str
    round_scale: int | None = None

    def to_column(self) -> Column:
        fn = _AGG_FNS.get(self.fn, self.fn)
        if not callable(fn):
            raise ValueError(f"unknown aggregation {self.fn!r}; known: {sorted(_AGG_FNS)}")
        c = fn(self.col)
        if self.round_scale is not None:
            c = F.bround(c, self.round_scale)
        return c.alias(self.alias)


def group_agg(
    df: DataFrame,
    group_by: str | Sequence[str],
    aggs: Sequence[AggSpec] | AggSpec,
) -> DataFrame:
    """Hash group-by with N aggregates in one pass.

    Reference-parity call shape (O5): a single AggSpec with
    ``fn='sum'``, ``round_scale=2`` and a rename via ``alias``
    reproduces ``dataframe_groupby`` (main.py:142-174) minus the
    implicit key sort — Spark output order is undefined; sort
    explicitly at the sink if needed (SURVEY.md §7.4 item 7).

    The projection the reference does pre-groupby (main.py:164) is
    unnecessary here: Catalyst's ColumnPruning pushes the needed-column
    set into the scan.
    """
    require_dataframe(df)
    keys = [group_by] if isinstance(group_by, str) else list(group_by)
    specs = [aggs] if isinstance(aggs, AggSpec) else list(aggs)
    if not specs:
        raise ValueError("group_agg requires at least one AggSpec")
    require_columns(df, keys)
    require_columns(df, [s.col for s in specs if s.col != "*"])
    return df.groupBy(*keys).agg(*[s.to_column() for s in specs])


def grouping_sets_agg(
    df: DataFrame,
    sets: str,
    cols: Sequence[str],
    aggs: Sequence[AggSpec],
) -> DataFrame:
    """Rollup/cube aggregation — absent from the reference (SURVEY.md
    §2.1 'no grouping sets/cube/rollup'), part of the generalized
    relational surface. ``sets`` ∈ {'rollup', 'cube'}."""
    require_dataframe(df)
    grouped = df.rollup(*cols) if sets == "rollup" else df.cube(*cols)
    return grouped.agg(*[s.to_column() for s in aggs])


def tagged_rollup_cube(
    df: DataFrame,
    cols: Sequence[str],
    aggs: Sequence[AggSpec],
    tag_col: str = "gmode",
) -> DataFrame:
    """ROLLUP and CUBE results in one DataFrame, tagged 'rollup'/'cube'.

    Scale shape: rollup's grouping sets are a SUBSET of cube's, so
    the input is aggregated ONCE — a single cube Expand + one shuffle
    — and the rollup rows are recovered by filtering on
    ``grouping_id()`` (a rollup set grouped on a k-column prefix has
    gid 2^(n-k)-1: the trailing columns' bits set). Aggregating twice
    (rollup pass + cube pass) would scan and shuffle the fact input
    twice for identical partial aggregates. The small cube output is
    persisted because both tagged branches read it."""
    require_dataframe(df)
    require_columns(df, list(cols))
    from pyspark.storagelevel import StorageLevel

    n = len(cols)
    cube_df = (
        df.cube(*cols)
        .agg(*[s.to_column() for s in aggs], F.grouping_id().alias("__gid"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rollup_gids = [(1 << k) - 1 for k in range(n + 1)]
    out_cols = [*cols, *[s.alias for s in aggs]]
    rollup_part = (
        cube_df.filter(F.col("__gid").isin(rollup_gids))
        .select(F.lit("rollup").alias(tag_col), *out_cols)
    )
    cube_part = cube_df.select(F.lit("cube").alias(tag_col), *out_cols)
    return rollup_part.unionByName(cube_part)


def key_skew_profile(df, key_col: str, label: str | None = None):
    """Join-key skew diagnostic: one row summarizing the key's degree
    distribution — row/key counts, the hottest key's multiplicity,
    exact median multiplicity, and the max/median skew ratio that
    decides between a plain hash join, AQE skew split, or salting
    (``skew_join_salted``). The report you run BEFORE shuffling 100 TB
    on a key you hope is uniform.

    Scale shape: the per-key count table can hold billions of rows, so
    the median multiplicity is NOT an order statistic over it — the
    second groupBy collapses it to the COUNT-OF-COUNTS (degree
    histogram: multiplicity → how many keys have it), whose size is
    the number of DISTINCT multiplicities (hundreds, even at 100 TB).
    Only that bounded table pays the ordered cumulative window; the
    median is then the smallest multiplicity whose cumulative key
    count reaches ceil(K/2) — an exact integer selection, no
    interpolation. NULL keys count as a real key (a NULL-heavy join
    column IS a skew hazard — it is often the hottest "key").
    """
    from pyspark.sql.window import Window

    require_columns(df, [key_col])
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__c"))
    coc = counts.groupBy("__c").agg(F.count(F.lit(1)).alias("__nk"))
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # both windows run over the BOUNDED count-of-counts table only; the
    # total key count rides along as a whole-table window so the median
    # selection is a conditional MIN inside ONE aggregate — no joins at
    # all (a single-row-side join here plans as the forbidden
    # BroadcastNestedLoopJoin once constant folding eats an x*0 key)
    cum = coc.select(
        "__c",
        "__nk",
        F.sum("__nk").over(w).alias("__cum"),
        F.sum("__nk").over(w_all).alias("__k"),
    )
    out = cum.agg(
        F.sum(F.col("__c") * F.col("__nk")).alias("n_rows"),
        F.max("__k").alias("n_keys"),
        F.max("__c").alias("max_count"),
        F.min(
            F.when(F.col("__cum") >= F.expr("(__k + 1) DIV 2"), F.col("__c"))
        ).alias("p50_count"),
    )
    return out.select(
        F.lit(label if label is not None else key_col).alias("key"),
        "n_rows",
        "n_keys",
        "max_count",
        "p50_count",
        (F.col("max_count").cast("double") / F.col("p50_count")).alias("skew_ratio"),
    )
