"""The flagship pipeline (reference ``main()``, main.py:284-330):

    read 3 tables → inner-join transactions to a household↔individual
    mapping → per-household features (sum before campaign, sum during
    campaign, non-null tx count) → inner join with demographics →
    output.

One plan (SURVEY.md §7.4 item 3): the reference aggregates the joined
fact three times and folds the results back with inner joins
(main.py:314-320). Here the three features are conditional aggregates
of ONE ``groupBy(hhid)`` pass — one shuffle over the fact table, no
cached intermediate — so the plan is the same at 100 MB and at 100 TB.

The reference's inner fold drops any household missing a
before-campaign OR a during-campaign transaction (README:29). A
conditional sum yields NULL, not a dropped row, for an empty window,
so each window also counts its rows and households with a zero count
are filtered out. Row presence, not a non-NULL sum, is the test: a
household whose only before-campaign row has a NULL amount is kept
with a NULL before-sum, exactly as the fold keeps it.

Role mapping onto the driver testdata (FIXTURES.md §C): events plays
transactions (user_id/ts/value), customer plays hh_ind
(c_custkey=individual, c_nationkey=household), nation⋈region plays
demographics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators.aggregates import AggSpec, group_agg
from dask_datapipeline_spark.operators.filters import _ts_lit
from dask_datapipeline_spark.operators.joins import equi_join
from dask_datapipeline_spark.sources.readers import load_testdata

BEFORE_COL = "total_amount_before_campaign"
DURING_COL = "total_amount_during_campaign"
COUNT_COL = "total_transactions"


def household_features(
    transactions: DataFrame,
    hh_ind: DataFrame,
    demographics: DataFrame,
    individual_key: str,
    household_key: str,
    ts_col: str,
    amount_col: str,
    campaign_start,
    campaign_end,
) -> DataFrame:
    """Household features in one aggregation pass over the joined fact.

    Windows follow the reference: before is ``ts < start`` (strict,
    main.py:197), during is ``start <= ts <= end`` (main.py:217-220).
    """
    # Broadcast choice left to AQE: either side of the mapping join may
    # be the small one depending on deployment (spec says transactions
    # ≤100 MB but mapping >10 GB — AQE sizes them at runtime).
    inner = equi_join(transactions, hh_ind, on=individual_key, how="inner")
    ts, amt = F.col(ts_col), F.col(amount_col)
    before = ts < _ts_lit(campaign_start)
    during = ts.between(_ts_lit(campaign_start), _ts_lit(campaign_end))
    windowed = inner.select(
        household_key,
        amt,
        F.when(before, amt).alias("_before_amt"),
        F.when(during, amt).alias("_during_amt"),
        F.when(before, 1).alias("_in_before"),
        F.when(during, 1).alias("_in_during"),
    )
    feats = group_agg(
        windowed,
        household_key,
        [
            AggSpec("_before_amt", "sum_exact", BEFORE_COL, round_scale=2),
            AggSpec("_during_amt", "sum_exact", DURING_COL, round_scale=2),
            # Reference feature4 hard-codes the household key regardless
            # of its groupby_column arg (main.py:235-240) — here the key
            # is honest.
            AggSpec(amount_col, "count", COUNT_COL),
            AggSpec("_in_before", "count", "_n_before"),
            AggSpec("_in_during", "count", "_n_during"),
        ],
    )
    feats = feats.filter((F.col("_n_before") > 0) & (F.col("_n_during") > 0))
    feats = feats.drop("_n_before", "_n_during")
    return equi_join(demographics, feats, on=household_key, how="inner")


# ---------------------------------------------------------------
# Testdata instantiation (role mapping per FIXTURES.md §C). The events
# table spans 2024-01-01..2024-01-30; campaign window fixed mid-range
# so all five boundary cases (strictly-before/at-start/inside/at-end/
# after) occur in data.
# ---------------------------------------------------------------
CAMPAIGN_START = "2024-01-10 00:00:00"
CAMPAIGN_END = "2024-01-19 23:59:59"


def _testdata_roles(spark, sf_dir: str):
    events = load_testdata(spark, sf_dir, "events").select(
        F.col("user_id").alias("individual_id"),
        F.col("ts").alias("date"),
        F.col("value").alias("transaction_amount"),
    )
    mapping = load_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("individual_id"),
        F.col("c_nationkey").alias("hhid"),
    )
    demographics = (
        load_testdata(spark, sf_dir, "nation")
        .join(load_testdata(spark, sf_dir, "region"),
              F.col("n_regionkey") == F.col("r_regionkey"), "inner")
        .select(
            F.col("n_nationkey").alias("hhid"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )
    return events, mapping, demographics


def flagship_testdata(spark, sf_dir: str) -> DataFrame:
    """The flagship query instantiated on the driver testdata."""
    tx, mapping, demo = _testdata_roles(spark, sf_dir)
    return household_features(
        tx, mapping, demo,
        individual_key="individual_id",
        household_key="hhid",
        ts_col="date",
        amount_col="transaction_amount",
        campaign_start=CAMPAIGN_START,
        campaign_end=CAMPAIGN_END,
    )
