"""Flagship pipeline tests: the one plan against both independent
DuckDB oracles (SURVEY.md §7.4 item 3), plus the drop-semantics
contract."""

from __future__ import annotations

import duckdb
import pytest

from dask_datapipeline_spark.plans.catalog import CATALOG
from dask_datapipeline_spark.plans.household_features import (
    flagship_testdata,
    household_features,
)
from dask_datapipeline_spark.schemas import TESTDATA_TABLES


@pytest.mark.parametrize("oracle", ["flagship_household_features", "flagship_onepass"])
def test_plan_equals_oracle_on_testdata(spark, sf_dir, oracle):
    """Exact, sorted row equality with the 3-aggregate fold oracle and
    with the conditional-aggregate oracle."""
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(CATALOG[oracle].oracle)
        cols = [d[0] for d in res.description]
        want = sorted(res.fetchall())
    finally:
        con.close()
    got = sorted(tuple(r) for r in flagship_testdata(spark, sf_dir).select(*cols).collect())
    assert want, "oracle returned no rows; the check would be vacuous"
    assert got == want


def test_inner_fold_drops_households_missing_a_window(spark):
    """A household with no transaction in one of the two windows must
    be dropped (reference README:29 semantics). A window row whose
    amount is NULL still counts as activity: the household stays, with
    a NULL sum for that window."""
    tx = spark.createDataFrame(
        [
            ("i1", "2021-09-01 00:00:00", 10.0),  # hh 1: before only → dropped
            ("i2", "2021-09-01 00:00:00", 5.0),   # hh 2: before + during → kept
            ("i2", "2021-09-07 00:00:00", 7.0),
            ("i3", "2021-09-01 00:00:00", None),  # hh 3: NULL before amount → kept
            ("i3", "2021-09-07 00:00:00", 4.0),
        ],
        "individual_id string, date string, transaction_amount double",
    )
    from dask_datapipeline_spark.functions.timestamps import cast_timestamp

    tx = cast_timestamp(tx, "date")
    hh = spark.createDataFrame([(1, "i1"), (2, "i2"), (3, "i3")], ["hhid", "individual_id"])
    demo = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["hhid", "attr"])
    out = household_features(
        tx, hh, demo,
        individual_key="individual_id",
        household_key="hhid",
        ts_col="date",
        amount_col="transaction_amount",
        campaign_start="2021-09-06 00:00:00",
        campaign_end="2021-09-13 23:59:59",
    )
    rows = {r.hhid: r for r in out.collect()}
    assert sorted(rows) == [2, 3]
    assert rows[2].total_amount_before_campaign == 5.0
    assert rows[2].total_amount_during_campaign == 7.0
    assert rows[2].total_transactions == 2
    assert rows[3].total_amount_before_campaign is None
    assert rows[3].total_amount_during_campaign == 4.0
    assert rows[3].total_transactions == 1
