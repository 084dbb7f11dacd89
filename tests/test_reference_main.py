"""End-to-end reference-parity pipeline test with boundary-pinning
fixture data (FIXTURES.md §A generation notes): rows strictly before
the campaign, exactly at start, inside, exactly at the inclusive end,
and after; a household without transactions; noValue sentinels."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from dask_datapipeline_spark.errors import EmptyInputError
from dask_datapipeline_spark.plans import reference_main
from dask_datapipeline_spark.plans.reference_main import run_pipeline
from dask_datapipeline_spark.schemas import TRANSACTIONS_SCHEMA
from dask_datapipeline_spark.sources.readers import scan_csv
from dask_datapipeline_spark.sources.writers import write_csv


@pytest.fixture()
def csv_inputs(tmp_path):
    tx = tmp_path / "transactions.csv"
    tx.write_text(
        "individual_id,date,transaction_amount\n"
        "i1,2021-09-01 10:00:00,10.10\n"       # before
        "i1,2021-09-06 00:00:00,1.00\n"        # exactly at start → during
        "i1,2021-09-10 12:00:00,2.22\n"        # inside
        "i2,2021-09-05 23:59:59,5.55\n"        # before (1s short of start)
        "i2,2021-09-13 23:59:59,3.33\n"        # exactly at inclusive end → during
        "i2,2021-09-14 00:00:00,7.77\n"        # after → counted only in total
        "i9,2021-09-07 00:00:00,9.99\n"        # individual with no household → dropped by join
    )
    hh = tmp_path / "hh_ind.csv"
    hh.write_text(
        "hhid,individual_id\n1,i1\n1,i2\n2,i3\n3,i4\n"
    )
    dem = tmp_path / "demographics.csv"
    dem.write_text(
        "hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,state\n"
        "1,2,2+,51 to 100,30-39,noValue,CO\n"
        "2,1,0,noValue,65+,101 to 200,WY\n"   # hh with no transactions → dropped
    )
    return str(tx), str(hh), str(dem)


@pytest.mark.parametrize("adaptive", [False, True])
def test_pipeline_end_to_end(spark, csv_inputs, adaptive):
    """Same rows with adaptive query execution off (the static plan as
    written) and on (runtime re-planned joins and coalesced shuffles)."""
    tx, hh, dem = csv_inputs
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(adaptive).lower())
    try:
        out = run_pipeline(spark, tx, hh, dem).collect()
    finally:
        spark.conf.set(key, before)
    # only hhid 1 survives: hh 2 has no transactions, hh 3 no demographics
    assert len(out) == 1
    r = out[0]
    assert r.hhid == 1
    # before: 10.10 + 5.55 ; during: 1.00 + 2.22 + 3.33 ; count: all 6 joined rows
    assert r.total_amount_before_campaign == 15.65
    assert r.total_amount_during_campaign == 6.55
    assert r.total_transactions == 6
    # noValue sentinel passes through untouched (SURVEY.md §7.4 item 6)
    assert r.home_value_ind == "noValue"
    assert r.state == "CO"


def test_cli_writes_one_csv(spark, csv_inputs, tmp_path, monkeypatch):
    """``main()`` parses the reference's arguments and writes one CSV
    file. The test session stands in for the CLI's own, which ``main``
    would otherwise stop."""
    monkeypatch.setattr(reference_main, "get_spark", lambda _name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    tx, hh, dem = csv_inputs
    output = tmp_path / "household_features.csv"
    reference_main.main([
        "--transactions", tx, "--hh-ind", hh, "--demographics", dem, "--output", str(output),
    ])
    lines = output.read_text().splitlines()
    assert lines == [
        ",".join(reference_main.OUTPUT_COLS),
        "1,2,2+,51 to 100,30-39,noValue,CO,15.65,6.55,6",
    ]


def _last_sql_execution_id(spark) -> int:
    """Id of the newest SQL execution the status store has recorded.
    Ids are sequential, so a difference counts the executions started
    in between; the store's row count stops growing once a long test
    session reaches ``spark.sql.ui.retainedExecutions``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def test_pipeline_and_sink_run_one_sql_execution(spark, csv_inputs, tmp_path):
    """The sink's write is the only Spark action: header checks read
    the filesystem and the empty guard counts rows inside the write."""
    tx, hh, dem = csv_inputs
    before = _last_sql_execution_id(spark)
    scan_csv(spark, tx, TRANSACTIONS_SCHEMA)
    assert _last_sql_execution_id(spark) == before
    write_csv(run_pipeline(spark, tx, hh, dem), str(tmp_path / "o.csv"), single_file=True)
    assert _last_sql_execution_id(spark) == before + 1


def test_non_numeric_amount_fails_naming_the_file(spark, csv_inputs, tmp_path):
    """FAILFAST: a bad amount stops the job instead of becoming a NULL
    that silently changes the household's sums."""
    tx, hh, dem = csv_inputs
    with open(tx, "a") as f:
        f.write("i1,2021-09-02 10:00:00,ten\n")
    with pytest.raises(Py4JJavaError) as err:
        write_csv(run_pipeline(spark, tx, hh, dem), str(tmp_path / "o.csv"), single_file=True)
    assert tx in str(err.value)
    assert "MALFORMED_RECORD_IN_PARSING" in str(err.value)
    assert not os.path.exists(tmp_path / "o.csv.spark-tmp")


def test_malformed_date_row_is_kept(spark, csv_inputs):
    """``date`` is coerced to NULL as the reference coerces it: the row
    counts in ``total_transactions`` and in neither window."""
    tx, hh, dem = csv_inputs
    with open(tx, "a") as f:
        f.write("i1,not a date,4.00\n")
    (r,) = run_pipeline(spark, tx, hh, dem).collect()
    assert (r.total_amount_before_campaign, r.total_amount_during_campaign) == (15.65, 6.55)
    assert r.total_transactions == 7


def test_header_only_transactions_leave_no_output(spark, csv_inputs, tmp_path):
    tx, hh, dem = csv_inputs
    with open(tx, "w") as f:
        f.write("individual_id,date,transaction_amount\n")
    out = str(tmp_path / "o.csv")
    with pytest.raises(EmptyInputError):
        write_csv(run_pipeline(spark, tx, hh, dem), out, single_file=True)
    assert not os.path.exists(out)
    assert not os.path.exists(out + ".spark-tmp")
