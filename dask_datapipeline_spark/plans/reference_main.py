"""Drop-in replacement for the reference application's ``main()``
(reference main.py:284-330): read the three CSVs → household features
→ single CSV out. A user of the reference switches by pointing this
at the same files.

Differences from the reference, all deliberate:

- One lazy Spark DAG instead of eager pandas stages — the reference's
  ``dataframe_converter`` materialization (main.py:80-94) maps to
  nothing (SURVEY.md §1.3).
- Campaign-window sums use exact decimal aggregation + banker's
  rounding, bit-matching pandas' half-even ``.round(2)``.
- Output is sorted by hhid: pandas groupby sorted keys implicitly
  (main.py:167); Spark guarantees no order, so the contract is made
  explicit (SURVEY.md §7.4 item 7).
- The three features come from one conditional aggregation over the
  joined table (``household_features``) instead of three aggregates
  and a 4-way join — one shuffle over the fact table, same rows.

Constants mirror reference main.py:17-51.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from dask_datapipeline_spark.functions.timestamps import cast_timestamp
from dask_datapipeline_spark.plans.household_features import household_features
from dask_datapipeline_spark.schemas import (
    DEMOGRAPHICS_SCHEMA,
    HH_IND_SCHEMA,
    TRANSACTIONS_SCHEMA,
)
from dask_datapipeline_spark.session import get_spark
from dask_datapipeline_spark.sources.readers import scan_csv
from dask_datapipeline_spark.sources.writers import write_csv

# reference main.py:30-31 — campaign window, end encoded inclusive
CAMPAIGN_START = "2021-09-06 00:00:00"
CAMPAIGN_END = "2021-09-13 23:59:59"

# reference main.py:25-27 — scan-time projections (usecols)
HH_COLS = ["hhid", "individual_id"]
DEM_COLS = [
    "hhid", "num_inds", "children_ind", "hh_income_ind",
    "age_ind", "home_value_ind", "state",
]
TRANS_COLS = ["individual_id", "date", "transaction_amount"]

OUTPUT_COLS = DEM_COLS + [
    "total_amount_before_campaign",
    "total_amount_during_campaign",
    "total_transactions",
]


def run_pipeline(
    spark: SparkSession,
    transactions_csv: str,
    hh_ind_csv: str,
    demographics_csv: str,
) -> DataFrame:
    """The reference dataflow (SURVEY.md §3.1) as one lazy DAG."""
    tx = scan_csv(spark, transactions_csv, TRANSACTIONS_SCHEMA, columns=TRANS_COLS)
    tx = cast_timestamp(tx, "date")  # reference casts post-join (main.py:138); pre-join
    # lets Catalyst push date predicates into the transactions scan
    hh = scan_csv(spark, hh_ind_csv, HH_IND_SCHEMA, columns=HH_COLS)
    dem = scan_csv(spark, demographics_csv, DEMOGRAPHICS_SCHEMA, columns=DEM_COLS)

    out = household_features(
        tx, hh, dem,
        individual_key="individual_id",
        household_key="hhid",
        ts_col="date",
        amount_col="transaction_amount",
        campaign_start=CAMPAIGN_START,
        campaign_end=CAMPAIGN_END,
    )
    return out.select(*OUTPUT_COLS).orderBy("hhid")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="household-features pipeline (PySpark)")
    p.add_argument("--transactions", required=True)
    p.add_argument("--hh-ind", required=True)
    p.add_argument("--demographics", required=True)
    p.add_argument("--output", required=True, help=".csv output path (single file)")
    p.add_argument("--no-single-file", action="store_true",
                   help="write a part-file directory instead of one CSV (100 TB path)")
    args = p.parse_args(argv)

    spark = get_spark("household-features")
    out = run_pipeline(spark, args.transactions, args.hh_ind, args.demographics)
    write_csv(out, args.output, single_file=not args.no_single_file)
    spark.stop()


if __name__ == "__main__":
    main()
