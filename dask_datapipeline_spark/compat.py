"""Drop-in class API of the reference application, backed by Spark.

The reference exposes four classes (reference ``main.py``):
``DataExtractor`` (main.py:53-94), ``DataProcessor`` (main.py:97-174),
``SQLQuery`` (main.py:177-258), ``Loader`` (main.py:261-281). A user
switching from the reference keeps their call sites; each method here
preserves the reference's signature, semantics, and error contract
(SURVEY.md §2 O1-O13) while the execution is a lazy Spark DataFrame
plan instead of eager Dask/pandas stages.

Deliberate fixes over the reference (SURVEY.md §7.4 item 9 — do not
replicate bugs):

- ``dataframe_merger`` requires the join key on BOTH sides; the
  reference checked the *union* of the two column sets
  (main.py:131), deferring the failure to pandas.
- ``feature4`` actually groups by its ``groupby_column`` argument; the
  reference validated it, then hard-coded ``hhid`` (main.py:235-240).
- Group-by results are explicitly sorted by the group key — pandas
  sorted implicitly (main.py:167), Spark guarantees no order.

Validation semantics that force an eager action (`isEmpty`) are kept
because the reference's contract is eager; skip the compat layer and
use ``operators/`` directly for fully lazy pipelines at scale.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_datapipeline_spark.functions.numeric import exact_sum

_TS_FORMAT_PY = "%Y-%m-%d %H:%M:%S"
_TS_FORMAT_SPARK = "yyyy-MM-dd HH:mm:ss"
_VALID_AGGS = {"sum", "count"}


class DataExtractor:
    """CSV reader with scan-time projection (reference main.py:53-94).

    ``cols`` maps to ``usecols`` (main.py:75); dtype overrides come
    from explicit schemas, not inference — pass ``schema`` to pin
    types (the reference forced ``individual_id`` to str)."""

    def __init__(self, file_path: str, cols: list[str], schema=None):
        self.file_path = file_path
        self.cols = list(cols)
        self.schema = schema

    def csv_reader(self, spark: SparkSession | None = None) -> DataFrame:
        """Lazy CSV scan; ``FileNotFoundError`` on a non-``.csv`` path
        (reference main.py:74-77 raised before reading).

        Without ``schema``, falls back to ``inferSchema=True`` — the
        reference's pandas-style dtype-inference contract, which costs
        an EXTRA FULL SCAN of the file before the real read. Fine for
        the compat layer's MB-scale inputs; at scale pass a pinned
        schema (see ``dask_datapipeline_spark.schemas``) — a
        ``UserWarning`` flags the inferring path."""
        if not str(self.file_path).endswith(".csv"):
            raise FileNotFoundError(
                f"{self.file_path!r}: only .csv input is supported"
            )
        spark = spark or SparkSession.active()
        reader = spark.read.option("header", True)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        else:
            import warnings

            warnings.warn(
                "csv_reader without an explicit schema runs inferSchema=True "
                "— an extra full scan of the input; pass schema= (pinned "
                "types live in dask_datapipeline_spark.schemas) for scale",
                UserWarning,
                stacklevel=2,
            )
            reader = reader.option("inferSchema", True)
        return reader.csv(self.file_path).select(*self.cols)

    def dataframe_converter(self, dask_df) -> DataFrame:
        """Reference main.py:80-94 materialized Dask→pandas here. Spark
        stays lazy — this validates and passes through, keeping the
        error contract: ``TypeError`` on a non-DataFrame input,
        ``ValueError`` on an empty one (which the reference detected by
        computing; ``isEmpty`` is the bounded-cost equivalent)."""
        if not isinstance(dask_df, DataFrame):
            raise TypeError("dataframe_converter expects a Spark DataFrame")
        if dask_df.isEmpty():
            raise ValueError("empty dataframe")
        return dask_df


class DataProcessor:
    """Scalar parsing, join, group-by (reference main.py:97-174)."""

    @staticmethod
    def string_to_timestamp_converter(date_string: str) -> dt.datetime:
        """Validated ``%Y-%m-%d %H:%M:%S`` parse (main.py:105-120):
        ``TypeError`` on non-str, ``ValueError`` on format mismatch."""
        if not isinstance(date_string, str):
            raise TypeError("date_string must be a str")
        return dt.datetime.strptime(date_string, _TS_FORMAT_PY)

    @staticmethod
    def dataframe_merger(
        df1: DataFrame, df2: DataFrame, common_key: str, orientation: str = "inner"
    ) -> DataFrame:
        """Equi-join + the reference's baked-in side effect of casting
        a ``date`` string column to timestamp after the join
        (main.py:122-140). Key must exist on BOTH sides. Non-key
        columns present on both sides get pandas-merge suffixes
        (``_x``/``_y``) — a plain Spark join would leave them
        ambiguous and crash on first reference."""
        for side, df in (("df1", df1), ("df2", df2)):
            if common_key not in df.columns:
                raise KeyError(f"{common_key!r} missing from {side}")
        dup = [c for c in df1.columns if c in df2.columns and c != common_key]
        for c in dup:
            df1 = df1.withColumnRenamed(c, f"{c}_x")
            df2 = df2.withColumnRenamed(c, f"{c}_y")
        out = df1.join(df2, on=common_key, how=orientation)
        if "date" in out.columns and dict(out.dtypes)["date"] == "string":
            out = out.withColumn("date", F.to_timestamp("date", _TS_FORMAT_SPARK))
        return out

    @staticmethod
    def dataframe_groupby(
        p_df: DataFrame,
        groupby_col: str,
        transaction_col_name: str,
        aggregation_type: str,
        new_column_name: str,
    ) -> DataFrame:
        """Single-agg hash group-by with 2-dp money rounding and rename
        (main.py:142-174), sorted by group key to make pandas' implicit
        key-sort explicit.

        Sums aggregate on DECIMAL(18,2) (exact, order-independent
        under parallelism — a raw double sum would be partition-order
        dependent at the rounding boundary); money inputs are 2-dp by
        contract, so per-row decimal conversion is exact."""
        if not isinstance(p_df, DataFrame):
            raise TypeError("dataframe_groupby expects a Spark DataFrame")
        for c in (groupby_col, transaction_col_name):
            if c not in p_df.columns:
                raise KeyError(f"{c!r} not in dataframe columns")
        if aggregation_type not in _VALID_AGGS:
            raise ValueError(f"aggregation_type must be one of {sorted(_VALID_AGGS)}")
        if p_df.isEmpty():
            raise ValueError("empty dataframe")
        agg = (
            exact_sum(transaction_col_name)
            if aggregation_type == "sum"
            else F.count(transaction_col_name)
        )
        return (
            p_df.select(groupby_col, transaction_col_name)
            .groupBy(groupby_col)
            .agg(agg.alias(new_column_name))
            .orderBy(groupby_col)
        )


class SQLQuery:
    """The four feature builders (reference main.py:177-258)."""

    @staticmethod
    def feature2(f2_df: DataFrame, column_date_name: str, date_before) -> DataFrame:
        """Strictly-before-campaign sum (main.py:185-200)."""
        if column_date_name not in f2_df.columns:
            raise KeyError(f"{column_date_name!r} not in dataframe columns")
        filtered = f2_df.filter(F.col(column_date_name) < F.lit(date_before))
        return DataProcessor.dataframe_groupby(
            filtered, "hhid", "transaction_amount", "sum",
            "total_amount_before_campaign",
        )

    @staticmethod
    def feature3(
        f3_df: DataFrame, date_column_name: str, lower_date, upper_date
    ) -> DataFrame:
        """Inclusive-both-ends campaign-window sum (main.py:202-223);
        bounds must be datetimes (main.py:217-218)."""
        if date_column_name not in f3_df.columns:
            raise KeyError(f"{date_column_name!r} not in dataframe columns")
        for b in (lower_date, upper_date):
            if not isinstance(b, dt.datetime):
                raise TypeError("campaign bounds must be datetime values")
        filtered = f3_df.filter(
            F.col(date_column_name).between(F.lit(lower_date), F.lit(upper_date))
        )
        return DataProcessor.dataframe_groupby(
            filtered, "hhid", "transaction_amount", "sum",
            "total_amount_during_campaign",
        )

    @staticmethod
    def feature4(f4_df: DataFrame, groupby_column: str, new_col_name: str) -> DataFrame:
        """Non-null transaction count per group (main.py:225-243).
        Groups by the GIVEN column — the reference validated the
        argument then ignored it (main.py:235-240)."""
        return DataProcessor.dataframe_groupby(
            f4_df, groupby_column, "transaction_amount", "count", new_col_name
        )

    @staticmethod
    def feature1(df_list: list[DataFrame], key_common: str) -> DataFrame:
        """Left-deep fold of inner joins (main.py:245-258): the result
        keeps only keys present in EVERY input. ``ValueError`` on an
        empty list (main.py:254-255)."""
        if not df_list:
            raise ValueError("feature1 requires at least one dataframe")
        return reduce(lambda l, r: l.join(r, on=key_common, how="inner"), df_list)


class Loader:
    """CSV sink (reference main.py:261-281)."""

    @staticmethod
    def write_csv(output_df: DataFrame, output_filepath: str) -> bool:
        """Single-file CSV with header (main.py:265-281): ``ValueError``
        on an empty frame or a non-``.csv`` path; returns ``True``."""
        from dask_datapipeline_spark.sources.writers import write_csv as _write

        if not isinstance(output_df, DataFrame):
            raise TypeError("write_csv expects a Spark DataFrame")
        # the reference raises ValueError for a bad suffix; the empty
        # guard is the sink's EmptyInputError, a ValueError
        if not str(output_filepath).endswith(".csv"):
            raise ValueError(f"{output_filepath!r}: output must be .csv")
        _write(output_df, output_filepath, single_file=True)
        return True
