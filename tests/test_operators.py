"""Operator unit tests, porting the reference's fixtures and expected
values (reference test_main.py; FIXTURES.md §B) with real assertions —
the reference's assertTrue(a, b) bugs (test_main.py:198,213,230) are
deliberately not replicated (SURVEY.md §7.4 item 9)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.functions.numeric import bround2
from dask_datapipeline_spark.functions.timestamps import cast_timestamp, parse_timestamp_literal
from dask_datapipeline_spark.operators.aggregates import AggSpec, group_agg
from dask_datapipeline_spark.operators.filters import filter_before, filter_between
from dask_datapipeline_spark.operators.joins import equi_join, fold_join


@pytest.fixture(scope="module")
def df1(spark):
    # reference test_main.py:113-115
    return spark.createDataFrame(
        [(1, 5, 10), (5, 8, 4), (7, 4, 9), (8, 3, 3)], ["A", "B", "C"]
    )


@pytest.fixture(scope="module")
def df2(spark):
    # reference test_main.py:118-121
    rows = [
        (5, "2021-08-31 21:15:17", 15),
        (3, "2021-09-05 06:44:27", 18),
        (1, "2021-12-05 06:24:27", 14),
        (1, "2021-10-05 06:27:17", 13),
    ]
    return spark.createDataFrame(rows, ["A", "date", "transaction_amount"])


@pytest.fixture(scope="module")
def test_df(spark):
    # reference test_main.py:188-191
    rows = [
        (5, "2021-08-31 21:15:17", 15),
        (3, "2021-09-07 06:44:27", 18),
        (1, "2021-12-08 06:24:27", 14),
        (1, "2021-10-05 06:27:17", 13),
    ]
    df = spark.createDataFrame(rows, ["hhid", "date", "transaction_amount"])
    return cast_timestamp(df, "date")


# ----- O3: timestamp parsing ----------------------------------------


def test_parse_timestamp_literal_ok():
    assert parse_timestamp_literal("2021-09-06 00:00:00") == dt.datetime(2021, 9, 6)


def test_parse_timestamp_literal_malformed():
    with pytest.raises(ValueError):
        parse_timestamp_literal("06-09-2021")


def test_parse_timestamp_literal_type():
    with pytest.raises(TypeError):
        parse_timestamp_literal(20210906)  # type: ignore[arg-type]


def test_cast_timestamp_coerce(spark):
    df = spark.createDataFrame([("2021-09-06 00:00:00",), ("garbage",)], ["date"])
    out = cast_timestamp(df, "date").collect()
    assert out[0].date == dt.datetime(2021, 9, 6)
    assert out[1].date is None  # pandas errors='coerce' parity


# ----- O4: equi-join -------------------------------------------------


def test_join_duplicate_key_multiplication(df1, df2):
    # reference test_main.py:149-153: inner merge on A → keys [1,1,5]
    out = equi_join(df1, df2, on="A").select("A").collect()
    assert sorted(r.A for r in out) == [1, 1, 5]


def test_join_missing_key_either_side(df1, df2):
    # fixed reference bug (main.py:131 |-union check): key must be on BOTH sides
    with pytest.raises(KeyError):
        equi_join(df1.withColumnRenamed("A", "Z"), df2, on="A")
    with pytest.raises(KeyError):
        equi_join(df1, df2.withColumnRenamed("A", "Z"), on="A")


def test_join_invalid_how(df1, df2):
    with pytest.raises(ValueError):
        equi_join(df1, df2, on="A", how="sideways")


def test_join_invalid_broadcast_on_cross(df1, df2):
    # a bad side is rejected for every how, cross joins included
    with pytest.raises(ValueError, match="broadcast"):
        equi_join(df1, df2, on="A", how="cross", broadcast="sideways")
    assert equi_join(df1, df2, on="A", how="cross", broadcast="right").count() == 16


def test_joins_reject_removed_planner_keywords(df1, df2):
    # one plan per join: equi_join and fold_join take no planner options
    for kw in ({"stats": None}, {"broadcast_rows": 10}):
        with pytest.raises(TypeError):
            equi_join(df1, df2, on="A", **kw)
    for kw in (
        {"order": "stats"},
        {"stats": None},
        {"broadcast_rows": 10},
        {"catalog": {}},
        {"tables": ["a", "b"]},
    ):
        with pytest.raises(TypeError):
            fold_join([df1, df2], on="A", **kw)


# ----- O5/O8: group-by aggregation ----------------------------------


def test_groupby_sum(df2):
    # reference test_main.py:165-172: sums [27,18,15] over keys [1,3,5]
    out = group_agg(df2, "A", AggSpec("transaction_amount", "sum", "total", round_scale=2))
    got = {r.A: r.total for r in out.collect()}
    assert got == {1: 27, 3: 18, 5: 15}


def test_groupby_count_nonnull(df2):
    # reference test_main.py:174-181: counts [2,1,1]
    out = group_agg(df2, "A", AggSpec("transaction_amount", "count", "n"))
    got = {r.A: r.n for r in out.collect()}
    assert got == {1: 2, 3: 1, 5: 1}


def test_count_is_nonnull_not_star(spark):
    df = spark.createDataFrame([(1, 1.0), (1, None), (2, None)], ["k", "v"])
    out = group_agg(df, "k", AggSpec("v", "count", "n"))
    got = {r.k: r.n for r in out.collect()}
    assert got == {1: 1, 2: 0}  # F.count(col) skips nulls, unlike COUNT(*)


def test_groupby_missing_key(df2):
    with pytest.raises(KeyError):
        group_agg(df2, "missing", AggSpec("transaction_amount", "sum", "s"))


def test_multi_agg_one_pass(df2):
    out = group_agg(
        df2,
        "A",
        [
            AggSpec("transaction_amount", "sum", "s"),
            AggSpec("transaction_amount", "count", "n"),
            AggSpec("transaction_amount", "max", "mx"),
        ],
    ).collect()
    row = {r.A: r for r in out}[1]
    assert (row.s, row.n, row.mx) == (27, 2, 14)


# ----- O6/O7: time filters (feature2/feature3 semantics) -------------


def test_filter_before_strict(test_df):
    # reference feature2: strictly < 2021-09-06 → only hhid 5 (15)
    out = group_agg(
        filter_before(test_df, "date", "2021-09-06 00:00:00"),
        "hhid",
        AggSpec("transaction_amount", "sum", "total_amount_before_campaign", round_scale=2),
    ).collect()
    assert {r.hhid: r.total_amount_before_campaign for r in out} == {5: 15}


def test_filter_between_inclusive(test_df):
    # reference feature3 bounds inclusive both ends → rows of hhid 5,3,1(13)
    out = group_agg(
        filter_between(test_df, "date", "2021-07-06 00:00:00", "2021-10-05 06:27:17"),
        "hhid",
        AggSpec("transaction_amount", "sum", "t", round_scale=2),
    ).collect()
    assert {r.hhid: r.t for r in out} == {5: 15, 3: 18, 1: 13}


def test_between_boundary_pinning(spark):
    # exactly-at-start and exactly-at-end rows are IN; before-start is OUT
    rows = [("2021-09-05 23:59:59",), ("2021-09-06 00:00:00",), ("2021-09-13 23:59:59",)]
    df = cast_timestamp(spark.createDataFrame(rows, ["date"]), "date")
    n = filter_between(df, "date", "2021-09-06 00:00:00", "2021-09-13 23:59:59").count()
    assert n == 2


# ----- O9: fold join -------------------------------------------------


def test_fold_join_self_multiplicity(test_df):
    # reference test_main.py:236-239: self-join on hhid → keys [1,1,1,1,3,5]
    out = fold_join([test_df, test_df], on="hhid").select("hhid").collect()
    assert sorted(r.hhid for r in out) == [1, 1, 1, 1, 3, 5]


def test_fold_join_empty_list():
    with pytest.raises(ValueError):
        fold_join([], on="hhid")


def test_fold_join_inner_drops(spark, df1, df2):
    # inner fold keeps only keys present in every input
    out = fold_join([df1.select("A"), df2.select("A")], on="A").select("A").distinct().collect()
    assert sorted(r.A for r in out) == [1, 5]


# ----- O12: rounding parity -----------------------------------------


def test_bround_half_even(spark):
    df = spark.createDataFrame([(0.125,), (0.135,)], ["x"])
    out = df.select(bround2("x").alias("r")).collect()
    # banker's rounding: 0.125→0.12, 0.135→0.14 (pandas/NumPy parity)
    assert [r.r for r in out] == [0.12, 0.14]


def test_asof_join_semantics(spark):
    from dask_datapipeline_spark.operators.joins import asof_join

    def ts(s):
        return dt.datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [
            (1, "u1", ts("2024-01-01 10:00:00")),  # after r@09:00 -> 100
            (2, "u1", ts("2024-01-01 12:00:00")),  # exactly r@12:00 -> 200 (inclusive)
            (3, "u1", ts("2024-01-01 08:00:00")),  # before any right -> null
            (4, "u2", ts("2024-01-01 10:00:00")),  # other key, no right rows -> null
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", ts("2024-01-01 09:00:00"), 100.0),
            ("u1", ts("2024-01-01 12:00:00"), 200.0),
        ],
        "user_id string, ts timestamp, price double",
    )
    got = {
        r.event_id: r.price
        for r in asof_join(left, right, on="ts", by="user_id").collect()
    }
    assert got == {1: 100.0, 2: 200.0, 3: None, 4: None}

    # tolerance: the 10:00 event is 3600s after 09:00 — a 1800s window drops it
    got_tol = {
        r.event_id: r.price
        for r in asof_join(
            left, right, on="ts", by="user_id", tolerance_seconds=1800
        ).collect()
    }
    assert got_tol == {1: None, 2: 200.0, 3: None, 4: None}


def test_asof_join_rejects_column_clash(spark):
    from dask_datapipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, "u", 1.0)], "id long, k string, price double")
    right = spark.createDataFrame([("u", 2.0)], "k string, price double")
    left = left.withColumn("ts", F.current_timestamp())
    right = right.withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="price"):
        asof_join(left, right, on="ts", by="k")


def test_asof_join_guard_edge_cases(spark):
    from dask_datapipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, "u", 1.0)], "id long, k string, Price double")
    right = spark.createDataFrame([("u", 2.0)], "k string, price double")
    left = left.withColumn("ts", F.current_timestamp())
    right = right.withColumn("ts", F.current_timestamp())
    # differently-cased clash (Spark resolution is case-insensitive)
    with pytest.raises(ValueError, match="price"):
        asof_join(left, right, on="ts", by="k")
    # explicit right_cols naming a column the right does not have
    with pytest.raises(KeyError):
        asof_join(left.drop("Price"), right, on="ts", by="k", right_cols=["missing"])
    # reserved internal name on the left
    with pytest.raises(ValueError, match="__is_left"):
        asof_join(
            left.drop("Price").withColumn("__is_left", F.lit(9)),
            right, on="ts", by="k",
        )
    # bare-string right_cols is normalized, not iterated as characters
    got = asof_join(left.drop("Price"), right, on="ts", by="k", right_cols="price")
    assert "price" in got.columns


def test_asof_join_atomic_match_with_null_values(spark):
    """A NULL in one right column must NOT be back-filled from an older
    right row — the matched row travels atomically (DuckDB ASOF
    semantics)."""
    import datetime as dtm

    from dask_datapipeline_spark.operators.joins import asof_join

    def ts(h):
        return dtm.datetime(2024, 1, 1, h)

    left = spark.createDataFrame([(1, "u", ts(13))], "event_id long, k string, ts timestamp")
    right = spark.createDataFrame(
        [("u", ts(10), 3.0, 100), ("u", ts(12), None, 200)],
        "k string, ts timestamp, price double, qty long",
    )
    row = asof_join(left, right, on="ts", by="k").collect()[0]
    assert row.qty == 200 and row.price is None  # t12's row, NOT t10's price


def test_range_join_semantics(spark):
    """Half-open window (lower, upper]: strict lower bound, inclusive
    upper bound, same-key only — checked against a hand-computed
    brute-force answer, including both boundary offsets."""
    import datetime as dtm

    from dask_datapipeline_spark.operators.joins import range_join

    base = dtm.datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return base + dtm.timedelta(seconds=sec)

    anchors = spark.createDataFrame(
        [("u", 1, ts(0)), ("u", 2, ts(5000)), ("v", 3, ts(0))],
        "k string, a_id long, a_ts timestamp",
    )
    others = spark.createDataFrame(
        [
            ("u", 10, ts(0)),      # diff 0 from a1 → excluded (strict >)
            ("u", 11, ts(3600)),   # in (0, 7200] of a1
            ("u", 12, ts(7200)),   # exactly upper of a1 → included (also in a2's window)
            ("u", 13, ts(7201)),   # past upper of a1; in window of a2
            ("w", 14, ts(100)),    # wrong key
        ],
        "k string, b_id long, b_ts timestamp",
    )
    got = range_join(
        anchors, others, by=["k"], left_ts="a_ts", right_ts="b_ts",
        lower_seconds=0, upper_seconds=7200,
    )
    pairs = sorted((r.a_id, r.b_id) for r in got.collect())
    assert pairs == [(1, 11), (1, 12), (2, 12), (2, 13)]


def test_range_join_bucket_width_invariance(spark):
    """The bucket width is a physical knob — any positive width must
    give the identical logical answer."""
    import datetime as dtm

    from dask_datapipeline_spark.operators.joins import range_join

    base = dtm.datetime(2024, 1, 1)
    rows = [("k", i, base + dtm.timedelta(seconds=37 * i)) for i in range(40)]
    a = spark.createDataFrame(rows, "k string, a_id long, a_ts timestamp")
    b = spark.createDataFrame(
        [(k, i + 100, t) for k, i, t in rows], "k string, b_id long, b_ts timestamp"
    )

    def run(**kw):
        got = range_join(
            a, b, by=["k"], left_ts="a_ts", right_ts="b_ts",
            lower_seconds=0, upper_seconds=100, **kw,
        )
        return sorted((r.a_id, r.b_id) for r in got.collect())

    expect = run()
    assert run(bucket_seconds=1) == expect
    assert run(bucket_seconds=33.5) == expect
    assert run(bucket_seconds=10000) == expect
    assert len(expect) > 0


def test_range_join_guards(spark):
    import datetime as dtm

    from dask_datapipeline_spark.operators.joins import range_join

    df = spark.createDataFrame(
        [("k", 1, dtm.datetime(2024, 1, 1))], "k string, x long, ts timestamp"
    )
    other = spark.createDataFrame(
        [("k", 2, dtm.datetime(2024, 1, 1))], "k string, y long, ts2 timestamp"
    )
    with pytest.raises(ValueError, match="empty window"):
        range_join(df, other, by=["k"], left_ts="ts", right_ts="ts2",
                   lower_seconds=10, upper_seconds=10)
    with pytest.raises(ValueError, match="bucket_seconds"):
        range_join(df, other, by=["k"], left_ts="ts", right_ts="ts2",
                   lower_seconds=0, upper_seconds=10, bucket_seconds=0)
    # overlapping non-key column names must be rejected, not silently aliased
    clash = spark.createDataFrame(
        [("k", 5, dtm.datetime(2024, 1, 1))], "k string, x long, ts2 timestamp"
    )
    with pytest.raises(ValueError, match="both sides"):
        range_join(df, clash, by=["k"], left_ts="ts", right_ts="ts2",
                   lower_seconds=0, upper_seconds=10)


def test_range_join_negative_window_before_epoch(spark):
    """A look-BACK window (negative bounds) and pre-1970 timestamps:
    the floorDiv bucketing must stay consistent across the epoch."""
    import datetime as dtm

    from dask_datapipeline_spark.operators.joins import range_join

    base = dtm.datetime(1969, 12, 31, 23, 59, 30)  # straddles epoch
    a = spark.createDataFrame(
        [("k", 1, base + dtm.timedelta(seconds=60))], "k string, a_id long, a_ts timestamp"
    )
    b = spark.createDataFrame(
        [("k", 10, base), ("k", 11, base + dtm.timedelta(seconds=55))],
        "k string, b_id long, b_ts timestamp",
    )
    got = range_join(
        a, b, by=["k"], left_ts="a_ts", right_ts="b_ts",
        lower_seconds=-10, upper_seconds=-1,
    )
    assert [(r.a_id, r.b_id) for r in got.collect()] == [(1, 11)]


def test_salt_join_matches_plain_join(spark):
    """Salting is physical only: row multiset must equal the plain
    inner join, including duplicate keys on both sides."""
    from dask_datapipeline_spark.operators.joins import salt_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, l string"
    )
    right = spark.createDataFrame(
        [(1, "X"), (1, "Y"), (2, "Z")], "k long, r string"
    )
    got = sorted((r.k, r.l, r.r) for r in salt_join(left, right, on="k").collect())
    expect = sorted((r.k, r.l, r.r) for r in left.join(right, on="k").collect())
    assert got == expect and len(expect) == 5


def test_tagged_rollup_cube_matches_two_pass(spark):
    """The single-cube-pass derivation must equal independent rollup
    and cube aggregations (grouping_id filter recovers exactly the
    rollup sets)."""
    from dask_datapipeline_spark.operators.aggregates import (
        grouping_sets_agg,
        tagged_rollup_cube,
    )

    df = spark.createDataFrame(
        [("r1", "n1", 1), ("r1", "n1", 2), ("r1", "n2", 4), ("r2", "n3", 8)],
        "r string, n string, v long",
    )
    aggs = [AggSpec("v", "sum", "sv"), AggSpec("*", "count_star", "cnt")]
    got = tagged_rollup_cube(df, ["r", "n"], aggs)
    rows = {(r.gmode, r.r, r.n, r.sv, r.cnt) for r in got.collect()}
    want = set()
    for mode in ("rollup", "cube"):
        for r in grouping_sets_agg(df, mode, ["r", "n"], aggs).collect():
            want.add((mode, r.r, r.n, r.sv, r.cnt))
    assert rows == want
    # cube has exactly one extra grouping set: the n-only slice
    assert len([t for t in rows if t[0] == "cube"]) == \
        len([t for t in rows if t[0] == "rollup"]) + 3


def test_tagged_rollup_cube_three_columns(spark):
    """gid derivation must generalize past two columns: rollup keeps
    exactly the prefix sets {2^k - 1}."""
    from dask_datapipeline_spark.operators.aggregates import (
        grouping_sets_agg,
        tagged_rollup_cube,
    )

    df = spark.createDataFrame(
        [("a", "x", "p", 1), ("a", "x", "q", 2), ("a", "y", "p", 4), ("b", "x", "q", 8)],
        "c1 string, c2 string, c3 string, v long",
    )
    aggs = [AggSpec("v", "sum", "sv")]
    got = {
        (r.gmode, r.c1, r.c2, r.c3, r.sv)
        for r in tagged_rollup_cube(df, ["c1", "c2", "c3"], aggs).collect()
    }
    want = set()
    for mode in ("rollup", "cube"):
        for r in grouping_sets_agg(df, mode, ["c1", "c2", "c3"], aggs).collect():
            want.add((mode, r.c1, r.c2, r.c3, r.sv))
    assert got == want
