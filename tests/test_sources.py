"""Source/sink tests (reference O1/O10 contracts, test_main.py:17-95,
246-281)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_datapipeline_spark.errors import EmptyInputError
from dask_datapipeline_spark.sources.readers import load_testdata, scan_csv
from dask_datapipeline_spark.sources.writers import write_csv

NAME_CITY = T.StructType(
    [T.StructField("Name", T.StringType()), T.StructField("City", T.StringType())]
)


@pytest.fixture()
def csv_path(tmp_path):
    # reference test fixture (test_main.py:22-44)
    p = tmp_path / "test.csv"
    p.write_text("Name,City\nJack,CO\nAdam,WY\nLisa,NC\nSam,SC\nPam,TX\n")
    return str(p)


def test_scan_csv_projection(spark, csv_path):
    df = scan_csv(spark, csv_path, NAME_CITY, columns=["Name"])
    assert df.columns == ["Name"]
    assert df.count() == 5


def test_scan_csv_rejects_non_csv(spark):
    with pytest.raises(FileNotFoundError):
        scan_csv(spark, "/tmp/data.txt", NAME_CITY)


def test_write_csv_single_file_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("Falcon", 380.0), ("Falcon", 370.0), ("Parrot", 24.0), ("Parrot", 26.0)],
        ["Animal", "Max_Speed"],
    )
    out = str(tmp_path / "out.csv")
    assert write_csv(df, out, single_file=True) is True
    assert os.path.isfile(out)
    schema = T.StructType(
        [T.StructField("Animal", T.StringType()), T.StructField("Max_Speed", T.DoubleType())]
    )
    back = scan_csv(spark, out, schema)
    assert sorted((r.Animal, r.Max_Speed) for r in back.collect()) == [
        ("Falcon", 370.0),
        ("Falcon", 380.0),
        ("Parrot", 24.0),
        ("Parrot", 26.0),
    ]


def test_write_csv_rejects_empty(spark, tmp_path):
    df = spark.createDataFrame([], "a string")
    with pytest.raises(EmptyInputError):
        write_csv(df, str(tmp_path / "x.csv"), single_file=True)


def test_write_csv_rejects_bad_suffix(spark):
    df = spark.createDataFrame([("x",)], ["a"])
    with pytest.raises(FileNotFoundError):
        write_csv(df, "/tmp/out.parquet1")


def test_load_testdata_unknown_table(spark):
    with pytest.raises(KeyError):
        load_testdata(spark, "/root/testdata/sf0.001", "nope")


def test_load_testdata_events_ts_microseconds(spark, sf_dir):
    ev = load_testdata(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Writing both join sides bucketed on the key lets the equi-join
    run with ZERO Exchange operators — the co-located-join technique
    for repeated 100 TB joins (docs/SCALE.md)."""
    from dask_datapipeline_spark.sources.readers import load_testdata
    from dask_datapipeline_spark.sources.writers import write_parquet

    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    write_parquet(
        orders, str(tmp_path / "o"), bucket_by=(4, ["o_custkey"]), table_name="b_orders"
    )
    write_parquet(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        str(tmp_path / "c"),
        bucket_by=(4, ["o_custkey"]),
        table_name="b_customer",
    )
    try:
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == orders.count()  # every order has a customer
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_scan_csv_rejects_reordered_header(spark, tmp_path):
    """Spark binds CSV schemas positionally; a reordered header must be
    rejected, not silently loaded with swapped columns."""
    import pyspark.sql.types as T

    from dask_datapipeline_spark.sources.readers import scan_csv

    p = tmp_path / "r.csv"
    p.write_text("City,Name\nCO,Jack\n")
    schema = T.StructType(
        [T.StructField("Name", T.StringType()), T.StructField("City", T.StringType())]
    )
    with pytest.raises(ValueError, match="positionally"):
        scan_csv(spark, str(p), schema)


@pytest.mark.parametrize("form", ["directory", "glob", "uri"])
def test_scan_csv_checks_header_of_directory_input(spark, tmp_path, form):
    """A directory of part files, a glob and a ``file:`` URI (the Hadoop
    filesystem path) are header-checked like one file: the first
    visible part file's first line, skipping ``_SUCCESS`` and ``.crc``
    files."""

    def layout(name, header):
        d = tmp_path / name
        d.mkdir()
        (d / "_SUCCESS").write_text("")
        (d / ".part-00000.csv.crc").write_text("crc")
        (d / "part-00000.csv").write_text(f"{header}\nJack,CO\n")
        (d / "part-00001.csv").write_text(f"{header}\nAdam,WY\n")
        return {"directory": str(d), "glob": f"{d}/part-*.csv", "uri": f"file://{d}"}[form]

    assert scan_csv(spark, layout("ok.csv", "Name,City"), NAME_CITY).count() == 2
    with pytest.raises(ValueError, match="positionally"):
        scan_csv(spark, layout("swapped.csv", "City,Name"), NAME_CITY)


def test_write_csv_failed_replace_keeps_previous_output(spark, tmp_path, monkeypatch):
    """A failure between the part write and the replace leaves the
    previous output byte-for-byte and no staging directory."""
    out = tmp_path / "o.csv"
    write_csv(spark.createDataFrame([("old",)], "a string"), str(out), single_file=True)
    before = out.read_bytes()

    def crash(src, dst):
        raise OSError("crash before the replace")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="crash before the replace"):
        write_csv(spark.createDataFrame([("new",)], "a string"), str(out), single_file=True)
    assert out.read_bytes() == before
    assert not os.path.exists(f"{out}.spark-tmp")


def test_write_csv_empty_part_directory(spark, tmp_path):
    """An empty result written as a part-file directory is removed,
    except in append mode, where the directory holds earlier rows.
    ``ignore`` over an existing directory writes nothing and is no
    error, although the row count of a skipped write reads 0."""
    empty = spark.createDataFrame([], "a string")
    out = str(tmp_path / "d.csv")
    with pytest.raises(EmptyInputError):
        write_csv(empty, out)
    assert not os.path.exists(out)
    write_csv(spark.createDataFrame([("x",)], "a string"), out)
    with pytest.raises(EmptyInputError):
        write_csv(empty, out, mode="append")
    assert write_csv(spark.createDataFrame([("y",)], "a string"), out, mode="ignore")
    back = scan_csv(spark, out, T.StructType([T.StructField("a", T.StringType())]))
    assert [r.a for r in back.collect()] == ["x"]


def test_write_csv_single_file_replaces_existing_dir(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import write_csv

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    out = str(tmp_path / "o.csv")
    # prior non-single-file run left a DIRECTORY at the destination
    df.write.option("header", True).csv(out)
    write_csv(df, out, single_file=True)
    import os

    assert os.path.isfile(out)
    with open(out) as f:
        assert f.readline().strip() == "id,v"


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """partitionBy gives directory-level pruning: a filter on the
    partition column must reach the scan as a PartitionFilter (only
    that partition's files are read), not a post-scan Filter."""
    from dask_datapipeline_spark.sources.readers import load_testdata
    from dask_datapipeline_spark.sources.writers import write_parquet

    ev = load_testdata(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])

    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1].splitlines()[0]
    want = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == want and want > 0


def test_load_testdata_events_nanos_parquet(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (round 1)
    and TIMESTAMP(MICROS) (round 2). The reader probes the footer; pin
    the nanos branch with a synthetic nanos file so it can't rot."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "nanos_sf"
    d.mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_987_654_321]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, d / "events.parquet", coerce_timestamps=None)
    # copy another table so load_testdata's dir looks normal
    shutil.copy("/root/testdata/sf0.001/region.parquet", d / "region.parquet")

    from dask_datapipeline_spark.sources.readers import _parquet_ts_unit, load_testdata

    assert _parquet_ts_unit(str(d / "events.parquet"), "ts") == "ns"
    ev = load_testdata(spark, str(d), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in ev.collect())
    import datetime as dt

    # nanos truncate (not round) to microseconds, UTC session
    want = sorted(
        dt.datetime.fromtimestamp(n // 1000 / 1e6, dt.timezone.utc).replace(tzinfo=None)
        for n in ns
    )
    assert got == want


def test_scan_parquet_pinned_schema_unifies_evolved_files(spark, tmp_path):
    """Schema evolution contract: a directory whose older files lack a
    newer column reads cleanly under the pinned schema (missing column
    → NULLs), instead of depending on mergeSchema inference."""
    import shutil

    from dask_datapipeline_spark.sources.readers import scan_parquet

    d = tmp_path / "evolved"
    d.mkdir()

    def one_file(name, df):
        stage = tmp_path / ("s_" + name)
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), d / f"{name}.parquet")

    one_file("old", spark.createDataFrame([(1, "a")], "id long, v string"))
    one_file(
        "new",
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    got = {r.id: (r.v, r.score) for r in scan_parquet(spark, str(d), schema=schema).collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_compact_small_files(spark, tmp_path):
    """20 tiny files -> a handful of right-sized ones, same rows, and
    the in-place swap leaves a readable directory."""
    from dask_datapipeline_spark.sources.writers import compact_small_files

    src = str(tmp_path / "landing")
    for i in range(20):
        spark.createDataFrame([(i, f"v{i}")], "id long, v string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    import os

    n_in = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_in >= 20
    before = sorted((r.id, r.v) for r in spark.read.parquet(src).collect())

    n_out = compact_small_files(spark, src, target_file_bytes=10 * 1024 * 1024)
    assert n_out < n_in
    after = sorted((r.id, r.v) for r in spark.read.parquet(src).collect())
    assert after == before


def test_compact_small_files_empty_dir(spark, tmp_path):
    import pytest as _pytest

    from dask_datapipeline_spark.sources.writers import compact_small_files

    d = tmp_path / "empty"
    d.mkdir()
    with _pytest.raises(FileNotFoundError):
        compact_small_files(spark, str(d))


def test_scan_jdbc_roundtrip_partitioned(spark, tmp_path):
    """JDBC scan against an embedded Derby database (the in-container
    JDBC engine): round-trip, projection, filter pushdown into the
    JDBC relation, and the parallel partitioned read path."""
    from dask_datapipeline_spark.sources.readers import scan_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    src = spark.range(100).select(
        F.col("id").cast("long").alias("id"), (F.col("id") % 7).alias("k")
    )
    src.write.format("jdbc").option("url", url).option("dbtable", "T").save()

    out = scan_jdbc(spark, url, "T")
    assert out.count() == 100
    got = scan_jdbc(spark, url, "T", columns=["id"])
    assert got.columns == ["id"]

    part = scan_jdbc(
        spark, url, "T",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100
    total = sum(r.id for r in part.filter(F.col("k") == 3).collect())
    assert total == sum(i for i in range(100) if i % 7 == 3)
    plan = (
        part.filter(F.col("k") == 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "JDBCRelation" in plan

    with pytest.raises(ValueError, match="partition_column requires"):
        scan_jdbc(spark, url, "T", partition_column="id")


def test_scan_binary_files_glob_and_size_guard(spark, tmp_path):
    from dask_datapipeline_spark.sources.readers import scan_binary_files

    (tmp_path / "a.bmp").write_bytes(b"x" * 10)
    (tmp_path / "b.bmp").write_bytes(b"y" * 1000)
    (tmp_path / "c.txt").write_bytes(b"z" * 10)
    all_bmp = scan_binary_files(spark, str(tmp_path), glob="*.bmp")
    assert all_bmp.count() == 2
    small = scan_binary_files(spark, str(tmp_path), glob="*.bmp", max_bytes=100)
    rows = small.collect()
    assert len(rows) == 1 and rows[0].path.endswith("a.bmp")
    assert bytes(rows[0].content) == b"x" * 10
