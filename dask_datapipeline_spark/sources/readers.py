"""Source scans (reference O1 generalized; SURVEY.md §2 / §2.1).

The reference reads CSV only, with scan-time projection via ``usecols``
and one dtype override (reference ``main.py:68-78``). Generalized here
to CSV/Parquet/JSON with:

- explicit ``StructType`` (no sampling pass, deterministic types);
- projection expressed with ``.select`` so Catalyst prunes columns all
  the way into the scan (``ReadSchema`` in the physical plan shows only
  the selected columns for Parquet);
- the reference's path-validation contract (``FileNotFoundError`` for a
  non-matching extension, main.py:74-77) kept at the wrapper level;
- CSV read in ``FAILFAST`` mode: a value that does not parse as its
  schema type fails the job, naming the file, instead of loading as a
  silent NULL (pandas' dtype check raised there too). Columns the
  schema keeps as strings, such as the reference's ``date``, are never
  malformed and are coerced later where the reference coerces them;
- CSV headers checked with a driver-side filesystem read of one line
  (``IndexFS.first_line``), not a Spark job.

Scale notes: Parquet scans get row-group predicate pushdown and column
pruning for free once the plan is declarative — this module never
materializes anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_datapipeline_spark.indexfs import IndexFS
from dask_datapipeline_spark.schemas import TESTDATA_SCHEMAS


def _check_path(path: str, suffix: str) -> None:
    """Reference contract: reject paths of the wrong format up front
    (reference main.py:74-77) instead of a late executor-side failure."""
    if not path.endswith(suffix):
        raise FileNotFoundError(f"expected a {suffix} path, got {path!r}")


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    columns: list[str] | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan with pinned schema + projection (reference O1).

    ``columns`` plays the role of the reference's ``usecols``
    (main.py:75): projection is applied immediately after the scan so
    downstream code never sees dropped columns. CSV is row-oriented so
    pruning saves parse work, not I/O — prefer ``scan_parquet`` at scale.

    Spark binds an explicit schema to CSV columns BY POSITION (header
    only skips the first line), so a file whose column order differs
    from the schema would silently load swapped values into same-typed
    columns. With ``header=True`` the actual header is checked against
    the schema's field names up front: the first line of the first file
    ``path`` resolves to (a file, a directory of part files or a glob),
    read from the filesystem without a Spark job.
    """
    _check_path(path, ".csv")
    if header:
        first = IndexFS.for_path(path, "scan_csv").first_line(path)
        if first is None:
            raise FileNotFoundError(f"no CSV data file at {path!r}")
        actual = [c.strip() for c in first.split(",")]
        expected = [f.name for f in schema.fields]
        if actual != expected:
            raise ValueError(
                f"CSV header {actual} does not match schema field order "
                f"{expected} — Spark binds CSV schemas positionally, so a "
                "mismatched order silently corrupts columns"
            )
    opts = {"header": str(header).lower(), "mode": "FAILFAST"}
    df = spark.read.schema(schema).options(**opts).csv(path)
    return df.select(*columns) if columns else df


def scan_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Parquet scan; schema optional (parquet footers carry exact types).

    Passing ``schema`` pins reader types (safe-cast enforced by Spark);
    ``columns`` projection reaches the scan as ``ReadSchema`` pruning.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    return df.select(*columns) if columns else df


def scan_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    columns: list[str] | None = None,
) -> DataFrame:
    """JSON-lines scan with pinned schema (no sampling inference pass)."""
    df = spark.read.schema(schema).json(path)
    return df.select(*columns) if columns else df


def scan_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Directory of raw media files → (path, modificationTime, length,
    content binary) via Spark's built-in ``binaryFile`` source — the
    ingestion edge of the multimodal pipeline (a 100 TB media corpus
    arrives as FILES on object storage, not as rows).

    ``glob`` filters by file name (``*.bmp``); ``max_bytes`` guards
    against a stray multi-GB object poisoning an executor (the source
    reads each file WHOLE into one row — for larger-than-memory media,
    carry (uri, byte_range) rows and fetch inside the decode UDF
    instead). Listing is driver-side like any file source; partition
    count follows ``spark.sql.files.maxPartitionBytes`` bin-packing of
    whole files."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    return df


def scan_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    columns: list[str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    driver: str | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC source scan (SURVEY.md §2.1 — the one absent source kind).

    Scale shape: without ``partition_column`` a JDBC read is ONE
    connection on one executor — fine for dimension tables, a
    bottleneck for facts. Passing ``partition_column`` (a numeric/
    date column) with bounds and ``num_partitions`` makes Spark open
    ``num_partitions`` parallel connections, each scanning one bound
    stripe (`WHERE pcol >= lo AND pcol < hi` pushed into the remote
    database). Projection (``columns``) and subsequent ``.filter``
    predicates are pushed into the generated SQL by the JDBC relation
    — verify with ``PushedFilters`` in the plan. The usual caveats
    apply at scale: stripes should align with the remote index, and
    bounds define stripe EDGES only (rows outside them still load,
    into the first/last stripe).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions — without all three Spark silently falls "
                "back to a single-connection scan"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    df = reader.load()
    return df.select(*columns) if columns else df


def load_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver testdata table with its pinned schema.

    Timestamp columns in the testdata are written as parquet
    timestamp[ns]/[ms]; we pass no schema here (footer types are exact)
    but validate the name is known, keeping call sites typo-safe.

    ``events.ts`` has been written by the driver as either parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects outright)
    or TIMESTAMP(MICROS), depending on generator version — so the unit
    is probed from the parquet footer (one driver-side metadata read,
    no data I/O). For NANOS we read the raw int64 (``nanosAsLong``) and
    truncate to microseconds with exact integer division (``DIV`` on
    longs — float division would lose precision at 1.7e18 ns epochs).
    DuckDB's TIMESTAMP is also microseconds, so both engines see
    identical values either way.

    In the NANOS path the ``nanosAsLong`` flag stays set for the
    session (restoring it after this call would break THIS lazy scan,
    since confs are read at execution time). Consequence: a later read
    of some OTHER nano-timestamp parquet in the same session gets a
    long column instead of the loud vectorized-reader error — if you
    add such a source, route it through a reader that handles the cast
    like this one does.
    """
    if table not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown testdata table {table!r}; known: {sorted(TESTDATA_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        from pyspark.sql import functions as F

        if _parquet_ts_unit(path, "ts") == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        # TIMESTAMP(MICROS) with isAdjustedToUTC=false loads as
        # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default.
        # Normalize to TimestampType (session tz is pinned to UTC, so
        # the cast is epoch-preserving) — downstream operators use
        # unix_micros()/window(), which require TIMESTAMP.
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return spark.read.parquet(path)


def _parquet_ts_unit(path: str, column: str) -> str | None:
    """Probe the physical timestamp unit of ``column`` from the parquet
    footer (pyarrow, driver-side, metadata only). Returns e.g. ``"ns"``
    or ``"us"``; ``None`` if the file/column can't be probed (callers
    then take the plain-read path and surface Spark's own error)."""
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = [p for p in sorted(os.listdir(path)) if p.endswith(".parquet")]
            if not parts:
                return None
            target = os.path.join(path, parts[0])
        field = pq.read_schema(target).field(column)
        return getattr(field.type, "unit", None)
    except Exception:
        return None


def scan_orc(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """ORC scan — same pushdown/pruning contract as ``scan_parquet``
    (ORC footers carry exact types; predicate pushdown and column
    pruning reach the scan the same way)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.orc(path)
    return df.select(*columns) if columns else df
