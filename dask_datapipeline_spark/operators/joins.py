"""Join operators (reference O4 binary inner join, O9 n-ary fold).

The reference supports exactly one join: pandas ``merge`` inner
equi-join (reference ``main.py:122-140``) plus a left-deep fold of
inner merges (``main.py:245-258``). Generalized to the full Spark join
surface with explicit physical strategy control.

Scale strategy (SURVEY.md §4):

- ``broadcast='auto'`` leaves the choice to Catalyst/AQE
  (autoBroadcastJoinThreshold + runtime size re-check). This is the
  right default: AQE converts sort-merge → broadcast at runtime when a
  post-filter side turns out small.
- ``broadcast='left'|'right'`` forces a broadcast-hash join — use when
  the caller *knows* a side is a dimension table (the reference's spec
  literally states transactions ≤100 MB vs ≥10 GB mapping tables —
  a textbook forced-broadcast case the reference cannot express).
- Skewed fact-fact joins rely on AQE skew-join splitting (enabled in
  session.py); for pathological keys use ``salt_join``.
- There is no join-order optimizer, as in the reference: ``fold_join``
  joins in caller order. Spark's CBO is off (session.py leaves it at
  Spark's default), so Catalyst keeps that order too.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import require_columns, require_dataframe

VALID_HOW = {
    "inner", "left", "right", "outer", "full", "left_semi", "semi",
    "left_anti", "anti", "cross",
}


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast: str = "auto",
) -> DataFrame:
    """Equi-join on shared key column(s).

    Fixes the reference's key-validation bug (main.py:131 checks the
    *union* of both column sets): the key must be present on BOTH sides
    (except cross joins, which take no key). ``broadcast`` is checked
    for every ``how``, cross joins included."""
    require_dataframe(left, "left")
    require_dataframe(right, "right")
    if how not in VALID_HOW:
        raise ValueError(f"how={how!r} not in {sorted(VALID_HOW)}")
    if broadcast == "left":
        left = F.broadcast(left)
    elif broadcast == "right":
        right = F.broadcast(right)
    elif broadcast != "auto":
        raise ValueError(f"broadcast={broadcast!r} not in ('auto','left','right')")
    if how == "cross":
        return left.crossJoin(right)
    keys = [on] if isinstance(on, str) else list(on)
    require_columns(left, keys, "left")
    require_columns(right, keys, "right")
    return left.join(right, on=keys, how=how)


def fold_join(
    dfs: Iterable[DataFrame],
    on: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Left-deep fold of equi-joins in caller order (reference O9,
    main.py:257).

    Keeps the reference's semantics exactly: with ``how='inner'`` the
    result keeps only keys present in EVERY input (README:29 "only
    those house ids which made transactions"). The fold fixes the
    join tree's shape and order; the physical strategy of each join is
    Catalyst's and AQE's (module docstring).

    Raises ValueError on an empty list (reference main.py:254-255).
    """
    df_list = list(dfs)
    if not df_list:
        raise ValueError("fold_join requires at least one dataframe")
    for d in df_list:
        require_dataframe(d)
    return reduce(lambda l, r: equi_join(l, r, on=on, how=how), df_list)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | Sequence[str],
    right_cols: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the LATEST right row with
    ``right.on <= left.on`` within the same ``by`` group (backward
    inclusive match — DuckDB/pandas ``ASOF JOIN`` semantics). Left rows
    with no prior right row keep nulls (left-outer).

    Spark has no native as-of join; the naive encodings are a range
    join (quadratic blowup per key) or a per-key ``applyInPandas``
    (Python in the hot path). This implementation is pure DataFrame
    ops: union the two sides tagged, then one window sort per key with
    ``last(ignorenulls=True)`` carrying the most recent right ROW
    forward — packed as a single struct so a NULL in one right column
    cannot be back-filled from an older row than its siblings (the
    matched row stays atomic, exactly like DuckDB ASOF). Cost = ONE
    shuffle on the ``by`` key + a per-partition sort — the same shape
    as a sort-merge join, no row multiplication, fully codegen'd. Skew
    follows the key distribution (same mitigation as any keyed
    shuffle: AQE skew split / salting).

    ``right`` must be unique per (by, on) — pre-aggregate duplicates
    (e.g. ``max_by``) to keep the matched row deterministic.
    ``tolerance_seconds`` nulls out matches older than the given age.
    """
    from pyspark.sql.window import Window

    keys = [by] if isinstance(by, str) else list(by)
    require_columns(left, [on, *keys], "left")
    require_columns(right, [on, *keys], "right")
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in {on, *keys}]
    elif isinstance(right_cols, str):
        right_cols = [right_cols]
    else:
        right_cols = list(right_cols)
    require_columns(right, right_cols, "right")
    # Spark resolves names case-insensitively by default, so the clash
    # check must too; the encoding's internal columns are reserved.
    reserved = {"__is_left", "__r"}
    left_fold = {c.casefold() for c in left.columns} | reserved
    clash = {c for c in right_cols if c.casefold() in left_fold or c in reserved}
    clash |= reserved & {c for c in left.columns}
    if clash:
        raise ValueError(
            f"columns {sorted(clash)} collide between the join sides (or with "
            "the reserved __is_left/__r internals) — rename before joining "
            "(the union-based as-of encoding cannot disambiguate them)"
        )

    # The matched right row travels as ONE struct: the struct itself is
    # non-null for every right row (even if all payload members are
    # null), so last(ignorenulls) picks the latest ROW atomically.
    r_struct = F.struct(
        F.col(on).alias("__match_ts"), *[F.col(c) for c in right_cols]
    )
    l_tagged = left.withColumn("__is_left", F.lit(1))
    r_tagged = right.select(
        *keys, F.col(on), r_struct.alias("__r")
    ).withColumn("__is_left", F.lit(0))
    u = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    # Right rows sort before left rows at equal timestamps → a right
    # row at exactly t matches a left row at t (inclusive backward).
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(on).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("__r", F.last("__r", ignorenulls=True).over(w))

    match = F.col("__r")
    if tolerance_seconds is not None:
        too_old = (
            F.col(on).cast("double") - match["__match_ts"].cast("double")
        ) > tolerance_seconds
        match = F.when(too_old, F.lit(None)).otherwise(match)
    out = u.filter(F.col("__is_left") == 1)
    return out.select(
        *[F.col(c) for c in left.columns],
        *[match[c].alias(c) for c in right_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
    bucket_seconds: float | None = None,
) -> DataFrame:
    """Interval (range) join: pairs of rows sharing the ``by`` key with
    ``right_ts − left_ts`` in the half-open window
    ``(lower_seconds, upper_seconds]`` — e.g. "events by the same user
    within the 2 hours AFTER this event" (reference has no range join;
    generalizes its single equi-join surface, reference ``main.py:122``).

    Spark plans a raw inequality join as BroadcastNestedLoopJoin —
    quadratic per key and O(N·M) at scale. This encoding turns it into
    an EQUI-join Catalyst can hash-partition: time is quantized into
    buckets of width ``bucket_seconds`` (default: the window span), the
    left side explodes to every bucket its window overlaps (≤ 2 buckets
    at the default width — a fixed small blowup, NOT data-dependent),
    the right side lands in exactly one bucket, and the exact interval
    predicate runs as a residual filter after the hash join. One
    shuffle keyed on (by, bucket); each (left, right) pair meets in
    exactly one bucket, so no distinct is needed. Same shape DuckDB/
    Flink use for interval joins; skew follows the key distribution.

    Column names of the two sides must be disjoint apart from ``by``
    (rename upstream). Buckets and the residual predicate both run on
    INTEGER microseconds (``unix_micros``) — no float rounding, so the
    window boundaries match an engine doing exact INTERVAL arithmetic
    (the DuckDB oracle) bit-for-bit.
    """
    if upper_seconds <= lower_seconds:
        raise ValueError(
            f"empty window: upper_seconds={upper_seconds} must exceed "
            f"lower_seconds={lower_seconds}"
        )
    keys = list(by)
    require_columns(left, [*keys, left_ts], "left")
    require_columns(right, [*keys, right_ts], "right")
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"columns {sorted(overlap)} appear on both sides — rename before "
            "joining (only the `by` keys may be shared)"
        )
    lo_us = round(lower_seconds * 1_000_000)
    hi_us = round(upper_seconds * 1_000_000)
    width_us = (
        round(bucket_seconds * 1_000_000) if bucket_seconds is not None else hi_us - lo_us
    )
    if width_us <= 0:
        raise ValueError(f"bucket_seconds must be a positive width, got {bucket_seconds}")

    def bucket_of(ts_col: str, offset_us: int) -> Column:
        # exact floorDiv on longs: subtract the (always-positive) pmod
        # first so the division is exact-integer — floor(long/long)
        # would round through double and can misbucket at boundaries;
        # `div` truncates toward zero (wrong for pre-1970 timestamps)
        a = F.unix_micros(F.col(ts_col)) + F.lit(offset_us)
        return ((a - F.pmod(a, F.lit(width_us))) / F.lit(width_us)).cast("long")

    l_b = left.withColumn(
        "__bucket",
        F.explode(F.sequence(bucket_of(left_ts, lo_us), bucket_of(left_ts, hi_us))),
    )
    r_b = right.withColumn("__bucket", bucket_of(right_ts, 0))
    diff_us = F.unix_micros(F.col(right_ts)) - F.unix_micros(F.col(left_ts))
    return (
        l_b.join(r_b, on=[*keys, "__bucket"], how="inner")
        .filter((diff_us > lo_us) & (diff_us <= hi_us))
        .drop("__bucket")
    )


def salt_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the skewed (left) side with a
    random bucket, explode the small (right) side across all buckets,
    join on (key, salt).

    Use only when AQE skew splitting isn't enough (e.g. one key is
    >50% of rows). Cost: right side replicated ``salt_buckets``×.
    """
    salted_left = left.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    exploded_right = right.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_left.join(exploded_right, on=[on, "__salt"], how=how)
    return out.drop("__salt")
