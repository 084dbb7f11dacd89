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
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import require_columns, require_dataframe

VALID_HOW = {
    "inner", "left", "right", "outer", "full", "left_semi", "semi",
    "left_anti", "anti", "cross",
}


#: which side(s) a broadcast-hash join may build on, per join type —
#: Spark cannot broadcast the row-preserving side (a broadcast hint on
#: it is silently ignored and the join stays SMJ), so the stats picker
#: must not waste the hint there
_BROADCASTABLE: dict[str, tuple[str, ...]] = {
    "inner": ("left", "right"),
    "left": ("right",),
    "semi": ("right",),
    "left_semi": ("right",),
    "anti": ("right",),
    "left_anti": ("right",),
    "right": ("left",),
    "outer": (),
    "full": (),
}


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast: str = "auto",
    stats: tuple[dict, dict] | None = None,
    broadcast_rows: int | None = None,
) -> DataFrame:
    """Equi-join on shared key column(s).

    Fixes the reference's key-validation bug (main.py:131 checks the
    *union* of both column sets): the key must be present on BOTH sides
    (except cross joins, which take no key).

    ``stats=(left_stats, right_stats)`` + ``broadcast_rows`` is the
    single-join version of ``fold_join``'s stats-driven broadcast
    pricing: each stats row is a ``table_stats(df, [key])`` dict
    (``n_rows``/``n_null``), and a side whose surviving key rows
    (``n_rows - n_null``) fit under the threshold gets an explicit
    ``broadcast()`` hint — smaller side first when both fit, and only
    on sides the join type can actually build on (the row-preserving
    side of an outer join is never hinted). Why not leave it to AQE:
    the scaling battery measured AQE flipping broadcast→SMJ mid-curve
    as inputs grow past the byte threshold, and Catalyst's static
    size estimate misses post-filter sizes entirely — priced stats
    pin the strategy deliberately (CLAUDE.md: measured 3×BHJ at x10
    flipping to 3×SMJ at x100 on the same query)."""
    require_dataframe(left, "left")
    require_dataframe(right, "right")
    if how not in VALID_HOW:
        raise ValueError(f"how={how!r} not in {sorted(VALID_HOW)}")
    if how == "cross":
        return left.crossJoin(right)
    keys = [on] if isinstance(on, str) else list(on)
    require_columns(left, keys, "left")
    require_columns(right, keys, "right")
    if (stats is None) != (broadcast_rows is None):
        raise ValueError("stats and broadcast_rows must be passed together")
    if stats is not None:
        if broadcast != "auto":
            raise ValueError(
                "stats-driven pricing and an explicit broadcast side are "
                "mutually exclusive — pass one or the other"
            )
        if len(stats) != 2:
            raise ValueError(f"stats must hold (left, right) rows, got {len(stats)}")

        def surviving(st: dict) -> float:
            return float(st["n_rows"]) - float(st["n_null"])

        fits = [
            side
            for side, st in zip(("left", "right"), stats)
            if surviving(st) <= broadcast_rows
            and side in _BROADCASTABLE.get(how, ())
        ]
        if fits:
            sizes = {"left": surviving(stats[0]), "right": surviving(stats[1])}
            broadcast = min(fits, key=lambda s: (sizes[s], s))
    if broadcast == "left":
        left = F.broadcast(left)
    elif broadcast == "right":
        right = F.broadcast(right)
    elif broadcast != "auto":
        raise ValueError(f"broadcast={broadcast!r} not in ('auto','left','right')")
    return left.join(right, on=keys, how=how)


def plan_join_order(stats: Sequence[dict]) -> list[int]:
    """System-R greedy left-deep join order over one shared equi-key:
    indices into ``stats`` (one ``table_stats`` row per input — dicts
    with ``n_rows``/``n_null``/``ndv_est`` for the join key), ordered
    so each step joins in the input minimizing the estimated result
    cardinality (``operators/stats.py::estimate_equi_join_rows``,
    the containment-of-value-sets estimate). This is the consumer the
    ANALYZE pass exists for: the reference hard-codes its fold order
    (reference ``main.py:257`` folds in caller order via ``reduce``);
    here statistics pick it.

    Composite stats after a join follow the same assumption: rows =
    the estimate, key ndv = min of the sides' ndv (an inner join on
    the key cannot widen its value set), nulls = 0 (inner equi-keys
    drop nulls). Deterministic: ties break on input index, so equal
    stats reproduce caller order. Driver-side arithmetic over k
    bounded rows — never a Spark job."""
    from dask_datapipeline_spark.operators.stats import estimate_equi_join_rows

    n = len(stats)
    if n <= 2:
        return list(range(n))

    def merged(a: dict, b: dict) -> dict:
        return {
            "n_rows": estimate_equi_join_rows(a, b),
            "n_null": 0,
            "ndv_est": min(float(a["ndv_est"]), float(b["ndv_est"])),
        }

    first = min(
        ((i, j) for i in range(n) for j in range(i + 1, n)),
        key=lambda p: (estimate_equi_join_rows(stats[p[0]], stats[p[1]]), p),
    )
    order = list(first)
    cur = merged(stats[first[0]], stats[first[1]])
    remaining = [k for k in range(n) if k not in order]
    while remaining:
        nxt = min(
            remaining, key=lambda k: (estimate_equi_join_rows(cur, stats[k]), k)
        )
        order.append(nxt)
        cur = merged(cur, stats[nxt])
        remaining.remove(nxt)
    return order


def _auto_stats(
    catalog: dict | None,
    tables: Sequence[str] | None,
    key: str,
    n_inputs: int | None,
) -> tuple[list[str], list[dict]]:
    """Resolve ``stats='auto'`` against a loaded snapshot catalog
    (``operators/stats.py::stats_catalog``) — shared by ``fold_join``
    and ``explain_cost`` so the resolution and its loud-failure
    contract cannot drift. A missing tag or key raises (a silent
    fallback to re-ANALYZE would hide exactly the misconfiguration
    this exists to catch)."""
    if catalog is None or tables is None:
        raise ValueError(
            "stats='auto' needs catalog= (a stats_catalog "
            "mapping) and tables= (one table tag per input)"
        )
    tables = list(tables)
    if n_inputs is not None and len(tables) != n_inputs:
        raise ValueError(
            f"tables has {len(tables)} tags for {n_inputs} inputs"
        )
    missing = [t for t in tables if t not in catalog or key not in catalog[t]]
    if missing:
        raise KeyError(
            f"stats catalog has no {key!r} stats for "
            f"{missing}; tables present: {sorted(catalog)}"
        )
    return tables, [catalog[t][key] for t in tables]


def explain_cost(
    spark,
    stats: Sequence[dict] | str,
    broadcast_rows: int | None = None,
    labels: Sequence[str] | None = None,
    predicates: Sequence[dict | None] | None = None,
    catalog: dict | None = None,
    tables: Sequence[str] | None = None,
    key: str | None = None,
) -> DataFrame:
    """The "why this plan" readout for a stats-ordered fold — the
    operator a user reaches for FIRST when a fold misbehaves at scale:
    one row per input in the CHOSEN left-deep order with the estimated
    cardinalities, the histogram-priced predicate selectivities, and
    the broadcast decisions the planner acted on.

    Columns: ``step`` (position in the chosen order), ``input_idx``
    (caller index), ``label``, ``selectivity`` (the priced fraction of
    this input a range predicate keeps; 1.0 without one),
    ``est_rows`` (surviving key rows AFTER the predicate pricing:
    ``n_rows - n_null`` of the effective stats), ``est_ndv``,
    ``est_out_rows`` (estimated cardinality of the left-deep tree
    AFTER this input joins; step 0 = its own surviving rows),
    ``broadcast`` (the ``fold_join(broadcast_rows=)`` decision for
    this input), and a human ``reason``.

    ``predicates`` (round 13; VERDICT r12 item 4): optional per-input
    range-predicate specs, same length as ``stats`` — ``None`` for an
    unfiltered input, else ``{"hist": <equi_depth_bounds rows as
    dicts>, "lo": float|None, "hi": float|None}``. Each spec is priced
    with the SAME ``estimate_range_rows`` / ``apply_selectivity``
    pipeline the planner fixtures use (``join_order_histogram``), so
    the caller no longer pre-applies ``apply_selectivity`` by hand and
    the readout shows the histogram step explicitly. The effective
    (priced) stats feed :func:`plan_join_order` — the report still
    prints EXACTLY the tree ``fold_join(order='stats',
    stats=<priced>, broadcast_rows=b)`` executes.

    The leading input is the build base of the left-deep tree and is
    therefore EXEMPT from the broadcast decision by construction (the
    fold never hints it, whatever its size) — its ``reason`` says so
    rather than implying it failed the threshold. Driver-side
    arithmetic over k bounded rows turned into a k-row DataFrame —
    never a Spark job over the inputs."""
    from dask_datapipeline_spark.operators.stats import (
        apply_selectivity,
        estimate_equi_join_rows,
        estimate_range_rows,
    )

    if stats == "auto":
        # round 14: the same snapshot-catalog resolution fold_join
        # runs — the readout prices/orders EXACTLY the rows the fold
        # would execute with; labels default to the table tags
        if key is None:
            raise ValueError("stats='auto' needs key= (the join key)")
        tags, stats = _auto_stats(catalog, tables, key, None)
        if labels is None:
            labels = tags
    elif isinstance(stats, str):
        raise ValueError(f"stats={stats!r} — pass rows or 'auto'")
    stats = list(stats)
    if labels is not None and len(labels) != len(stats):
        raise ValueError(
            f"labels has {len(labels)} entries for {len(stats)} stats rows"
        )
    if predicates is not None and len(predicates) != len(stats):
        raise ValueError(
            f"predicates has {len(predicates)} entries for "
            f"{len(stats)} stats rows"
        )

    def name(i: int) -> str:
        return labels[i] if labels is not None else f"input_{i}"

    def surviving(st: dict) -> float:
        return float(st["n_rows"]) - float(st["n_null"])

    # price the predicates FIRST — the priced stats are what the
    # planner orders and thresholds (the join_order_histogram recipe)
    sels = [1.0] * len(stats)
    priced = []
    for i, st in enumerate(stats):
        spec = predicates[i] if predicates is not None else None
        if spec is None:
            priced.append(st)
            continue
        hist = [dict(b) for b in spec["hist"]]
        n_vals = sum(float(b["n_rows"]) for b in hist)
        kept = estimate_range_rows(hist, spec.get("lo"), spec.get("hi"))
        sels[i] = kept / n_vals if n_vals > 0 else 0.0
        priced.append(apply_selectivity(st, sels[i]))

    order = plan_join_order(priced)
    rows = []
    cur: dict | None = None
    for step, idx in enumerate(order):
        st = priced[idx]
        sel_note = (
            ""
            if predicates is None or predicates[idx] is None
            else f" [predicate keeps {sels[idx]:.4f} of rows]"
        )
        if step == 0:
            out = surviving(st)
            reason = (
                "leading input of the smallest estimated first pair "
                "(build base — exempt from the broadcast decision by "
                "construction)" + sel_note
            )
            bc = False  # the leading side is the build base, never hinted
        else:
            out = estimate_equi_join_rows(cur, st)
            reason = (
                "smallest estimated intermediate among remaining inputs"
                + sel_note
            )
            bc = broadcast_rows is not None and surviving(st) <= broadcast_rows
            if broadcast_rows is not None:
                reason += (
                    f"; broadcast ({surviving(st):.0f} <= {broadcast_rows})"
                    if bc
                    else f"; shuffle ({surviving(st):.0f} > {broadcast_rows})"
                )
        # the same composite-stats assumption plan_join_order uses
        cur = (
            dict(st)
            if cur is None
            else {
                "n_rows": out,
                "n_null": 0,
                "ndv_est": min(float(cur["ndv_est"]), float(st["ndv_est"])),
            }
        )
        rows.append(
            (
                step,
                idx,
                name(idx),
                float(sels[idx]),
                surviving(st),
                float(st["ndv_est"]),
                float(out),
                bool(bc),
                reason,
            )
        )
    return spark.createDataFrame(
        rows,
        "step int, input_idx int, label string, selectivity double, "
        "est_rows double, est_ndv double, est_out_rows double, "
        "broadcast boolean, reason string",
    )


def fold_join(
    dfs: Iterable[DataFrame],
    on: str | Sequence[str],
    how: str = "inner",
    order: str = "given",
    stats: Sequence[dict] | str | None = None,
    broadcast_rows: int | None = None,
    catalog: dict | None = None,
    tables: Sequence[str] | None = None,
) -> DataFrame:
    """Left-deep fold of equi-joins (reference O9, main.py:257).

    Keeps the reference's semantics exactly: with ``how='inner'`` the
    result keeps only keys present in EVERY input (README:29 "only
    those house ids which made transactions"). Catalyst/CBO may reorder
    the join tree; semantics are order-independent for inner joins.

    ``order='stats'`` (inner joins only — outer folds are order-
    SENSITIVE) reorders the fold by ``plan_join_order`` so the
    smallest estimated intermediates come first: pass precomputed
    ``stats`` rows (``table_stats(df, [key])`` dicts, one per input,
    caller order) or leave ``stats=None`` to run the ANALYZE pass
    here (two scans per input — amortize by precomputing when the
    fold is hot). Multi-column keys plan on the LEADING key's stats
    (the usual leading-prefix heuristic); pass joint-key stats rows
    to override. The result multiset is identical either way — only
    the intermediate sizes change.

    ``broadcast_rows`` (stats mode only) completes the physical half
    of the CBO move: any non-leading input whose surviving key rows
    (``n_rows - n_null``) are at or under the threshold gets an
    explicit ``broadcast()`` hint — the stats already know the side
    is dimension-sized, so the fold never depends on
    autoBroadcastJoinThreshold seeing a size estimate (post-filter
    sizes are exactly what Catalyst's static estimate misses and the
    priced stats capture).

    ``stats='auto'`` (round 14) resolves each input's stats row from a
    loaded snapshot catalog instead of hand-fed dicts: pass
    ``catalog=stats_catalog(spark, root)`` and ``tables=`` (one table
    tag per input, caller order). Zero scans at plan time — the
    snapshots were materialized by
    ``operators/stats.py::write_table_stats_snapshot`` or maintained
    by the streaming ANALYZE sink. A tag or key column missing from
    the catalog raises loudly (a silent fallback to re-ANALYZE would
    hide exactly the misconfiguration this exists to catch).

    Raises ValueError on an empty list (reference main.py:254-255).
    """
    df_list = list(dfs)
    if not df_list:
        raise ValueError("fold_join requires at least one dataframe")
    for d in df_list:
        require_dataframe(d)
    if order == "stats":
        if how != "inner":
            raise ValueError(
                f"order='stats' requires how='inner' (got {how!r}) — "
                "outer folds are order-sensitive"
            )
        key = on if isinstance(on, str) else list(on)[0]
        if stats == "auto":
            # round 14 (VERDICT r13 item 4): resolve each input's
            # stats row from a loaded snapshot catalog
            # (operators/stats.py::stats_catalog) by its table tag —
            # zero scans at plan time; the snapshots were materialized
            # by the batch ANALYZE writer or the streaming maintainer
            _, stats = _auto_stats(catalog, tables, key, len(df_list))
        elif isinstance(stats, str):
            raise ValueError(f"stats={stats!r} — pass rows or 'auto'")
        if stats is None:
            from dask_datapipeline_spark.operators.stats import table_stats

            stats = [table_stats(d, [key]).first().asDict() for d in df_list]
        if len(stats) != len(df_list):
            raise ValueError(
                f"stats has {len(stats)} rows for {len(df_list)} inputs"
            )
        idx = plan_join_order(stats)
        df_list = [df_list[i] for i in idx]
        if broadcast_rows is not None:
            picked = [stats[i] for i in idx]
            df_list = [
                F.broadcast(d)
                if pos > 0
                and (
                    float(st["n_rows"]) - float(st["n_null"])
                ) <= broadcast_rows
                else d
                for pos, (d, st) in enumerate(zip(df_list, picked))
            ]
    elif order != "given":
        raise ValueError(f"order={order!r} not in ('given', 'stats')")
    elif broadcast_rows is not None:
        raise ValueError("broadcast_rows requires order='stats'")
    elif stats is not None or catalog is not None or tables is not None:
        # round-14 review: stats='auto' (or hand-fed rows) with the
        # default order='given' previously fell through SILENTLY — the
        # caller believed the catalog drove the plan while the fold
        # ran in caller order; the loud-failure contract applies here
        raise ValueError(
            "stats=/catalog=/tables= have no effect without "
            "order='stats' — pass order='stats' (or drop them)"
        )
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


@contextmanager
def aqe_skew_split(
    spark,
    threshold_bytes: str = "64k",
    advisory_bytes: str = "16k",
    factor: int = 2,
    force: bool = True,
):
    """Scope in which AQE's OWN skew-join splitting (OptimizeSkewedJoin)
    is guaranteed eligible: skew thresholds lowered to ``threshold_bytes``
    / ``factor`` × median, target split size ``advisory_bytes``, broadcast
    disabled on both thresholds (a broadcast-hash join has no skew to
    split — only SMJ/SHJ qualify), and ``forceOptimizeSkewedJoin`` so a
    downstream distribution requirement can't veto the split. All nine
    confs are restored on exit — catalog builders MUST materialize (e.g.
    ``localCheckpoint(eager=True)``) inside the scope; a lazy DataFrame
    executed after exit runs under the restored session confs.

    This is the complement of ``salt_join``: salting is the manual
    fallback for keys AQE can't fix (one key >> one partition even after
    splitting the right side is replicated per split); AQE splitting is
    what a production cluster leans on for garden-variety skew, with
    defaults (256 MB / 5× median) that never fire at test scale — hence
    the lowered thresholds here. The split is plan-visible as
    ``SortMergeJoin(skew=true)`` + ``AQEShuffleRead skewed`` (asserted in
    tests/test_round11_ops.py on a planted hot key).

    SESSION-WIDE and NON-REENTRANT: the nine confs are session globals,
    so every query that EXECUTES on this SparkSession while the scope is
    open — including one launched from another thread — runs with
    broadcast joins fully disabled and the skew thresholds here, and a
    nested scope restores the inner scope's saved values, not the
    session defaults. The lowered defaults (64k/16k) are TEST-scale
    knobs chosen so splitting fires on kB fixtures; a production caller
    should pass cluster-scale values explicitly (e.g. threshold
    ``'256m'``, advisory ``'64m'``) or simply enable the stock AQE skew
    confs session-wide rather than borrowing this scope.
    """
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": threshold_bytes,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(factor),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory_bytes,
        "spark.sql.adaptive.forceOptimizeSkewedJoin": str(force).lower(),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # unset — conf.get validates defaults, so probe
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
