"""Validation surface (reference O13, SURVEY.md §2).

The reference guards every operator with empty-input / key-presence /
type / file-format checks (reference ``main.py:87-91, 131-132, 154-161,
194-195, 214-218, 235-236, 273-279``). We keep the same error contract
but implement it as *driver-side schema checks* that never launch a
Spark job — at 100 TB an ``isEmpty()`` per operator would be a full
scan per guard. The empty-output guard rides along the job that
already runs: sinks count rows with an ``Observation`` attached to
the written DataFrame and read it back with ``observed_metric``.

One reference bug is deliberately fixed: the key-presence check at
``main.py:131`` unions both inputs' columns, so a key missing from one
side passes validation. ``require_columns`` checks each DataFrame
independently (SURVEY.md §7.4 item 9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


class EmptyInputError(ValueError):
    """Raised where the reference raises ValueError on empty inputs."""


def require_columns(df: DataFrame, cols: list[str] | tuple[str, ...], side: str = "input") -> None:
    """KeyError if any of ``cols`` is absent from ``df`` (driver-side)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"{side} is missing required column(s) {missing}; has {df.columns}")


def require_dataframe(obj: object, name: str = "input") -> None:
    """TypeError for non-DataFrame inputs (reference main.py:90-91)."""
    if not isinstance(obj, DataFrame):
        raise TypeError(f"{name} must be a pyspark.sql.DataFrame, got {type(obj).__name__}")


def observed_metric(obs: Observation, name: str):
    """Value of metric ``name`` from ``obs`` after its action ran, or
    None when the metric was never collected.

    AQE's runtime empty-relation propagation can prune the observed
    subtree INCLUDING its ``CollectMetrics`` node; ``Observation.get``
    then raises a JVM ``AssertionError`` instead of returning a row. A
    pruned metrics node means the subtree was provably empty at run
    time, so callers treat None as the aggregate over zero rows.
    """
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get[name]
    except Py4JJavaError as ex:
        if "AssertionError" not in str(ex):
            raise
        return None
