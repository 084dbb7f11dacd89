"""Output checks computed outside Spark.

- ``household_reference``: an independent DuckDB recompute of the
  reference job over the same CSVs.
- ``word_shingles`` / ``jaccard``: the word 3-shingle Jaccard the dedup
  operators define (lowercase, split on single spaces, n-token windows
  joined by spaces), recomputed in Python for every reported pair.
- ``cosine``: float64 cosine for every reported embedding pair.
- ``recall``: planted pairs or flags found.
"""

from __future__ import annotations

import csv
import math

import numpy as np

CAMPAIGN_START = "2021-09-06 00:00:00"
CAMPAIGN_END = "2021-09-13 23:59:59"

_HOUSEHOLD_SQL = f"""
WITH tx AS (
  SELECT individual_id,
         TRY_STRPTIME(date, '%Y-%m-%d %H:%M:%S') AS ts,
         CAST(transaction_amount AS DECIMAL(18, 2)) AS amt
  FROM read_csv('{{tx}}', header = true, columns = {{{{
    'individual_id': 'VARCHAR', 'date': 'VARCHAR', 'transaction_amount': 'DOUBLE'}}}})
), hh AS (
  SELECT * FROM read_csv('{{hh}}', header = true, columns = {{{{
    'hhid': 'BIGINT', 'individual_id': 'VARCHAR'}}}})
), dem AS (
  SELECT * FROM read_csv('{{dem}}', header = true, all_varchar = true)
), j AS (
  SELECT hh.hhid, tx.ts, tx.amt FROM tx JOIN hh USING (individual_id)
), f AS (
  SELECT hhid,
         SUM(amt) FILTER (WHERE ts < TIMESTAMP '{CAMPAIGN_START}') AS before_amt,
         SUM(amt) FILTER (WHERE ts BETWEEN TIMESTAMP '{CAMPAIGN_START}'
                                   AND TIMESTAMP '{CAMPAIGN_END}') AS during_amt,
         COUNT(amt) AS n
  FROM j GROUP BY hhid
)
SELECT CAST(d.hhid AS BIGINT), CAST(d.num_inds AS BIGINT), d.children_ind,
       d.hh_income_ind, d.age_ind, d.home_value_ind, d.state,
       CAST(f.before_amt AS DOUBLE), CAST(f.during_amt AS DOUBLE), f.n
FROM dem d JOIN f ON CAST(d.hhid AS BIGINT) = f.hhid
WHERE f.before_amt IS NOT NULL AND f.during_amt IS NOT NULL
ORDER BY 1
"""


def household_reference(tx: str, hh: str, dem: str) -> list[tuple]:
    """Rows of the reference output, sorted by hhid. Written as one
    conditional aggregation (not the package's three-aggregate parity
    plan), so a shared planning bug cannot hide in both."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        return con.execute(_HOUSEHOLD_SQL.format(tx=tx, hh=hh, dem=dem)).fetchall()
    finally:
        con.close()


def read_household_csv(path: str) -> list[tuple]:
    """The pipeline's single output CSV parsed to the reference's
    types, in file order."""
    with open(path, newline="") as f:
        rows = csv.reader(f)
        next(rows)
        return [
            (int(r[0]), int(r[1]), *r[2:7], float(r[7]), float(r[8]), int(r[9]))
            for r in rows
        ]


def word_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)} - {""}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


def cosine(x: np.ndarray, y: np.ndarray) -> float:
    x = x.astype(np.float64)
    y = y.astype(np.float64)
    return float(x @ y / math.sqrt((x @ x) * (y @ y)))


def recall(found: set, planted) -> float:
    """Share of planted items present in ``found``; 1.0 when nothing
    was planted."""
    planted = {tuple(p) if isinstance(p, list) else p for p in planted}
    if not planted:
        return 1.0
    return len(planted & found) / len(planted)

