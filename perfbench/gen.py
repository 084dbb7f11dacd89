"""Seeded input generators, one per workload.

Every generator takes the seed as an argument, writes its inputs into
the directory it is given and returns a ``truth`` dict: the planted
duplicates (or nothing, for the ETL job) plus the stated input
properties (row counts, dup rate, hot-shingle rate, cluster spread).
The truth is also written next to the inputs as ``truth.json``.

Determinism: all randomness comes from one ``numpy`` Generator built
from the seed, CSV text is formatted by hand and parquet is written by
pyarrow with fixed settings, so the same seed gives byte-identical
files (``test_perfbench.py`` pins this).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# campaign window of the household job (reference_main.CAMPAIGN_*);
# dates are drawn around it and some land exactly on its edges
_EDGE_DATES = (
    "2021-09-05 23:59:59",
    "2021-09-06 00:00:00",
    "2021-09-13 23:59:59",
    "2021-09-14 00:00:00",
)
_DATE_LO = np.datetime64("2021-08-01T00:00:00")
_DATE_SPAN_S = 92 * 86400

_CHILDREN = ("0", "1", "2+")
_INCOME = ("0 to 50", "51 to 100", "101 to 150", "151+", "noValue")
_AGE = ("18-19", "20-29", "30-39", "40-49", "50-59", "60-64", "65+", "noValue")
_HOME = ("0 to 100", "101 to 200", "201 to 500", "501+", "noValue")
_STATES = (
    "AL AK AZ AR CA CO CT DE FL GA HI ID IL IN IA KS KY LA ME MD MA MI MN MS "
    "MO MT NE NV NH NJ NM NY NC ND OH OK OR PA RI SC SD TN TX UT VT VA WA WV "
    "WI WY"
).split()


def _write_truth(out_dir: str, truth: dict) -> dict:
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _write_csv(path: str, header: str, lines) -> None:
    with open(path, "w", newline="") as f:
        f.write(header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


# ----- household_etl -------------------------------------------------


def gen_household(seed: int, out_dir: str, n_tx: int) -> dict:
    """transactions.csv / hh_ind.csv / demographics.csv for the
    reference job. The mapping holds every individual, only a quarter
    of whom transact, so hh_ind has as many rows as transactions and
    many households have no activity in one of the two windows (the
    final inner joins drop them)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ind = n_tx
    n_hh = max(n_ind // 5, 1)

    ind_ids = rng.permutation(n_ind) + 100000
    hh_of = rng.integers(0, n_hh, size=n_ind)
    _write_csv(
        os.path.join(out_dir, "hh_ind.csv"),
        "hhid,individual_id",
        (f"{h},{i}" for h, i in zip(hh_of.tolist(), ind_ids.tolist())),
    )

    # demographics for every household plus 5 % that have no members
    n_dem = n_hh + n_hh // 20
    num_inds = np.bincount(hh_of, minlength=n_dem)
    cols = [
        rng.integers(0, len(dom), size=n_dem).tolist()
        for dom in (_CHILDREN, _INCOME, _AGE, _HOME, _STATES)
    ]
    _write_csv(
        os.path.join(out_dir, "demographics.csv"),
        "hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,state",
        (
            f"{h},{max(int(num_inds[h]), 1)},{_CHILDREN[c]},{_INCOME[i]},"
            f"{_AGE[a]},{_HOME[v]},{_STATES[s]}"
            for h, c, i, a, v, s in zip(range(n_dem), *cols)
        ),
    )

    active = ind_ids[: max(n_ind // 4, 1)]
    who = active[rng.integers(0, len(active), size=n_tx)]
    secs = rng.integers(0, _DATE_SPAN_S, size=n_tx)
    dates = np.char.replace(
        np.datetime_as_string(_DATE_LO + secs.astype("timedelta64[s]"), unit="s"),
        "T", " ",
    ).astype(object)
    edge = rng.random(n_tx) < 0.01
    dates[edge] = np.array(_EDGE_DATES, dtype=object)[
        rng.integers(0, len(_EDGE_DATES), size=int(edge.sum()))
    ]
    cents = rng.integers(0, 50000, size=n_tx)
    _write_csv(
        os.path.join(out_dir, "transactions.csv"),
        "individual_id,date,transaction_amount",
        (
            f"{w},{d},{c // 100}.{c % 100:02d}"
            for w, d, c in zip(who.tolist(), dates.tolist(), cents.tolist())
        ),
    )
    return _write_truth(out_dir, {
        "rows": {"transactions": n_tx, "hh_ind": n_ind, "demographics": n_dem},
        "input_rows": n_tx + n_ind + n_dem,
        "active_individual_rate": len(active) / n_ind,
        "edge_date_rate": 0.01,
    })


# ----- stream_dedup --------------------------------------------------

#: vocabulary size, boilerplate phrases (the hot shingles) and their
#: length in words
VOCAB, N_BOILER, BOILER_LEN = 6000, 16, 14
#: share of documents carrying a boilerplate phrase
HOT_RATE = 0.25
#: shares of staged documents that are exact copies / near-dups
EXACT_RATE, NEAR_RATE = 0.04, 0.12


class _TextSource:
    """Word-level document generator: a Zipf-like vocabulary, fixed
    boilerplate phrases (the hot shingles) and the two dup kinds —
    exact copies with case and whitespace jitter and near-dups with one
    or two word substitutions (3-shingle Jaccard 0.85-0.93 at the
    generated lengths)."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 9, size=VOCAB)
        self.vocab = np.array(
            ["".join(rng.choice(letters, size=k)) + str(j) for j, k in enumerate(lens)],
            dtype=object,
        )
        w = 1.0 / (np.arange(VOCAB) + 20.0)
        self.p = w / w.sum()
        self.boiler = [
            list(self.vocab[rng.integers(0, VOCAB, size=BOILER_LEN)])
            for _ in range(N_BOILER)
        ]

    def fresh(self) -> list[str]:
        n = int(self.rng.integers(60, 110))
        words = list(self.rng.choice(self.vocab, size=n, p=self.p))
        if self.rng.random() < HOT_RATE:
            words += self.boiler[int(self.rng.integers(0, len(self.boiler)))]
        return words

    def near(self, words: list[str]) -> list[str]:
        out = list(words)
        k = int(self.rng.integers(1, 3))
        # substitutions at least 3 tokens apart hit disjoint shingles
        slots = self.rng.choice(np.arange(2, len(out) - 2, 4), size=k, replace=False)
        for s in slots.tolist():
            out[s] = "zz" + str(self.rng.integers(0, 1 << 30))
        return out

    def exact(self, words: list[str]) -> str:
        text = " ".join(words)
        kind = int(self.rng.integers(0, 3))
        if kind == 1:
            return text.upper()
        if kind == 2:
            return "  " + text + "\n"
        return text


def _docs_table(ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
    })


def _corpus(src: _TextSource, first_id: int, n: int, exact_rate: float,
            near_rate: float, pool: list):
    """``n`` documents with ids ``first_id..``; a dup copies a random
    earlier document of this call or of ``pool`` (a list of
    ``(id, words)``), so its partner always has a smaller id. Returns
    ids, texts, own (id, words) list, planted exact ids and planted
    near pairs."""
    rng = src.rng
    ids, texts, own = [], [], []
    exact_ids, near_pairs = [], []
    kinds = rng.random(n)

    def pick():
        r = int(rng.integers(0, len(pool) + len(own)))
        return pool[r] if r < len(pool) else own[r - len(pool)]

    for j in range(n):
        doc_id = first_id + j
        have = bool(pool or own)
        if have and kinds[j] < exact_rate:
            _, words = pick()
            texts.append(src.exact(words))
            exact_ids.append(doc_id)
        elif have and kinds[j] < exact_rate + near_rate:
            pid, words = pick()
            words = src.near(words)
            texts.append(" ".join(words))
            near_pairs.append([pid, doc_id])
            own.append((doc_id, words))
        else:
            words = src.fresh()
            texts.append(" ".join(words))
            own.append((doc_id, words))
        ids.append(doc_id)
    return ids, texts, own, exact_ids, near_pairs


def gen_stream(seed: int, out_dir: str, n_base: int, n_batches: int,
               batch_docs: int) -> dict:
    """base.parquet (the indexed corpus), prior.parquet (an earlier
    ingest of ``batch_docs`` documents, an index increment before the
    stream starts) and ``staged/`` holding one parquet file per
    micro-batch, id-range ordered with increasing mtimes — the shape
    under which the union of per-batch flags equals one-shot flags.
    Staged dups copy base, prior or earlier staged documents; only
    those are planted truth."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    src = _TextSource(rng)
    ids, texts, pool, _, _ = _corpus(src, 0, n_base, 0.0, 0.0, [])
    _write_parquet(_docs_table(ids, texts), os.path.join(out_dir, "base.parquet"))
    ids, texts, own, _, _ = _corpus(src, n_base, batch_docs, EXACT_RATE, NEAR_RATE, pool)
    _write_parquet(_docs_table(ids, texts), os.path.join(out_dir, "prior.parquet"))
    pool = pool + own
    staged = os.path.join(out_dir, "staged")
    os.makedirs(staged, exist_ok=True)
    exact_all, near_all = [], []
    next_id = n_base + batch_docs
    for k in range(n_batches):
        ids, texts, own, exact_ids, near_pairs = _corpus(
            src, next_id, batch_docs, EXACT_RATE, NEAR_RATE, pool
        )
        path = os.path.join(staged, f"batch-{k:03d}.parquet")
        _write_parquet(_docs_table(ids, texts), path)
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))
        pool = pool + own
        exact_all += exact_ids
        near_all += near_pairs
        next_id += batch_docs
    return _write_truth(out_dir, {
        "rows": {"base": n_base, "prior": batch_docs, "staged": n_batches * batch_docs},
        "input_rows": n_batches * batch_docs,
        "batches": n_batches,
        "exact_dup_ids": exact_all,
        "near_pairs": near_all,
        "exact_rate": EXACT_RATE,
        "near_rate": NEAR_RATE,
        "hot_shingle_rate": HOT_RATE,
    })


# ----- vector_dedup --------------------------------------------------

#: embedding width, vectors per cluster and per-axis cluster noise
DIM, CLUSTER_SIZE, SPREAD = 64, 50, 0.06


def gen_vectors(seed: int, out_dir: str, n: int, pair_rate: float = 0.05) -> dict:
    """embeddings.parquet (vec_id, embedding float[DIM]) in Gaussian
    clusters around random unit centers. ``SPREAD`` is the per-axis
    noise, which puts cluster members near cosine 0.8 to each other
    (below any dedup threshold); planted pairs copy a vector with a
    third of that noise, landing near cosine 0.99."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_clusters = max(n // CLUSTER_SIZE, 1)
    centers = rng.standard_normal((n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member = rng.integers(0, n_clusters, size=n)
    x = centers[member] + SPREAD * rng.standard_normal((n, DIM))
    planted = []
    dup = np.flatnonzero(rng.random(n) < pair_rate)
    for j in dup.tolist():
        if j == 0:
            continue
        src = int(rng.integers(0, j))
        x[j] = x[src] + (SPREAD / 3) * rng.standard_normal(DIM)
        planted.append([src, j])
    x = x.astype(np.float32)
    _write_parquet(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(x.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32())),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return _write_truth(out_dir, {
        "rows": {"embeddings": n},
        "input_rows": n,
        "dim": DIM,
        "near_pairs": planted,
        "pair_rate": pair_rate,
        "cluster_size": CLUSTER_SIZE,
        "cluster_spread": SPREAD,
    })
