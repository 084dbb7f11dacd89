"""Property-based tests (hypothesis) — the reference's suite is
fixed-fixture only (SURVEY.md §5 'not present: property-based
testing'); these pin operator semantics against brute-force Python
models on randomized inputs.

Strategy notes: Spark jobs are slow per-example, so examples are
capped low and each property batches ONE Spark action over the whole
generated dataset.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dask_datapipeline_spark.functions.numeric import bround2
from dask_datapipeline_spark.operators.dedup import dup_clusters, exact_dedup
from dask_datapipeline_spark.operators.joins import asof_join

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# cents-valued money amounts: exercise the .5-cent rounding boundary
_amounts = st.integers(min_value=-10_000, max_value=10_000).map(lambda c: c / 100)
_keys = st.integers(min_value=0, max_value=5)


@given(rows=st.lists(st.tuples(_keys, _amounts), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_groupby_sum_bround_matches_python(spark, rows):
    """group-by + bround2 == python sum of cents + half-even rounding."""
    df = spark.createDataFrame(rows, "k long, amt double")
    got = {
        r.k: r.total
        for r in df.groupBy("k").agg(bround2(F.sum("amt")).alias("total")).collect()
    }
    want: dict[int, float] = defaultdict(float)
    for k, amt in rows:
        want[k] += amt
    for k, v in want.items():
        # inputs are exact cents → the sum is exact in double; bround2
        # at 2dp is then the identity on an already-2dp value
        assert got[k] == pytest.approx(round(v, 2), abs=1e-9)


@given(rows=st.lists(st.tuples(_keys, st.text(alphabet="ab", max_size=3)), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_exact_dedup_survivor_is_min_id(spark, rows):
    """exact_dedup keeps the min id per key and counts every dup."""
    data = [(i, k, t) for i, (k, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, k long, t string")
    got = {
        (r.k, r.t): (r.doc_id, r.n_dups)
        for r in exact_dedup(df, ["k", "t"], id_col="doc_id").collect()
    }
    want: dict[tuple, list[int]] = defaultdict(list)
    for i, k, t in data:
        want[(k, t)].append(i)
    assert got == {kt: (min(ids), len(ids)) for kt, ids in want.items()}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] < e[1]),
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_dup_clusters_matches_union_find(spark, edges):
    """dup_clusters == textbook union-find on the same edge set."""
    nodes = list(range(10))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    want = {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}

    pairs = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs = pairs.limit(0)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs, nodes_df).collect()}
    assert got == want


@given(
    left_ts=st.lists(st.integers(0, 50), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(0, 50), min_size=0, max_size=10, unique=True),
)
@settings(**_SETTINGS)
def test_asof_join_matches_scan(spark, left_ts, right_ts):
    """asof_join == per-row linear scan for the latest right <= left."""
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, "k", base + dt.timedelta(minutes=t)) for i, t in enumerate(left_ts)],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", base + dt.timedelta(minutes=t), float(t)) for t in right_ts] or
        [("pad", base, 0.0)],
        "k string, ts timestamp, val double",
    )
    if not right_ts:
        right = right.limit(0)
    got = {r.event_id: r.val for r in asof_join(left, right, on="ts", by="k").collect()}
    for i, t in enumerate(left_ts):
        prior = [rt for rt in right_ts if rt <= t]
        assert got[i] == (float(max(prior)) if prior else None)


@given(
    left_rows=st.lists(st.tuples(_keys, st.integers(0, 500)), min_size=1, max_size=25),
    right_rows=st.lists(st.tuples(_keys, st.integers(0, 500)), min_size=0, max_size=25),
    width=st.sampled_from([7.0, 60.0, 333.3]),
)
@settings(**_SETTINGS)
def test_range_join_matches_brute_force(spark, left_rows, right_rows, width):
    """range_join == brute-force O(N·M) scan for every key, window
    boundary, and bucket width — including windows smaller/larger than
    the bucket and duplicate timestamps."""
    from dask_datapipeline_spark.operators.joins import range_join

    base = dt.datetime(2024, 1, 1)
    lo, hi = 0.0, 120.0
    left = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=t)) for i, (k, t) in enumerate(left_rows)],
        "a_id long, k long, a_ts timestamp",
    )
    right = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=t)) for i, (k, t) in enumerate(right_rows)]
        or [(0, 99, base)],
        "b_id long, k long, b_ts timestamp",
    )
    if not right_rows:
        right = right.limit(0)
    got = sorted(
        (r.a_id, r.b_id)
        for r in range_join(
            left, right, by=["k"], left_ts="a_ts", right_ts="b_ts",
            lower_seconds=lo, upper_seconds=hi, bucket_seconds=width,
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (lk, lt) in enumerate(left_rows)
        for j, (rk, rt) in enumerate(right_rows)
        if lk == rk and lo < rt - lt <= hi
    )
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=24), min_size=1, max_size=8
    ),
    max_df=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_capped_jaccard_matches_python_model(spark, texts, max_df):
    """jaccard_pairs with a df cap == brute-force Python Jaccard over
    the capped shingle universe (cap can RAISE a pair's similarity by
    shrinking the union — the model must agree in both directions)."""
    from dask_datapipeline_spark.operators.dedup import jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh_set(t):
        toks = t.lower().split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        } - {""}

    sets = {i: sh_set(t) for i, t in rows}
    dfreq = defaultdict(int)
    for s in sets.values():
        for g in s:
            dfreq[g] += 1
    capped = {i: {g for g in s if dfreq[g] <= max_df} for i, s in sets.items()}
    want = {}
    ids = sorted(capped)
    for a in ids:
        for b in ids:
            if a < b and capped[a] & capped[b]:
                j = len(capped[a] & capped[b]) / len(capped[a] | capped[b])
                if j >= 0.3:
                    want[(a, b)] = j
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, None, threshold=0.3, max_df=max_df).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


_mkeys = st.integers(min_value=0, max_value=9)


@given(
    base=st.lists(st.tuples(_mkeys, st.integers(0, 99)), min_size=0, max_size=20),
    changes=st.lists(
        st.tuples(_mkeys, st.integers(1, 5), st.integers(0, 99), st.booleans()),
        min_size=0,
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_apply_changes_matches_dict_model(spark, base, changes):
    """CDC merge == the obvious dict replay: latest version per key
    wins, deletes remove, untouched base keys survive."""
    from dask_datapipeline_spark.operators.merge import apply_changes

    base = list({k: (k, v) for k, v in base}.values())  # unique base keys
    # unique (key, version) per the operator contract
    changes = list({(k, ver): (k, ver, v, d) for k, ver, v, d in changes}.values())

    model = {k: v for k, v in base}
    latest: dict[int, tuple[int, int, bool]] = {}
    for k, ver, v, d in changes:
        if k not in latest or ver > latest[k][0]:
            latest[k] = (ver, v, d)
    for k, (_, v, d) in latest.items():
        if d:
            model.pop(k, None)
        else:
            model[k] = v

    bdf = spark.createDataFrame(base, "k long, v long") if base else spark.createDataFrame([], "k long, v long")
    cdf = (
        spark.createDataFrame(changes, "k long, ver long, v long, deleted boolean")
        if changes
        else spark.createDataFrame([], "k long, ver long, v long, deleted boolean")
    )
    got = {
        r.k: r.v
        for r in apply_changes(bdf, cdf, ["k"], "ver", delete_col="deleted").collect()
    }
    assert got == model


_seg_words = st.sampled_from(["a", "b", "c", "d"])
_seg_texts = st.lists(
    st.lists(_seg_words, min_size=1, max_size=9).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=_seg_texts, k=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_segment_dedup_matches_python_model(spark, texts, k):
    """segment_dedup == brute-force keep-first over (doc_id, position)
    scan order, with order-preserving reassembly — on a tiny alphabet
    so cross-document segment collisions are dense."""
    from dask_datapipeline_spark.operators.dedup import segment_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    seen: set[str] = set()
    want = {}
    for i, t in rows:  # ids ascending == keep-first order
        toks = t.lower().split(" ")
        segs = [
            " ".join(toks[j * k : (j + 1) * k])
            for j in range((len(toks) + k - 1) // k)
        ]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        want[i] = (" ".join(kept), len(kept), len(segs))

    got = {
        r.doc_id: (r.text_dedup, r.n_kept, r.n_seg_total)
        for r in segment_dedup(df, seg_tokens=k).collect()
    }
    assert got == want


@given(texts=_seg_texts, k=st.integers(min_value=1, max_value=3), max_df=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_boilerplate_strip_matches_python_model(spark, texts, k, max_df):
    """boilerplate_strip == brute-force df-count-then-filter: a segment
    occurring in more than max_df DISTINCT docs is removed everywhere;
    in-doc repetition alone never strips."""
    from dask_datapipeline_spark.operators.dedup import boilerplate_strip

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def segs_of(t):
        toks = t.lower().split(" ")
        return [
            " ".join(toks[j * k : (j + 1) * k])
            for j in range((len(toks) + k - 1) // k)
        ]

    from collections import Counter

    dfc = Counter()
    for _, t in rows:
        for s in set(segs_of(t)):
            dfc[s] += 1
    boiler = {s for s, c in dfc.items() if c > max_df}
    want = {}
    for i, t in rows:
        kept = [s for s in segs_of(t) if s not in boiler]
        want[i] = (" ".join(kept), len(kept), len(segs_of(t)))

    got = {
        r.doc_id: (r.text_clean, r.n_kept, r.n_seg_total)
        for r in boilerplate_strip(df, seg_tokens=k, max_df=max_df).collect()
    }
    assert got == want


_win_texts = st.lists(
    st.lists(_seg_words, min_size=1, max_size=14).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(
    texts=_win_texts,
    k=st.integers(min_value=1, max_value=3),
    w=st.integers(min_value=1, max_value=3),
    max_df=st.sampled_from([None, 1, 2]),
)
@settings(**_SETTINGS)
def test_winnow_near_dup_matches_python_model(spark, texts, k, w, max_df):
    """winnow_near_dup == a python replay of the same md5 k-gram
    hashes, window minima, df cap, and containment sim — tiny alphabet
    so fingerprint collisions across docs are dense."""
    import hashlib
    from collections import Counter

    from dask_datapipeline_spark.operators.dedup import winnow_near_dup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def fps_of(t):
        toks = t.lower().split(" ")
        if len(toks) < k + w - 1:
            return set()
        hs = [
            int(hashlib.md5(f"0:{' '.join(toks[i:i + k])}".encode()).hexdigest()[:15], 16)
            for i in range(len(toks) - k + 1)
        ]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    fps = {i: fps_of(t) for i, t in rows}
    if max_df is not None:
        dfc = Counter(h for s in fps.values() for h in s)
        hot = {h for h, c in dfc.items() if c > max_df}
        fps = {i: s - hot for i, s in fps.items()}
    want = {}
    ids = sorted(fps)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            shared = len(fps[a] & fps[b])
            if shared >= 1:
                want[(a, b)] = (shared, shared / min(len(fps[a]), len(fps[b])))

    got = {
        (r.id_a, r.id_b): (r.n_shared, r.sim)
        for r in winnow_near_dup(
            df, kgram=k, window=w, min_shared=1, max_df=max_df
        ).collect()
    }
    assert got == want


_cms_keys = st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60)


@given(keys=_cms_keys)
@settings(**_SETTINGS)
def test_cms_matches_python_model(spark, keys):
    """CMS estimates == python replay of the same md5 sketch (exact,
    including collisions), and never underestimate."""
    import hashlib

    from dask_datapipeline_spark.operators.sketches import cms_heavy_hitters

    depth, width = 3, 8  # tiny width → real collisions
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")

    def bucket(v, i):
        h = int(hashlib.md5(f"{1259 + i}:{v}".encode()).hexdigest()[:15], 16)
        return h % width

    counters = {}
    for v in keys:
        for i in range(depth):
            c = (i, bucket(v, i))
            counters[c] = counters.get(c, 0) + 1
    want = {}
    for v in set(keys):
        want[v] = min(counters[(i, bucket(v, i))] for i in range(depth))

    got = {
        r.user_id: (r.cms_est, r.exact_count)
        for r in cms_heavy_hitters(
            df, "user_id", depth=depth, width=width, top=1000
        ).collect()
    }
    assert set(got) == set(want)
    for v, (est, exact) in got.items():
        assert est == want[v]
        assert est >= exact == keys.count(v)


_bloom_fact = st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40)
_bloom_dim = st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=10)


@given(fact=_bloom_fact, dim=_bloom_dim)
@settings(**_SETTINGS)
def test_bloom_matches_python_model(spark, fact, dim):
    """bloom_semi_join == python replay of the same bitmap (exact,
    false positives included)."""
    import hashlib

    from dask_datapipeline_spark.operators.bloom import bloom_semi_join

    m, k = 64, 3
    fdf = spark.createDataFrame([(i, v) for i, v in enumerate(fact)], "rid long, key long")
    ddf = spark.createDataFrame([(v,) for v in dim] or [(None,)], "key long")

    def bits_of(v):
        return {
            int(hashlib.md5(f"{4099 + i}:{v}".encode()).hexdigest()[:15], 16) % m
            for i in range(k)
        }

    bitset = set()
    for v in set(dim):
        bitset |= bits_of(v)
    want = {
        i for i, v in enumerate(fact)
        if all(b in bitset for b in bits_of(v))
    } if dim else set()

    got = {
        r.rid
        for r in bloom_semi_join(fdf, ddf, "key", "key", m_bits=m, k_hashes=k).collect()
    }
    assert got == want


# ---------------- hashed linear classifier (round 3) -----------------

_cls_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12), min_size=1, max_size=12
)


@given(texts=_cls_texts)
@settings(**_SETTINGS)
def test_classifier_matches_python_model(spark, texts):
    import hashlib

    from dask_datapipeline_spark.operators.classifier import hashed_linear_score

    def w(tok: str) -> int:
        h = int(hashlib.md5(f"qw:{tok}".encode()).hexdigest()[:15], 16)
        return h % 2001 - 1000

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r for r in hashed_linear_score(df, "doc_id", "text").collect()}
    for i, t in enumerate(texts):
        toks = t.lower().split(" ")
        raw = sum(w(tok) for tok in toks)
        assert got[i].margin_raw == raw
        assert got[i].n_tokens == len(toks)
        assert got[i].margin == raw / (1000 * len(toks))


# ---------------- token-balanced sharding (round 3) ------------------


@given(
    toks=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    shard_tokens=st.integers(min_value=1, max_value=60),
    bits=st.integers(min_value=1, max_value=12),
)
@settings(**_SETTINGS)
def test_shard_by_tokens_matches_single_cumsum(spark, toks, shard_tokens, bits):
    """The two-pass bucketed prefix sum must equal the plain global
    cumsum for ANY bucket granularity — the bucket split is a pure
    parallelization device, never visible in the result."""
    import hashlib

    from dask_datapipeline_spark.operators.packing import shard_by_tokens

    rows = list(enumerate(toks))
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: (r.stream_offset, r.shard_id)
        for r in shard_by_tokens(
            df, "doc_id", "n_tok", shard_tokens, n_buckets_bits=bits
        ).collect()
    }

    def h(i: int) -> int:
        return int(hashlib.md5(f"shard:{i}".encode()).hexdigest()[:15], 16)

    cum = 0
    want = {}
    for doc_id, n in sorted(rows, key=lambda r: (h(r[0]), r[0])):
        want[doc_id] = (cum, cum // shard_tokens)
        cum += n
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # doc_id — DUPLICATES likely
            st.integers(min_value=0, max_value=30),  # n_tok — often differs per dup
        ),
        min_size=1,
        max_size=24,
    ),
    shard_tokens=st.integers(min_value=1, max_value=40),
)
@settings(**_SETTINGS)
def test_shard_by_tokens_duplicate_ids_engine_parity(spark, docs, shard_tokens):
    """Round-3 driver red-row pin: a DUPLICATED doc_id hashes to the
    same __h, so without the n_tokens tie-break the stream cumsum is
    order-ambiguous and Spark/DuckDB may legally disagree (exactly the
    observed rows-match + schema-match + hash-mismatch signature).
    With the tie-break, the output multiset must be engine-identical
    for ANY corpus, duplicates included — asserted here three ways:
    Spark vs a Python model vs a live DuckDB replay of the oracle's
    window shape."""
    import hashlib

    import duckdb

    from dask_datapipeline_spark.operators.packing import shard_by_tokens

    df = spark.createDataFrame(docs, "doc_id long, n_tok long")
    got = sorted(
        (r.doc_id, r.n_tokens, r.stream_offset, r.shard_id)
        for r in shard_by_tokens(
            df, "doc_id", "n_tok", shard_tokens, n_buckets_bits=3
        ).collect()
    )

    def h(i: int) -> int:
        return int(hashlib.md5(f"shard:{i}".encode()).hexdigest()[:15], 16)

    cum, want = 0, []
    for doc_id, n in sorted(docs, key=lambda r: (h(r[0]), r[0], r[1])):
        want.append((doc_id, n, cum, cum // shard_tokens))
        cum += n
    assert got == sorted(want)

    con = duckdb.connect()
    con.execute("CREATE TABLE t0 (doc_id BIGINT, n_tokens BIGINT)")
    con.executemany("INSERT INTO t0 VALUES (?, ?)", docs)
    duck = con.execute(
        f"""
        WITH t AS (
          SELECT doc_id, n_tokens,
                 CAST(CONCAT('0x', SUBSTRING(md5('shard:' || doc_id), 1, 15)) AS BIGINT) AS h
          FROM t0
        ),
        c AS (
          SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY h, doc_id, n_tokens
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS so
          FROM t
        )
        SELECT doc_id, n_tokens, so, so // {shard_tokens} FROM c
        """
    ).fetchall()
    con.close()
    assert sorted(tuple(int(x) for x in r) for r in duck) == got


# ----- PPJoin prefix-filter math (operators/dedup.py) ----------------

_jt = st.sampled_from([0.1, 0.25, 1 / 3, 0.5, 0.55, 0.7, 0.8, 0.9])


@given(
    ns=st.lists(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=64),
    threshold=_jt,
)
@settings(**_SETTINGS)
def test_exact_ceil_mul_matches_fraction_ceiling(spark, ns, threshold):
    """_exact_ceil_mul must equal ceil(Fraction(t)·n) EXACTLY for any
    integer n — the prefix length is only safe with the true ceiling
    (float F.ceil can land one off where the product's rounding
    crosses an integer, which would shorten the prefix and silently
    drop qualifying pairs)."""
    import math
    from fractions import Fraction

    from dask_datapipeline_spark.operators.dedup import _exact_ceil_mul

    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r.n: r.c
        for r in df.select("n", _exact_ceil_mul(F.col("n"), threshold).alias("c")).collect()
    }
    frac = Fraction(threshold)
    for n in ns:
        assert got[n] == math.ceil(frac * n), (n, threshold)


@given(
    docs=st.lists(
        st.sets(st.integers(min_value=0, max_value=30), min_size=1, max_size=10),
        min_size=2,
        max_size=7,
    ),
    threshold=_jt,
)
@settings(**_SETTINGS)
def test_prefix_filter_allpairs_matches_brute_force(spark, docs, threshold):
    """The full prefix + positional-filter pipeline
    (_jaccard_allpairs_prefix) must emit EXACTLY the brute-force
    qualifying pair set with exact scores — pruning may only remove
    work, never results (and emitting sub-threshold pairs would be a
    filter bug on the other side)."""
    from fractions import Fraction

    from dask_datapipeline_spark.operators.dedup import _jaccard_allpairs_prefix

    rows = [(i, h) for i, d in enumerate(docs) for h in d]
    sh = spark.createDataFrame(rows, "doc_id long, __h long")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in _jaccard_allpairs_prefix(sh, "doc_id", threshold).collect()
    }
    frac = Fraction(threshold)
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(docs[a] & docs[b])
            union = len(docs[a] | docs[b])
            if Fraction(inter, union) >= frac:
                want[(a, b)] = inter / union
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abcdef ", min_size=8, max_size=40).filter(
            lambda t: len([w for w in t.split(" ") if w]) >= 3
        ),
        min_size=1,
        max_size=5,
    ),
    n_copies=st.integers(min_value=2, max_value=3),
)
@settings(**_SETTINGS)
def test_minhash_banding_never_misses_exact_duplicates(spark, texts, n_copies):
    """Identical documents have identical signatures, so they collide
    in EVERY band: the LSH candidate path must emit every exact-copy
    pair at threshold 1.0 (J = 1), for any corpus contents around
    them. A banding/signature bug that breaks this collides nothing
    reliably."""
    from dask_datapipeline_spark.operators.dedup import near_dup_pairs_minhash

    rows, next_id = [], 0
    copy_groups = []
    for t in texts:
        group = []
        for _ in range(n_copies):
            rows.append((next_id, t))
            group.append(next_id)
            next_id += 1
        copy_groups.append(group)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs_minhash(df, threshold=1.0).collect()
    }
    # dedupe text collisions between generated groups: expected pairs
    # derive from TEXT equality, not group membership
    by_text = defaultdict(list)
    for i, t in rows:
        by_text[t].append(i)
    want = {
        (a, b)
        for ids in by_text.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert want <= got
    # and nothing below threshold 1.0 sneaks in: every emitted pair
    # must be an exact-same-shingle-set pair
    sets = {
        i: {
            " ".join([w for w in t.lower().split(" ") if w][k : k + 3])
            for k in range(max(len([w for w in t.lower().split(" ") if w]) - 2, 0))
        }
        for i, t in rows
    }
    for a, b in got:
        assert sets[a] == sets[b]


@given(
    texts=st.lists(
        st.text(alphabet="abcde ", min_size=10, max_size=60).filter(
            lambda t: len([w for w in t.split(" ") if w]) >= 4
        ),
        min_size=2,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_simhash_banding_pigeonhole_completeness(spark, texts):
    """The 4×16-bit banding is DETERMINISTIC candidate generation: by
    pigeonhole, ANY pair within Hamming distance 3 agrees on at least
    one chunk, so simhash_near_dup_pairs must emit exactly the
    brute-force ≤3-distance pair set computed from the signatures —
    no probabilistic misses allowed, for any corpus."""
    from dask_datapipeline_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = {r.doc_id: (r.simhash_hi << 32) | r.simhash_lo for r in simhash(df).collect()}
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(df).collect()
    }
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_zorder_key_matches_python_interleave(spark, pairs):
    """zorder_key == bitwise Morton interleave; invertible, so locality
    is exactly the textbook z-curve's."""
    from dask_datapipeline_spark.functions.numeric import zorder_key

    df = spark.createDataFrame(pairs, "a long, b long")
    got = [
        r.z
        for r in df.select(zorder_key(F.col("a"), F.col("b")).alias("z"))
        .orderBy("a", "b")
        .collect()
    ]

    def interleave(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    want = [interleave(a, b) for a, b in sorted(pairs)]
    assert sorted(got) == sorted(want)


@given(
    n_nodes=st.integers(min_value=1, max_value=9),
    raw_edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        max_size=20,
    ),
)
@settings(**_SETTINGS)
def test_pagerank_matches_python_power_iteration(spark, n_nodes, raw_edges):
    """Spark pagerank == pure-Python power iteration replaying the
    IDENTICAL arithmetic (half-up 9-dp contribution rounding, exact
    decimal sums, damped IEEE double update) on random graphs —
    BIT-IDENTICAL floats, so a damping/iteration/rounding change can't
    silently drift away from the unrolled-CTE oracle. Duplicate edges
    and self-loops are kept (union, not distinct — each occurrence
    contributes), matching the operator's documented semantics."""
    from collections import Counter, defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    from dask_datapipeline_spark.operators.pagerank import pagerank

    nodes = list(range(n_nodes))
    edges = [(a, b) for a, b in raw_edges if a < n_nodes and b < n_nodes]

    nodes_df = spark.createDataFrame([(u,) for u in nodes], "doc_id long")
    if edges:
        pairs_df = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs_df = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["degree"], r["pagerank"])
        for r in pagerank(nodes_df, pairs_df).collect()
    }

    damping, iters = 0.85, 5
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    deg = Counter({u: len(vs) for u, vs in adj.items()})
    r0 = 1.0 / n_nodes
    base = (1.0 - damping) / n_nodes
    q = Decimal("1e-9")
    rank = {u: r0 for u in nodes}
    for _ in range(iters):
        sums: dict[int, Decimal] = defaultdict(lambda: Decimal(0))
        for u, vs in adj.items():
            c = Decimal(repr(rank[u] / deg[u])).quantize(q, ROUND_HALF_UP)
            for v in vs:
                sums[v] += c
        rank = {u: base + damping * float(sums[u]) for u in nodes}
    want = {u: (deg.get(u, 0), rank[u]) for u in nodes}
    assert got == want


@given(
    w=st.integers(min_value=8, max_value=24),
    h=st.integers(min_value=8, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_image_ahash_matches_python_model_through_codec(spark, w, h, seed):
    """encode_bmp → Spark image_ahash == an independent pure-Python
    aHash over the SAME pixels, for random images — pins the codec
    round-trip AND the integer cell-mean arithmetic together (a
    one-byte layout bug or a float sneaking into the mean test breaks
    this)."""
    import numpy as np
    import pandas as pd

    from dask_datapipeline_spark.multimodal.binary import encode_bmp, image_ahash

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0],
                "payload": [encode_bmp(px)],
                "meta": [{"kind": "image", "width": w, "height": h, "duration_ms": 0}],
            }
        )
    )
    row = image_ahash(df).collect()[0]
    got = (row["ahash_hi"] << 32) | row["ahash_lo"]

    # independent model: per-cell integer sums, exact cross-multiply
    want = 0
    gray = px.astype(int).sum(axis=2)
    total = int(gray.sum())
    for k in range(64):
        cy, cx = divmod(k, 8)
        ys = [y for y in range(h) if y * 8 // h == cy]
        xs = [x for x in range(w) if x * 8 // w == cx]
        csum = sum(int(gray[y][x]) for y in ys for x in xs)
        if csum * (w * h) > total * (len(ys) * len(xs)):
            want |= 1 << k
    assert got == want


@given(
    n=st.integers(min_value=64, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**_SETTINGS)
def test_audio_fingerprint_matches_python_model_through_codec(spark, n, seed):
    """encode_wav → Spark audio_fingerprint == independent pure-Python
    frame-energy hash over the same random samples."""
    import numpy as np
    import pandas as pd

    from dask_datapipeline_spark.multimodal.binary import (
        audio_fingerprint,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=n, dtype=np.int64).astype(np.int16)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0],
                "payload": [encode_wav(samples)],
                "meta": [{"kind": "audio", "width": 0, "height": 0, "duration_ms": 0}],
            }
        )
    )
    row = audio_fingerprint(df).collect()[0]
    got = (row["afp_hi"] << 32) | row["afp_lo"]

    a = [abs(int(s)) for s in samples]
    total = sum(a)
    want = 0
    for k in range(64):
        ts = [t for t in range(n) if t * 64 // n == k]
        fs = sum(a[t] for t in ts)
        if fs * n > total * len(ts):
            want |= 1 << k
    assert got == want


@given(
    lines=st.lists(
        st.sampled_from(["a", "bb", "", "line three", "x y", "bb", "zz"]),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_dedup_lines_matches_python_model(spark, lines):
    """dedup_lines_cols (round 12) == pure-Python first-occurrence
    filter over any line multiset, including blank runs — the array_
    distinct order assumption verified against the model, not assumed."""
    from dask_datapipeline_spark.functions.quality import dedup_lines_cols

    text = "\n".join(lines)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sig = dedup_lines_cols("text")
    row = df.select(
        sig["n_lines"].alias("n"),
        sig["n_unique"].alias("u"),
        sig["text_dedup"].alias("t"),
    ).first()
    seen: list[str] = []
    for ln in lines:
        if ln not in seen:
            seen.append(ln)
    assert row["n"] == len(lines)
    assert row["u"] == len(seen)
    assert row["t"] == "\n".join(seen)


@given(
    raws=st.lists(
        st.integers(min_value=-5000, max_value=5000), min_size=5, max_size=5
    ),
    n_grams=st.integers(min_value=1, max_value=200),
    tau=st.integers(min_value=0, max_value=20000),
)
@settings(**_SETTINGS)
def test_decide_lang_matches_integer_model(raws, n_grams, tau):
    """decide_lang (round 12) == the all-integer margin model for any
    raw-score vector: argmax with LANGS-order ties, 'und' iff
    (top1 - top2) * 1000 < tau * n_grams (strict)."""
    from dask_datapipeline_spark.operators import langid as L

    rd = dict(zip(L.LANGS, raws))
    best = max(raws)
    pred = next(lg for lg in L.LANGS if rd[lg] == best)
    second = max(v for lg, v in rd.items() if lg != pred)
    want = L.UND if (best - second) * 1000 < tau * n_grams else pred
    assert L.decide_lang(rd, n_grams, tau) == want
    assert L.decide_lang(rd, n_grams, None) == pred


# random codepoint soup, deliberately including astral-plane chars
# (emoji, CJK ext-B) the BMP-range profile must count as 'other' —
# surrogates excluded (not expressible in valid UTF-8 interchange)
_uni_char = st.one_of(
    st.characters(min_codepoint=0x20, max_codepoint=0x2FF),
    st.characters(min_codepoint=0x3000, max_codepoint=0x9FFF),
    st.characters(min_codepoint=0xAC00, max_codepoint=0xD7AF),
    st.characters(min_codepoint=0x1F300, max_codepoint=0x1F6FF),  # emoji
    st.characters(min_codepoint=0x20000, max_codepoint=0x2003F),  # ext-B
    st.sampled_from(list("  \n\t.!?的の가дق")),
)
_uni_text = st.text(_uni_char, min_size=0, max_size=60)


@given(texts=st.lists(_uni_text, min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_script_profile_matches_duckdb_and_python_on_soup(spark, texts):
    """Unicode-soup fuzz over the round-13 script profile: the Spark
    codegen device, the DuckDB regex replay, and the pure-Python
    codepoint walk agree on every count and route for arbitrary
    codepoints — INCLUDING astral-plane chars, where a UTF-16
    code-unit length() would break the length-difference trick (both
    engines count codepoints, pinned here rather than assumed)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.operators import scripts as S

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: tuple(r)
        for r in S.script_profile(df, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {r[0]: tuple(r) for r in con.execute(S.script_profile_sql()).fetchall()}
    assert got == want
    for i, t in rows:
        c = S.py_script_counts(t)
        assert got[i][1] == c["n_chars"], (i, t)
        assert got[i][-2] == c["n_letters"], (i, t)
        assert got[i][-1] == S.py_route(t), (i, t)


@given(texts=st.lists(_uni_text, min_size=1, max_size=8))
@settings(**_SETTINGS)
def test_routed_quality_keep_matches_duckdb_on_soup(spark, texts):
    """The routed quality keep (CJK tier / Gopher / shape subset) is
    engine-bit-identical on arbitrary unicode soup — the div-by-zero
    guards (empty text, all-empty lines) and the per-route CASE arms
    all land the same on both sides."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.functions import quality as Q
    from dask_datapipeline_spark.operators import scripts as S

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prof = S.script_profile(df, "doc_id", "text").select("doc_id", "script")
    got = {
        r["doc_id"]: (r["script"], r["keep"])
        for r in df.join(prof, "doc_id")
        .select(
            "doc_id", "script",
            Q.quality_keep_routed("text", "script").alias("keep"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = f"""
WITH p AS (SELECT doc_id, text FROM documents),
pr AS ({S.script_profile_sql(src="p")})
SELECT p.doc_id, pr.script,
       {Q.quality_keep_routed_sql("p.text", "pr.script")} AS keep
FROM p JOIN pr ON p.doc_id = pr.doc_id
"""
    want = {r[0]: (r[1], bool(r[2])) for r in con.execute(sql).fetchall()}
    assert got == want


@given(texts=st.lists(_uni_text, min_size=1, max_size=12))
@settings(**_SETTINGS)
def test_unsegmented_route_col_matches_full_route_on_soup(spark, texts):
    """The 3-regex char-tier probe (round-14 optimization of the
    routed shingler) equals full-route membership — for every unicode
    soup row, ``unsegmented_route_col`` == ``py_route(text) in
    UNSEGMENTED_ROUTES``. This is the equivalence proof the routed
    near-dup family's cheaper mode bit rests on (disjoint ranges ⇒
    union count = sum; at most one strict majority)."""
    from dask_datapipeline_spark.operators import scripts as S

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["m"]
        for r in df.select(
            "doc_id", S.unsegmented_route_col("text").alias("m")
        ).collect()
    }
    for i, t in rows:
        assert got[i] == (S.py_route(t) in S.UNSEGMENTED_ROUTES), (i, t)


@given(texts=st.lists(st.text(_uni_char, min_size=0, max_size=40), min_size=2, max_size=8))
@settings(**_SETTINGS)
def test_char_shingles_match_python_model(spark, texts):
    """char_shingles == the sliding-window Python model on arbitrary
    codepoints (incl. astral) for several n."""
    from dask_datapipeline_spark.operators.dedup import char_shingles

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (2, 3, 5):
        got = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", char_shingles("text", n).alias("sh")
            ).collect()
        }
        for i, t in rows:
            lo = t.lower()
            want = [lo[j : j + n] for j in range(max(len(lo) - n + 1, 0))]
            assert got[i] == want, (i, t, n)


# ----- round-14 cross-engine text devices on unicode soup ----------------

_r14_routes = st.sampled_from(
    ["latin", "zh", "ja", "th", "und-Deva", "und-Arab", "ko", "und"]
)
_term_soup = st.text(
    st.one_of(
        _uni_char,
        st.sampled_from(list("。！？।॥؟۔….!?")),
    ),
    min_size=0,
    max_size=50,
)


@given(
    rows=st.lists(
        st.tuples(_term_soup, _r14_routes), min_size=1, max_size=10
    )
)
@settings(**_SETTINGS)
def test_sentence_count_soup_three_way(spark, rows):
    """Route-keyed sentence-run counting (round 14) is bit-identical
    across Spark regexp_count, DuckDB regexp_extract_all, and the
    Python twin on arbitrary soup including every terminator mark and
    astral chars."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.operators import scripts as S

    data = [(i, t, r) for i, (t, r) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, text string, script string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id",
            S.sentence_count_col("text", "script").alias("n"),
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "soup", pd.DataFrame(data, columns=["doc_id", "text", "script"])
    )
    expr = S.sentence_count_sql("text", "script")
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, {expr} FROM soup"
        ).fetchall()
    }
    assert got == want
    for i, t, route in data:
        assert got[i] == S.py_sentence_count(t, route), (t, route)


_code_soup = st.lists(
    st.one_of(
        _uni_char,
        st.sampled_from(list("{};\n\t ")),
        st.sampled_from(["    ", "\n    ", "\n\t"]),
    ),
    min_size=0,
    max_size=40,
).map("".join)


@given(texts=st.lists(_code_soup, min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_code_signals_soup_three_way(spark, texts):
    """Code structure signals + code_like (round 14) agree across the
    three implementations on brace/indent/newline soup with astral
    chars mixed in (codepoint length semantics pinned, not assumed)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.functions import code as C

    names = ["n_lines", "n_indented", "n_braces", "n_semicolons",
             "max_line_len"]
    data = list(enumerate(texts))
    df = spark.createDataFrame(data, "doc_id long, text string")
    sig = C.code_signal_cols(F.col("text"))
    sdf = df.select("doc_id", *[sig[k].alias(k) for k in names])
    sdf = sdf.withColumn(
        "code_like", C.code_like_col({k: F.col(k) for k in names})
    )
    got = {r["doc_id"]: r.asDict() for r in sdf.collect()}

    con = duckdb.connect()
    con.register("soup", pd.DataFrame(data, columns=["doc_id", "text"]))
    sel = ", ".join(f"{v} AS {k}" for k, v in C.code_signal_sql("text").items())
    duck = con.execute(
        f"SELECT doc_id, {sel} FROM soup"
    ).fetchall()
    for row in duck:
        i = row[0]
        py = C.py_code_signals(texts[i])
        for j, k in enumerate(names):
            assert got[i][k] == py[k] == row[j + 1], (texts[i], k)
        assert got[i]["code_like"] == C.py_code_like(texts[i])


_fold_soup = st.text(
    st.one_of(
        _uni_char,
        st.sampled_from(
            list("аеорсухАВЕКМНОРСТУХΑΒΕΟΡΤοｆｕｌｌＡ０")
        ),
    ),
    min_size=0,
    max_size=60,
)


@given(texts=st.lists(_fold_soup, min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_homoglyph_fold_soup_three_way_and_idempotent(spark, texts):
    """fold_homoglyphs (round 14) is engine-identical and idempotent
    on confusable-rich soup (the dst alphabet is pure ASCII, which the
    fold maps to itself)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.functions import normalize as N

    data = list(enumerate(texts))
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", N.fold_homoglyphs(F.col("text")).alias("f")
        ).collect()
    }
    con = duckdb.connect()
    con.register("soup", pd.DataFrame(data, columns=["doc_id", "text"]))
    want = dict(
        con.execute(
            f"SELECT doc_id, {N.fold_homoglyphs_sql('text')} FROM soup"
        ).fetchall()
    )
    assert got == want
    for i, t in data:
        py = N.fold_homoglyphs_py(t)
        assert got[i] == py, t
        assert N.fold_homoglyphs_py(py) == py  # idempotent


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    ),
    phrase=st.lists(st.sampled_from("ab"), min_size=1, max_size=3),
)
@settings(**_SETTINGS)
def test_phrase_search_soup_three_way(spark, docs, phrase):
    """Anchor-device phrase matching (round 14) equals the sliding-
    window Python model and the DuckDB replay on overlap-rich
    two-token-alphabet corpora (worst case for anchor collisions)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.operators import phrase as P

    data = list(enumerate(docs))
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_matches"]
        for r in P.phrase_search(df, phrase).collect()
    }
    want_py = {
        i: n
        for i, t in data
        if (n := P.py_phrase_count(t, phrase)) > 0
    }
    assert got == want_py

    con = duckdb.connect()
    con.register("soupdocs", pd.DataFrame(data, columns=["doc_id", "text"]))
    want_sql = dict(
        con.execute(
            P.phrase_search_oracle_sql(list(phrase), src="soupdocs")
        ).fetchall()
    )
    assert got == want_sql


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=8).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    bench=st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=3).map(
            " ".join
        ),
        min_size=1,
        max_size=3,
    ),
)
@settings(**_SETTINGS)
def test_phrase_decontaminate_soup_matches_python(spark, docs, bench):
    """The batch probe equals the per-(doc, phrase) sliding-window
    Python count on random small-alphabet corpora and benchmark sets
    (duplicate benchmark sentences allowed — each phrase_id matches
    independently)."""
    from dask_datapipeline_spark.operators import phrase as P

    ddf = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    pdf = spark.createDataFrame(
        list(enumerate(bench)), "phrase_id long, text string"
    )
    got = {
        (r["doc_id"], r["phrase_id"]): r["n_matches"]
        for r in P.phrase_decontaminate(ddf, pdf).collect()
    }
    want = {}
    for pid, sent in enumerate(bench):
        for i, t in enumerate(docs):
            n = P.py_phrase_count(t, sent.split(" "))
            if n > 0:
                want[(i, pid)] = n
    assert got == want


@given(texts=st.lists(_uni_text, min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_script_mix_soup_three_way(spark, texts):
    """Mixed-script signals agree across Spark / DuckDB / Python on
    arbitrary soup (astral chars count toward no script and can never
    make a page mixed by themselves)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.operators import scripts as S

    data = list(enumerate(texts))
    df = spark.createDataFrame(data, "doc_id long, text string")
    counts = S.script_count_cols("text")
    step = df.select("doc_id", *[counts[k].alias(k) for k in counts])
    mix = S.script_mix_cols({k: F.col(k) for k in counts})
    got = {
        r["doc_id"]: (
            r["n_scripts_present"], r["n_scripts_major"], r["mixed_script"]
        )
        for r in step.select(
            "doc_id", *[mix[k].alias(k) for k in mix]
        ).collect()
    }
    con = duckdb.connect()
    con.register("soup", pd.DataFrame(data, columns=["doc_id", "text"]))
    csql = S.script_count_sql("text")
    ccols = ", ".join(
        f"{v} AS {k}" for k, v in csql.items() if k != "n_letters"
    )
    msql = S.script_mix_sql()
    rows = con.execute(
        f"WITH c AS (SELECT doc_id, {ccols} FROM soup), "
        f"p AS (SELECT *, {csql['n_letters']} AS n_letters FROM c) "
        f"SELECT doc_id, {msql['n_scripts_present']}, "
        f"{msql['n_scripts_major']}, {msql['mixed_script']} FROM p"
    ).fetchall()
    assert got == {r[0]: (r[1], r[2], bool(r[3])) for r in rows}
    for i, t in data:
        m = S.py_script_mix(t)
        assert got[i] == (
            m["n_scripts_present"], m["n_scripts_major"], m["mixed_script"]
        ), t
