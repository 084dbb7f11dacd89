"""Round-5 additions: keep-best survivor policy, inverted index,
correlated scalar-aggregate SQL (Q17 shape)."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators import dedup as DD
from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG
from dask_datapipeline_spark.sources.readers import load_testdata


# ----- keep_best -----------------------------------------------------


def test_keep_best_picks_argmax_with_min_id_tiebreak(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        ["doc_id", "cluster_id"],
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, None), (6, None)],
        "doc_id long, quality double",
    )
    out = {r.doc_id: r.keep for r in DD.keep_best(clusters, scores).collect()}
    # cluster 1: 2 and 3 tie at 0.9 -> min id 2 survives
    # cluster 4: singleton survives; cluster 5: all-NULL -> min id 5
    assert out == {1: False, 2: True, 3: False, 4: True, 5: True, 6: False}


def test_keep_best_null_scores_sort_last(spark):
    clusters = spark.createDataFrame([(1, 1), (2, 1)], ["doc_id", "cluster_id"])
    scores = spark.createDataFrame(
        [(1, None), (2, 0.01)], "doc_id long, quality double"
    )
    out = {r.doc_id: r.keep for r in DD.keep_best(clusters, scores).collect()}
    assert out == {1: False, 2: True}  # any score beats NULL


def test_keep_best_exactly_one_survivor_per_cluster(spark, sf_dir):
    rows = EXTRA_CATALOG["keep_best_dedup"].fn(spark, sf_dir).collect()
    per_cluster = defaultdict(int)
    for r in rows:
        per_cluster[r.cluster_id] += bool(r.keep)
    assert per_cluster and all(v == 1 for v in per_cluster.values())
    # keep-best never keeps a lower-quality doc when a higher one exists
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for members in by_cluster.values():
        kept = next(m for m in members if m.keep)
        for m in members:
            if m.quality is not None and kept.quality is not None:
                assert m.quality <= kept.quality or (
                    m.quality == kept.quality and kept.doc_id <= m.doc_id
                )


def test_keep_best_missing_columns_raise(spark):
    clusters = spark.createDataFrame([(1, 1)], ["doc_id", "cluster_id"])
    bad = spark.createDataFrame([(1,)], ["doc_id"])
    with pytest.raises(KeyError):
        DD.keep_best(clusters, bad)


# ----- inverted index ------------------------------------------------


def test_inverted_index_matches_python_model(spark, sf_dir):
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "text").collect()
    postings = defaultdict(set)
    for r in docs:
        if r.text is None:
            continue
        for tok in set(r.text.lower().split(" ")):
            if tok:
                postings[tok].add(r.doc_id)
    expect = {
        t: (len(ids), ",".join(str(i) for i in sorted(ids)[:16]))
        for t, ids in postings.items()
        if len(ids) >= 4
    }
    got = {
        r.token: (r.df, r.postings)
        for r in EXTRA_CATALOG["inverted_index"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_inverted_index_caps_postings_not_df(spark, sf_dir):
    out = EXTRA_CATALOG["inverted_index"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        n = len(r.postings.split(","))
        assert n == min(r.df, 16)


# ----- sql_q17ish ----------------------------------------------------


def test_sql_q17ish_matches_duckdb(spark, sf_dir):
    got = {
        r.p_brand: (r.n_small, r.avg_yearly)
        for r in EXTRA_CATALOG["sql_q17ish"].fn(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(EXTRA_CATALOG["sql_q17ish"].oracle).fetchall()
    }
    assert got == want  # exact — including the double avg_yearly


def test_sql_q17ish_decorrelated_plan(spark, sf_dir):
    df = EXTRA_CATALOG["sql_q17ish"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the correlated scalar subquery must be decorrelated into joins —
    # no per-row subquery node survives in the physical plan
    assert "Subquery" not in plan


# ----- table_diff ----------------------------------------------------


def test_table_diff_classifies_all_four_states(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    rev = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "now-set"), (5, "e")], "k long, v string"
    )
    got = {r.k: r.diff_status for r in table_diff(base, rev, ["k"], ["v"]).collect()}
    # NULL -> value is a CHANGE (null-safe compare), not unchanged
    assert got == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}


def test_table_diff_composite_key_and_multi_compare(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    base = spark.createDataFrame(
        [(1, "x", 10, "p"), (1, "y", 20, "q")], "k1 long, k2 string, a long, b string"
    )
    rev = spark.createDataFrame(
        [(1, "x", 10, "p"), (1, "y", 20, "Q")], "k1 long, k2 string, a long, b string"
    )
    got = {
        (r.k1, r.k2): r.diff_status
        for r in table_diff(base, rev, ["k1", "k2"], ["a", "b"]).collect()
    }
    assert got == {(1, "x"): "unchanged", (1, "y"): "changed"}


def test_table_diff_converged_merge_is_all_unchanged(spark, sf_dir):
    # applying a change batch then diffing result-vs-result: no drift
    from dask_datapipeline_spark.operators.merge import table_diff

    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "text")
    out = table_diff(docs, docs, ["doc_id"], ["text"])
    assert out.where(F.col("diff_status") != "unchanged").count() == 0


# ----- vocab_growth --------------------------------------------------


def test_vocab_growth_monotone_and_totals(spark, sf_dir):
    rows = sorted(
        EXTRA_CATALOG["vocab_growth"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows
    docs = load_testdata(spark, sf_dir, "documents").select("doc_id", "text").collect()
    toks = [t for r in docs if r.text is not None
            for t in r.text.lower().split(" ") if t]
    vocab = {t for r in docs if r.text is not None
             for t in r.text.lower().split(" ") if t}
    # curve is nondecreasing and ends at the corpus totals
    for a, b in zip(rows, rows[1:]):
        assert a.cum_tokens <= b.cum_tokens and a.cum_vocab <= b.cum_vocab
    assert rows[-1].cum_tokens == len(toks)
    assert rows[-1].cum_vocab == len(vocab)


# ----- empty-input behavior ------------------------------------------


def test_round5_ops_accept_empty_inputs(spark):
    from dask_datapipeline_spark.operators.merge import table_diff

    empty_cl = spark.createDataFrame([], "doc_id long, cluster_id long")
    empty_sc = spark.createDataFrame([], "doc_id long, quality double")
    assert DD.keep_best(empty_cl, empty_sc).count() == 0

    empty_t = spark.createDataFrame([], "k long, v string")
    assert table_diff(empty_t, empty_t, ["k"], ["v"]).count() == 0
    # one-sided empty: everything classifies as added
    rev = spark.createDataFrame([(1, "a")], "k long, v string")
    out = table_diff(empty_t, rev, ["k"], ["v"]).collect()
    assert [(r.k, r.diff_status) for r in out] == [(1, "added")]


# ----- write_zordered ------------------------------------------------


def test_write_zordered_files_prune_on_both_dimensions(spark, sf_dir, tmp_path):
    import glob as g

    import pyarrow.parquet as pq

    from dask_datapipeline_spark.sources.writers import write_zordered

    ev = load_testdata(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) DIV 60000000").alias("minute"),
    )
    n_rows = ev.count()
    dest = str(tmp_path / "zorder")
    write_zordered(ev, dest, "user_id", "minute", n_files=8)

    files = sorted(g.glob(dest + "/part-*.parquet"))
    assert len(files) > 1

    def stats(col):
        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == n_rows  # layout, not a filter

    # a point predicate on EITHER dimension must skip at least one file
    # via footer min/max — the property a linear single-column sort
    # cannot give for both columns at once
    for col in ("user_id", "minute"):
        spans = stats(col)
        glo, ghi = min(s[0] for s in spans), max(s[1] for s in spans)
        probe = glo  # the smallest value: z-layout confines it to few files
        hit = sum(1 for lo, hi in spans if lo <= probe <= hi)
        assert hit < len(files), f"no pruning on {col}: {spans}"


def test_write_zordered_rejects_empty_and_bad_args(spark, tmp_path):
    from dask_datapipeline_spark.errors import EmptyInputError
    from dask_datapipeline_spark.sources.writers import write_zordered

    empty = spark.createDataFrame([], "a long, b long")
    with pytest.raises(EmptyInputError):
        write_zordered(empty, str(tmp_path / "z1"), "a", "b")
    one = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        write_zordered(one, str(tmp_path / "z2"), "a", "b", n_files=0)


# ----- key_skew_profile ----------------------------------------------


def test_key_skew_profile_exact_median_and_max(spark):
    from dask_datapipeline_spark.operators.aggregates import key_skew_profile

    # multiplicities: a->1, b->2, c->2, d->5  => K=4, median=2, max=5
    rows = (
        [("a",)] + [("b",)] * 2 + [("c",)] * 2 + [("d",)] * 5
    )
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.max_count, r.p50_count) == (10, 4, 5, 2)
    assert r.skew_ratio == 2.5
    assert r.key == "k"


def test_key_skew_profile_counts_null_keys(spark):
    from dask_datapipeline_spark.operators.aggregates import key_skew_profile

    df = spark.createDataFrame(
        [(None,), (None,), (None,), (1,)], "k int"
    )
    r = key_skew_profile(df, "k", label="nullable").collect()[0]
    # NULL is the hottest "key" — it must be counted, not dropped
    assert (r.n_rows, r.n_keys, r.max_count) == (4, 2, 3)
    assert r.key == "nullable"


# ----- triangle_count ------------------------------------------------


def test_triangle_count_matches_python_model(spark, sf_dir):
    from itertools import combinations

    r = EXTRA_CATALOG["triangle_count"].fn(spark, sf_dir).collect()[0]
    # rebuild the same fuzzy-match graph in python
    cust = load_testdata(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 5 == 0
    ).select("c_custkey", "c_name").collect()

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from collections import defaultdict as dd
    blocks = dd(list)
    for row in cust:
        blocks[row.c_name[:-2]].append((row.c_custkey, row.c_name))
    edges = set()
    for members in blocks.values():
        for (ka, na), (kb, nb) in combinations(sorted(members), 2):
            if lev(na, nb) <= 2:
                edges.add((ka, kb))
    adj = dd(set)
    for u, v in edges:
        adj[u].add(v); adj[v].add(u)
    tris = sum(
        1 for u, v in edges for w in (adj[u] & adj[v]) if v < w
    )
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (
        len(adj), len(edges), wedges, tris
    )
    if wedges:
        assert r.clustering == pytest.approx(3 * tris / wedges)


# ----- DSIR importance scoring ---------------------------------------


def _dsir_corpus(spark):
    # target (lang en) speaks "alpha beta", pool noise speaks "gamma delta"
    rows = [
        (1, "alpha beta alpha beta", "en"),
        (2, "alpha beta beta alpha", "en"),
        (3, "gamma delta gamma delta", "xx"),
        (4, "gamma delta delta gamma", "xx"),
        (5, "alpha beta alpha gamma", "xx"),  # target-like but out of target
        (6, None, "en"),  # NULL text -> excluded
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_dsir_target_vocab_scores_above_pool_vocab(spark):
    from dask_datapipeline_spark.operators.dsir import dsir_scores

    out = {
        r.doc_id: r
        for r in dsir_scores(_dsir_corpus(spark), F.col("lang") == "en").collect()
    }
    assert 6 not in out  # NULL text carries no evidence
    # pure-target-vocab docs outscore pure-pool-vocab docs, and the
    # target-like outsider (5) lands in between its two poles
    assert out[1].logw > out[5].logw > out[3].logw
    assert out[1].keep and out[2].keep and not out[3].keep and not out[4].keep
    # token counts are exact
    assert all(out[i].n_tok == 4 for i in (1, 2, 3, 4, 5))


def test_dsir_partitioning_invariant(spark, sf_dir):
    from dask_datapipeline_spark.operators.dsir import dsir_scores

    docs = load_testdata(spark, sf_dir, "documents")
    a = dsir_scores(docs, F.col("lang") == "en")
    b = dsir_scores(docs.repartition(7, "doc_id"), F.col("lang") == "en")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_dsir_matches_python_model(spark):
    import hashlib
    import math

    from dask_datapipeline_spark.operators.dsir import DSIR_BUCKETS, dsir_scores

    docs = _dsir_corpus(spark)
    out = {r.doc_id: r.logw for r in dsir_scores(docs, F.col("lang") == "en").collect()}

    def bucket(tok):
        return int(hashlib.md5(f"dsir:{tok}".encode()).hexdigest()[:15], 16) % DSIR_BUCKETS

    data = [(d, t.split(" "), lang) for d, t, lang in [
        (1, "alpha beta alpha beta", "en"),
        (2, "alpha beta beta alpha", "en"),
        (3, "gamma delta gamma delta", "xx"),
        (4, "gamma delta delta gamma", "xx"),
        (5, "alpha beta alpha gamma", "xx"),
    ]]
    cr, ct = defaultdict(int), defaultdict(int)
    for _, toks, lang in data:
        for t in toks:
            cr[bucket(t)] += 1
            if lang == "en":
                ct[bucket(t)] += 1
    tt = sum(ct.values())
    tn = sum(cr.values()) - tt
    a, b = float(tn + DSIR_BUCKETS), float(tt + DSIR_BUCKETS)
    for d, toks, _ in data:
        s = 0
        per = defaultdict(int)
        for t in toks:
            per[bucket(t)] += 1
        for bk, c in per.items():
            cn = cr[bk] - ct[bk]
            lam = round(math.log((ct[bk] + 1) * a / ((cn + 1) * b)), 9)
            s += c * int(round(lam * 10**9))
        assert abs(out[d] - s / 10**9) < 1e-12, d


# ----- sliding-window chunking ---------------------------------------


def test_chunk_documents_geometry_and_coverage(spark):
    from dask_datapipeline_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(80))),  # 80 toks -> 3 chunks
            (2, " ".join(f"t{i}" for i in range(32))),  # exactly one window
            (3, "a b"),                                  # shorter than window
            (4, None),                                   # no rows
            (5, " ".join(f"t{i}" for i in range(33))),  # one token over
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, window=32, stride=24).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == {1, 2, 3, 5}
    # doc 1: ceil((80-32)/24)=2 extra chunks; starts 1, 25, 49
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [(r.start, r.chunk_len) for r in d1] == [(1, 32), (25, 32), (49, 32)]
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_len == 32
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_len == 2
    # doc 5: tail chunk starts at 25, len 33-24=9 (overlap-covered, not dropped)
    d5 = sorted(by_doc[5], key=lambda r: r.chunk_id)
    assert [(r.start, r.chunk_len) for r in d5] == [(1, 32), (25, 9)]
    # every token position covered
    for did, rs in by_doc.items():
        n = max(r.start + r.chunk_len - 1 for r in rs)
        covered = set()
        for r in rs:
            covered |= set(range(r.start, r.start + r.chunk_len))
        assert covered == set(range(1, n + 1)), did


def test_chunk_documents_rejects_bad_geometry(spark):
    from dask_datapipeline_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(docs, window=8, stride=9)
    with pytest.raises(ValueError):
        chunk_documents(docs, window=8, stride=0)


# ----- PageRank ------------------------------------------------------


def test_pagerank_matches_python_model(spark):
    from dask_datapipeline_spark.operators.pagerank import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    # triangle 1-2-3, pendant 4 off 3, pair 5-6, isolated 7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    out = {r.doc_id: r for r in pagerank(nodes, pairs).collect()}

    adj = defaultdict(set)
    for a, b in [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)]:
        adj[a].add(b)
        adj[b].add(a)
    n, d = 7, 0.85
    r = {i: 1.0 / n for i in range(1, 8)}
    for _ in range(5):
        s = defaultdict(int)
        for u, nbrs in adj.items():
            c = int(round(round(r[u] / len(nbrs), 9) * 10**9))
            for v in nbrs:
                s[v] += c
        r = {i: (1.0 - d) / n + d * (s[i] / 10**9) for i in range(1, 8)}
    for i in range(1, 8):
        assert out[i].pagerank == pytest.approx(r[i], abs=1e-12), i
    assert out[7].degree == 0 and out[7].pagerank == pytest.approx((1 - d) / n)
    # hub 3 outranks everything else
    assert max(range(1, 8), key=lambda i: out[i].pagerank) == 3


def test_pagerank_partitioning_invariant(spark):
    from dask_datapipeline_spark.operators.pagerank import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40],
        "id_a long, id_b long",
    )
    a = sorted(map(tuple, pagerank(nodes, pairs).collect()))
    b = sorted(
        map(
            tuple,
            pagerank(nodes.repartition(7), pairs.repartition(5)).collect(),
        )
    )
    assert a == b
