"""Round-10 pins.

The round-9 ADVICE fixes:

1. ``stream_incremental_hll`` — a crash between the two snapshot-swap
   renames is healed at next batch start (the ``.old-*`` snapshot is
   restored; orphans are swept);
2. ``robots_allowed`` — RFC 9309 most-specific group: when a host has
   exact-agent rules, the ``*`` group is ignored for that agent;
3. robots_allow oracle TRY_CAST (pinned via test_oracle_sql_parses);
4. WARC responses without an HTTP Content-Length (chunked transfer)
   parse the remainder of the WARC block, not an empty body.

And the round-10 operator work:

- mixed-record WARC streams (warcinfo/request/response/metadata)
  route by WARC-Type; WET conversion records round-trip;
- scale-safe ntile / vocab caps (two-pass prefix-sum deciles,
  TakeOrdered vocab caps) — pinned in test_plan_shapes.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_HYP = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# ----- robots.txt most-specific group ---------------------------------


def _robots_rules(spark, txt: str):
    from dask_datapipeline_spark.functions.robots import parse_robots

    hosts = spark.createDataFrame(
        [("h.example", txt)], "host string, robots_txt string"
    )
    return parse_robots(hosts)


def test_robots_exact_agent_group_suppresses_star(spark):
    from dask_datapipeline_spark.functions.robots import robots_allowed

    rules = _robots_rules(
        spark,
        "User-agent: *\nDisallow: /\n\n"
        "User-agent: goodbot\nDisallow: /private\n",
    )
    urls = spark.createDataFrame(
        [(1, "h.example", "/articles/x"), (2, "h.example", "/private/x")],
        "id long, host string, path string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="goodbot").collect()
    }
    # the * group's Disallow:/ must NOT leak into goodbot's decision
    assert got == {1: True, 2: False}


def test_robots_star_group_still_applies_without_exact(spark):
    from dask_datapipeline_spark.functions.robots import robots_allowed

    rules = _robots_rules(
        spark,
        "User-agent: *\nDisallow: /private\n\n"
        "User-agent: evilbot\nDisallow: /\n",
    )
    urls = spark.createDataFrame(
        [(1, "h.example", "/private/x"), (2, "h.example", "/ok")],
        "id long, host string, path string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="goodbot").collect()
    }
    assert got == {1: False, 2: True}
    # and the * caller keeps plain union-free * semantics
    star = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="*").collect()
    }
    assert star == {1: False, 2: True}


# ----- WARC: missing HTTP Content-Length ------------------------------


def test_warc_response_without_http_content_length(spark):
    from dask_datapipeline_spark.sources.warc import parse_warc

    body = b"hello chunked world"
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n"
        b"Transfer-Encoding: chunked\r\n"
        b"\r\n" + body
    )
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.example/a\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n"
        b"\r\n" + http + b"\r\n\r\n"
    )
    df = spark.createDataFrame([(bytearray(rec),)], "payload binary")
    rows = parse_warc(df).collect()
    assert len(rows) == 1
    assert rows[0]["text"] == body.decode()
    assert rows[0]["http_status"] == 200


# ----- WARC: mixed-record routing + WET round trip ---------------------


def test_warc_mixed_records_route_by_type(spark):
    from dask_datapipeline_spark.sources.warc import (
        parse_warc,
        parse_warc_typed,
        write_warc_batches,
    )

    docs = spark.createDataFrame(
        [(0, "https://x.example/a", "alpha"), (0, "https://x.example/b", "beta")],
        "batch_id long, url string, text string",
    )
    warc = write_warc_batches(docs, gzip_records=True, mixed_records=True)
    typed = parse_warc_typed(warc).toPandas()
    counts = typed["record_type"].value_counts().to_dict()
    assert counts == {
        "warcinfo": 1,
        "request": 2,
        "response": 2,
        "metadata": 2,
    }
    resp = typed[typed["record_type"] == "response"].sort_values("url")
    assert list(resp["text"]) == ["alpha", "beta"]
    # the response-only reader sees exactly the responses, nothing else
    plain = parse_warc(warc).toPandas().sort_values("url")
    assert list(plain["text"]) == ["alpha", "beta"]
    # request records carry the GET line for their URL
    req = typed[typed["record_type"] == "request"].sort_values("url")
    assert all(t.startswith("GET /") for t in req["text"])


def test_wet_conversion_round_trip(spark):
    from dask_datapipeline_spark.sources.warc import (
        parse_warc_typed,
        write_wet_batches,
    )

    docs = spark.createDataFrame(
        [(0, "https://x.example/a", "extracted text é中")],
        "batch_id long, url string, text string",
    )
    out = parse_warc_typed(write_wet_batches(docs)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["record_type"] == "conversion"
    assert r["url"] == "https://x.example/a"
    assert r["text"] == "extracted text é中"
    assert r["http_status"] == 0


# ----- distributed global rank / ntile ---------------------------------


def test_global_ntile_matches_window_ntile(spark):
    """The two-pass prefix-sum ntile must be bit-identical to Spark's
    own global-window ntile — including negative keys (truncating DIV
    buckets), ties broken by the unique key, and N < k."""
    from pyspark.sql.window import Window

    from dask_datapipeline_spark.operators.ranks import global_ntile

    rows = [(v, i) for i, v in enumerate([5, -3, -3, 7, 0, 2, 2, 2, -8, 11, 4, -1])]
    df = spark.createDataFrame(rows, "v long, id long").repartition(4)
    for k in (1, 3, 5, 10, 12, 20):
        got = {
            (r["v"], r["id"]): r["tile"]
            for r in global_ntile(
                df, ["v", "id"], F.expr("v DIV 4"), k
            ).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            (r["v"], r["id"]): r["tile"]
            for r in df.select("v", "id", F.ntile(k).over(w).alias("tile")).collect()
        }
        assert got == want, f"k={k}"


def test_global_rank_is_dense_and_total(spark):
    from dask_datapipeline_spark.operators.ranks import global_rank

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "v long, id long"
    ).repartition(8)
    out = global_rank(df, ["v", "id"], F.col("v"), rank_col="rn", total_col="n")
    pdf = out.toPandas().sort_values(["v", "id"]).reset_index(drop=True)
    assert list(pdf["rn"]) == list(range(1, 101))
    assert set(pdf["n"]) == {100}


def test_global_ntile_plan_has_no_single_partition_sort(spark):
    """The whole point: the plan must carry NO Exchange SinglePartition
    over the input — only the bounded bucket-table window may
    single-partition."""
    from dask_datapipeline_spark.operators.ranks import global_ntile

    df = spark.range(1000).select(
        (F.col("id") % 97).alias("v"), F.col("id").alias("id")
    )
    out = global_ntile(df, ["v", "id"], F.expr("v DIV 10"), 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the one SinglePartition exchange sits above the bucket-count
    # aggregate (bounded); the corpus-side window is hash-partitioned
    import re

    for m in re.finditer("Exchange SinglePartition", plan):
        following = plan[m.end():]
        assert "HashAggregate" in following.split("Scan")[0] or \
            "HashAggregate" in following[:2000], plan


# ----- index-backed BM25 ------------------------------------------------


def test_bm25_from_index_bit_identical_to_live(spark, sf_dir, tmp_path):
    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk,
        bm25_topk_from_index,
        build_bm25_index,
    )
    from dask_datapipeline_spark.sources.readers import load_testdata

    docs = load_testdata(spark, sf_dir, "documents")
    idx = str(tmp_path / "bm25_index")
    build_bm25_index(docs, idx)
    terms = ["dup", "vector", "spark"]
    live = bm25_topk(docs, terms, k=15).collect()
    from_idx = bm25_topk_from_index(spark, idx, terms, k=15).collect()
    assert [tuple(r) for r in from_idx] == [tuple(r) for r in live]


def test_bm25_index_probe_scans_postings_not_corpus(spark, sf_dir, tmp_path):
    """The plan contract: the probe reads the postings files with the
    query-term IN filter PUSHED into the scan; the documents corpus
    appears nowhere."""
    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
    )
    from dask_datapipeline_spark.sources.readers import load_testdata

    docs = load_testdata(spark, sf_dir, "documents")
    idx = str(tmp_path / "bm25_index")
    build_bm25_index(docs, idx)
    df = bm25_topk_from_index(spark, idx, ["dup", "vector"], k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one parquet scan, reading the postings schema (a corpus
    # scan would read text), with the query-term filter pushed down
    assert plan.count("Scan parquet") == 1, plan
    assert "struct<token:string,doc_id:bigint" in plan, plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0], plan
    assert "PushedFilters: [In(token" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=40),
    k=st.integers(min_value=1, max_value=12),
)
@settings(**_HYP)
def test_global_ntile_property_matches_window(spark, vals, k):
    """Random multisets + random k: the two-pass prefix-sum ntile is
    bit-identical to the single-window one (total order via the
    synthetic unique id tiebreak; DIV-4 coarse bucket exercises
    negative-key truncation)."""
    from pyspark.sql.window import Window

    from dask_datapipeline_spark.operators.ranks import global_ntile

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, id long").repartition(3)
    got = {
        (r["v"], r["id"]): r["tile"]
        for r in global_ntile(df, ["v", "id"], F.expr("v DIV 4"), k).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        (r["v"], r["id"]): r["tile"]
        for r in df.select("v", "id", F.ntile(k).over(w).alias("tile")).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abcdef le und der el y ", max_size=40), min_size=1, max_size=12
    ),
    langs=st.lists(
        st.sampled_from(["en", "de", "es", "fr", "zh", "xx"]), min_size=12, max_size=12
    ),
)
@settings(**_HYP)
def test_stopword_hits_by_lang_property_engine_parity(spark, texts, langs):
    """Random token soup × random langs: Spark and the DuckDB twin
    count identical per-language stopword hits (the marker CASE chain
    cannot drift between engines)."""
    import duckdb

    from dask_datapipeline_spark.functions.quality import (
        stopword_hits_by_lang,
        stopword_hits_by_lang_sql,
    )

    rows = [(i, langs[i], t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", stopword_hits_by_lang(F.col("text"), F.col("lang")).alias("h")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = dict(
        con.execute(
            f"SELECT doc_id, {stopword_hits_by_lang_sql('text', 'lang')} FROM t"
        ).fetchall()
    )
    assert got == want


# ----- vocab_growth bucket width guard ---------------------------------


def test_vocab_bucket_width_caps_points():
    from dask_datapipeline_spark.plans.catalog_llm import (
        _VOCAB_BUCKET,
        _VOCAB_MAX_POINTS,
        _vocab_bucket_width,
    )

    for max_id in (0, 49, 50, 499_999, 500_000, 5_000_000, 10**9):
        w = _vocab_bucket_width(max_id)
        assert w >= _VOCAB_BUCKET
        n_points = max_id // w + 1
        assert n_points <= _VOCAB_MAX_POINTS, (max_id, w, n_points)
    # small corpora keep the 50-doc resolution
    assert _vocab_bucket_width(10_000) == _VOCAB_BUCKET


# ----- partition pruning plan pin ----------------------------------------


def test_partition_pruning_plan_prunes_directories(spark, sf_dir):
    """The equality filter on the partition column must surface as a
    PartitionFilter (directory pruning), not a row-level pushed
    filter; the value filter stays a PushedFilter on the data files."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    df = EXTRA_CATALOG["partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_type" in pf and "click" in pf, plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_type" not in read, plan  # partition col never read from files


# ----- per-language Gopher stopword floor -------------------------------


def test_gopher_multilang_floor_scores_own_language(spark):
    """A German doc passes ITS OWN stopword floor while failing the
    English-only one — the composition the multilingual shard needs."""
    from dask_datapipeline_spark.functions.quality import (
        THRESHOLDS,
        gopher_signal_cols,
        stopword_hits_by_lang,
    )
    from dask_datapipeline_spark.functions.text import stopword_hits

    de_text = "der hund und die katze sind nicht hier im garten heute"
    en_text = "the cat and the dog are in a garden today it is nice"
    df = spark.createDataFrame(
        [(1, "de", de_text), (2, "en", en_text), (3, "xx", en_text)],
        "doc_id long, lang string, text string",
    )
    floor = int(THRESHOLDS["min_stopword_hits"])
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            stopword_hits_by_lang(F.col("text"), F.col("lang")).alias("own"),
            stopword_hits(F.col("text")).alias("en_only"),
        ).collect()
    }
    assert out[1]["own"] >= floor        # de doc passes its own floor
    assert out[1]["en_only"] < floor     # ... while failing the en one
    assert out[2]["own"] == out[2]["en_only"]  # en rows identical either way
    assert out[3]["own"] == out[3]["en_only"]  # unknown lang falls back to en

    # gopher_signal_cols(lang=...) threads the same hits into stop_hits
    sig = gopher_signal_cols(F.col("text"), lang=F.col("lang"))
    got = {
        r["doc_id"]: r["stop_hits"]
        for r in df.select("doc_id", sig["stop_hits"].alias("stop_hits")).collect()
    }
    assert got[1] == out[1]["own"] and got[2] == out[2]["own"]


def test_gopher_multilang_sql_twin_matches(spark):
    """The DuckDB twin of the per-language floor counts identically on
    the same rows."""
    import duckdb

    from dask_datapipeline_spark.functions.quality import stopword_hits_by_lang

    rows = [
        (1, "de", "der hund und die katze"),
        (2, "es", "el gato y los perros que"),
        (3, "fr", "le chat et les chiens dans"),
        (4, "en", "the cat and a dog"),
        (5, "zz", "the cat and a dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id",
            stopword_hits_by_lang(F.col("text"), F.col("lang")).alias("h"),
        ).collect()
    }
    from dask_datapipeline_spark.functions.quality import stopword_hits_by_lang_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id BIGINT, lang VARCHAR, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sql = stopword_hits_by_lang_sql("text", "lang")
    want = dict(con.execute(f"SELECT doc_id, {sql} FROM t").fetchall())
    assert got == want


# ----- WebDataset tar shards ---------------------------------------------


def test_wds_roundtrip_binary_safe_and_deterministic(spark):
    from dask_datapipeline_spark.sources.webdataset import (
        parse_wds,
        write_wds_shards,
    )

    payloads = [
        b"\x00\x01\xffraw bytes",
        b"contains ustar\x00magic and \x1f\x8b gzip magic",
        "unicode é中 text".encode(),
    ]
    rows = [(0, f"{i:06d}", "doc " + str(i), payloads[i]) for i in range(3)]
    docs = spark.createDataFrame(
        rows, "shard_id long, key string, text string, payload binary"
    )
    shards = write_wds_shards(
        docs, content_cols={"txt": "text", "bin": "payload"}
    )
    out = parse_wds(shards).toPandas().sort_values(["key", "ext"]).reset_index(drop=True)
    assert len(out) == 6  # two members per sample, grouped by key
    for i in range(3):
        sample = out[out["key"] == f"{i:06d}"]
        assert set(sample["ext"]) == {"bin", "txt"}
        assert bytes(sample[sample["ext"] == "bin"]["content"].iloc[0]) == payloads[i]
        assert bytes(sample[sample["ext"] == "txt"]["content"].iloc[0]) == (
            "doc " + str(i)
        ).encode()
    # reproducible bytes: two packs of the same rows are identical
    b1 = bytes(shards.collect()[0]["payload"])
    b2 = bytes(
        write_wds_shards(docs, content_cols={"txt": "text", "bin": "payload"})
        .collect()[0]["payload"]
    )
    assert b1 == b2


def test_wds_gzip_shards_and_binaryfile_ingest(spark, tmp_path):
    import os

    from dask_datapipeline_spark.sources.webdataset import (
        parse_wds,
        write_wds_shards,
    )

    docs = spark.createDataFrame(
        [(i % 2, f"k{i}", f"text {i}") for i in range(6)],
        "shard_id long, key string, text string",
    )
    shards = write_wds_shards(docs, gzip_shards=True).collect()
    for r in shards:
        p = tmp_path / f"shard-{r['shard_id']:05d}.tar.gz"
        p.write_bytes(bytes(r["payload"]))
    ingested = (
        spark.read.format("binaryFile")
        .load(str(tmp_path / "*.tar.gz"))
        .select(F.col("content").alias("payload"))
    )
    out = parse_wds(ingested).toPandas()
    assert len(out) == 6
    assert sorted(out["key"]) == sorted(f"k{i}" for i in range(6))


def test_wds_rejects_ustar_overlong_names(spark):
    from dask_datapipeline_spark.sources.webdataset import write_wds_shards

    docs = spark.createDataFrame(
        [(0, "k" * 150, "text")], "shard_id long, key string, text string"
    )
    with pytest.raises(Exception, match="USTAR"):
        write_wds_shards(docs).collect()
    # a '/' split point inside the long name keeps it packable
    ok = spark.createDataFrame(
        [(0, "p" * 80 + "/" + "k" * 60, "text")],
        "shard_id long, key string, text string",
    )
    assert write_wds_shards(ok).count() == 1
    # basename fits but the directory prefix blows USTAR's 155-char
    # prefix field — must be rejected with the clear error, not
    # tarfile's opaque one
    bad_prefix = spark.createDataFrame(
        [(0, "p" * 200 + "/" + "k" * 10, "text")],
        "shard_id long, key string, text string",
    )
    with pytest.raises(Exception, match="USTAR"):
        write_wds_shards(bad_prefix).collect()


def test_wds_parse_splits_key_at_first_dot(spark):
    """WebDataset convention: key = everything up to the FIRST dot of
    the basename (directory prefix kept) — a multi-extension member
    (key.json.gz) groups under 'key', not 'key.json'."""
    import io
    import tarfile

    from dask_datapipeline_spark.sources.webdataset import parse_wds

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, content in [
            ("s0.json.gz", b"a"),
            ("s0.txt", b"b"),
            ("dir.v2/s1.cls", b"c"),  # dot in the DIRECTORY stays in the key
            ("noext", b"d"),
        ]:
            info = tarfile.TarInfo(name=name)
            info.size = len(content)
            tf.addfile(info, io.BytesIO(content))
    df = spark.createDataFrame([(buf.getvalue(),)], "payload binary")
    rows = {(r["key"], r["ext"]) for r in parse_wds(df).collect()}
    assert rows == {
        ("s0", "json.gz"),
        ("s0", "txt"),
        ("dir.v2/s1", "cls"),
        ("noext", ""),
    }


def test_wds_corrupt_shard_quarantines_not_throws(spark):
    """A truncated/garbage shard yields its parseable prefix (or
    nothing) instead of failing the task — the quarantine discipline."""
    from dask_datapipeline_spark.sources.webdataset import (
        parse_wds,
        write_wds_shards,
    )

    docs = spark.createDataFrame(
        [(0, "k0", "good text")], "shard_id long, key string, text string"
    )
    good = bytes(write_wds_shards(docs).collect()[0]["payload"])
    payloads = [
        (good,),                      # intact
        (good[:100],),                # truncated inside the header
        (good[: len(good) - 700],),   # truncated after member 1's data
        (b"\x1f\x8b not really gzip",),
        (b"garbage that is not tar at all" * 20,),
    ]
    df = spark.createDataFrame(payloads, "payload binary")
    out = parse_wds(df).collect()
    # intact shard + the parseable PREFIX of the mid-truncated one;
    # header-truncated and garbage shards quarantine to zero rows
    assert sorted(r["key"] for r in out) == ["k0", "k0"]
    assert all(bytes(r["content"]) == b"good text" for r in out)


# ----- streaming BM25 index maintenance ---------------------------------


def test_streaming_bm25_deltas_match_batch_index(spark, tmp_path):
    """Drained incremental index scores bit-identically to the
    one-shot batch build; a replayed batch (same batch_id) cannot
    double-count because the delta path is overwritten."""
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
        postings_frames,
    )
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_bm25_index,
    )

    rows = [
        (i, f"spark rows data {'dup ' * (i % 3)}value spark table {i}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for i in range(3):
        part = docs.where((F.col("doc_id") % 3) == i)
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"tmp{i}")
        )
        src = next(
            f for f in os.listdir(tmp_path / f"tmp{i}") if f.endswith(".parquet")
        )
        os.rename(tmp_path / f"tmp{i}" / src, tmp_path / "staged" / f"c{i}.parquet")

    inc_dir = str(tmp_path / "inc_index")
    stream_incremental_bm25_index(
        spark, staged, inc_dir, "doc_id long, text string",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    deltas = os.listdir(inc_dir + "/postings")
    assert len([d for d in deltas if d.startswith("delta=")]) == 3

    batch_dir = str(tmp_path / "batch_index")
    build_bm25_index(docs, batch_dir)
    terms = ["spark", "dup"]
    inc = bm25_topk_from_index(spark, inc_dir, terms, k=10).collect()
    bat = bm25_topk_from_index(spark, batch_dir, terms, k=10).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in bat]

    # replay simulation: rewrite delta=0 with the same batch's frames —
    # results unchanged (idempotent by path). Recover batch 0's doc set
    # from the delta itself (file->batch order is mtime-dependent).
    ids0 = [
        r["doc_id"]
        for r in spark.read.parquet(inc_dir + "/postings/delta=0")
        .select("doc_id").distinct().collect()
    ]
    p0, s0 = postings_frames(docs.where(F.col("doc_id").isin(ids0)))
    p0.write.mode("overwrite").parquet(inc_dir + "/postings/delta=0")
    s0.write.mode("overwrite").parquet(inc_dir + "/stats/delta=0")
    replayed = bm25_topk_from_index(spark, inc_dir, terms, k=10).collect()
    assert [tuple(r) for r in replayed] == [tuple(r) for r in bat]


def test_compact_bm25_index_is_transparent(spark, tmp_path):
    """Compacting the delta-built index into the one-shot layout
    changes bytes on disk, never scores."""
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        compact_bm25_index,
        postings_frames,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'dup ' * (i % 4)}gamma {i}") for i in range(40)],
        "doc_id long, text string",
    )
    inc = str(tmp_path / "inc")
    for b in range(4):  # simulate four delta batches
        p, s = postings_frames(docs.where(F.col("doc_id") % 4 == b))
        p.write.mode("overwrite").parquet(f"{inc}/postings/delta={b}")
        s.write.mode("overwrite").parquet(f"{inc}/stats/delta={b}")
    comp = str(tmp_path / "comp")
    compact_bm25_index(spark, inc, comp)
    assert not any(
        d.startswith("delta=") for d in os.listdir(comp + "/postings")
    )
    terms = ["dup", "alpha"]
    a = bm25_topk_from_index(spark, inc, terms, k=8).collect()
    b = bm25_topk_from_index(spark, comp, terms, k=8).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # in-place compaction would truncate the live postings mid-read —
    # both identity and nesting must be rejected before any write
    with pytest.raises(ValueError, match="nest under"):
        compact_bm25_index(spark, inc, inc)
    with pytest.raises(ValueError, match="nest under"):
        compact_bm25_index(spark, inc, inc + "/compacted")
    # a SIBLING whose name shares the prefix is fine
    compact_bm25_index(spark, inc, inc + "_v2")


def test_streaming_bm25_adopts_batch_built_index(spark, tmp_path):
    """build_bm25_index then stream MORE docs into the same dir: the
    flat layout is adopted as delta=-1 and the final index scores
    bit-identically to a one-shot build over everything."""
    import os

    from dask_datapipeline_spark.operators.bm25 import (
        bm25_topk_from_index,
        build_bm25_index,
    )
    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_bm25_index,
    )

    all_rows = [
        (i, f"spark data {'dup ' * (i % 3)}table {i}") for i in range(40)
    ]
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    first, rest = docs.where(F.col("doc_id") < 20), docs.where(F.col("doc_id") >= 20)

    mixed = str(tmp_path / "mixed")
    build_bm25_index(first, mixed)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    rest.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp"))
    src = next(f for f in os.listdir(tmp_path / "tmp") if f.endswith(".parquet"))
    os.rename(tmp_path / "tmp" / src, tmp_path / "staged" / "c0.parquet")
    stream_incremental_bm25_index(
        spark, staged, mixed, "doc_id long, text string",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    assert os.path.isdir(mixed + "/postings/delta=-1")

    full = str(tmp_path / "full")
    build_bm25_index(docs, full)
    terms = ["spark", "dup"]
    got = bm25_topk_from_index(spark, mixed, terms, k=10).collect()
    want = bm25_topk_from_index(spark, full, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


# ----- streaming HLL: mid-swap crash recovery --------------------------


def test_stream_hll_recovers_from_mid_swap_crash(spark, tmp_path):
    import os

    from dask_datapipeline_spark.operators.sketches import (
        HLL_SEED,
        hll_registers,
    )
    from dask_datapipeline_spark.streaming.windows import stream_incremental_hll

    staged = str(tmp_path / "staged")
    sketch = str(tmp_path / "sketch")
    schema = "k string, v long"
    os.makedirs(staged)

    first = spark.createDataFrame(
        [("a", i) for i in range(50)], schema
    )
    first.coalesce(1).write.mode("append").parquet(staged)
    stream_incremental_hll(
        spark, staged, sketch, schema, ["k"], "v",
        p=7, checkpoint_dir=str(tmp_path / "ck1"),
    )
    assert os.path.isdir(sketch)

    # simulate the crash window: sketch renamed away, stage orphaned
    os.rename(sketch, sketch + ".old-deadbeef")
    os.makedirs(sketch + ".stage-cafe")

    second = spark.createDataFrame(
        [("a", i) for i in range(25, 75)], schema
    )
    second.coalesce(1).write.mode("append").parquet(staged)
    stream_incremental_hll(
        spark, staged, sketch, schema, ["k"], "v",
        p=7, checkpoint_dir=str(tmp_path / "ck1"),
    )

    # recovery restored the old snapshot before merging -> registers
    # equal the batch sketch over the FULL stream, nothing lost
    expected = hll_registers(
        first.unionByName(second), ["k"], "v", p=7, seed=HLL_SEED
    ).toPandas().sort_values("bucket").reset_index(drop=True)
    got = (
        spark.read.parquet(sketch)
        .toPandas().sort_values("bucket").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["k", "bucket", "m_reg"]], expected[["k", "bucket", "m_reg"]]
    )
    # orphans swept
    leftovers = [d for d in os.listdir(tmp_path) if ".old-" in d or ".stage-" in d]
    assert leftovers == []
