"""Round-9 pins.

The five round-8 ADVICE fixes:

1. html entity decode — double-encoded ampersand forms single-decode
   (``&#38;amp;`` yields the literal text ``&amp;``, never ``&``);
2. extractor whitespace collapse — explicit class closes the Java-\\s
   vs RE2-\\s vertical-tab divergence (markdown AND html);
3. ``normalize_text_py`` — ASCII \\s + space-only strip so the
   pure-Python property oracle matches BOTH engines on U+0085/U+2028/
   U+2029;
4. ``compact_small_files`` — partitionBy layouts compact (recursive
   listing, layout preserved), mixed layouts raise;
5. versioned tables — ``expire_versions`` drops tags referencing
   expired versions; a tagged write after expiry re-lands live data.

And the round-9 operator families:

- Gopher quality rules: hand-computed signals, report-vs-flags
  consistency, cross-engine random-soup parity, arbitrary-unicode
  bounds/no-throw;
- C4 line filters: hand-computed keeps/kills, random-soup parity
  (which caught DuckDB's NULL-on-empty array_to_string), re-clean
  line stability, the C4→Gopher funnel's stage arithmetic;
- HyperLogLog: registers pinned against a pure-Python md5 twin,
  merge exactness, estimate accuracy, linear-counting branch,
  precision bounds, streaming restart/replay;
- BM25: python-twin scoring (round-9dp decimal sums), k-cut
  tiebreaks;
- WARC codec: binary-safe bodies, non-response skipping, real
  binaryFile ``*.warc.gz`` ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


# ----- 1. double-encoded ampersand single-decode ---------------------------


def test_double_encoded_ampersand_single_decodes(spark):
    import duckdb

    from dask_datapipeline_spark.functions.html import (
        html_to_text,
        html_to_text_sql_steps,
    )

    cases = {
        "&#38;amp;": "&amp;",  # the round-8 advice input class
        "&#38;lt;": "&lt;",
        "&amp;lt;": "&lt;",
        "&#38;": "&",
        "&amp;": "&",
        "&amp;amp;": "&amp;",
        # only the LEADING '&#38;' is a well-formed entity (the second
        # '#38;' has no ampersand of its own) — single-pass decode
        # yields '&' + '#38;amp;' verbatim; that the output happens to
        # look like an entity is exactly what no-rescan means
        "&#38;#38;amp;": "&#38;amp;",
        "a &amp; b &#38; c": "a & b & c",
    }
    strs = list(cases)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i int, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    }
    con = duckdb.connect()
    sql = html_to_text_sql_steps("h")
    for i, s in enumerate(strs):
        duck = con.sql(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS h)", params=[s]
        ).fetchone()[0]
        assert got[i] == cases[s], (s, got[i])
        assert duck == got[i], (s, duck, got[i])


# ----- 2. vertical-tab parity in the extractors ----------------------------


def test_extractor_vertical_tab_parity(spark):
    """U+000B (and U+000C) inputs collapse identically in Spark and
    DuckDB — the explicit whitespace class, not engine-divergent \\s."""
    import duckdb

    from dask_datapipeline_spark.functions.html import (
        html_to_text,
        html_to_text_sql_steps,
    )
    from dask_datapipeline_spark.functions.markdown import (
        markdown_to_text,
        markdown_to_text_sql_steps,
    )

    strs = [
        "a\x0bb",  # VT mid-string \u2014 the divergent codepoint itself
        "x\x0c  \x0cy",  # FF + space runs collapse to ONE space
        " \x0b ",  # only-whitespace -> collapses, trims to empty
        "a\u0085b",  # C1 NEL is whitespace to NEITHER engine \u2014 kept
        "word \x0b\t\x0c word",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i int, s string"
    )
    got_md = {
        r["i"]: r["t"]
        for r in df.select(
            "i", markdown_to_text(F.col("s")).alias("t")
        ).collect()
    }
    got_html = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("s")).alias("t")).collect()
    }
    con = duckdb.connect()
    md_sql = markdown_to_text_sql_steps("s")
    html_sql = html_to_text_sql_steps("s")
    for i, s in enumerate(strs):
        md_duck, html_duck = con.sql(
            f"SELECT {md_sql}, {html_sql} FROM (SELECT ?::VARCHAR AS s)",
            params=[s],
        ).fetchone()
        assert md_duck == got_md[i], (i, s, md_duck, got_md[i])
        assert html_duck == got_html[i], (i, s, html_duck, got_html[i])
    # VT/FF are whitespace to the collapse: words separated, not glued
    assert got_md[0] == "a b" and got_html[0] == "a b"
    assert got_md[1] == "x y" and got_html[1] == "x y"
    assert got_md[2] == "" and got_html[2] == ""
    # NEL passes through untouched in both extractors
    assert got_md[3] == "a\u0085b" and got_html[3] == "a\u0085b"
    assert got_md[4] == "word word" and got_html[4] == "word word"


# ----- 3. python twin matches the engines' ASCII \s ------------------------


def test_normalize_py_twin_ascii_whitespace_semantics(spark):
    """U+0085/U+2028/U+2029 (C1 + unicode line separators) match
    NEITHER engine's \\s — the Python twin must keep them too, mid-
    string AND at the edges (where unicode-aware strip() used to eat
    them)."""
    import duckdb

    from dask_datapipeline_spark.functions.normalize import (
        normalize_text,
        normalize_text_py,
        normalize_text_sql_steps,
    )

    strs = [
        "a\u0085b",  # C1 NEL mid-string
        "\u2028a  b\u2029",  # line/paragraph separators at the edges
        "x\u0085 \t \u0085y",  # ASCII runs collapse AROUND the keepers
        " \u2028 ",  # only a keeper once spaces trim
        "edge\u0085",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i int, s string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", normalize_text(F.col("s")).alias("t")).collect()
    }
    con = duckdb.connect()
    sql = normalize_text_sql_steps("s")
    for i, s in enumerate(strs):
        duck = con.sql(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS s)", params=[s]
        ).fetchone()[0]
        py = normalize_text_py(s)
        assert got[i] == py, (i, repr(s), got[i], py)
        assert duck == py, (i, repr(s), duck, py)
    # the separators survive normalization in all three
    assert got[0] == "a\u0085b"
    assert got[1] == "\u2028a b\u2029"
    assert got[3] == "\u2028"


# ----- 4. compacting a partitionBy layout ----------------------------------


def test_compact_small_files_partitioned_layout(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import compact_small_files

    path = str(tmp_path / "ptab")
    df = spark.range(0, 400).withColumn("k", (F.col("id") % 4).cast("int"))
    # many small files per partition directory
    df.repartition(8).write.partitionBy("k").parquet(path)
    n_before = sum(
        1
        for root, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    assert n_before > 4
    n_out = compact_small_files(spark, path, target_file_bytes=1 << 30)
    # layout preserved: key=value directories still present, rows intact
    kdirs = sorted(d for d in os.listdir(path) if d.startswith("k="))
    assert kdirs == ["k=0", "k=1", "k=2", "k=3"]
    back = spark.read.parquet(path)
    assert back.count() == 400
    assert back.groupBy("k").count().count() == 4
    assert sorted(back.columns) == ["id", "k"]
    # compacted: one file per partition directory (n_out counts files
    # recursively)
    assert n_out == 4
    assert back.agg(F.sum("id")).collect()[0][0] == 399 * 400 // 2


def test_compact_small_files_flat_layout_still_works(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import compact_small_files

    path = str(tmp_path / "flat")
    spark.range(0, 100).repartition(6).write.parquet(path)
    n_out = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert n_out == 1
    assert spark.read.parquet(path).count() == 100


def test_compact_small_files_mixed_layout_raises(spark, tmp_path):
    import shutil

    import pytest

    from dask_datapipeline_spark.sources.writers import compact_small_files

    path = str(tmp_path / "mixed")
    spark.range(0, 50).withColumn("k", F.lit(0)).write.partitionBy(
        "k"
    ).parquet(path)
    flat = str(tmp_path / "flatsrc")
    spark.range(0, 10).coalesce(1).write.parquet(flat)
    part = next(f for f in os.listdir(flat) if f.endswith(".parquet"))
    shutil.copy(os.path.join(flat, part), os.path.join(path, part))
    with pytest.raises(ValueError, match="inconsistent partition layout"):
        compact_small_files(spark, path, target_file_bytes=1 << 30)


# ----- 5. expired tags don't resurrect dead versions -----------------------


def test_expire_versions_drops_stale_tags(spark, tmp_path):
    from dask_datapipeline_spark.sources.writers import (
        _vt_read_manifest,
        expire_versions,
        list_versions,
        read_snapshot,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    v1 = write_versioned(spark.range(0, 10), path, tag="batch-1")
    v2 = write_versioned(spark.range(0, 20), path, tag="batch-2")
    v3 = write_versioned(spark.range(0, 30), path)
    assert (v1, v2, v3) == (1, 2, 3)
    expired = expire_versions(path, keep_last=1)
    assert expired == [1, 2]
    # stale tags went with their versions
    assert _vt_read_manifest(path).get("tags", {}) == {}
    # a tagged replay after retention cleanup lands a NEW live version
    # (the old short-circuit returned v1, whose directory is gone)
    v4 = write_versioned(spark.range(0, 10), path, tag="batch-1")
    assert v4 == 4
    assert read_snapshot(spark, path, v4).count() == 10
    assert list_versions(path) == [3, 4]
    # and the fresh tag IS idempotent again
    assert write_versioned(spark.range(0, 10), path, tag="batch-1") == 4


# ----- Gopher quality rules (functions/quality.py) -------------------------


def _gopher_duck(strs):
    """DuckDB replay of the per-doc signals+keep over synthetic texts."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.plans.catalog_llm import _gopher_quality_sql

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(strs)), "text": strs})
    )
    rows = con.sql(_gopher_quality_sql()).fetchall()
    cols = [d[0] for d in con.sql(_gopher_quality_sql()).description]
    return {r[0]: dict(zip(cols, r)) for r in rows}


def _gopher_spark(spark, strs):
    from dask_datapipeline_spark.functions.quality import (
        SIGNAL_NAMES,
        gopher_keep,
        gopher_signal_cols,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "doc_id long, text string"
    )
    sig = gopher_signal_cols(F.col("text"))
    out = df.select(
        "doc_id",
        *[sig[n].alias(n) for n in SIGNAL_NAMES],
        gopher_keep(sig).alias("keep"),
    )
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_gopher_signals_hand_computed(spark):
    strs = [
        "the " * 49 + "the",  # exactly 50 stopwords, one line -> KEEP
        "the " * 48 + "the",  # 49 words -> fail_words only
        "\n".join(["- item one"] * 10),  # all-bullet lines
        "line with dots...\nmore dots...\nclean line\nclean two",  # 50% ellipsis
        "dup line\ndup line\ndup line\nother",  # 3 dup of 4 lines
        "a\r\nb\r\na",  # CRLF: CRs deleted before the split
        "",  # empty text: 1 empty token, mean len 0
    ]
    got = _gopher_spark(spark, strs)
    assert got[0]["keep"] is True
    assert got[0]["n_words"] == 50
    assert got[0]["mean_word_len"] == 3.0  # >= 3.0 boundary PASSES
    assert got[0]["stop_hits"] == 50
    assert got[1]["keep"] is False and got[1]["n_words"] == 49
    assert got[2]["bullet_line_frac"] == 1.0 and got[2]["keep"] is False
    assert got[3]["ellipsis_line_frac"] == 0.5
    assert got[4]["dup_line_frac"] == 1.0 - 2 / 4
    # dup chars: total 8+8+8+5=29, distinct 8+5=13
    assert got[4]["dup_line_char_frac"] == (29 - 13) / 29
    assert got[5]["dup_line_frac"] == 1.0 - 2 / 3
    assert got[6]["mean_word_len"] == 0.0 and got[6]["keep"] is False
    duck = _gopher_duck(strs)
    assert duck == got


def test_gopher_report_matches_per_doc_flags(spark):
    from dask_datapipeline_spark.functions.quality import (
        FAIL_NAMES,
        gopher_fail_flags,
        gopher_signal_cols,
    )

    strs = [
        "the " * 60,
        "#### # ## ###",
        "\n".join(["- b"] * 5),
        "zz " * 55 + "the a",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "doc_id long, text string"
    )
    sig = gopher_signal_cols(F.col("text"))
    flags = gopher_fail_flags(sig)
    per_doc = df.select(
        *[flags[n].alias(n) for n in FAIL_NAMES]
    ).collect()
    agg = {
        n: sum(1 for r in per_doc if r[n]) for n in FAIL_NAMES
    }
    # the trailing-space doc: 60 'the' + 1 '' token = 61 words, stop 60
    assert agg["fail_stopwords"] >= 1  # the symbol doc has 0 stopwords
    assert agg["fail_symbols"] >= 1
    assert agg["fail_bullets"] >= 1
    # report row aggregates the same flags
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.plans.catalog_llm import _gopher_report_sql

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(strs)), "text": strs})
    )
    row = con.sql(_gopher_report_sql()).fetchdf().iloc[0]
    for n in FAIL_NAMES:
        assert int(row[n]) == agg[n], n
    assert int(row["n_docs"]) == len(strs)


def test_gopher_random_soup_parity(spark):
    """Cross-engine fuzz: newline/bullet/ellipsis/symbol soup must
    produce bit-identical signals and keep flags in Spark and DuckDB."""
    import random

    rng = random.Random(99)
    pieces = [
        "word", "the", "a", "zz", "123", "x_y", "#", "...", "…",
        "•", "- ", "* ", "\n", "\r\n", " ", "  ", "\t", "longwordhere",
    ]
    strs = [
        "".join(rng.choice(pieces) for _ in range(rng.randint(0, 40)))
        for _ in range(120)
    ]
    got = _gopher_spark(spark, strs)
    duck = _gopher_duck(strs)
    assert duck == got


# ----- HyperLogLog sketch (operators/sketches.py) ---------------------------


def test_hll_registers_pinned_against_python_twin(spark):
    """The register table is replayed from the md5 hash family in pure
    Python (bit_length = first-1-bit rank) — pins hash, bucketing and
    rho so the Spark side and the SQL oracle cannot drift."""
    import hashlib

    from dask_datapipeline_spark.operators.sketches import (
        HLL_SEED,
        hll_registers,
    )

    vals = [f"user-{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        (r["bucket"], r["m_reg"])
        for r in hll_registers(df, [], "v", p=10, seed=HLL_SEED).collect()
    }
    w = 50
    regs: dict[int, int] = {}
    for v in vals:
        h = int(hashlib.md5(f"{HLL_SEED}:{v}".encode()).hexdigest()[:15], 16)
        bucket, rem = h >> w, h & ((1 << w) - 1)
        rho = (w + 1) - rem.bit_length() if rem > 0 else w + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    assert got == set(regs.items())


def test_hll_estimate_accuracy_and_merge_exactness(spark):
    from dask_datapipeline_spark.operators.sketches import (
        hll_distinct,
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 4).alias("g"), F.concat(F.lit("u"), F.col("id")).alias("v")
    )
    est = {
        r["g"]: r["est_distinct"]
        for r in hll_distinct(df, ["g"], "v", p=10).collect()
    }
    for g in range(4):
        exact = n // 4
        # ~3.2% stddev at p=10; 5 sigma keeps this test deterministic-ish
        assert abs(est[g] - exact) / exact < 0.16, (g, est[g])
    # merge exactness: registers of two halves max-merge to the whole
    a = hll_registers(df.where(F.col("g") < 2), ["g"], "v", p=10)
    b = hll_registers(df.where(F.col("g") >= 2), ["g"], "v", p=10)
    merged = hll_merge_registers(a.unionByName(b), ["g"])
    whole = hll_registers(df, ["g"], "v", p=10)
    assert (
        merged.exceptAll(whole).count() == 0
        and whole.exceptAll(merged).count() == 0
    )
    # readouts identical too
    r1 = {tuple(r) for r in hll_estimate_from_registers(merged, ["g"]).collect()}
    r2 = {tuple(r) for r in hll_estimate_from_registers(whole, ["g"]).collect()}
    assert r1 == r2


def test_hll_linear_counting_small_range(spark):
    """Tiny distinct counts take the linear-counting branch and come
    out near-exact (it IS the occupancy estimator)."""
    from dask_datapipeline_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([(f"v{i % 7}",) for i in range(1000)], "v string")
    row = hll_distinct(df, [], "v", p=10).collect()[0]
    assert row["n_buckets_used"] == 7
    # m*ln(m/(m-7)) ~= 7.02 at m=1024
    assert abs(row["est_distinct"] - 7.0) < 0.1


# ----- BM25 retrieval (operators/bm25.py) -----------------------------------


def test_bm25_pinned_against_python_twin(spark):
    """Tiny corpus scored by a pure-Python BM25 mirroring the module's
    exact discipline (round-9dp terms, exact decimal sum) — pins the
    formula independently of the DuckDB oracle."""
    import math
    from decimal import Decimal

    from dask_datapipeline_spark.operators.bm25 import BM25_B, BM25_K1, bm25_topk

    corpus = {
        1: "dup spark data data data",
        2: "spark data",
        3: "dup dup dup other words here",
        4: "nothing relevant at all",
        5: "data data data data data data data data",
    }
    q = ["dup", "data"]
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in bm25_topk(df, q, k=5).collect()}

    dls = {i: len(t.split(" ")) for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(dls.values()) / n
    dfreq = {t: sum(1 for txt in corpus.values() if t in txt.split(" ")) for t in q}
    exp = {}
    for i, txt in corpus.items():
        total = Decimal(0)
        hit = False
        for t in q:
            tf = txt.split(" ").count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            sat = (tf * (BM25_K1 + 1.0)) / (
                tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (dls[i] / avgdl))
            )
            total += Decimal(f"{round(idf * sat, 9):.9f}")
        if hit:
            exp[i] = float(total)
    ranked = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == {
        i: (s, r + 1) for r, (i, s) in enumerate(ranked)
    }
    # the rare-term doc with low dl outranks the tf-heavy common-term doc
    assert got[3][1] == 1


def test_bm25_topk_cut_and_tiebreak(spark):
    from dask_datapipeline_spark.operators.bm25 import bm25_topk

    # identical docs -> identical scores; doc_id breaks the tie at the
    # k boundary deterministically
    df = spark.createDataFrame(
        [(i, "dup common") for i in range(10)], "doc_id long, text string"
    )
    got = [r["doc_id"] for r in bm25_topk(df, ["dup"], k=4).collect()]
    assert got == [0, 1, 2, 3]


# ----- C4 line filters (functions/quality.py) -------------------------------


def _c4_spark(spark, strs):
    from dask_datapipeline_spark.functions.quality import C4_COLS, c4_clean_cols

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "doc_id long, text string"
    )
    sig = c4_clean_cols(F.col("text"))
    out = df.select("doc_id", *[sig[n].alias(n) for n in C4_COLS])
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def _c4_duck(strs):
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.functions.quality import (
        C4_COLS,
        c4_sql_projections,
    )

    sig = c4_sql_projections("text")
    cols = ", ".join(f"{sig[n]} AS {n}" for n in C4_COLS)
    con = duckdb.connect()
    con.register(
        "docs", pd.DataFrame({"doc_id": range(len(strs)), "text": strs})
    )
    rows = con.sql(f"SELECT doc_id, {cols} FROM docs").fetchall()
    return {r[0]: dict(zip(["doc_id"] + list(C4_COLS), r)) for r in rows}


def test_c4_line_filter_hand_computed(spark):
    good = "Here is a sentence with plenty of words."
    strs = [
        # three good lines -> page kept, short/unpunctuated/js dropped
        f"{good}\nshort one.\nNo terminal punctuation here at all\n"
        f"Please enable JavaScript to continue reading.\n{good}\n{good}",
        # only two survivors -> page dropped by the 3-line floor
        f"{good}\n{good}",
        # lorem ipsum kills the page even with enough good lines
        f"{good}\n{good}\n{good}\nlorem ipsum dolor sit amet.",
        # a curly brace anywhere kills the page
        f"{good}\n{good}\n{good}\nif (x) {{ run(); }}",
        # quote-terminal line with five words IS kept
        'He said "this line ends with a quote."\n' + f"{good}\n{good}",
    ]
    got = _c4_spark(spark, strs)
    assert got[0]["n_lines"] == 6 and got[0]["n_lines_kept"] == 3
    assert got[0]["keep_doc"] is True
    assert got[0]["clean_text"] == f"{good}\n{good}\n{good}"
    assert got[1]["n_lines_kept"] == 2 and got[1]["keep_doc"] is False
    assert got[2]["n_lines_kept"] == 4  # the lorem line itself passes
    assert got[2]["keep_doc"] is False  # ...but kills the page
    assert got[3]["keep_doc"] is False
    assert got[4]["n_lines_kept"] == 3 and got[4]["keep_doc"] is True
    assert _c4_duck(strs) == got


def test_c4_random_soup_parity(spark):
    import random

    rng = random.Random(47)
    pieces = [
        "A full sentence with enough words.", "short.", "no punct line",
        "JavaScript required.", "lorem ipsum", "{", "}", "word", ".",
        "\n", " ", '"', "!", "?", "Menu Home About",
    ]
    strs = [
        " ".join(rng.choice(pieces) for _ in range(rng.randint(0, 25)))
        for _ in range(120)
    ]
    assert _c4_duck(strs) == _c4_spark(spark, strs)


def test_hll_p_bounds_rejected(spark):
    import pytest

    from dask_datapipeline_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="out of the supported range"):
        hll_distinct(df, [], "v", p=6)
    with pytest.raises(ValueError, match="out of the supported range"):
        hll_distinct(df, [], "v", p=17)


def test_stream_incremental_hll_restart_and_replay(spark, tmp_path):
    """Three staged files drained in two separate stream runs (restart
    between them, same checkpoint) must land the EXACT batch register
    table; a full re-run over the drained checkpoint is a no-op."""
    import os

    from dask_datapipeline_spark.operators.sketches import (
        hll_merge_registers,
        hll_registers,
    )
    from dask_datapipeline_spark.streaming.windows import stream_incremental_hll

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    full = spark.range(3000).select(
        (F.col("id") % 3).alias("g"), F.concat(F.lit("u"), F.col("id")).alias("v")
    )
    for i in range(3):
        part = full.where(F.col("id") % 3 == i)
        tmp = str(tmp_path / f"tmp-{i}")
        part.coalesce(1).write.parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, src), os.path.join(staged, f"c{i}.parquet"))
    sketch = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(
        schema="g bigint, v string", group_cols=["g"], value_col="v", p=8,
        checkpoint_dir=ckpt,
    )
    # run 1 drains everything; run 2 (restart) must be a no-op replay
    stream_incremental_hll(spark, staged, sketch, **kw)
    stream_incremental_hll(spark, staged, sketch, **kw)
    got = spark.read.parquet(sketch)
    want = hll_merge_registers(hll_registers(full, ["g"], "v", p=8), ["g"])
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_quality_funnel_is_monotonic_and_consistent(spark):
    """Funnel stages can only shrink; at sf0.001 the page-killer
    arithmetic is hand-checkable (lorem-ipsum on doc_id%4)."""
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    row = (
        EXTRA_CATALOG["quality_funnel"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    assert row["n_pages"] >= row["n_c4_kept"] >= row["n_final_kept"] >= 0
    # every 4th page carries the lorem-ipsum killer; everything else
    # has 3 keepable lines -> C4 keeps exactly the non-%4 pages
    assert row["n_c4_kept"] == row["n_pages"] - (row["n_pages"] + 3) // 4
    assert row["lines_kept"] <= row["lines_in"]
    assert row["n_final_kept"] > 0  # gopher floor non-degenerate


def test_c4_clean_text_is_line_stable(spark):
    """Re-cleaning the cleaned text is a no-op on the LINES: every
    surviving line already ends in terminal punctuation with >=5 words
    and no 'javascript', so the second pass keeps them all. (The PAGE
    flag may legitimately differ — page blockers like 'lorem ipsum'
    can live inside a keepable line.)"""
    import random

    from dask_datapipeline_spark.functions.quality import c4_clean_cols

    rng = random.Random(31)
    pieces = [
        "A full sentence with enough words.", "short.", "no punct line",
        "JavaScript required here today, sadly.", "lorem ipsum dolor sit amet.",
        "{", "word", ".", "\n", "\r\n", " ", '"', "é è ü ö ß and friends too.",
    ]
    strs = [
        " ".join(rng.choice(pieces) for _ in range(rng.randint(0, 20)))
        for _ in range(150)
    ]
    df = spark.createDataFrame([(s,) for s in strs], "text string")
    once = c4_clean_cols(F.col("text"))["clean_text"]
    df2 = df.select(once.alias("clean1"))
    twice = c4_clean_cols(F.col("clean1"))["clean_text"]
    bad = df2.select("clean1", twice.alias("clean2")).where(
        F.col("clean1") != F.col("clean2")
    )
    assert bad.count() == 0, bad.collect()[:3]


def test_gopher_signals_bounded_on_arbitrary_unicode(spark):
    """Arbitrary unicode (high planes, controls, separators, RTL,
    combining marks) must never throw under ANSI mode and every
    fraction must stay in [0, 1] — the no-divide-by-zero claim is a
    real invariant, not a fixture accident."""
    import random

    from dask_datapipeline_spark.functions.quality import (
        SIGNAL_NAMES,
        gopher_keep,
        gopher_signal_cols,
    )

    rng = random.Random(77)
    pools = [
        (0x20, 0x7E), (0x0, 0x1F), (0xA0, 0x2FF), (0x2000, 0x206F),
        (0x0590, 0x05FF), (0x4E00, 0x4E80), (0x1F300, 0x1F320),
        (0x0300, 0x036F),
    ]
    def rnd_str():
        return "".join(
            chr(rng.randint(*rng.choice(pools))) for _ in range(rng.randint(0, 60))
        )
    strs = [rnd_str() for _ in range(200)]
    df = spark.createDataFrame([(s,) for s in strs], "text string")
    sig = gopher_signal_cols(F.col("text"))
    rows = df.select(
        *[sig[n].alias(n) for n in SIGNAL_NAMES], gopher_keep(sig).alias("keep")
    ).collect()
    assert len(rows) == len(strs)
    fracs = [
        "symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac",
        "alpha_word_frac", "dup_line_frac", "dup_line_char_frac",
    ]
    for r in rows:
        assert r["n_words"] >= 1 and r["stop_hits"] >= 0
        for n in fracs:
            if n == "symbol_word_ratio":
                assert r[n] >= 0.0  # not capped at 1 by definition
            else:
                assert 0.0 <= r[n] <= 1.0, (n, r[n])
        assert r["keep"] in (True, False)


# ----- WARC codec (sources/warc.py) -----------------------------------------


def test_warc_roundtrip_binary_safe_bodies(spark):
    """Bodies containing CRLFs, a fake 'WARC/1.0' marker and fake
    headers must round-trip exactly — Content-Length arithmetic, not
    delimiter scanning, owns the record boundaries."""
    from dask_datapipeline_spark.sources.warc import parse_warc, write_warc_batches

    bodies = {
        "https://x/1": "plain",
        "https://x/2": "evil\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n",
        "https://x/3": "Content-Length: 99999\r\n\r\ntrailing",
        "https://x/4": "",
        "https://x/5": "unicode é ß 中 🎉 end",
    }
    df = spark.createDataFrame(
        [(0, u, t) for u, t in bodies.items()], "batch_id long, url string, text string"
    )
    for gz in (True, False):
        parsed = parse_warc(write_warc_batches(df, gzip_records=gz))
        got = {r["url"]: r["text"] for r in parsed.collect()}
        assert got == bodies, (gz, got)


def test_warc_parse_skips_non_response_records(spark):
    from dask_datapipeline_spark.sources.warc import (
        _record_bytes,
        parse_warc,
    )

    rec = _record_bytes("https://x/keep", b"kept body")
    warcinfo = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n"
        b"software\n\r\n\r\n"
    )
    blob = warcinfo + rec
    df = spark.createDataFrame([(bytearray(blob),)], "payload binary")
    got = parse_warc(df).collect()
    assert [(r["url"], r["text"]) for r in got] == [("https://x/keep", "kept body")]


def test_warc_real_binaryfile_ingest(spark, tmp_path):
    """The real-ingest path: a .warc.gz FILE on disk read through
    spark.read.format('binaryFile'), parsed by the same pass."""
    import gzip as _gzip
    import os

    from dask_datapipeline_spark.sources.warc import _record_bytes, parse_warc

    path = str(tmp_path / "crawl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.warc.gz"), "wb") as f:
        for i in range(5):
            f.write(
                _gzip.compress(
                    _record_bytes(f"https://site/{i}", f"body {i}".encode()),
                    mtime=0,
                )
            )
    raw = spark.read.format("binaryFile").load(path)
    got = sorted(
        (r["url"], r["http_status"], r["text"])
        for r in parse_warc(raw, "content").collect()
    )
    assert got == [(f"https://site/{i}", 200, f"body {i}") for i in range(5)]


# ----- source drift (operators/drift.py) ------------------------------------


def test_source_drift_pinned_against_python_twin(spark):
    """Tiny corpus JSD computed by a pure-Python twin with the same
    capped vocab, guards and round-9dp decimal summation — including
    the <other> bucket (vocab_k below the vocab size)."""
    import math
    from collections import Counter
    from decimal import Decimal

    from dask_datapipeline_spark.operators.drift import source_drift

    corpus = {
        ("a", 1): "x x x y common common",
        ("a", 2): "x z common",
        ("b", 3): "y y y w common common rareword",
        ("b", 4): "w w common",
        ("c", 5): "x y w common unique1 unique2",
    }
    df = spark.createDataFrame(
        [(g, t) for (g, _), t in corpus.items()], "source string, text string"
    )
    k = 4
    got = {
        r["source"]: (r["n_tokens"], r["jsd"])
        for r in source_drift(df, "source", "text", vocab_k=k).collect()
    }

    toks = [(g, w) for (g, _), t in corpus.items() for w in t.split(" ") if w]
    gc = Counter(w for _, w in toks)
    vocab = [w for w, _ in sorted(gc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
    n_total = sum(gc.values())
    sym = lambda w: w if w in vocab else "<other>"
    counts = Counter((g, sym(w)) for g, w in toks)
    n_g = Counter(g for g, _ in toks)
    n_s = Counter(s for _, s in [(g, sym(w)) for g, w in toks])
    exp = {}
    for g in n_g:
        total = Decimal(0)
        for s in vocab + ["<other>"]:
            ngs, ns = counts.get((g, s), 0), n_s.get(s, 0)
            rest = n_total - n_g[g]
            p = ngs / n_g[g]
            q = (ns - ngs) / rest if rest > 0 else 0.0
            tp = p * math.log(2.0 * p / (p + q)) if ngs > 0 else 0.0
            tq = (
                q * math.log(2.0 * q / (p + q))
                if (ns - ngs) > 0 and rest > 0
                else 0.0
            )
            total += Decimal(f"{round(0.5 * (tp + tq), 9):.9f}")
        exp[g] = (n_g[g], float(total))
    assert got == exp
    # sanity: all in [0, ln 2], and the divergent source 'b' exceeds 'c'
    for n, j in got.values():
        assert -1e-9 <= j <= math.log(2.0) + 1e-9


# ----- HTML metadata (functions/html.py) ------------------------------------


def test_html_meta_extraction_cases(spark):
    import duckdb

    from dask_datapipeline_spark.functions.html import (
        html_meta_cols,
        html_meta_sql_projections,
    )

    cases = [
        # (html, title, noindex, canonical)
        ('<title>Hello  World</title>', "Hello World", False, ""),
        ('<TITLE class="x">\n spread\ntitle </TITLE>', "spread title", False, ""),
        ('<meta name="robots" content="NOINDEX,follow"><title>t</title>', "t", True, ""),
        ('<meta name="robots" content="nofollow">', "", False, ""),
        ('<link rel="canonical" href="https://e/x?a=1">', "", False, "https://e/x?a=1"),
        ("no metadata at all", "", False, ""),
        ("<title>first</title><title>second</title>", "first", False, ""),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, *_) in enumerate(cases)], "i long, h string"
    )
    sig = html_meta_cols(F.col("h"))
    got = {
        r["i"]: (r["title"], r["noindex"], r["canonical"])
        for r in df.select(
            "i", sig["title"].alias("title"), sig["noindex"].alias("noindex"),
            sig["canonical"].alias("canonical"),
        ).collect()
    }
    ssql = html_meta_sql_projections("h")
    con = duckdb.connect()
    for i, (h, title, noindex, canonical) in enumerate(cases):
        assert got[i] == (title, noindex, canonical), (i, got[i])
        duck = con.sql(
            f"SELECT {ssql['title']}, {ssql['noindex']}, {ssql['canonical']} "
            "FROM (SELECT ?::VARCHAR AS h)",
            params=[h],
        ).fetchone()
        assert tuple(duck) == got[i], (i, duck, got[i])


# ----- robots.txt (functions/robots.py) -------------------------------------


def test_parse_robots_groups_comments_and_patterns(spark):
    from dask_datapipeline_spark.functions.robots import parse_robots

    txt = (
        "# top comment\r\n"
        "User-agent: googlebot\n"
        "User-agent: bingbot\n"       # consecutive UA lines: one group
        "Disallow: /both\n"
        "\n"
        "User-agent: *\n"
        "Allow: /a # trailing comment\n"
        "Disallow:\n"                  # empty == allow everything: no rule
        "Disallow: /w*ld\n"            # wildcard: compiled pattern
        "Disallow: /end$\n"            # anchored: compiled pattern
        "Crawl-delay: 10\n"            # unknown field: ignored
        "Disallow: /b\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h", txt)], "host string, robots_txt string")
    ).collect()
    got = sorted(
        (r["agent"], r["is_allow"], r["prefix"], r["pattern"]) for r in rules
    )
    assert got == [
        ("*", False, "/b", None),
        ("*", False, "/end$", "^/end$"),
        ("*", False, "/w*ld", "^/w.*ld"),
        ("*", True, "/a", None),
        ("bingbot", False, "/both", None),
        ("googlebot", False, "/both", None),
    ]


def test_robots_allowed_longest_prefix_and_defaults(spark):
    from dask_datapipeline_spark.functions.robots import (
        parse_robots,
        robots_allowed,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /p\n"
        "Allow: /p/ok\n"
        "Allow: /q\n"
        "Disallow: /q\n"      # equal length: allow wins
        "User-agent: strictbot\n"
        "Disallow: /\n"
    )
    rules = parse_robots(
        spark.createDataFrame([("h", txt)], "host string, robots_txt string")
    )
    urls = spark.createDataFrame(
        [
            (1, "h", "/p/x"),      # disallowed by /p
            (2, "h", "/p/ok/x"),   # longest match /p/ok -> allowed
            (3, "h", "/q/x"),      # tie /q vs /q -> allow wins
            (4, "h", "/other"),    # host has rules, none match -> allow
            (5, "nohost", "/p/x"), # no rules for host -> allow
        ],
        "id long, host string, path string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="*").collect()
    }
    assert got == {1: False, 2: True, 3: True, 4: True, 5: True}
    # RFC 9309 most-specific group (round-10 fix): strictbot has an
    # exact-agent group on h, so ONLY that group applies — its
    # catch-all disallow decides every path on h and the * group's
    # Allow rules cannot leak in; hosts without rules stay allowed
    got_strict = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="strictbot").collect()
    }
    assert got_strict == {1: False, 2: False, 3: False, 4: False, 5: True}


def test_warc_decodes_declared_charsets(spark):
    """Bodies decode per the HTTP Content-Type charset parameter —
    latin-1/cp1252 long tails are routine in real crawls; unknown
    charsets fall back to utf-8 with replacement, never a throw."""
    from dask_datapipeline_spark.sources.warc import parse_warc

    def rec(url, body, ctype):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype
            + b"\r\nContent-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body
        )
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
            + url.encode() + b"\r\nContent-Length: "
            + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
        )

    blob = (
        rec("u/1", "café".encode("latin-1"), b'text/html; charset="ISO-8859-1"')
        + rec("u/2", b"smart \x93quote\x94", b"text/html; charset=windows-1252")
        + rec("u/3", "caf\xe9 as utf8 \xff".encode("latin-1"), b"text/plain")  # mislabeled: utf-8 replace
        + rec("u/4", "plain utf-8 é".encode(), b"text/plain; charset=utf-8")
        + rec("u/5", b"weird", b"text/plain; charset=klingon")  # unknown -> utf-8
    )
    df = spark.createDataFrame([(bytearray(blob),)], "payload binary")
    got = {r["url"]: r["text"] for r in parse_warc(df).collect()}
    assert got["u/1"] == "café"
    assert got["u/2"] == "smart “quote”"
    assert "�" in got["u/3"]  # replacement chars, no throw
    assert got["u/4"] == "plain utf-8 é"
    assert got["u/5"] == "weird"


def test_html_noindex_attribute_order_insensitive(spark):
    import duckdb

    from dask_datapipeline_spark.functions.html import (
        html_meta_cols,
        html_meta_sql_projections,
    )

    cases = [
        ('<meta name="robots" content="noindex">', True),
        ('<meta content="noindex, nofollow" name="robots">', True),  # reversed
        ('<meta content="noindex" name="viewport">', False),  # wrong name
        ('<meta name="robots" content="all">', False),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, h string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", html_meta_cols(F.col("h"))["noindex"].alias("n")
        ).collect()
    }
    con = duckdb.connect()
    nsql = html_meta_sql_projections("h")["noindex"]
    for i, (h, want) in enumerate(cases):
        assert got[i] is want, (i, h)
        duck = con.sql(
            f"SELECT {nsql} FROM (SELECT ?::VARCHAR AS h)", params=[h]
        ).fetchone()[0]
        assert duck is want, (i, h, duck)


def test_warc_malformed_content_length_resyncs(spark):
    from dask_datapipeline_spark.sources.warc import _record_bytes, parse_warc

    good = _record_bytes("https://x/good", b"ok body")
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://x/bad"
        b"\r\nContent-Length: 12x34\r\n\r\ngarbage"
    )
    blob = bad + good
    df = spark.createDataFrame([(bytearray(blob),)], "payload binary")
    got = [(r["url"], r["text"]) for r in parse_warc(df).collect()]
    assert got == [("https://x/good", "ok body")]


def test_robots_wildcard_and_anchor_matching(spark):
    from dask_datapipeline_spark.functions.robots import (
        parse_robots,
        robots_allowed,
    )

    txt = (
        "User-agent: *\n"
        "Disallow: /*.php$\n"      # any path ending .php
        "Disallow: /dl/*/raw\n"    # wildcard mid-path
        "Allow: /dl/ok/raw\n"      # longer RAW RULE TEXT than the wildcard? no:
        # '/dl/ok/raw' (10) > '/dl/*/raw' (9) -> allow wins by length
        "Disallow: /d.ta\n"        # regex special in a PLAIN rule: literal prefix
    )
    rules = parse_robots(
        spark.createDataFrame([("h", txt)], "host string, robots_txt string")
    )
    urls = spark.createDataFrame(
        [
            (1, "h", "/page.php"),       # anchored wildcard -> disallow
            (2, "h", "/page.php3"),      # $ anchor: NOT matched -> allow
            (3, "h", "/dl/x/raw"),       # mid wildcard -> disallow
            (4, "h", "/dl/ok/raw"),      # longer allow rule wins
            (5, "h", "/d.ta/file"),      # plain rule is a literal prefix
            (6, "h", "/dxta/file"),      # '.' NOT a regex dot -> allow
        ],
        "id long, host string, path string",
    )
    got = {
        r["id"]: r["allowed"]
        for r in robots_allowed(urls, rules, agent="*").collect()
    }
    assert got == {1: False, 2: True, 3: False, 4: True, 5: False, 6: True}


def test_gopher_triage_samples_are_min_ids(spark):
    from dask_datapipeline_spark.plans.catalog import EXTRA_CATALOG

    rows = {
        r["rule"]: r.asDict()
        for r in EXTRA_CATALOG["gopher_triage"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    from dask_datapipeline_spark.functions.quality import (
        FAIL_NAMES,
        gopher_fail_flags,
        gopher_signal_cols,
    )
    from dask_datapipeline_spark.sources.readers import load_testdata

    docs = load_testdata(spark, "/root/testdata/sf0.001", "documents").where(
        F.col("text").isNotNull()
    )
    sig = gopher_signal_cols(F.col("text"))
    flags = gopher_fail_flags(sig)
    per_doc = docs.select(
        "doc_id", *[flags[n].alias(n) for n in FAIL_NAMES]
    ).collect()
    for n in FAIL_NAMES:
        failing = sorted(r["doc_id"] for r in per_doc if r[n])
        if not failing:
            assert n not in rows
            continue
        assert rows[n]["n_failing"] == len(failing)
        want = ",".join(str(d) for d in failing[:3])
        assert rows[n]["sample_doc_ids"] == want, (n, rows[n], want)
