"""Round-14 surface: ADVICE r13 fixes (canonical delta ids, query-id
checkpoint identity, per-flip lease fencing, one unsegmented-route
constant) + the new multilingual scripts and routed shingle mode."""

import json
import os

import pytest
from pyspark.sql import functions as F


# ----- ADVICE r13: canonical delta-id parse ------------------------------


def test_delta_id_rejects_non_canonical_ints():
    """int() accepts underscores, unicode digits, '+' and whitespace —
    a stray delta=1_0 would parse as 10 and get FOLDED by compaction
    (colliding with a real delta=10); only names the module itself
    writes may parse (ADVICE r13)."""
    from dask_datapipeline_spark.operators.deltas import delta_id

    assert delta_id("delta=10") == 10
    assert delta_id("delta=-1") == -1
    assert delta_id("delta=0") == 0
    assert delta_id("delta=1_0") is None
    assert delta_id("delta=+7") is None
    assert delta_id("delta= 7") is None
    assert delta_id("delta=7 ") is None
    assert delta_id("delta=٧") is None  # Arabic-Indic digit seven
    assert delta_id("delta=--3") is None
    assert delta_id("delta=-") is None


def test_non_canonical_delta_dir_never_folded(spark, tmp_path):
    """A delta=1_0 dir sits untouched through a compaction that folds
    its canonical siblings."""
    from dask_datapipeline_spark.operators.deltas import (
        maybe_compact_deltas,
    )

    root = str(tmp_path / "log")
    for i in range(3):
        spark.range(5).withColumn("b", F.lit(i)).write.parquet(
            f"{root}/delta={i}"
        )
    os.makedirs(f"{root}/delta=1_0")
    with open(f"{root}/delta=1_0/keep.txt", "w") as f:
        f.write("manual dir — not a batch delta")
    assert maybe_compact_deltas(spark, root, max_deltas=1)
    names = sorted(d for d in os.listdir(root) if d.startswith("delta="))
    assert "delta=1_0" in names
    assert os.path.exists(f"{root}/delta=1_0/keep.txt")
    # folded base carries all 15 rows exactly once
    kept = [d for d in names if d != "delta=1_0"]
    assert kept == ["delta=-1"]
    assert spark.read.parquet(f"{root}/delta=-1").count() == 15


# ----- ADVICE r13: fence re-checked at the compaction commit point -------


def test_lease_fence_stops_compaction_before_commit(spark, tmp_path):
    """A writer fenced AFTER batch start but BEFORE its in-batch
    compaction commits must stop at the commit boundary: the live
    delta dirs stay exactly as they were (the pre-commit work dir is
    garbage the next recover sweeps)."""
    from dask_datapipeline_spark.lease import LeaseFencedError, WriterLease
    from dask_datapipeline_spark.operators.deltas import (
        maybe_compact_deltas,
        recover_delta_compaction,
    )

    root = str(tmp_path / "log")
    for i in range(3):
        spark.range(4).withColumn("b", F.lit(i)).write.parquet(
            f"{root}/delta={i}"
        )
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    a = WriterLease(root, owner="job-a", ttl_sec=10, clock=clock)
    a.acquire()  # batch-start check would pass
    now[0] += 60  # a's lease expires mid-batch...
    b = WriterLease(root, owner="job-b", ttl_sec=10, clock=clock)
    b.acquire()  # ...and b takes over (epoch bump = the fence)
    with pytest.raises(LeaseFencedError):
        maybe_compact_deltas(spark, root, max_deltas=1, lease=a)
    # the live root was never touched: all three deltas intact
    names = sorted(d for d in os.listdir(root) if d.startswith("delta="))
    assert names == ["delta=0", "delta=1", "delta=2"]
    recover_delta_compaction(root)  # sweeps the pre-commit work dir
    assert not os.path.exists(f"{root}/.compact")
    # and the new owner can compact normally
    assert maybe_compact_deltas(spark, root, max_deltas=1, lease=b)
    assert spark.read.parquet(f"{root}/delta=-1").count() == 12


def test_lease_fence_stops_minhash_compaction_flip(spark, tmp_path):
    """Same per-flip fence on the manifest-flip family: a fenced
    compact_minhash_index raises before the _CURRENT rewrite, leaving
    the manifest (and every referenced dir) exactly as committed."""
    from dask_datapipeline_spark.lease import LeaseFencedError, WriterLease
    from dask_datapipeline_spark.operators.minhash_index import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        _read_state,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "mh")
    build_minhash_index(docs, idx, num_hashes=8)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta 100")],
        "doc_id long, text string",
    )
    append_to_minhash_index(batch, idx, batch_tag="b00000")
    before = _read_state(idx)[1]
    assert before["inc"] == ["b00000"]
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    a = WriterLease(idx, owner="job-a", ttl_sec=10, clock=clock)
    a.acquire()
    now[0] += 60
    b = WriterLease(idx, owner="job-b", ttl_sec=10, clock=clock)
    b.acquire()
    with pytest.raises(LeaseFencedError):
        compact_minhash_index(spark, idx, lease=a)
    after = _read_state(idx)[1]
    assert after == before  # flip never happened
    # every manifest-referenced dir still present and readable
    for key in ("bands", "arrays"):
        assert spark.read.parquet(os.path.join(idx, after[key])).count() > 0


# ----- round-14 scripts: Greek / Devanagari / Thai / Hebrew --------------


def test_new_scripts_route_with_honest_labels():
    """Every held-out sentence in the four new scripts routes to its
    own label — never a Latin language, never 'und' (the pre-r14
    behavior this extension fixes)."""
    from dask_datapipeline_spark.operators import langid as L
    from dask_datapipeline_spark.operators.scripts import py_route

    for label in ("th", "und-Grek", "und-Deva", "und-Hebr"):
        for s in L.HELDOUT_SCRIPT_SENTENCES[label]:
            assert py_route(s) == label, (label, s)


def test_thai_routes_to_char_tier_and_engines_agree(spark):
    """Thai is unsegmented: token counting uses Thai LETTER codepoints
    (not the clause-space word count), and the quality gate applies
    the char tier — a real Thai page KEEPS, marker-free Thai gibberish
    fails the function-char floor. DuckDB replays every value
    bit-for-bit from the same constants."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.functions import quality as Q
    from dask_datapipeline_spark.operators import langid as L
    from dask_datapipeline_spark.operators import scripts as S

    assert "th" in S.UNSEGMENTED_ROUTES
    th_lines = [s.replace(" ", "") for s in L.HELDOUT_SCRIPT_SENTENCES["th"]]
    th_good = "\n".join(l * 2 for l in th_lines)  # >125 chars, real text
    # rare consonants only — zero marker characters → stopword floor
    th_gibberish = "\n".join(["ฆฑฒษศฬฮฃฅ" * 6] * 3)
    rows = [(0, th_good), (1, th_gibberish), (2, th_lines[0])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prof = S.script_profile(df, "doc_id", "text").select("doc_id", "script")
    out = {
        r["doc_id"]: r
        for r in df.join(prof, "doc_id")
        .select(
            "doc_id",
            "script",
            S.routed_token_count("text", "script").alias("n_tokens"),
            Q.quality_keep_routed("text", "script").alias("keep"),
        )
        .collect()
    }
    assert all(out[i]["script"] == "th" for i in range(3))
    # routed tokens = Thai codepoints, NOT the whitespace word count
    c0 = S.py_script_counts(th_good)
    assert out[0]["n_tokens"] == c0["n_thai"]
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False  # no function characters at all
    assert out[2]["keep"] is False  # one sentence < min_chars floor
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    counts = S.script_count_sql("text")
    count_cols = ",\n".join(
        f"{sql} AS {name}"
        for name, sql in counts.items()
        if name != "n_letters"
    )
    sql = f"""
WITH c AS (SELECT doc_id, text, {count_cols} FROM docs),
p AS (SELECT *, {counts["n_letters"]} AS n_letters FROM c),
r AS (SELECT *, {S.script_route_sql()} AS script FROM p)
SELECT doc_id, script,
       {S.routed_token_count_sql("text", "script")} AS n_tokens,
       {Q.quality_keep_routed_sql("text", "script")} AS keep
FROM r
"""
    want = {r[0]: r for r in con.execute(sql).fetchall()}
    for i in range(3):
        assert out[i]["script"] == want[i][1]
        assert out[i]["n_tokens"] == want[i][2]
        assert out[i]["keep"] == bool(want[i][3])


def test_polytonic_greek_documented_out_of_scope():
    """Greek Extended (polytonic accents, 0x1F00-0x1FFF) deliberately
    counts as 'other' — the scope note in SCRIPT_RANGES — while the
    basic Greek block letters still carry a real polytonic sentence to
    und-Grek (most of its codepoints are unaccented)."""
    from dask_datapipeline_spark.operators.scripts import (
        py_route,
        py_script_counts,
    )

    # pure Extended-block accented vowels: no 'greek' letters counted
    assert py_script_counts("ἄἔῦἤὥ")["n_greek"] == 0
    assert py_route("ἄἔῦἤὥ") == "und"
    # a real polytonic opening still routes Greek via its basic-block
    # majority — the Extended chars just don't count
    assert py_route("ἄνδρα μοι ἔννεπε μοῦσα πολύτροπον") == "und-Grek"
    assert py_route("Σε γνωρίζω από την κόψη του σπαθιού") == "und-Grek"


# ----- routed shingle mode (VERDICT r13 item 1) ---------------------------


def _routed_corpus(spark, n_docs=8):
    """The mixed-script catalog fixture over doc_ids 0..n-1: even
    groups Latin partner pairs, odd groups unsegmented CJK pairs."""
    from dask_datapipeline_spark.plans.catalog_llm import _routed_fixture_col

    return (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", _routed_fixture_col().alias("text"))
    )


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_routed_mode_finds_what_each_single_mode_misses(spark):
    """THE recall floor (VERDICT r13 item 1 'Done' criterion): on one
    mixed Han/Latin corpus, word mode misses the CJK partner pairs
    (zero shingles on unsegmented text), char mode misses the Latin
    partner pairs (the doc-unique long words dilute char Jaccard below
    threshold), and the ROUTED mode finds both families — exactly the
    planted partners, nothing else."""
    from dask_datapipeline_spark.operators.dedup import (
        near_dup_pairs_minhash,
    )

    corpus = _routed_corpus(spark, 8)
    latin_pairs = {(0, 1), (4, 5)}
    cjk_pairs = {(2, 3), (6, 7)}

    def run(mode):
        return _pairs(
            near_dup_pairs_minhash(
                corpus, threshold=0.5, max_df=256, shingle_mode=mode
            )
        )

    word = run("word")
    assert latin_pairs <= word and not (cjk_pairs & word)
    char = run("char")
    assert cjk_pairs <= char and not (latin_pairs & char)
    routed = run("routed")
    assert routed == latin_pairs | cjk_pairs


def test_routed_tags_prevent_cross_mode_hash_collisions(spark):
    """A char 3-gram equal to a word shingle string must NOT share a
    hash across differently-routed docs: the 'w|'/'c|' namespace makes
    the hash universes disjoint by construction."""
    from dask_datapipeline_spark.operators.dedup import hashed_shingles

    # doc 0: Latin, word-routed — its word 1-shingles are single words;
    # doc 1: unsegmented Han+the same ASCII trigram embedded — if tags
    # were absent, 'abc' (char gram) would hash-equal 'abc' (word)
    rows = [
        (0, "abc def ghi jkl mno pqr stu vwx"),
        (1, "漢字漢字漢字漢字abc漢字漢字漢字漢字漢字漢字"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = hashed_shingles(df, "doc_id", "text", 1, "routed")
    h0 = {r["__h"] for r in hashed.where("doc_id = 0").collect()}
    h1 = {r["__h"] for r in hashed.where("doc_id = 1").collect()}
    assert h0 and h1
    assert not (h0 & h1)


def test_routed_minhash_index_end_to_end(spark, tmp_path):
    """The materialized index inherits the routed mode from _META: a
    batch probe flags near-dups against BOTH the Latin and the CJK
    slices of the indexed corpus without the caller re-passing the
    mode."""
    import json

    from dask_datapipeline_spark.operators.minhash_index import (
        build_minhash_index,
        incremental_near_dup_flags,
    )
    from pyspark.sql import functions as F

    corpus = _routed_corpus(spark, 8)
    idx = str(tmp_path / "ridx")
    meta = build_minhash_index(corpus, idx, shingle_mode="routed")
    assert meta["shingle_mode"] == "routed"
    with open(f"{idx}/_META") as f:
        assert json.loads(f.read())["shingle_mode"] == "routed"
    # batch: re-texts of doc 0 (Latin) and doc 2 (CJK) under fresh ids,
    # plus one genuinely novel doc
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    batch = spark.createDataFrame(
        [
            (100, texts[1]),
            (101, texts[3]),
            (102, "entirely novel words nobody indexed anywhere today"),
        ],
        "doc_id long, text string",
    )
    flags = {
        r["doc_id"]: (r["dup_of"], r["is_new"])
        for r in incremental_near_dup_flags(batch, idx).collect()
    }
    assert flags[100][1] is False  # caught by the Latin word slice
    assert flags[101][1] is False  # caught by the CJK char slice
    assert flags[102] == (None, True)


# ----- create-exclusive lease acquire (VERDICT r13 item 3) ----------------


def _uri14(p):
    return "file://" + str(p)


@pytest.mark.parametrize("via_uri", [False, True])
def test_lease_acquire_race_exactly_one_wins(spark, tmp_path, via_uri):
    """Two writers racing acquire() at the SAME observed epoch: the
    create-exclusive epoch claim lets exactly one commit; the loser
    raises LeaseHeldError — on both backends (plain path and the
    Hadoop file:// channel). Simulated by replaying B's pre-race read:
    B observed 'no lease' before A committed, then loses the claim."""
    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease

    root = _uri14(tmp_path / "idx") if via_uri else str(tmp_path / "idx")
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    a = WriterLease(root, owner="job-a", ttl_sec=100, clock=clock)
    b = WriterLease(root, owner="job-b", ttl_sec=100, clock=clock)
    # B reads first (sees nothing), then A completes its acquire
    real_read = b._read
    pre_race = [b._read()]  # None — the stale observation
    assert pre_race == [None]

    def replayed_read():
        if pre_race:
            return pre_race.pop()
        return real_read()

    b._read = replayed_read
    assert a.acquire() == 1
    with pytest.raises(LeaseHeldError):
        b.acquire()  # loses the e1 claim, re-reads, sees A live
    assert b.epoch is None  # never committed anything
    # A is unaffected
    a.check_and_renew()


@pytest.mark.parametrize("via_uri", [False, True])
def test_lease_claim_orphan_and_in_progress(spark, tmp_path, via_uri):
    """A claim whose writer crashed before committing _LEASE blocks
    acquire only until ttl; past it the next acquirer skips to the
    following epoch (monotonicity lives in the committed record)."""
    from dask_datapipeline_spark.indexfs import IndexFS
    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease

    root = _uri14(tmp_path / "idx") if via_uri else str(tmp_path / "idx")
    fs = IndexFS.for_path(root, "test")
    fs.makedirs(root)
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    # a FRESH in-progress claim for epoch 1 (no committed _LEASE)
    assert fs.create_exclusive(
        IndexFS.join(root, "_LEASE.e1"), '{"owner": "ghost", "ts": 1000.0}'
    )
    w = WriterLease(root, owner="job-w", ttl_sec=100, clock=clock)
    with pytest.raises(LeaseHeldError, match="in progress"):
        w.acquire()
    # past ttl the claim is an orphan: the acquirer skips to epoch 2
    now[0] = 1200.0
    assert w.acquire() == 2
    w.check_and_renew()
    # older claims were garbage-collected; the current one remains
    names = [n for n in fs.listdir(root) if n.startswith("_LEASE.e")]
    assert names == ["_LEASE.e2"]


def test_lease_epochs_stay_monotone_across_release_cycles(tmp_path):
    """Release/re-acquire cycles keep bumping epochs through the
    claim path (regression guard for the r13 semantics under the new
    acquire)."""
    from dask_datapipeline_spark.lease import WriterLease

    root = str(tmp_path / "idx")
    seen = []
    for _ in range(3):
        w = WriterLease(root, owner="job-x", ttl_sec=100)
        seen.append(w.acquire())
        w.release()
    assert seen == [1, 2, 3]


def test_indexfs_create_exclusive_both_backends(spark, tmp_path):
    """The primitive itself: second create on one path returns False,
    content written by the winner survives, on both channels."""
    from dask_datapipeline_spark.indexfs import IndexFS

    for root in (str(tmp_path / "plain"), _uri14(tmp_path / "had")):
        fs = IndexFS.for_path(root, "test")
        fs.makedirs(root)
        p = IndexFS.join(root, "claim")
        assert fs.create_exclusive(p, "first") is True
        assert fs.create_exclusive(p, "second") is False
        assert fs.read_text(p) == "first"


# ----- code-corpus front door (round 14) ---------------------------------


def test_license_detect_families_spdx_precedence_and_failclosed(spark):
    """Every fixture family detects as intended; an SPDX tag beats a
    phrase hit; permissive is fail-closed on unknown/copyleft."""
    from dask_datapipeline_spark.functions.code import (
        license_col,
        permissive_col,
        py_license,
    )
    from dask_datapipeline_spark.plans.catalog_llm import (
        CODE_FIXTURE_BODY,
        CODE_FIXTURE_HEADERS,
    )

    expected = [
        "mit", "apache-2.0", "gpl", "bsd", "mpl-2.0",
        "bsd-3-clause", "unknown",
    ]
    docs = [h + "\n" + CODE_FIXTURE_BODY for h in CODE_FIXTURE_HEADERS]
    # SPDX tag wins over an embedded phrase
    both = (
        "// SPDX-License-Identifier: Apache-2.0\n"
        "// Permission is hereby granted, free of charge, to anyone\n"
        + CODE_FIXTURE_BODY
    )
    docs.append(both)
    expected.append("apache-2.0")

    for text, want in zip(docs, expected):
        assert py_license(text) == want, text[:60]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "id long, text string"
    )
    rows = (
        df.select(
            "id",
            license_col("text").alias("lic"),
        )
        .withColumn("perm", permissive_col("lic"))
        .orderBy("id")
        .collect()
    )
    assert [r["lic"] for r in rows] == expected
    # fail-closed: gpl + unknown are NOT permissive, the rest are
    assert [r["perm"] for r in rows] == [
        True, True, False, True, True, True, False, True
    ]


def test_code_signals_three_way_agreement(spark):
    """Spark exprs, the DuckDB twin, and the pure-Python twin agree on
    crafted edge shapes (tab indent, 8-space indent, single-line prose
    with a semicolon, empty string)."""
    import duckdb

    from dask_datapipeline_spark.functions.code import (
        code_like_col,
        code_like_sql,
        code_signal_cols,
        code_signal_sql,
        py_code_like,
        py_code_signals,
    )
    from dask_datapipeline_spark.plans.catalog_llm import CODE_FIXTURE_BODY

    cases = [
        CODE_FIXTURE_BODY,
        "\tdef f(x):\n\t\treturn x\n",
        "        double indent\n    quadruple\nplain",
        "prose with one semicolon; and a single line",
        "",
        "x" * 300 + "\nshort",
    ]
    names = ["n_lines", "n_indented", "n_braces", "n_semicolons",
             "max_line_len"]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "id long, text string"
    )
    sig = code_signal_cols(F.col("text"))
    sdf = df.select("id", *[sig[k].alias(k) for k in names])
    sdf = sdf.withColumn(
        "code_like", code_like_col({k: F.col(k) for k in names})
    )
    spark_rows = {r["id"]: r.asDict() for r in sdf.collect()}

    con = duckdb.connect()
    sql_sig = code_signal_sql("text")
    sel = ", ".join(f"{v} AS {k}" for k, v in sql_sig.items())
    for i, text in enumerate(cases):
        py = py_code_signals(text)
        got = spark_rows[i]
        for k in names:
            assert got[k] == py[k], (i, k, got[k], py[k])
        assert got["code_like"] == py_code_like(text), (i, text[:40])
        duck = con.execute(
            f"SELECT {sel}, "
            f"(SELECT {code_like_sql()} FROM (SELECT {sel})) AS code_like "
            "FROM (SELECT ? AS text)",
            [text],
        ).fetchone()
        for j, k in enumerate(names):
            assert duck[j] == py[k], (i, k, "duckdb", duck[j], py[k])
        assert bool(duck[len(names)]) == py_code_like(text)


# ----- route-aware sentence stats (round 14) -----------------------------


def test_sentence_count_routed_three_way(spark):
    """Terminator RUNS count once; the class follows the route (zh/ja
    ideographic, und-Deva danda, und-Arab ؟/۔, th honest zero);
    Spark / DuckDB / Python twins agree."""
    import duckdb

    from dask_datapipeline_spark.operators.scripts import (
        py_sentence_count,
        sentence_count_col,
        sentence_count_sql,
    )

    cases = [
        ("Hello world. How are you? Fine!", "latin", 3),
        ("Wait... what?", "latin", 2),          # run of dots = ONE boundary
        ("你好。世界！再见？", "zh", 3),
        ("これはテストです。続きます！", "ja", 2),
        ("一句没有标点的古文", "zh", 0),          # honest zero
        ("यह एक वाक्य है। दूसरा वाक्य॥", "und-Deva", 2),
        ("كيف حالك؟ بخير۔", "und-Arab", 2),
        ("ประโยคไทยไม่มีเครื่องหมาย", "th", 0),   # no terminal mark in Thai
        ("Mixed ascii? 中文。", "zh", 2),
    ]
    for text, route, want in cases:
        assert py_sentence_count(text, route) == want, (text, route)

    df = spark.createDataFrame(
        [(i, t, r) for i, (t, r, _) in enumerate(cases)],
        "id long, text string, script string",
    )
    rows = (
        df.select("id", sentence_count_col("text", "script").alias("n"))
        .orderBy("id")
        .collect()
    )
    assert [r["n"] for r in rows] == [w for _, _, w in cases]

    con = duckdb.connect()
    expr = sentence_count_sql("text", "script")
    for text, route, want in cases:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS text, ? AS script)",
            [text, route],
        ).fetchone()[0]
        assert got == want, (text, route, got)


# ----- positional phrase search (round 14) -------------------------------


def test_phrase_overlap_and_repeated_term_semantics(spark):
    """Overlapping matches count separately (the substring device
    undercounts them — contrast pinned); a repeated phrase term maps
    to both its indices; prefix hits never count."""
    from dask_datapipeline_spark.operators.phrase import (
        phrase_search,
        py_phrase_count,
    )

    cases = [
        (0, "ha ha ha", ["ha", "ha"], 2),           # overlap: anchors 0,1
        (1, "alpha beta alpha beta alpha",
         ["alpha", "beta", "alpha"], 2),            # shared middle token
        (2, "alpha beta gamma", ["alpha", "beta", "alpha"], 0),
        (3, "one two three", ["two", "three"], 1),
        (4, "Case FOLDS here", ["case", "folds"], 1),
        (5, "two  spaces", ["two", "spaces"], 0),   # '' token between
    ]
    for _, text, terms, want in cases:
        assert py_phrase_count(text, terms) == want, (text, terms)
        # the naive substring count on spaced text undercounts overlap
        if want == 2 and terms == ["ha", "ha"]:
            spaced = " " + text.lower() + " "
            assert spaced.count(" " + " ".join(terms) + " ") == 1

    for i, text, terms, want in cases:
        df = spark.createDataFrame([(i, text)], "doc_id long, text string")
        got = {
            r["doc_id"]: r["n_matches"]
            for r in phrase_search(df, terms).collect()
        }
        assert got.get(i, 0) == want, (text, terms, got)


def test_phrase_index_path_equals_scan_path_and_pushes_filter(
    spark, tmp_path
):
    """The positional index round trip is transparent (same rows as
    the scan path) and the probe's postings scan carries the
    In(token, ...) pushed filter — the corpus is never re-tokenized."""
    from dask_datapipeline_spark.operators.phrase import (
        build_positional_index,
        phrase_search,
        phrase_search_from_index,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "quick brown quick brown quick"),
        (2, "nothing to see here"),
        (3, None),
        (4, "brown quick brown"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["quick", "brown"]

    scan = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_search(docs, terms).collect()
    }
    assert scan == {0: 1, 1: 2, 4: 1}

    idx = str(tmp_path / "pidx")
    build_positional_index(docs, idx)
    probe = phrase_search_from_index(spark, idx, terms)
    got = {r["doc_id"]: r["n_matches"] for r in probe.collect()}
    assert got == scan

    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [In(token" in plan, plan


# ----- homoglyph folding (round 14) --------------------------------------


def test_homoglyph_fold_three_way_and_spoof_roundtrip(spark):
    """Spark translate / DuckDB translate / str.translate agree on the
    fold; a Latin->Cyrillic spoofed copy differs raw but collides
    folded; folding pure ASCII is the identity."""
    import duckdb

    from dask_datapipeline_spark.functions.normalize import (
        HOMOGLYPH_DST,
        HOMOGLYPH_SRC,
        fold_homoglyphs,
        fold_homoglyphs_py,
        fold_homoglyphs_sql,
    )

    assert len(HOMOGLYPH_SRC) == len(HOMOGLYPH_DST)
    # a duplicated src codepoint would silently shadow its later
    # mapping (translate keeps the first) — keep the table injective
    assert len(set(HOMOGLYPH_SRC)) == len(HOMOGLYPH_SRC)
    # the fold range must land on ASCII so folding is idempotent
    assert all(ord(c) < 0x80 for c in HOMOGLYPH_DST)
    cyr = "".join(chr(c) for c in (0x0430, 0x0435, 0x043E, 0x0440, 0x0441))
    cases = [
        "plain ascii stays unchanged",
        "pаypаl lоgin",            # Cyrillic а/о spoofs
        "ΑΤΟΜ atom",           # Greek capitals
        "ＦＵＬＬｗidth ０９",  # fullwidth
        "",
    ]
    con = duckdb.connect()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "id long, t string"
    )
    got = {
        r["id"]: r["f"]
        for r in df.select(
            "id", fold_homoglyphs(F.col("t")).alias("f")
        ).collect()
    }
    for i, t in enumerate(cases):
        want = fold_homoglyphs_py(t)
        assert got[i] == want, (t, got[i], want)
        duck = con.execute(
            f"SELECT {fold_homoglyphs_sql('t')} FROM (SELECT ? AS t)", [t]
        ).fetchone()[0]
        assert duck == want, (t, duck, want)

    # ascii identity + spoof collision
    base = "an ascii sentence with aeopc letters"
    assert fold_homoglyphs_py(base) == base
    spoofed = base.translate(
        {ord(a): b for a, b in zip("aeopc", cyr)}
    )
    assert spoofed != base
    assert fold_homoglyphs_py(spoofed) == base


def test_phrase_decontaminate_matches_per_phrase_scan(spark):
    """The batch probe equals per-phrase phrase_search for every
    benchmark sentence (same anchor device, one pass), including the
    overlap pair and a never-matching control."""
    from dask_datapipeline_spark.operators.phrase import (
        phrase_decontaminate,
        phrase_search,
    )

    rows = [
        (0, "ha ha ha and more"),
        (1, "alpha beta alpha beta alpha"),
        (2, "plain prose with no hits"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = [(0, "ha ha"), (1, "alpha beta alpha"), (2, "zeta eta")]
    phrases = spark.createDataFrame(bench, "phrase_id int, text string")

    got = {
        (r["doc_id"], r["phrase_id"]): r["n_matches"]
        for r in phrase_decontaminate(docs, phrases).collect()
    }
    want = {}
    for pid, sent in bench:
        for r in phrase_search(docs, sent.split(" ")).collect():
            want[(r["doc_id"], pid)] = r["n_matches"]
    assert got == want == {(0, 0): 2, (1, 1): 2}


def test_phrase_decontaminate_index_equals_scan_and_pushes_vocab(
    spark, tmp_path
):
    """The index-backed batch probe matches the scan-path probe and
    its postings scan carries the benchmark-vocabulary In filter."""
    from dask_datapipeline_spark.operators.phrase import (
        build_positional_index,
        phrase_decontaminate,
        phrase_decontaminate_from_index,
    )

    rows = [
        (0, "ha ha ha and more"),
        (1, "alpha beta alpha beta alpha"),
        (2, "plain prose with no hits"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    phrases = spark.createDataFrame(
        [(0, "ha ha"), (1, "alpha beta alpha")],
        "phrase_id int, text string",
    )
    idx = str(tmp_path / "pidx")
    build_positional_index(docs, idx)
    probe = phrase_decontaminate_from_index(spark, idx, phrases)
    got = {
        (r["doc_id"], r["phrase_id"]): r["n_matches"]
        for r in probe.collect()
    }
    want = {
        (r["doc_id"], r["phrase_id"]): r["n_matches"]
        for r in phrase_decontaminate(docs, phrases).collect()
    }
    assert got == want == {(0, 0): 2, (1, 1): 2}
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [In(token" in plan, plan


# ----- round-14 review: lease protocol hardening -------------------------


def test_lease_stalled_acquirer_cannot_steal_live_lease(tmp_path):
    """The GC-recycled-claim steal (round-14 review): C reads epoch 3,
    stalls; A releases and re-acquires through epochs 4 and 5 (GC
    removes the e4 claim); C resumes and wins create_exclusive on the
    recycled e4 name — the post-claim validation must refuse to
    commit epoch 4 over A's LIVE epoch 5 and raise instead."""
    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease

    root = str(tmp_path / "idx")
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    a = WriterLease(root, owner="job-a", ttl_sec=10, clock=clock)
    a.acquire()  # epoch 1
    a.release()
    # C stalls here conceptually: it has read epoch 1 (expired record)
    c = WriterLease(root, owner="job-c", ttl_sec=10, clock=clock)
    rec_seen_by_c = c._read()
    assert rec_seen_by_c["epoch"] == 1
    # meanwhile A cycles twice more: epochs 2 and 3, still LIVE at 3
    a.acquire(); a.release()      # epoch 2
    a.acquire()                   # epoch 3, live
    # C resumes with its stale view: the claim name e2 was GC'd, so
    # create_exclusive succeeds — the old code would commit epoch 2
    # over A's live epoch 3. The hardened acquire must raise.
    with pytest.raises(LeaseHeldError):
        c.acquire()
    final = a._read()
    assert final["owner"] == "job-a" and final["epoch"] == 3
    # A is still unfenced
    a.check_and_renew()


def test_lease_own_orphan_claim_adopted_not_self_fencing(tmp_path):
    """A writer that crashed between claim-create and _LEASE commit
    must reclaim immediately on restart (stable owner id), not wait
    out its own claim's ttl."""
    from dask_datapipeline_spark.indexfs import IndexFS
    from dask_datapipeline_spark.lease import WriterLease

    root = str(tmp_path / "idx")
    now = [1000.0]
    clock = lambda: now[0]  # noqa: E731
    a = WriterLease(root, owner="job-a", ttl_sec=600, clock=clock)
    a.acquire()  # epoch 1
    # simulate the crash: orphan claim for epoch 2, no commit
    fs = IndexFS.for_path(root, "test")
    assert fs.create_exclusive(
        IndexFS.join(root, "_LEASE.e2"),
        '{"owner": "job-a", "ts": 1000.0}',
    )
    restarted = WriterLease(root, owner="job-a", ttl_sec=600, clock=clock)
    # no clock advance at all — adoption must be immediate
    assert restarted.acquire() == 2
    assert restarted._read()["epoch"] == 2
    restarted.check_and_renew()


def test_script_mix_three_way(spark):
    """Mixed-script signals agree across Spark / DuckDB / Python on
    the planted classes: clean one-script pages, a half-and-half
    page, loanword pages under the 1/4 floor, and empty/digit-only
    pages (letters=0 → never mixed)."""
    import duckdb
    import pandas as pd

    from dask_datapipeline_spark.operators import scripts as S

    cases = [
        "pure english prose with nothing else",
        "半々のテキスト half and half latin かなカナ交じり文です",
        "mostly english with 漢字 loanword",     # CJK < 1/4 of letters
        "12345 !!! ... ??? 67890",               # zero letters
        "",
        "кириллица plus latin half and half here",
    ]
    data = list(enumerate(cases))
    df = spark.createDataFrame(data, "doc_id long, text string")
    pre = df.select(
        "doc_id", "text", S.nonascii_col("text").alias("__na")
    )
    counts = S.script_count_cols("text", nonascii=F.col("__na"))
    step = pre.select("doc_id", *[counts[k].alias(k) for k in counts])
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
    want_sql = {r[0]: (r[1], r[2], bool(r[3])) for r in rows}
    assert got == want_sql
    for i, t in data:
        m = S.py_script_mix(t)
        assert got[i] == (
            m["n_scripts_present"], m["n_scripts_major"], m["mixed_script"]
        ), t
    # the planted semantics
    assert got[0][2] is False
    assert got[1][2] is True      # half-and-half CJK/Latin
    assert got[2][2] is False     # loanword under the 1/4 floor
    assert got[3] == (0, 0, False)
    assert got[5][2] is True      # Cyrillic/Latin split
