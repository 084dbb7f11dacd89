"""Round-8 operators: auto-sized SRP geometry (VERDICT r7 #1).

The round-7 scaling run measured the FIXED 16x8-bit
``embedding_near_dup`` geometry reaching 0 pairs at 200k vectors —
every 256-bucket table saturated past the bucket_cap=64 skew guard
(docs/SCALE.md). These tests pin the production fix: bits sized to
the corpus by default, integer-exactly, with the SQL oracle replaying
the same formula.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest

from dask_datapipeline_spark.operators import similarity as S


# ----- sized_srp_bits: the integer-exact ceil-log2 ---------------------


def test_sized_srp_bits_matches_float_formula():
    """bit_length formula == ceil(log2(n/occ)) for every n that
    matters (and the float formula's own edge cases at powers of 2)."""
    for n in list(range(1, 5000)) + [2**k for k in range(8, 31)] + [
        2**k + d for k in range(8, 31) for d in (-1, 1)
    ]:
        got = S.sized_srp_bits(n)
        want = max(8, math.ceil(math.log2(max(n, 2048) / 8)))
        assert got == want, f"n={n}: {got} != {want}"


def test_sized_srp_bits_occupancy_invariant():
    """Defining property: 2^bits buckets hold n rows at <= occupancy
    (above the min-bits floor), and bits-1 would not."""
    for n in [2049, 5000, 20_000, 200_000, 10**7]:
        for occ in [1, 4, 8, 64]:
            bits = S.sized_srp_bits(n, target_occupancy=occ)
            assert n <= occ * (1 << bits)
            if bits > S.SRP_MIN_BITS:
                assert n > occ * (1 << (bits - 1))


def test_sized_srp_bits_validates():
    with pytest.raises(ValueError):
        S.sized_srp_bits(-1)
    with pytest.raises(ValueError):
        S.sized_srp_bits(100, target_occupancy=0)
    assert S.sized_srp_bits(0) == S.SRP_MIN_BITS


def test_sized_srp_bits_matches_duckdb_bin_formula():
    """The oracle computes bits as GREATEST(min, length(bin(cells-1)))
    — pin the two engines' formulas against each other so the auto
    oracle can never drift from sized_srp_bits."""
    import duckdb

    ns = list(range(0, 3000, 7)) + [2**k + d for k in range(8, 24) for d in (-1, 0, 1)]
    occ = S.SRP_TARGET_OCCUPANCY
    rel = duckdb.sql(
        "SELECT n, GREATEST(%d, length(bin((GREATEST(n, 1) + %d) // %d - 1))) AS bits "
        "FROM (SELECT UNNEST(%s::BIGINT[]) AS n)" % (S.SRP_MIN_BITS, occ - 1, occ, ns)
    ).fetchall()
    for n, sql_bits in rel:
        assert sql_bits == S.sized_srp_bits(n), f"n={n}"


# ----- the 200k-vector saturation tier ----------------------------------


N_TIER = 200_000
PLANT_STRIDE = 100  # ids 100m/100m+1 are planted near-dup pairs


def _tier_corpus(spark):
    """200k deterministic 64-dim vectors, generated executor-side
    (never collected/parallelized through the driver); every id
    congruent 1 mod PLANT_STRIDE is its predecessor plus 5% noise
    (cosine ~0.9988, comfortably over the 0.9 threshold)."""
    stride = PLANT_STRIDE

    def gen(batches):
        # splitmix64 of (id, d, salt), vectorized: per-ID reproducible
        # regardless of Arrow batch boundaries. Defined INSIDE the
        # closure so cloudpickle ships it by value — executors cannot
        # import the test module.
        def unit(ids, salt, dim=64):
            x = (
                ids.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
                + np.arange(dim, dtype=np.uint64)[None, :] * np.uint64(0xBF58476D1CE4E5B9)
                + np.uint64(salt) * np.uint64(0x94D049BB133111EB)
            )
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
            return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53) * 2.0 - 1.0

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            base = unit(ids, salt=1)
            planted = ids % stride == 1
            if planted.any():
                src = unit(ids[planted] - 1, salt=1)
                noise = unit(ids[planted], salt=2)
                base[planted] = src + 0.05 * noise
            yield pd.DataFrame({"vec_id": ids, "embedding": list(base)})

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.range(N_TIER, numPartitions=8).mapInPandas(gen, schema)


def test_auto_geometry_rescues_the_saturated_tier(spark):
    """THE round-8 headline pin, on the exact tier where docs/SCALE.md
    measured the failure: at 200k vectors the fixed 16x8-bit driver-row
    geometry returns ZERO pairs (all 256 buckets/table exceed the
    cap-64 guard), while the auto-sized default (bits=15 here, cap=64)
    recovers the planted near-dups."""
    emb = _tier_corpus(spark)

    fixed = S.embedding_near_dup_pairs(
        emb,
        threshold=0.9,
        bits_per_table=8,
        num_tables=16,
        bucket_cap=64,
    )
    assert fixed.count() == 0  # the measured saturation, reproduced

    assert S.sized_srp_bits(N_TIER) == 15
    got = {
        (r.id_a, r.id_b)
        for r in S.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    planted = {
        (i, i + 1) for i in range(0, N_TIER - 1, PLANT_STRIDE)
    }
    # exact-cosine verify: anything returned really is >= 0.9, and a
    # random 64-dim pair at 0.9 is a ~7-sigma event — so no strays
    assert got <= planted
    # 4 tables x 15 bits: per-table collision ~(1-0.045)^15 ~ 0.5,
    # expected recall ~0.94; assert with wide margin
    assert len(got) / len(planted) >= 0.5


def test_auto_default_matches_explicit_equivalent(spark):
    """bits_per_table=None must produce exactly the rows of the
    explicit (sized bits, 8x-occupancy cap) call — the auto path adds
    sizing, never different semantics."""
    rng = np.random.default_rng(11)
    n = 300
    mat = rng.standard_normal((n, 64))
    mat[1] = mat[0] + 0.03 * rng.standard_normal(64)
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": list(mat)})
    )
    auto = {
        tuple(r)
        for r in S.embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    explicit = {
        tuple(r)
        for r in S.embedding_near_dup_pairs(
            emb,
            threshold=0.9,
            bits_per_table=S.sized_srp_bits(n),
            num_tables=4,
            bucket_cap=8 * S.SRP_TARGET_OCCUPANCY,
        ).collect()
    }
    assert auto == explicit
    assert (0, 1) in {(a, b) for a, b, _ in auto}


# ----- unicode/text normalization ----------------------------------------

_NORM_SAMPLES = [
    "éclair “quoted” — dash… end",  # NFD pair + quotes
    "zero​width­soft  nbsp　wide",
    "ctrl\x01here\x7Fdel \x0Bvt \x0Cff",
    "already plain ascii text",
    "﻿bom lead «guillemets» ‹single›",
    "‐‑‒–—―− all dashes",
    "", "   ", "​‌‍",  # empty-ish edge cases
]


def test_normalize_spark_matches_python_twin(spark):
    """Spark Column pipeline == pure-Python twin on every sample —
    including the NFD pair, where Spark's Arrow unicodedata pass must
    compose identically to the twin's."""
    from dask_datapipeline_spark.functions.normalize import (
        normalize_text,
        normalize_text_py,
    )

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_NORM_SAMPLES)] + [(99, None)],
        "i int, s string",
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", normalize_text(F.col("s")).alias("t")).collect()
    }
    for i, s in enumerate(_NORM_SAMPLES):
        assert got[i] == normalize_text_py(s), repr(s)
    assert got[99] is None  # NULL in -> NULL out


def test_normalize_duckdb_matches_python_twin():
    """DuckDB SQL steps == pure-Python twin (nfc_normalize vs
    unicodedata composition, RE2 vs re, translate vs str.translate)."""
    import duckdb

    from dask_datapipeline_spark.functions.normalize import (
        normalize_text_py,
        normalize_text_sql_steps,
    )

    con = duckdb.connect()
    sql = normalize_text_sql_steps("s")
    for s in _NORM_SAMPLES:
        got = con.sql(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS s)", params=[s]
        ).fetchone()[0]
        assert got == normalize_text_py(s), repr(s)


def test_normalize_is_idempotent_property():
    """normalize(normalize(x)) == normalize(x) for adversarial unicode
    soup — the fixed-point property that makes normalized text a
    stable shingling input (same discipline as canonical_url's)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dask_datapipeline_spark.functions.normalize import normalize_text_py

    specials = st.sampled_from(
        list("‘’“”«–—−…")
        + list("​‌⁠﻿­ 　\x01\x0B\x7F")
        + ["e\u0301", "o\u0308", "a"]  # NFD pairs + plain
    )
    chunks = st.lists(
        st.one_of(specials, st.text(alphabet="abc XY-'\"", max_size=4)),
        max_size=12,
    )

    @settings(max_examples=300, deadline=None)
    @given(chunks=chunks)
    def check(chunks):
        s = "".join(chunks)
        once = normalize_text_py(s)
        assert normalize_text_py(once) == once, (s, once)

    check()


def test_normalize_makes_nfd_variants_collide(spark):
    """The motivating property: two visually-identical documents (one
    NFC, one NFD + zero-width salt + curly quotes) hash apart raw but
    identical after normalization — so every hash-based dedup upstream
    of which it runs now sees them as exact duplicates."""
    from dask_datapipeline_spark.functions.normalize import normalize_text

    a = "caf\u00e9 \u201Cbar\u201D baz"  # NFC e-acute, curly quotes
    b = "cafe\u0301 \u200B\"bar\" baz"  # NFD pair, zero-width salt
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id int, text string")
    raw = df.select(F.countDistinct("text")).first()[0]
    norm = df.select(
        F.countDistinct(normalize_text(F.col("text")))
    ).first()[0]
    assert raw == 2 and norm == 1


# ----- versioned MERGE (copy-on-write MERGE INTO) -------------------------


def test_merge_versioned_rounds_and_time_travel(spark, tmp_path):
    """Each merge round commits a new version; every intermediate
    state stays readable; deletes remove keys; the first merge into an
    empty table seeds version 1 from surviving change rows."""
    from dask_datapipeline_spark.sources.writers import (
        list_versions,
        merge_versioned,
        read_snapshot,
    )

    path = str(tmp_path / "mt")
    # seed via merge into EMPTY table, with one pre-deleted row
    seed = spark.createDataFrame(
        [(1, "a", False), (2, "b", False), (3, "x", True)],
        "k int, v string, del boolean",
    )
    v1 = merge_versioned(spark, path, seed, ["k"], delete_col="del")
    assert v1 == 1
    assert {(r.k, r.v) for r in read_snapshot(spark, path).collect()} == {
        (1, "a"),
        (2, "b"),
    }
    # round 2: update 2, insert 4, delete 1
    ch = spark.createDataFrame(
        [(2, "B", False), (4, "d", False), (1, "a", True)],
        "k int, v string, del boolean",
    )
    v2 = merge_versioned(spark, path, ch, ["k"], delete_col="del")
    assert v2 == 2 and list_versions(path) == [1, 2]
    assert {(r.k, r.v) for r in read_snapshot(spark, path).collect()} == {
        (2, "B"),
        (4, "d"),
    }
    # v1 still time-travel readable, untouched
    assert {(r.k, r.v) for r in read_snapshot(spark, path, 1).collect()} == {
        (1, "a"),
        (2, "b"),
    }


def test_write_versioned_tag_is_idempotent(spark, tmp_path):
    """A replayed tag returns its existing version WITHOUT writing a
    new one — the at-least-once foreachBatch contract."""
    from dask_datapipeline_spark.sources.writers import (
        list_versions,
        read_snapshot,
        write_versioned,
    )

    path = str(tmp_path / "tags")
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(2,)], "k int")
    assert write_versioned(df1, path, tag="batch-0") == 1
    # replay of batch-0 — even with different data — is a no-op
    assert write_versioned(df2, path, tag="batch-0") == 1
    assert list_versions(path) == [1]
    assert [r.k for r in read_snapshot(spark, path).collect()] == [1]
    assert write_versioned(df2, path, tag="batch-1") == 2
    assert list_versions(path) == [1, 2]


def test_compact_versioned_preserves_rows_and_history(spark, tmp_path):
    """Compaction commits a NEW version with identical rows in fewer
    files; the fragmented pre-compaction version stays time-travel
    readable until expired."""
    import os

    from dask_datapipeline_spark.sources.writers import (
        compact_versioned,
        list_versions,
        read_snapshot,
        write_versioned,
    )

    path = str(tmp_path / "frag")
    frag = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k int, v string"
    ).repartition(16)
    assert write_versioned(frag, path) == 1
    n_files_v1 = len(
        [f for f in os.listdir(os.path.join(path, "v00001")) if f.endswith(".parquet")]
    )
    assert n_files_v1 > 1
    v2 = compact_versioned(spark, path)
    assert v2 == 2 and list_versions(path) == [1, 2]
    n_files_v2 = len(
        [f for f in os.listdir(os.path.join(path, "v00002")) if f.endswith(".parquet")]
    )
    assert n_files_v2 < n_files_v1
    rows = lambda v: sorted(  # noqa: E731
        (r.k, r.v) for r in read_snapshot(spark, path, v).collect()
    )
    assert rows(1) == rows(2) and len(rows(2)) == 64
    with pytest.raises(ValueError):
        compact_versioned(spark, str(tmp_path / "empty"))


def test_stream_merge_to_versioned_matches_batch(spark, sf_dir, tmp_path):
    """The versioned CDC sink end-to-end: after draining the event
    stream, the CURRENT version holds exactly the latest event per
    user (same end state the rename-swap sink produces), one committed
    version per micro-batch, each tagged by batch_id."""
    from dask_datapipeline_spark.sources.readers import load_testdata
    from dask_datapipeline_spark.sources.writers import (
        list_versions,
        read_snapshot,
    )
    from dask_datapipeline_spark.streaming import windows as SW

    table = str(tmp_path / "vt_users")
    SW.stream_merge_to_versioned(spark, sf_dir, table, key_cols=["user_id"])
    versions = list_versions(table)
    assert versions, "no version committed"
    got = {
        (r.user_id, r.event_id)
        for r in read_snapshot(spark, table)
        .select("user_id", "event_id")
        .collect()
    }
    ev = load_testdata(spark, sf_dir, "events")
    want = {
        (r.user_id, r.event_id)
        for r in ev.groupBy("user_id")
        .agg(F.max_by("event_id", "event_id").alias("event_id"))
        .collect()
    }
    assert got == want


# ----- exact-substring dedup (Lee et al. 2022) --------------------------


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_substring_dedup_cuts_planted_cross_doc_span(spark):
    """A 12-token span planted verbatim in two documents must vanish
    from BOTH (all occurrences cut), while each document's unique
    prefix/suffix tokens survive in original order."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    span = _words("dup", 12)
    rows = [
        (0, f"{_words('a', 5)} {span} {_words('b', 4)}"),
        (1, f"{_words('c', 7)} {span}"),
        (2, _words("solo", 20)),  # no duplicated span anywhere
        (3, None),  # null text must not reach the tokenizer
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in substring_dedup(df, window_tokens=10).collect()}
    assert set(out) == {0, 1, 2}  # null-text doc dropped, empties kept
    assert out[0]["text_dedup"] == f"{_words('a', 5)} {_words('b', 4)}"
    assert out[0]["n_cut"] == 12 and out[0]["n_tokens"] == 21
    assert out[1]["text_dedup"] == _words("c", 7)
    assert out[1]["n_cut"] == 12
    assert out[2]["text_dedup"] == _words("solo", 20) and out[2]["n_cut"] == 0


def test_substring_dedup_within_doc_repeat_counts(spark):
    """The corpus frequency is over ALL occurrences: a span repeated
    twice INSIDE one document is duplicated and both copies are cut."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    span = _words("x", 10)
    df = spark.createDataFrame(
        [(0, f"{span} {_words('mid', 3)} {span}")], ["doc_id", "text"]
    )
    (row,) = substring_dedup(df, window_tokens=10).collect()
    assert row["text_dedup"] == _words("mid", 3)
    assert row["n_cut"] == 20


def test_substring_dedup_below_threshold_spans_survive(spark):
    """A duplicated span SHORTER than the window is below the dedup
    threshold by definition — nothing is cut, and documents shorter
    than the window emit no windows at all (the sequence guard)."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    short_dup = _words("d", 6)  # duplicated, but only 6 < 10 tokens
    df = spark.createDataFrame(
        [
            (0, f"{short_dup} {_words('u', 8)}"),
            (1, f"{_words('v', 8)} {short_dup}"),
            (2, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in substring_dedup(df, window_tokens=10).collect()}
    assert all(out[i]["n_cut"] == 0 for i in out)
    assert out[2]["text_dedup"] == "tiny doc"


def test_substring_dedup_overlapping_spans_merge(spark):
    """Two duplicated windows overlapping in one doc cut the UNION of
    their coverage — the maximal duplicated region, not disjoint
    chunks (the property the interval-coverage formulation buys)."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    # doc 0 carries a 15-token region; docs 1 and 2 each duplicate a
    # different 10-token half, so windows 1..1 and 6..6 are duplicated
    # in doc 0 and their union covers all 15 tokens
    region = _words("r", 15)
    toks = region.split()
    df = spark.createDataFrame(
        [
            (0, region),
            (1, " ".join(toks[:10])),
            (2, " ".join(toks[5:])),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in substring_dedup(df, window_tokens=10).collect()}
    assert out[0]["text_dedup"] == "" and out[0]["n_cut"] == 15
    assert out[1]["n_cut"] == 10 and out[2]["n_cut"] == 10


def test_substring_dedup_validates_window(spark):
    from dask_datapipeline_spark.operators.dedup import substring_dedup

    df = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        substring_dedup(df, window_tokens=1)
    with pytest.raises(ValueError):
        substring_dedup(df, hashing="sha")


def test_substring_dedup_rolling_equals_md5(spark, sf_dir):
    """The Karp-Rabin path must produce BIT-IDENTICAL output to the
    md5 path on the real corpus — the two hash families only matter
    through the duplicated-window SET they induce, and absent a
    ~2^-62 collision that set is the same."""
    from dask_datapipeline_spark.operators.dedup import substring_dedup
    from dask_datapipeline_spark.sources.readers import load_testdata

    docs = load_testdata(spark, sf_dir, "documents")
    md5_out = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens"], r["n_cut"])
        for r in substring_dedup(docs, window_tokens=10).collect()
    }
    roll_out = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens"], r["n_cut"])
        for r in substring_dedup(docs, window_tokens=10, hashing="rolling").collect()
    }
    assert md5_out == roll_out
    assert sum(1 for v in md5_out.values() if v[2] > 0) > 0  # non-vacuous


def test_rolling_window_hashes_match_direct_polynomial(spark):
    """Pin the vectorized prefix-trick arithmetic against a direct
    O(n·W) per-window evaluation of the same polynomial — any error in
    the inverse-power/cumsum/re-base algebra shows up immediately."""
    import hashlib

    from dask_datapipeline_spark.operators.dedup import (
        _KR_BASES,
        _KR_P,
        _rolling_window_hashes,
        tokens,
    )

    text = " ".join(f"tok{i % 7}x{i % 11}" for i in range(40))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    base = df.select(
        F.col("doc_id"),
        tokens("text").alias("__tk"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = 10
    got = {
        r["__i"]: r["__h"]
        for r in _rolling_window_hashes(base, "doc_id", w, seed=0).collect()
    }

    toks = text.lower().split(" ")
    p = _KR_P

    def th(t):
        d = hashlib.md5(f"kr0:{t}".encode()).digest()
        return int.from_bytes(d[:8], "big") % p, int.from_bytes(d[8:], "big") % p

    want = {}
    for s in range(len(toks) - w + 1):
        combined = 0
        for j, b in enumerate(_KR_BASES):
            hj = 0
            for k in range(w):
                hj = (hj * b + th(toks[s + k])[j]) % p
            combined = combined * p + hj
        want[s + 1] = combined
    assert got == want


# ----- markdown -> text ----------------------------------------------------


def test_markdown_to_text_spark_matches_duckdb(spark):
    """Spark Column pipeline == DuckDB SQL steps on adversarial
    markdown (same engine-parity pin html_to_text carries)."""
    import duckdb

    from dask_datapipeline_spark.functions.markdown import (
        markdown_to_text,
        markdown_to_text_sql_steps,
    )

    strs = [
        "# Title\n\nSome **bold** and `code` with [a link](http://x/y?a=1).",
        "```python\nprint('hi')\n```\nAfter\n- one\n- two\n12. twelfth",
        "> quoted\n>> nested\n\n---\n\n| a | b |\n| 1 | 2 |",
        "plain, no markdown",
        "![alt text](img.png) *emph* _snake_case_ stays",
        "~~~\ntilde fence\n~~~\ntail ```unclosed fence",
        "",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i int, m string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", markdown_to_text(F.col("m")).alias("t")).collect()
    }
    con = duckdb.connect()
    sql = markdown_to_text_sql_steps("m")
    for i, s in enumerate(strs):
        duck = con.sql(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS m)", params=[s]
        ).fetchone()[0]
        assert duck == got[i], (s, duck, got[i])
    # semantic spot checks: prose survives, chrome doesn't (the space
    # before '.' is the deliberate anti-gluing trade — targets drop to
    # a space, same policy as html's tag strip)
    assert got[0] == "Title Some bold and code with a link ."
    assert got[4] == "alt text emph _snake_case_ stays"
    assert "print" not in got[1] and got[1].startswith("After")


def test_markdown_to_text_random_soup_parity(spark):
    """Engine parity on 60 random markdown-ish soups (one Spark batch,
    one DuckDB loop) — fuzz coverage for pattern-interaction corners
    the curated cases miss; also proves no input crashes either
    engine."""
    import random

    import duckdb

    from dask_datapipeline_spark.functions.markdown import (
        markdown_to_text,
        markdown_to_text_sql_steps,
    )

    rng = random.Random(8)
    pieces = [
        "# ", "## ", "> ", "- ", "* ", "1. ", "12. ", "```", "~~~", "`",
        "**", "*", "[", "]", "](", ")", "|", "---", "===", "\n", " ",
        "word", "x_y", "a'b", "(", "!", "![", "http://e/x",
        "\x0b", "\x0c",  # the Java-\s vs RE2-\s divergence pair —
        # collapsible only because WHITESPACE_RE is an explicit class
    ]
    strs = [
        "".join(rng.choice(pieces) for _ in range(rng.randint(0, 30)))
        for _ in range(60)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i int, m string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", markdown_to_text(F.col("m")).alias("t")).collect()
    }
    con = duckdb.connect()
    sql = markdown_to_text_sql_steps("m")
    for i, s in enumerate(strs):
        duck = con.sql(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS m)", params=[s]
        ).fetchone()[0]
        assert duck == got[i], (i, s, duck, got[i])


# ----- 128-bit perceptual hash + wide banding ----------------------------


def test_hamming_band_pairs_wide_equals_brute_force(spark):
    """4x32-bit banding must return EXACTLY the all-pairs Hamming<=3
    set (pigeonhole: <=3 flips leave >=1 of 4 words untouched), on
    signatures engineered to exercise word boundaries."""
    from dask_datapipeline_spark.operators.dedup import hamming_band_pairs_wide

    rng = np.random.default_rng(5)
    base = rng.integers(0, 1 << 32, size=(30, 4), dtype=np.uint64)
    rows = [(i, *map(int, base[i])) for i in range(30)]
    # plant: 30 == 0 with 1 flipped bit in w3; 31 == 1 with 3 flips
    # spread across three words; 32 == 2 with 4 flips (must NOT pair)
    rows.append((30, int(base[0][0]), int(base[0][1]), int(base[0][2]), int(base[0][3]) ^ 1))
    rows.append((31, int(base[1][0]) ^ 4, int(base[1][1]) ^ 2, int(base[1][2]), int(base[1][3]) ^ 8))
    rows.append((32, int(base[2][0]) ^ 3, int(base[2][1]) ^ 1, int(base[2][2]) ^ 8, int(base[2][3])))
    sig = spark.createDataFrame(rows, "id long, w0 long, w1 long, w2 long, w3 long")

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_band_pairs_wide(sig, "id", ["w0", "w1", "w2", "w3"]).collect()
    }
    # brute force over the same rows
    want = {}
    allrows = {r[0]: r[1:] for r in rows}
    ids = sorted(allrows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(bin(x ^ y).count("1") for x, y in zip(allrows[a], allrows[b]))
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert (0, 30) in got and (1, 31) in got and (2, 32) not in got

    with pytest.raises(ValueError):
        hamming_band_pairs_wide(sig, "id", ["w0", "w1", "w2", "w3"], max_hamming=4)
    with pytest.raises(ValueError):
        hamming_band_pairs_wide(sig, "id", ["w0"], max_hamming=0)


def test_image_near_dup_128_finds_planted_variants(spark):
    """The 128-bit pipeline end-to-end on the planted-variant fixture:
    banded output == all-pairs Hamming<=3 over the same 128-bit hashes
    (recall 1.0 and precision 1.0), and same-group brightness variants
    are found — the dHash half is shift-invariant by construction."""
    from dask_datapipeline_spark.multimodal.binary import (
        image_ahash128,
        image_near_dup_pairs_128,
        synthetic_image_variants,
    )

    media = synthetic_image_variants(spark, n_groups=12, variants=3)
    sigs = {r.media_id: (r.w0, r.w1, r.w2, r.w3) for r in image_ahash128(media).collect()}
    assert len(sigs) == 36
    for ws in sigs.values():  # words really are 32-bit
        assert all(0 <= w < (1 << 32) for w in ws)
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))
            if h <= 3:
                want.add((a, b))
    got = {
        (r.id_a, r.id_b)
        for r in image_near_dup_pairs_128(media, max_hamming=3).collect()
    }
    assert got == want
    same_group = {p for p in got if p[0] // 3 == p[1] // 3}
    assert len(same_group) >= 12  # every group contributes pairs


# ----- versioned tables (snapshot / time travel) -------------------------


def test_versioned_table_time_travel_and_crash_safety(spark, tmp_path):
    """The manifest contract end-to-end: every committed version stays
    readable (time travel); staged garbage from a crashed write is
    invisible and does not block the next commit; expire flips the
    manifest before deleting bytes."""
    import os

    from dask_datapipeline_spark.sources.writers import (
        expire_versions,
        list_versions,
        read_snapshot,
        snapshot_diff,
        write_versioned,
    )

    path = str(tmp_path / "tbl")
    v1 = write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path
    )
    v2 = write_versioned(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), path
    )
    assert (v1, v2) == (1, 2) and list_versions(path) == [1, 2]

    # time travel: both versions readable, current = latest
    assert {r.k for r in read_snapshot(spark, path, 1).collect()} == {1, 2}
    assert {r.v for r in read_snapshot(spark, path).collect()} == {"B", "c"}

    # crash mid-write: a staged dir + an orphaned v-dir that never made
    # the manifest — both invisible, old versions intact, next commit
    # takes the next number and succeeds
    os.makedirs(os.path.join(path, ".tmp-v00003-deadbeef"))
    os.makedirs(os.path.join(path, "v00003"))  # renamed but uncommitted
    assert list_versions(path) == [1, 2]
    with pytest.raises(ValueError, match="live versions"):
        read_snapshot(spark, path, 3)
    v3 = write_versioned(
        spark.createDataFrame([(9, "z")], "k int, v string"), path
    )
    assert v3 == 3 and list_versions(path) == [1, 2, 3]
    assert [r.k for r in read_snapshot(spark, path, 3).collect()] == [9]

    # diff between committed versions
    got = {
        r.k: r.diff_status
        for r in snapshot_diff(spark, path, 1, 2, ["k"], ["v"]).collect()
    }
    assert got == {1: "removed", 2: "changed", 3: "added"}

    # expire: manifest no longer resolves v1/v2, bytes gone, current ok
    assert expire_versions(path, keep_last=1) == [1, 2]
    assert list_versions(path) == [3]
    with pytest.raises(ValueError):
        read_snapshot(spark, path, 1)
    assert not os.path.isdir(os.path.join(path, "v00001"))
    assert [r.v for r in read_snapshot(spark, path).collect()] == ["z"]


def test_explicit_bits_still_uncapped_by_default(spark):
    """Passing bits explicitly must NOT silently arm the auto cap —
    the fixed-config contract (driver row, recall tests) is unchanged."""
    vecs = [[1.0] * 8 + [0.0] * 56] * 70  # one hot bucket of 70 > 64
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(70), "embedding": vecs})
    )
    pairs = S.embedding_near_dup_pairs(
        emb, threshold=0.99, bits_per_table=8, num_tables=4
    )
    assert pairs.count() == 70 * 69 // 2  # no cap: all identical pairs kept
