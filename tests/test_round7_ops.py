"""Round-7 operators: HTML -> text extraction edge cases (the oracle
row extra:html_extract pins engine parity; these pin the semantics)
and the mergeable quantile sketch (merge exactness + rank-error
bound vs the exact order statistic)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _extract(spark, cases):
    from dask_datapipeline_spark.functions.html import html_to_text

    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i int, h string"
    )
    return {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    }


def test_html_to_text_semantics(spark):
    cases = [
        # script/style dropped WITH content; comments dropped
        ("<p>a</p><script>var x = 1;</script><b>b</b>", "a b"),
        ("<style>p{color:red}</style>hello", "hello"),
        ("x<!-- hidden\nacross lines -->y", "x y"),
        # case-insensitive block tags, attributes on the open tag
        ('<SCRIPT type="text/js">gone()</SCRIPT>kept', "kept"),
        # tag boundaries become spaces, never glue words
        ("<td>one</td><td>two</td>", "one two"),
        # entity decode AFTER tag strip; &amp; decodes LAST so
        # &amp;lt; single-decodes to the literal text &lt;
        ("a &amp;lt; b", "a &lt; b"),
        ("T&amp;C &lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;end", 'T&C <x> "q" \'s\' end'),
        # common named entities decode (table extended round 8)...
        ("&copy; 2024 &mdash; caf&eacute;", "© 2024 — café"),
        # ...while genuinely unknown ones stay verbatim (regex tier is
        # honest), and numeric-amp double-decode is guarded like &amp;
        ("&zeta; stays &#38;lt; too", "&zeta; stays &lt; too"),
        # unclosed script keeps content but still strips the tag
        ("<script>leaks()", "leaks()"),
        # bare '<' in prose is NOT a tag (tag must start with a letter)
        ("1 < 2 but <em>3</em>", "1 < 2 but 3"),
        # whitespace collapsed + trimmed
        ("  <p>\n a\t b \n</p> ", "a b"),
    ]
    got = _extract(spark, cases)
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i][0], got[i], want)


def test_html_to_text_null_passthrough(spark):
    from dask_datapipeline_spark.functions.html import html_to_text

    df = spark.createDataFrame([(1, None)], "i int, h string")
    assert df.select(html_to_text(F.col("h")).alias("t")).collect()[0]["t"] is None


def test_html_sql_steps_match_spark(spark):
    """DuckDB replay of the same steps is byte-identical (the catalog
    oracle proves this at sf0.01; this pins it on adversarial strings
    that never appear in the testdata corpus)."""
    import duckdb

    from dask_datapipeline_spark.functions.html import (
        html_to_text,
        html_to_text_sql_steps,
    )

    strs = [
        "<script a=b>x</script ><I>it's</I>",
        "a &amp;amp; b &#39;q&#39;",
        "<!-- -->&nbsp;&nbsp;tail<BR/>",
        "no markup at all",
        "<div onclick=\"f('x')\">q</div>",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, h string")
    spark_out = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(strs):
        lit = "'" + s.replace("'", "''") + "'"
        duck = con.sql(f"SELECT {html_to_text_sql_steps(lit)} AS t").fetchone()[0]
        assert duck == spark_out[i], (s, duck, spark_out[i])


# ----- URL canonicalization properties ---------------------------------


def test_canonical_url_is_idempotent_property():
    """canonical(canonical(u)) == canonical(u) for generated URL-ish
    strings — the fixed-point property that makes the canonical form a
    true key (runs on DuckDB via the shared SQL builder; engine parity
    Spark↔DuckDB is pinned separately by extra:url_dedup and the
    round-6 unit cases)."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dask_datapipeline_spark.functions.urls import canonical_url_sql_steps

    con = duckdb.connect()

    def canon(u: str) -> str:
        lit = "'" + u.replace("'", "''") + "'"
        return con.sql("SELECT " + canonical_url_sql_steps(lit)).fetchone()[0]

    label = st.text(alphabet="abXY09-", min_size=1, max_size=5)
    seg = st.text(alphabet="abXY09._~-", min_size=0, max_size=6)
    param = st.sampled_from(
        [
            "utm_source=1", "utm_X=", "ref=h", "fbclid=99", "gclid=",
            "page=2", "a=b", "q=x%20y", "xref=2", "utm_a=p&q",
        ]
    )

    @settings(max_examples=150, deadline=None)
    @given(
        scheme=st.sampled_from(["http", "https", "HTTP", "HttpS"]),
        host=st.lists(label, min_size=1, max_size=3),
        path=st.lists(seg, min_size=0, max_size=3),
        params=st.lists(param, min_size=0, max_size=4),
        slashes=st.integers(min_value=0, max_value=3),
        frag=st.sampled_from(["", "#x", "#a/b?c"]),
        pad=st.sampled_from(["", " ", "  "]),
    )
    def check(scheme, host, path, params, slashes, frag, pad):
        u = (
            pad + scheme + "://" + ".".join(host)
            + ("/" + "/".join(path) if path else "")
            + "/" * slashes
            + ("?" + "&".join(params) if params else "")
            + frag + pad
        )
        once = canon(u)
        assert canon(once) == once, (u, once, canon(once))

    check()


# ----- golden-header parity pin ---------------------------------------

#: header line 1 of the reference's committed golden output
#: (household_features.csv:1) — the one artifact of the reference's
#: three missing input CSVs that IS observable, pinned here verbatim
GOLDEN_HEADER = (
    "hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,"
    "state,total_amount_before_campaign,total_amount_during_campaign,"
    "total_transactions"
)
_GOLDEN_PATH = "/root/reference/Python Solution Application/household_features.csv"


def test_golden_header_matches_reference_file():
    """The pinned constant equals the reference's actual golden header
    (skipped when the reference checkout is absent — the constant then
    still pins the contract)."""
    import os

    import pytest

    if not os.path.isfile(_GOLDEN_PATH):
        pytest.skip("reference golden file not present")
    with open(_GOLDEN_PATH) as f:
        assert f.readline().rstrip("\n") == GOLDEN_HEADER


def test_run_pipeline_schema_matches_golden_header(spark, tmp_path):
    """End-to-end through the real CSV scan path: run_pipeline's output
    columns (names AND order) are exactly the golden header, with the
    golden dtypes (doubles for the two campaign sums, bigint count)."""
    from dask_datapipeline_spark.plans.reference_main import (
        OUTPUT_COLS,
        run_pipeline,
    )

    assert OUTPUT_COLS == GOLDEN_HEADER.split(",")

    tx = tmp_path / "tx.csv"
    tx.write_text(
        "individual_id,date,transaction_amount\n"
        "i1,2021-09-01 00:00:00,5.0\n"
        "i1,2021-09-07 00:00:00,7.0\n"
    )
    hh = tmp_path / "hh.csv"
    hh.write_text("hhid,individual_id\n1,i1\n")
    dem = tmp_path / "dem.csv"
    dem.write_text(
        "hhid,num_inds,children_ind,hh_income_ind,age_ind,home_value_ind,state\n"
        "1,2,Y,5,4,6,CO\n"
    )
    out = run_pipeline(spark, str(tx), str(hh), str(dem))
    assert out.columns == GOLDEN_HEADER.split(",")
    dt = dict(out.dtypes)
    assert dt["total_amount_before_campaign"] == "double"
    assert dt["total_amount_during_campaign"] == "double"
    assert dt["total_transactions"] == "bigint"
    assert dt["hhid"] == "bigint" and dt["state"] == "string"


# ----- mergeable quantile sketch --------------------------------------


def _vals_df(spark, rows):
    return spark.createDataFrame(rows, "id long, v double")


def test_quantile_sample_merge_is_exact(spark):
    """sample(A ∪ B) == bottom_k(sample(A) ∪ sample(B)) — the KMV-style
    min-merge argument, row-for-row."""
    from dask_datapipeline_spark.operators.sketches import quantile_sample

    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    a, b = _vals_df(spark, rows[:200]), _vals_df(spark, rows[200:])
    whole = _vals_df(spark, rows)
    k = 32
    direct = {(r.id, r.v) for r in quantile_sample(whole, "v", "id", k=k).collect()}
    merged = {
        (r.id, r.v)
        for r in quantile_sample(
            quantile_sample(a, "v", "id", k=k).unionByName(
                quantile_sample(b, "v", "id", k=k)
            ),
            "v",
            "id",
            k=k,
        ).collect()
    }
    assert direct == merged and len(direct) == k


def test_quantile_sample_partitioning_invariant(spark):
    from dask_datapipeline_spark.operators.sketches import quantile_sample

    rows = [(i, float(i)) for i in range(300)]
    one = _vals_df(spark, rows).coalesce(1)
    many = _vals_df(spark, rows).repartition(16)
    got1 = {(r.id, r.v) for r in quantile_sample(one, "v", "id", k=20).collect()}
    gotn = {(r.id, r.v) for r in quantile_sample(many, "v", "id", k=20).collect()}
    assert got1 == gotn


def test_quantile_sketch_small_group_is_exact(spark):
    """n < k ⇒ the sample IS the data, so the estimate is the exact
    lower order statistic."""
    from dask_datapipeline_spark.operators.sketches import quantile_sketch

    vals = sorted(float((i * 17) % 97) for i in range(50))
    df = _vals_df(spark, [(i, float((i * 17) % 97)) for i in range(50)])
    got = {
        r.q: (r.est, r.n_sample)
        for r in quantile_sketch(
            df, "v", "id", quantiles=(0.5, 0.9), k=1024
        ).collect()
    }
    assert got[0.5] == (vals[int(0.5 * 49)], 50)
    assert got[0.9] == (vals[int(0.9 * 49)], 50)


def test_quantile_sample_matches_python_twin(spark):
    """The operator's sample is EXACTLY the pure-Python bottom-k by
    md5-derived hash — pins the hash family end-to-end so the DuckDB
    oracle and any future engine can be derived from the model."""
    import hashlib

    from dask_datapipeline_spark.operators.sketches import (
        QSK_SEED,
        quantile_sample,
    )

    rows = [(i, float((i * 37) % 101)) for i in range(400)]

    def h(i):
        return int(hashlib.md5(f"{QSK_SEED}:{i}".encode()).hexdigest()[:15], 16)

    expect = {i for i, _ in sorted(rows, key=lambda r: (h(r[0]), r[0]))[:32]}
    got = {
        r.id for r in quantile_sample(_vals_df(spark, rows), "v", "id", k=32).collect()
    }
    assert got == expect


def test_quantile_sketch_rank_error_bound(spark):
    """Realized rank error of the k=256 sketch vs the exact order
    statistic on 20k skewed rows: within 4·sqrt(q(1-q)/k) at every q —
    deterministic given the md5 hash family, so this is a pin, not a
    flake."""
    import math

    from dask_datapipeline_spark.operators.sketches import quantile_sketch

    n, k = 20_000, 256
    vals = [float((i * i) % 65_537) for i in range(n)]  # skewed, many ties
    df = _vals_df(spark, list(enumerate(vals)))
    svals = sorted(vals)
    for q in (0.1, 0.5, 0.9, 0.99):
        est = {
            r.q: r.est
            for r in quantile_sketch(df, "v", "id", quantiles=(q,), k=k).collect()
        }[q]
        # realized rank of the estimate (upper edge of its tie run)
        import bisect

        rank = bisect.bisect_right(svals, est)
        err = abs(rank / n - q)
        bound = 4 * math.sqrt(q * (1 - q) / k)
        assert err <= bound, (q, est, rank / n, err, bound)
