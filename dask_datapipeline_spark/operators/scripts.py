"""Unicode-script profiling and routing (round 13; VERDICT r12 item 2)
— the non-Latin front door of the text-curation tier.

Why: the trained LID (``operators/langid.py``) is a char-trigram model
over five LATIN-script languages — real Han/Hangul/Cyrillic/Arabic
text is out-of-vocabulary (abstains at best), and every WORD-based
quality rule (Gopher word-count bounds, C4 ≥5-words-per-line,
stopword floors, word-shingle MinHash) treats an unsegmented CJK page
as one giant word. A large slice of any real multilingual crawl would
be systematically mis-scored. Production pipelines (CCNet, fastText
LID, CLD3) route on SCRIPT before any trained model; this module is
that router, built so the whole thing stays EXACT-INTEGER and
pure-codegen — one JVM expression per count, replayed bit-for-bit by
the DuckDB oracle from the same range constants.

Design:

- :data:`SCRIPT_RANGES` — per-script Unicode BMP codepoint ranges
  (the ``\\x{....}`` class syntax Java regex and RE2 share).
- :func:`script_count_cols` — per-script codepoint counts via the
  length-difference device ``length(s) - length(regexp_replace(s,
  class, ''))`` (both engines count codepoints; all ranges are BMP,
  so UTF-16 surrogates never bite).
- :func:`script_route_col` — the all-integer majority rule: a script
  holding a strict majority of the LETTER codepoints wins. Han routes
  'zh' unless kana is present (≥1/20 of the CJK letters → 'ja'; kana
  is Japanese-unique, Han alone overwhelmingly Chinese in practice —
  kana-free Japanese exists but is rare in running text, documented
  not hidden). Hangul → 'ko'; Thai → 'th' (script ↔ language 1:1 in
  practice, and unsegmented → the char tier). Cyrillic → 'und-Cyrl',
  Arabic → 'und-Arab', Greek → 'und-Grek', Devanagari → 'und-Deva',
  Hebrew → 'und-Hebr' (HONEST script-level labels: a trigram model
  trained on five Latin languages cannot tell ru/uk/bg/sr, ar/fa/ur,
  or hi/mr/ne apart, so the router refuses to guess a language).
  Latin majority → ``LATIN_ROUTE`` — the handoff marker meaning "run
  the trained trigram model". No majority → 'und'.
- :func:`lang_id_script_routed` — the composed production classifier:
  script routing FIRST (pure codegen, zero Python for the non-Latin
  slice), the Arrow trigram scorer only over the Latin-routed rows.

Scale: the profile is one codegen pass over the text bytes — no
shuffle, no UDF; at 100 TB it fuses into whatever scan feeds it. The
composed classifier runs Python only on the Latin slice that actually
needs the model.

Reference parity note: the reference pipeline (a tabular engine) has
no text-curation tier at all — this module extends the training-data
surface the build brief requires, following public Gopher/CCNet
practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_datapipeline_spark.errors import require_columns

#: per-script BMP codepoint ranges (inclusive hex bounds). Coverage is
#: deliberately the high-traffic blocks, not exhaustive Unicode: CJK
#: ext-B+ (supplementary planes), historic scripts, and halfwidth kana
#: are out of scope and count as 'other' — documented, exact, and
#: cheap to extend by adding a range here (both engines pick it up
#: from this one constant).
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    # CJK Unified Ideographs + Extension A
    "han": [(0x4E00, 0x9FFF), (0x3400, 0x4DBF)],
    # Hiragana + Katakana (incl. prolonged sound mark / iteration)
    "kana": [(0x3040, 0x30FF)],
    # Hangul syllables + compatibility jamo
    "hangul": [(0xAC00, 0xD7AF), (0x3130, 0x318F)],
    "cyrillic": [(0x0400, 0x04FF)],
    "arabic": [(0x0600, 0x06FF)],
    # round 14 (VERDICT r13 item 2) — whole BMP blocks, the cyrillic/
    # arabic precedent (in-block digits/punctuation count with their
    # script; exact either way since both engines read this table):
    # Greek and Coptic — MONOTONIC modern Greek only; polytonic
    # (Greek Extended, 0x1F00-0x1FFF) stays 'other' by documented scope
    "greek": [(0x0370, 0x03FF)],
    "devanagari": [(0x0900, 0x097F)],
    # Thai is UNSEGMENTED like CJK → routes to the char tier
    "thai": [(0x0E00, 0x0E7F)],
    "hebrew": [(0x0590, 0x05FF)],
    # ASCII letters + Latin-1 letters (× ÷ excluded) + Extended-A/B
    "latin": [
        (0x0041, 0x005A),
        (0x0061, 0x007A),
        (0x00C0, 0x00D6),
        (0x00D8, 0x00F6),
        (0x00F8, 0x024F),
    ],
}

#: fixed script order — column order and route precedence tie-break
SCRIPTS: list[str] = list(SCRIPT_RANGES)

#: route label meaning "Latin-script majority: hand off to the trained
#: trigram model" (never emitted by the composed classifier)
LATIN_ROUTE = "latin"

#: routes whose pages carry no word-delimiting whitespace — THE single
#: source of char-tier membership (the quality CJK tier, routed token
#: counting and the routed shingle mode all import it; ADVICE r13: two
#: separately-hardcoded copies of this set could silently drift, so it
#: lives once, next to the ranges that define the routes)
UNSEGMENTED_ROUTES: tuple[str, ...] = ("zh", "ja", "th")

#: which script counts make up an unsegmented route's LETTER total —
#: the routed token count of such a page (chars ≈ morphemes; the word
#: count is 1 by construction on no-space text)
UNSEGMENTED_COUNT_SCRIPTS: dict[str, tuple[str, ...]] = {
    "zh": ("han", "kana"),
    "ja": ("han", "kana"),
    "th": ("thai",),
}

#: kana share (1/KANA_DENOM of CJK letters) that flips a CJK-majority
#: page from 'zh' to 'ja' — Japanese running text is typically ≥30%
#: kana; 5% catches kanji-heavy formal text while one stray kana
#: codepoint in a Chinese page (quoted loanword) does not flip it
KANA_DENOM = 20


def script_class_re(script: str) -> str:
    """The regex character class matching one script's codepoints —
    identical bytes on both engines (Java regex and RE2 share the
    ``\\x{....}`` range syntax)."""
    parts = "".join(
        f"\\x{{{lo:04X}}}-\\x{{{hi:04X}}}" for lo, hi in SCRIPT_RANGES[script]
    )
    return f"[{parts}]"


#: matches any non-ASCII codepoint — the cheap pre-test gating the
#: expensive per-script passes (Java regex and RE2 share the syntax;
#: astral chars match, which is safe either way: no guarded class
#: contains one)
NONASCII_RE = r"[^\x{0000}-\x{007F}]"

#: scripts whose every range lies above ASCII — their counts are
#: PROVABLY zero on an ASCII-only row, so the count expression can
#: short-circuit behind one non-ASCII test (everything but latin,
#: whose range includes A-Za-z)
GUARDED_SCRIPTS: tuple[str, ...] = tuple(
    s
    for s in SCRIPT_RANGES
    if all(lo > 0x7F for lo, _ in SCRIPT_RANGES[s])
)


def nonascii_col(text: Column | str) -> Column:
    """True iff the row contains ANY non-ASCII codepoint — one early-
    exit regex pass; materialize it as a column ahead of
    :func:`script_count_cols` (``nonascii=``) so the 9 guarded counts
    read a boolean instead of re-scanning the text."""
    c = F.col(text) if isinstance(text, str) else text
    return c.rlike(NONASCII_RE)


def script_count_cols(
    text: Column | str, nonascii: Column | None = None
) -> dict[str, Column]:
    """Per-script codepoint counts of a non-NULL text column, plus
    ``n_chars`` (total codepoints) and ``n_letters`` (sum over the
    profiled scripts) — all exact BIGINTs, pure codegen.

    Round 14 (perf, semantics identical): every all-non-ASCII class
    count short-circuits behind a non-ASCII pre-test — an ASCII-only
    page (the overwhelming share of a Latin-heavy corpus) pays ONE
    early-exit regex probe instead of 9 full per-class passes.
    The CASE is a provable no-op on the result (an ASCII row has zero
    codepoints in any guarded class; NULL stays NULL through the
    otherwise-branch), so the DuckDB oracle keeps the unguarded form
    and the cross-engine fuzz pins the equivalence. Pass ``nonascii=``
    (a materialized :func:`nonascii_col` column) to share one probe
    across all classes; default inlines the probe per class (still an
    early-exit scan, no string allocation).

    Round 14 optimization pass: the count device is ``regexp_count``
    over the class (one match per matching codepoint — every class is
    single-codepoint, so the match count IS the codepoint count)
    instead of ``length(s) - length(regexp_replace(s, class, ''))``.
    Same exact integers (the cross-engine fuzz pins it against the
    DuckDB length-difference replay and the Python twin), but no
    stripped-string allocation per class per row — less GC at scale —
    and markedly smaller generated code (measured: first-evaluation
    codegen compile 1.5 s → 0.7 s on the 10-class profile)."""
    c = F.col(text) if isinstance(text, str) else text
    na = nonascii_col(c) if nonascii is None else nonascii
    out: dict[str, Column] = {"n_chars": F.length(c).cast("long")}
    for s in SCRIPTS:
        cnt = F.regexp_count(c, F.lit(script_class_re(s))).cast("long")
        if s in GUARDED_SCRIPTS:
            cnt = F.when(~na, F.lit(0).cast("long")).otherwise(cnt)
        out[f"n_{s}"] = cnt
    letters = out[f"n_{SCRIPTS[0]}"]
    for s in SCRIPTS[1:]:
        letters = letters + out[f"n_{s}"]
    out["n_letters"] = letters.cast("long")
    return out


def script_route_col(counts: dict[str, Column]) -> Column:
    """The routing label over :func:`script_count_cols` output — the
    all-integer majority rule documented in the module docstring."""
    letters = counts["n_letters"]
    cjk = counts["n_han"] + counts["n_kana"]
    return (
        F.when(letters == 0, F.lit("und"))
        .when(
            cjk * 2 > letters,
            F.when(
                counts["n_kana"] * KANA_DENOM >= cjk, F.lit("ja")
            ).otherwise(F.lit("zh")),
        )
        .when(counts["n_hangul"] * 2 > letters, F.lit("ko"))
        .when(counts["n_cyrillic"] * 2 > letters, F.lit("und-Cyrl"))
        .when(counts["n_arabic"] * 2 > letters, F.lit("und-Arab"))
        # round 14: Thai script ↔ Thai language is 1:1 in practice
        # (the hangul→ko precedent) and unsegmented → the char tier;
        # Greek/Devanagari/Hebrew each serve several languages a
        # Latin-trained trigram model cannot tell apart → honest
        # script-level labels (the cyrillic/arabic precedent)
        .when(counts["n_thai"] * 2 > letters, F.lit("th"))
        .when(counts["n_greek"] * 2 > letters, F.lit("und-Grek"))
        .when(counts["n_devanagari"] * 2 > letters, F.lit("und-Deva"))
        .when(counts["n_hebrew"] * 2 > letters, F.lit("und-Hebr"))
        .when(counts["n_latin"] * 2 > letters, F.lit(LATIN_ROUTE))
        .otherwise(F.lit("und"))
    )


def _union_class_re(scripts: list[str]) -> str:
    """One regex character class covering several scripts' ranges —
    the ranges are disjoint, so a count over the union class equals
    the sum of the per-script counts exactly."""
    parts = "".join(
        f"\\x{{{lo:04X}}}-\\x{{{hi:04X}}}"
        for s in scripts
        for lo, hi in SCRIPT_RANGES[s]
    )
    return f"[{parts}]"


def unsegmented_route_col(
    text: Column | str, nonascii: Column | None = None
) -> Column:
    """True iff :func:`script_route_col` over this row's counts lands
    in :data:`UNSEGMENTED_ROUTES` (zh/ja/th) — the char-tier membership
    probe, computed with THREE regex passes instead of the full
    10-class profile (round 14 optimization; the routed shingler only
    needs this one bit, not the counts).

    Equivalence to the full route (pytest-pinned against
    :func:`py_route`): the profiled ranges are disjoint, so
    ``count(union of all classes) == n_letters`` exactly; a strict
    majority ``2·n > n_letters`` can hold for at most ONE of the
    route's candidate classes, so the route CASE's order never decides
    unsegmented membership — zh/ja both reduce to
    ``2·(n_han+n_kana) > n_letters`` (the kana split only picks WHICH
    unsegmented label), and 'th' to ``2·n_thai > n_letters`` (no other
    class can simultaneously hold a majority). ``n_letters == 0``
    routes 'und' → word mode → False, which the inequalities give for
    free. The non-ASCII guard returns False directly for ASCII-only
    rows (all three classes sit above ASCII)."""
    c = F.col(text) if isinstance(text, str) else text
    na = nonascii_col(c) if nonascii is None else nonascii
    letters = F.regexp_count(c, F.lit(_union_class_re(SCRIPTS)))
    cjk = F.regexp_count(c, F.lit(_union_class_re(["han", "kana"])))
    thai = F.regexp_count(c, F.lit(script_class_re("thai")))
    # greatest() instead of OR-of-two-majorities so each regex appears
    # ONCE in the projection (Catalyst inlines this whole expression —
    # an OR would re-execute the union-class count per disjunct);
    # equivalent because 2·max(a,b) > L ⟺ 2a > L ∨ 2b > L.
    return F.when(~na, F.lit(False)).otherwise(
        F.greatest(cjk, thai) * 2 > letters
    )


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_chars, n_han, …, n_letters, script) — the per-document
    script profile + route. NULL text rows are dropped explicitly (the
    repo-wide split(NULL)/size(NULL) guard discipline).

    TWO projections on purpose: the route CASE references each count
    ~8 times, and inlining the count EXPRESSIONS (the per-class regex
    over the text) into it re-executes every regex per reference —
    measured ~25% of the catalog row's wall. Materializing the counts
    as columns first keeps each regex to ONE execution per row
    (Catalyst's CollapseProject declines to inline non-cheap exprs, so
    the split survives optimization).

    Round 14 optimization pass: the scan-stage input is ``fan_out``
    wrapped — a single-file test parquet scans as ONE partition, so
    the 10 regex passes otherwise run on one core (no-op at real split
    counts; the probe is free on a scan-stage frame). Contract: pass a
    scan-stage frame (select/filter over a source) — a joined input
    would execute its shuffles in the probe (see parallel.fan_out)."""
    require_columns(df, [id_col, text_col])
    from dask_datapipeline_spark.parallel import fan_out

    # round 14: materialize the non-ASCII probe FIRST (same
    # CollapseProject reasoning) — the 9 guarded counts read one
    # boolean, so an ASCII-only row pays a single early-exit regex
    # pass instead of 9 replaces
    pre = fan_out(
        df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
    ).select(id_col, text_col, nonascii_col(text_col).alias("__na"))
    counts = script_count_cols(text_col, nonascii=F.col("__na"))
    step = pre.select(
        id_col, *[counts[k].alias(k) for k in counts]
    )
    refs = {k: F.col(k) for k in counts}
    return step.select(
        id_col, *counts.keys(), script_route_col(refs).alias("script")
    )


def routed_token_count(
    text: Column | str, script: Column | str
) -> Column:
    """Script-aware token count — the token-counting member of the
    routed tier: whitespace-split words for segmented scripts, LETTER
    CODEPOINTS for the non-whitespace routes (zh/ja), where each
    character is roughly a morpheme and the word count is 1 by
    construction. Matches how production pipelines size CJK documents
    (chars, not words) for packing/length floors. Exact integers, pure
    codegen."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.col(script) if isinstance(script, str) else script
    counts = script_count_cols(c)
    words = F.size(F.filter(F.split(c, " "), lambda t: t != F.lit("")))
    out = words.cast("long")
    # one WHEN per unsegmented route, driven by the shared constants —
    # token counting can never disagree with the quality tier on which
    # scripts are unsegmented (ADVICE r13)
    for route in UNSEGMENTED_ROUTES:
        letters = counts[f"n_{UNSEGMENTED_COUNT_SCRIPTS[route][0]}"]
        for scr in UNSEGMENTED_COUNT_SCRIPTS[route][1:]:
            letters = letters + counts[f"n_{scr}"]
        out = F.when(s == route, letters).otherwise(out)
    return out.cast("long")


def routed_token_count_sql(expr: str, script_expr: str) -> str:
    """DuckDB replay of :func:`routed_token_count` — references the
    ``n_han``/``n_kana`` columns of :func:`script_count_sql` by name
    (the caller's profile CTE provides them)."""
    words = f"len(list_filter(string_split({expr}, ' '), t -> t <> ''))"
    whens = " ".join(
        f"WHEN '{route}' THEN "
        + " + ".join(f"n_{scr}" for scr in UNSEGMENTED_COUNT_SCRIPTS[route])
        for route in UNSEGMENTED_ROUTES
    )
    return (
        f"CAST(CASE {script_expr} {whens} ELSE {words} END AS BIGINT)"
    )


# ----- mixed-script page detection (round 14) ---------------------------


def script_mix_cols(counts: dict[str, Column]) -> dict[str, Column]:
    """Mixed-script signals over :func:`script_count_cols` output —
    the page-level consistency check behind boilerplate-injection /
    SEO-spam detection (a prose page whose letters split across two
    scripts is template chrome, machine-joined content, or spam; a
    clean page is ~one script plus loanwords). ALL-INTEGER decisions
    (no entropy, no division, so every engine agrees bit-for-bit):

    - ``n_scripts_present``: scripts with ≥1 letter codepoint
    - ``n_scripts_major``: scripts holding ≥1/4 of the letters
      (``4*n_s >= n_letters``, letters > 0)
    - ``mixed_script``: ≥2 major scripts — the flag a curation
      pipeline routes to review/drop
    """
    L = counts["n_letters"]
    present = None
    major = None
    for s in SCRIPTS:
        p = (counts[f"n_{s}"] > 0).cast("long")
        m = ((counts[f"n_{s}"] * 4 >= L) & (counts[f"n_{s}"] > 0)).cast(
            "long"
        )
        present = p if present is None else present + p
        major = m if major is None else major + m
    return {
        "n_scripts_present": present.cast("long"),
        "n_scripts_major": F.when(L > 0, major).otherwise(
            F.lit(0)
        ).cast("long"),
        "mixed_script": F.when(L > 0, major >= 2).otherwise(
            F.lit(False)
        ),
    }


def script_mix_sql() -> dict[str, str]:
    """DuckDB replay of :func:`script_mix_cols`, referencing the
    ``n_*`` columns of :func:`script_count_sql` by name."""
    present = " + ".join(
        f"CASE WHEN n_{s} > 0 THEN 1 ELSE 0 END" for s in SCRIPTS
    )
    major = " + ".join(
        f"CASE WHEN n_{s} * 4 >= n_letters AND n_{s} > 0 THEN 1 ELSE 0 END"
        for s in SCRIPTS
    )
    return {
        "n_scripts_present": f"CAST({present} AS BIGINT)",
        "n_scripts_major": (
            f"CAST(CASE WHEN n_letters > 0 THEN {major} ELSE 0 END"
            " AS BIGINT)"
        ),
        "mixed_script": (
            f"(n_letters > 0 AND ({major}) >= 2)"
        ),
    }


def py_script_mix(text: str) -> dict:
    """Python twin of :func:`script_mix_cols`."""
    c = py_script_counts(text)
    L = c["n_letters"]
    present = sum(1 for s in SCRIPTS if c[f"n_{s}"] > 0)
    major = (
        sum(1 for s in SCRIPTS if c[f"n_{s}"] > 0 and c[f"n_{s}"] * 4 >= L)
        if L > 0
        else 0
    )
    return {
        "n_scripts_present": present,
        "n_scripts_major": major,
        "mixed_script": L > 0 and major >= 2,
    }


# ----- route-aware sentence statistics (round 14) -----------------------

#: sentence-terminator regex classes by tier (``\x{..}`` syntax shared
#: by Java regex and RE2, the SCRIPT_RANGES precedent). Every class
#: keeps the ASCII+ellipsis base (mixed pages carry ASCII terminators)
#: and adds the script's own marks: CJK ideographic 。 + fullwidth
#: ．！？; Devanagari danda । / double danda ॥; Arabic question mark
#: ؟ / full stop ۔. Thai script has NO sentence-terminal mark (spaces
#: separate clauses) — a 'th' page keeps the default class and
#: typically reads 0 sentences: honest scope, the division in the
#: report is guarded, real Thai sentence segmentation needs a model
#: this tier deliberately avoids.
SENTENCE_TERMINATORS: dict[str, str] = {
    # . ! ? …
    "default": "[.!?\\x{2026}]",
    # + ideographic full stop 。, fullwidth ． ！ ？
    "cjk": "[.!?\\x{2026}\\x{3002}\\x{FF0E}\\x{FF01}\\x{FF1F}]",
    # + danda । and double danda ॥
    "devanagari": "[.!?\\x{2026}\\x{0964}\\x{0965}]",
    # + Arabic question mark ؟ and Arabic full stop ۔
    "arabic": "[.!?\\x{2026}\\x{061F}\\x{06D4}]",
}

#: route -> terminator class for routes with script-specific marks;
#: every unlisted route reads 'default'. Separate from
#: UNSEGMENTED_ROUTES on purpose (not drift): 'th' is unsegmented for
#: SHINGLING but Thai carries no terminal mark, while segmented
#: Devanagari/Arabic have their own marks.
TERMINATOR_ROUTE_CLASS: dict[str, str] = {
    "zh": "cjk",
    "ja": "cjk",
    "und-Deva": "devanagari",
    "und-Arab": "arabic",
}


def sentence_count_col(
    text: Column | str, script: Column | str
) -> Column:
    """Sentence count = number of maximal terminator RUNS (``[.!?]+``
    counts ``...`` once), class picked by the row's route — exact
    leftmost-non-overlapping ``regexp_count`` on both engines (the
    ``pii_counts`` device). Pure codegen, per-row."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.col(script) if isinstance(script, str) else script
    out = F.regexp_count(c, F.lit(SENTENCE_TERMINATORS["default"] + "+"))
    for route, cls in TERMINATOR_ROUTE_CLASS.items():
        out = F.when(
            s == route,
            F.regexp_count(c, F.lit(SENTENCE_TERMINATORS[cls] + "+")),
        ).otherwise(out)
    return out.cast("long")


def sentence_count_sql(expr: str, script_expr: str) -> str:
    """DuckDB replay of :func:`sentence_count_col` (RE2 needs no flag
    here — ``len(regexp_extract_all(...))`` is the count device)."""
    whens = " ".join(
        f"WHEN '{route}' THEN len(regexp_extract_all({expr},"
        f" '{SENTENCE_TERMINATORS[cls]}+'))"
        for route, cls in TERMINATOR_ROUTE_CLASS.items()
    )
    dflt = (
        f"len(regexp_extract_all({expr},"
        f" '{SENTENCE_TERMINATORS['default']}+'))"
    )
    return (
        f"CAST(CASE {script_expr} {whens} ELSE {dflt} END AS BIGINT)"
    )


def py_sentence_count(text: str, route: str) -> int:
    """Python twin of :func:`sentence_count_col` (``re`` lacks the
    ``\\x{{..}}`` syntax — rebuild the class from codepoints)."""
    import re

    def _cls(spec: str) -> str:
        # translate \x{XXXX} to \uXXXX for Python re
        return re.sub(
            r"\\x\{([0-9A-Fa-f]+)\}",
            lambda m: chr(int(m.group(1), 16)),
            spec,
        )

    key = TERMINATOR_ROUTE_CLASS.get(route, "default")
    pat = _cls(SENTENCE_TERMINATORS[key]) + "+"
    return len(re.findall(pat, text))


# ----- catalog fixture devices ------------------------------------------

#: edge shapes appended to the held-out real-script sentences in the
#: catalog fixture pool: digits/punct only ('und'), a Latin-majority
#: mixed page (must hand off to the trigram model), a half-and-half
#: CJK/Latin page (no majority → 'und'), and empty-ish whitespace
SCRIPT_FIXTURE_EXTRA: list[str] = [
    "12345 !!! ... ??? 67890",
    "mixed 漢字 with mostly english words here dominating the page",
    "半々のテキスト half and half latin かなカナ交じり文です",
    "   ",
]


def script_fixture_pool() -> list[str]:
    """The deterministic multilingual fixture pool: every held-out
    real-text sentence (Latin five + Han) plus the non-Latin script
    sets plus the edge shapes — ONE ordered list both engines index by
    ``doc_id % len(pool)``."""
    from dask_datapipeline_spark.operators.langid import (
        HELDOUT_SCRIPT_SENTENCES,
        HELDOUT_SENTENCES,
    )

    pool: list[str] = []
    for lang in HELDOUT_SENTENCES:
        pool.extend(HELDOUT_SENTENCES[lang])
    for label in HELDOUT_SCRIPT_SENTENCES:
        pool.extend(HELDOUT_SCRIPT_SENTENCES[label])
    pool.extend(SCRIPT_FIXTURE_EXTRA)
    return pool


def script_fixture_col(id_col: str = "doc_id") -> Column:
    """``pool[doc_id % n]`` as a JVM literal-array expression — the
    multilingual eval corpus synthesized FROM the documents table in
    both engines (the ``synth_doc_col`` fixture discipline)."""
    pool = script_fixture_pool()
    arr = F.array(*[F.lit(s) for s in pool])
    return F.element_at(arr, (F.col(id_col) % len(pool)).cast("int") + 1)


def script_fixture_sql(id_col: str = "doc_id") -> str:
    """DuckDB replay of :func:`script_fixture_col`."""
    pool = script_fixture_pool()
    lst = "[" + ", ".join("'" + s.replace("'", "''") + "'" for s in pool) + "]"
    return f"({lst})[({id_col} % {len(pool)}) + 1]"


# ----- pure-Python kernel twins (unit pins; same constants) ------------


def py_script_counts(text: str) -> dict[str, int]:
    """Python twin of :func:`script_count_cols` — codepoint-range
    membership over the SAME :data:`SCRIPT_RANGES` (Python ``re``
    lacks the ``\\x{}`` syntax, so this walks codepoints; pinned equal
    to the Spark/SQL device in tests)."""
    counts = {f"n_{s}": 0 for s in SCRIPTS}
    counts["n_chars"] = len(text)
    for ch in text:
        cp = ord(ch)
        for s in SCRIPTS:
            if any(lo <= cp <= hi for lo, hi in SCRIPT_RANGES[s]):
                counts[f"n_{s}"] += 1
                break
    counts["n_letters"] = sum(counts[f"n_{s}"] for s in SCRIPTS)
    return counts


def py_route(text: str) -> str:
    """Python twin of :func:`script_route_col` — THE routing rule."""
    c = py_script_counts(text)
    letters = c["n_letters"]
    cjk = c["n_han"] + c["n_kana"]
    if letters == 0:
        return "und"
    if cjk * 2 > letters:
        return "ja" if c["n_kana"] * KANA_DENOM >= cjk else "zh"
    if c["n_hangul"] * 2 > letters:
        return "ko"
    if c["n_cyrillic"] * 2 > letters:
        return "und-Cyrl"
    if c["n_arabic"] * 2 > letters:
        return "und-Arab"
    if c["n_thai"] * 2 > letters:
        return "th"
    if c["n_greek"] * 2 > letters:
        return "und-Grek"
    if c["n_devanagari"] * 2 > letters:
        return "und-Deva"
    if c["n_hebrew"] * 2 > letters:
        return "und-Hebr"
    if c["n_latin"] * 2 > letters:
        return LATIN_ROUTE
    return "und"


def py_classify_routed(
    text: str,
    weights: dict[str, dict[int, int]],
    abstain_milli: int | None = None,
) -> str:
    """Python twin of the composed classifier's per-document decision:
    script route first, the trigram model only on a Latin majority."""
    from dask_datapipeline_spark.operators.langid import classify_text

    route = py_route(text)
    if route != LATIN_ROUTE:
        return route
    return classify_text(text, weights, abstain_milli)


# ----- DuckDB oracle twins ----------------------------------------------


def script_count_sql(expr: str) -> dict[str, str]:
    """DuckDB replay of :func:`script_count_cols` over ``expr`` — the
    same length-difference device with the same class constants
    (DuckDB regexp_replace needs the explicit 'g' flag)."""
    out = {"n_chars": f"CAST(length({expr}) AS BIGINT)"}
    for s in SCRIPTS:
        cls = script_class_re(s)
        out[f"n_{s}"] = (
            f"CAST(length({expr}) - "
            f"length(regexp_replace({expr}, '{cls}', '', 'g')) AS BIGINT)"
        )
    out["n_letters"] = (
        "CAST(" + " + ".join(f"n_{s}" for s in SCRIPTS) + " AS BIGINT)"
    )
    return out


def script_route_sql() -> str:
    """DuckDB replay of :func:`script_route_col`, referencing the
    ``n_*`` columns of :func:`script_count_sql` by name."""
    return f"""CASE
  WHEN n_letters = 0 THEN 'und'
  WHEN (n_han + n_kana) * 2 > n_letters THEN
    CASE WHEN n_kana * {KANA_DENOM} >= n_han + n_kana
         THEN 'ja' ELSE 'zh' END
  WHEN n_hangul * 2 > n_letters THEN 'ko'
  WHEN n_cyrillic * 2 > n_letters THEN 'und-Cyrl'
  WHEN n_arabic * 2 > n_letters THEN 'und-Arab'
  WHEN n_thai * 2 > n_letters THEN 'th'
  WHEN n_greek * 2 > n_letters THEN 'und-Grek'
  WHEN n_devanagari * 2 > n_letters THEN 'und-Deva'
  WHEN n_hebrew * 2 > n_letters THEN 'und-Hebr'
  WHEN n_latin * 2 > n_letters THEN '{LATIN_ROUTE}'
  ELSE 'und'
END"""


def script_profile_sql(
    src: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Full oracle twin of :func:`script_profile`."""
    counts = script_count_sql(text_col)
    count_cols = ",\n         ".join(
        f"{sql} AS {name}" for name, sql in counts.items() if name != "n_letters"
    )
    return f"""
WITH c AS (
  SELECT {id_col}, {count_cols}
  FROM {src} WHERE {text_col} IS NOT NULL
),
p AS (
  SELECT *, {counts["n_letters"]} AS n_letters FROM c
)
SELECT {id_col}, n_chars, {", ".join(f"n_{s}" for s in SCRIPTS)},
       n_letters, {script_route_sql()} AS script
FROM p
"""


# ----- composed production classifier -------------------------------------


def lang_id_script_routed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: dict[str, dict[int, int]],
    abstain_milli: int | None = None,
    routed: DataFrame | None = None,
) -> DataFrame:
    """The production LID path: script routing FIRST (pure codegen),
    the Arrow trigram model ONLY over the Latin-routed slice.

    Output: (id, script, lang) — ``script`` is the router label
    (``'latin'`` for model-routed rows), ``lang`` the final call: the
    script label for non-Latin scripts, the trained model's prediction
    (with the margin abstain) for Latin rows. At 100 TB the expensive
    Python stage runs only on rows that can possibly benefit from it;
    a Han/Hangul/Cyrillic/Arabic-majority page never pays the UDF and
    can never be mislabeled as one of the five Latin languages (the
    pytest floor).

    Round 14 optimization pass (same output, cheaper plan):

    - The route rides along as a PROJECTION over the text (counts →
      route in the same select chain) instead of a separate profile
      joined back on id — the join shuffled the corpus TEXT by doc id
      at scale for no information (guide §2.4: remove shuffles
      outright), and building the join eagerly re-executed it in
      fan_out's partition probe (measured 2.7 s per catalog-fn call).
    - ``routed=`` lets a caller that ALREADY materialized
      (id, text, script) — e.g. the script_route catalog row, whose
      profile leg computes the route anyway — hand it in, skipping the
      second count pass entirely. The caller guarantees the frame is
      parallel enough (fan_out'd at its scan).
    """
    from dask_datapipeline_spark.operators.langid import lang_id_trained

    if routed is None:
        from dask_datapipeline_spark.parallel import fan_out

        pre = fan_out(
            df.where(F.col(text_col).isNotNull()).select(id_col, text_col)
        ).select(id_col, text_col, nonascii_col(text_col).alias("__na"))
        counts = script_count_cols(text_col, nonascii=F.col("__na"))
        step = pre.select(
            id_col, text_col, *[counts[k].alias(k) for k in counts]
        )
        refs = {k: F.col(k) for k in counts}
        from pyspark.storagelevel import StorageLevel

        # both classifier arms filter this frame — persist so the
        # count projection runs once (the shared-root discipline;
        # callers passing routed= manage their own persistence)
        routed = step.select(
            id_col, text_col, script_route_col(refs).alias("script")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    latin = routed.where(F.col("script") == LATIN_ROUTE)
    other = routed.where(F.col("script") != LATIN_ROUTE).select(
        id_col, "script", F.col("script").alias("lang")
    )
    scored = lang_id_trained(
        latin, id_col, text_col, weights, abstain_milli, fan=False
    ).select(id_col, F.lit(LATIN_ROUTE).alias("script"), "lang")
    return other.unionByName(scored)


def lang_id_script_routed_sql(
    weights: dict[str, dict[int, int]],
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    front_ctes: str = "",
    abstain_milli: int | None = None,
) -> str:
    """DuckDB oracle twin of :func:`lang_id_script_routed`: the script
    profile as CTEs, the trained-LID SQL (nested WITH — outer CTEs are
    visible inside it) over the Latin slice, UNION ALL with the
    non-Latin slice. ``front_ctes`` (ending with a comma) prepends
    fixture CTEs that define ``src``."""
    from dask_datapipeline_spark.operators.langid import lang_id_trained_sql

    counts = script_count_sql(text_col)
    count_cols = ",\n         ".join(
        f"{sql} AS {name}" for name, sql in counts.items() if name != "n_letters"
    )
    lid = lang_id_trained_sql(
        weights,
        src="latin_rows",
        id_col=id_col,
        text_col=text_col,
        abstain_milli=abstain_milli,
    )
    return f"""
WITH {front_ctes}sc AS (
  SELECT {id_col}, {text_col}, {count_cols}
  FROM {src} WHERE {text_col} IS NOT NULL
),
sp AS (SELECT *, {counts["n_letters"]} AS n_letters FROM sc),
sr AS (
  SELECT {id_col}, {text_col}, {script_route_sql()} AS script FROM sp
),
latin_rows AS (
  SELECT {id_col}, {text_col} FROM sr WHERE script = '{LATIN_ROUTE}'
),
tl AS (
{lid}
)
SELECT {id_col}, '{LATIN_ROUTE}' AS script, lang FROM tl
UNION ALL
SELECT {id_col}, script, script AS lang
FROM sr WHERE script <> '{LATIN_ROUTE}'
"""
