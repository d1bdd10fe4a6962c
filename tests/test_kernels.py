"""Unit tests for the scalar kernels (SURVEY §5.2.2): the reference's
documented edge cases, pinned as pure column expressions over literal rows.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from review_engine_spark.functions.scoring import (
    bayesian_rating,
    log_popularity,
    minmax_normalize,
    price_fit,
)
from review_engine_spark.functions.text import (
    clean_text,
    extract_summary,
    parse_budget,
    token_count,
)
from review_engine_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_normalize,
    vector_literal,
)


def one(df):
    return df.collect()[0][0]


# --- clean_text (embed.py:13-51) ------------------------------------------


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Hello &amp; <b>World</b>!", "hello world!"),
        ("visit http://x.co/a now", "visit now"),
        ("@user #tag stays out", "stays out"),
        ("UPPER  case\t\ttext", "upper case text"),
        # single-pass semantics: &amp;lt; → &lt; (not <); the charset
        # whitelist then drops '&' and keeps ';'
        ("&amp;lt; stays entity-escaped once", "lt; stays entity-escaped once"),
        ("keep .,!?;:'\"- drop ~%$", "keep .,!?;:'\"- drop"),
    ],
)
def test_clean_text(spark, raw, expected):
    df = spark.createDataFrame([(raw,)], "t string")
    assert one(df.select(clean_text(F.col("t")))) == expected


def test_token_count_single_space_semantics(spark):
    # len("a b".split(" ")) == 2; len("".split(" ")) == 1 — reference
    # counts the empty string as one token (embed.py:61)
    df = spark.createDataFrame([("a b",), ("",)], "t string")
    assert [r[0] for r in df.select(token_count(F.col("t"))).collect()] == [2, 1]


# --- parse_budget (rank.py:57-129) ----------------------------------------


@pytest.mark.parametrize(
    "q,expected",
    [
        ("between 100 and 200", 150.0),
        ("100-200", 150.0),
        ("100~200", 150.0),
        ("under 1.5k", 1500.0),
        ("below $2,000", 2000.0),
        ("at most 1kk", 1000.0),  # kk multiplies once (rank.py:80-81)
        ("around $300", 300.0),
        ("$500 budget", 500.0),
        ("budget 800", 800.0),
        ("no numbers", None),
        ("under 1.5 k", None),  # inner space fails strict parse_money
        ("between 100. and 200", None),  # bad bound falls all the way through
    ],
)
def test_parse_budget(spark, q, expected):
    df = spark.createDataFrame([(q,)], "q string")
    got = one(df.select(parse_budget(F.col("q"))))
    if expected is None:
        assert got is None
    else:
        assert got == pytest.approx(expected)


def test_parse_budget_matches_reference_python(spark):
    """Property-style cross-check against a pure-Python port of the
    reference cascade (rank.py:66-129)."""
    import re

    def ref_parse(query):
        lower_query = query.lower()

        def parse_money(text):
            text = text.replace(",", "").strip()
            m = re.match(r"^(\d+(\.\d+)?)(k|kk|k\+)?$", text)
            if not m:
                return None
            val = float(m.group(1))
            if m.group(3):
                val *= 1000.0
            return val

        pats = [
            (r"(?:between\s+)?\$?(\d[\d,\.]*\s*(?:k|kk)?)\s*(?:-+|~|to|and)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 2),
            (r"(?:under|below|less than|at most|≤|&lt;=)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
            (r"(?:around|about|approx(?:imately)?|near|nearly)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
            (r"\$?(\d[\d,\.]*\s*(?:k|kk)?)\s*(?:budget|budgets?)", 1),
            (r"(?:budget|budgets?)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
        ]
        for pat, ngroups in pats:
            m = re.search(pat, lower_query)
            if m:
                if ngroups == 2:
                    a, b = parse_money(m.group(1)), parse_money(m.group(2))
                    if a is not None and b is not None:
                        return (a + b) / 2.0
                else:
                    v = parse_money(m.group(1))
                    if v is not None:
                        return v
        return None

    cases = [
        "between 12 and 48", "washer 1k-2k", "3~9", "under 55", "below 1,1",
        "less than 7.5k", "around 9", "approx 4kk", "nearly 0", "12 budget",
        "budget $14", "budgets 2", "between a and b", "under k", "at most 3.",
        "between 5 and six", "100 to 200 and 300", "~5", "5~", "$ 100 budget",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "q string")
    got = [r[0] for r in df.select(parse_budget(F.col("q"))).collect()]
    want = [ref_parse(c) for c in cases]
    assert got == want, list(zip(cases, got, want))


# --- extract_summary (summarize.py:13-25) ---------------------------------


def test_extract_summary_matches_reference_python(spark):
    import re

    def ref_extract(raw):
        raw = raw.strip().strip('"').strip("'")
        m = re.search(r"ASSISTANT:\s*(.*)\s*$", raw, flags=re.S)
        summary = m.group(1).strip() if m else raw.strip()
        return re.sub(r"(</s>|\[END\]|\[/ASSISTANT\])\s*$", "", summary).strip()

    cases = [
        'USER: x ASSISTANT: the answer',
        '"ASSISTANT: quoted"',
        "'single'",
        "ASSISTANT: a ASSISTANT: b</s>",
        "no label [END]",
        "ASSISTANT:",
        '""deep""',
        "multi\nline ASSISTANT: first\nsecond</s>",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "raw string")
    got = [r[0] for r in df.select(extract_summary(F.col("raw"))).collect()]
    assert got == [ref_extract(c) for c in cases], list(zip(cases, got))


# --- scoring kernels (rank.py:44-54, 163-192, 248) ------------------------


def test_price_fit_none_branches(spark):
    df = spark.createDataFrame(
        [(None, 100.0), (0.0, 100.0), (50.0, None), (100.0, 100.0)],
        "price double, anchor double",
    )
    got = [
        r[0]
        for r in df.select(
            price_fit(F.col("price"), F.col("anchor"))
        ).collect()
    ]
    assert got[0] == 0.2  # None price → risky (rank.py:169-171)
    assert got[1] == 0.2  # price <= 0 → risky
    assert got[2] == 0.5  # no anchor → neutral (rank.py:166-167)
    assert got[3] == pytest.approx(1.0)  # exact match → exp(0)


def test_price_fit_asymmetry(spark):
    # over-anchor sigma (0.6×) is tighter than under (1.2×) (rank.py:177)
    df = spark.createDataFrame([(150.0, 100.0), (50.0, 100.0)], "p double, a double")
    over, under = [
        r[0] for r in df.select(price_fit(F.col("p"), F.col("a"))).collect()
    ]
    anchor, diff = 100.0, 50.0
    sigma_over, sigma_under = 0.6 * 30.0, 1.2 * 30.0
    assert over == pytest.approx(math.exp(-(diff**2) / (2 * sigma_over**2)))
    assert under == pytest.approx(math.exp(-(diff**2) / (2 * sigma_under**2)))
    assert over < under


def test_bayesian_rating_null_paths(spark):
    df = spark.createDataFrame(
        [(None, None), (5.0, None), (None, 10), (5.0, 100)],
        "r double, n long",
    )
    got = [
        r[0]
        for r in df.select(bayesian_rating(F.col("r"), F.col("n"))).collect()
    ]
    assert got[0] == pytest.approx(4.3)  # both None → prior
    assert got[1] == pytest.approx(4.3)  # count None → 0 weight
    assert got[2] == pytest.approx(4.3)  # rating None → prior value
    assert got[3] == pytest.approx((4.3 * 100 + 5.0 * 100) / 200)


def test_log_popularity_guard(spark):
    df = spark.createDataFrame([(None,), (-5,), (0,), (99,)], "n long")
    got = [r[0] for r in df.select(log_popularity(F.col("n"))).collect()]
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] == 0.0
    assert got[3] == pytest.approx(math.log1p(99))


def test_minmax_degenerate_band(spark):
    # np.isclose(high, low) → constant 0.5 (rank.py:51-52)
    df = spark.createDataFrame([(3.0, 2.0, 2.0)], "x double, lo double, hi double")
    assert one(df.select(minmax_normalize(F.col("x"), F.col("lo"), F.col("hi")))) == 0.5


def test_minmax_clips_into_unit_interval(spark):
    rows = [(x, 0.0, 10.0) for x in (-5.0, 0.0, 5.0, 10.0, 20.0)]
    df = spark.createDataFrame(rows, "x double, lo double, hi double")
    got = [
        r[0]
        for r in df.select(
            minmax_normalize(F.col("x"), F.col("lo"), F.col("hi"))
        ).collect()
    ]
    assert got[0] == pytest.approx(0.0)
    assert got[-1] == pytest.approx(1.0, rel=1e-6)
    assert all(0.0 <= v <= 1.0 for v in got)


# --- vector kernels (rank.py:195-202, 286-289) ----------------------------


def test_dot_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "a array<double>, b array<double>",
    )
    assert one(df.select(dot_product(F.col("a"), F.col("b")))) == pytest.approx(32.0)
    expected = 32.0 / (math.sqrt(14) * math.sqrt(77) + 1e-9)
    assert one(df.select(cosine_similarity(F.col("a"), F.col("b")))) == pytest.approx(
        expected
    )


def test_dot_null_operand_is_zero(spark):
    df = spark.createDataFrame([([1.0], None)], "a array<double>, b array<double>")
    assert one(df.select(dot_product(F.col("a"), F.col("b")))) == 0.0


def test_l2_normalize_zero_vector_stays_zero(spark):
    df = spark.createDataFrame([([0.0, 0.0],)], "v array<double>")
    assert one(df.select(l2_normalize(F.col("v")))) == [0.0, 0.0]


def test_vector_literal_is_exact_and_folded(spark):
    values = [
        0.1, -0.0, 5e-324, 1.7976931348623157e308, -2.5e-308, 1 / 3,
        math.inf, -math.inf, math.nan, 7,
    ]
    df = spark.range(1).select(vector_literal(values).alias("v"))
    assert df.schema["v"].dataType.simpleString() == "array<double>"
    # repr tells -0.0 from 0.0 and compares NaN to NaN
    assert [repr(x) for x in one(df)] == [repr(float(x)) for x in values]
    assert "split(" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert one(spark.range(1).select(vector_literal([]))) == []


# --- hypothesis property tests (SURVEY §5.2.3) -----------------------------


def _ref_parse_budget(query):
    """Pure-Python port of the reference cascade (rank.py:66-129)."""
    import re

    lower_query = query.lower()

    def parse_money(text):
        text = text.replace(",", "").strip()
        m = re.match(r"^(\d+(\.\d+)?)(k|kk|k\+)?$", text)
        if not m:
            return None
        val = float(m.group(1))
        if m.group(3):
            val *= 1000.0
        return val

    pats = [
        (r"(?:between\s+)?\$?(\d[\d,\.]*\s*(?:k|kk)?)\s*(?:-+|~|to|and)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 2),
        (r"(?:under|below|less than|at most|≤|&lt;=)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
        (r"(?:around|about|approx(?:imately)?|near|nearly)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
        (r"\$?(\d[\d,\.]*\s*(?:k|kk)?)\s*(?:budget|budgets?)", 1),
        (r"(?:budget|budgets?)\s*\$?(\d[\d,\.]*\s*(?:k|kk)?)", 1),
    ]
    for pat, ngroups in pats:
        m = re.search(pat, lower_query)
        if m:
            if ngroups == 2:
                a, b = parse_money(m.group(1)), parse_money(m.group(2))
                if a is not None and b is not None:
                    return (a + b) / 2.0
            else:
                v = parse_money(m.group(1))
                if v is not None:
                    return v
    return None


try:
    from hypothesis import given, settings, strategies as st

    _money = st.builds(
        lambda n, dec, suf: f"{n}{dec}{suf}",
        st.integers(0, 99999).map(str),
        st.sampled_from(["", ".5", ".25", ".", ",000", ",00"]),
        st.sampled_from(["", "k", "kk", " k"]),
    )
    _budget_phrase = st.one_of(
        st.builds(lambda a, c, b: f"between {a} {c} {b}", _money,
                  st.sampled_from(["and", "to", "-", "--", "~"]), _money),
        st.builds(lambda w, m: f"{w} ${m}", st.sampled_from(
            ["under", "below", "less than", "at most", "around", "about",
             "approximately", "nearly"]), _money),
        st.builds(lambda m: f"{m} budget", _money),
        st.builds(lambda m: f"budget {m}", _money),
        st.builds(lambda w: w, st.sampled_from(
            ["no budget mentioned", "cheap one", "model x200", "", "k", "$"])),
        st.builds(lambda a, b: f"{a} {b}", _money, _money),
    )

    @settings(max_examples=12, deadline=None)
    @given(st.lists(_budget_phrase, min_size=8, max_size=8))
    def test_parse_budget_property(spark, phrases):
        from review_engine_spark.functions.text import parse_budget

        df = spark.createDataFrame([(p,) for p in phrases], "q string")
        got = [r[0] for r in df.select(parse_budget(F.col("q"))).collect()]
        want = [_ref_parse_budget(p) for p in phrases]
        for p, g, w in zip(phrases, got, want):
            if w is None:
                assert g is None, (p, g, w)
            else:
                assert g == pytest.approx(w), (p, g, w)

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(st.floats(-1e6, 1e6), min_size=6, max_size=6),
        st.floats(-1e5, 1e5),
        st.floats(-1e5, 1e5),
    )
    def test_minmax_range_property(spark, xs, lo, hi):
        """minmax output is always in [0,1] or exactly 0.5 (degenerate band)."""
        from review_engine_spark.functions.scoring import minmax_normalize

        low, high = min(lo, hi), max(lo, hi)
        df = spark.createDataFrame([(x,) for x in xs], "x double")
        out = [
            r[0]
            for r in df.select(
                minmax_normalize(F.col("x"), F.lit(low), F.lit(high))
            ).collect()
        ]
        for v in out:
            assert v == pytest.approx(0.5) or (0.0 <= v <= 1.0 + 1e-9), (v, low, high)

    @settings(max_examples=10, deadline=None)
    @given(
        st.one_of(st.none(), st.floats(0.0, 5.0)),
        st.one_of(st.none(), st.integers(0, 10**6)),
    )
    def test_bayes_between_prior_and_raw_property(spark, rating, count):
        """Bayesian rating always lies between the prior (4.3) and the raw
        rating (inclusive), whatever the evidence count."""
        from review_engine_spark.functions.scoring import bayesian_rating

        df = spark.createDataFrame([(rating, count)], "r double, n long")
        got = df.select(bayesian_rating(F.col("r"), F.col("n"))).collect()[0][0]
        raw = 4.3 if rating is None else rating
        lo, hi = min(4.3, raw), max(4.3, raw)
        assert lo - 1e-9 <= got <= hi + 1e-9

except ImportError:  # pragma: no cover — hypothesis is baked in, but be safe
    pass


def test_l2_normalize_rows_matches_expression(spark):
    """Staged DataFrame form ≡ Column form (including null and zero
    vectors), just O(dim) instead of O(dim²) per row."""
    from review_engine_spark.functions.vector import l2_normalize, l2_normalize_rows

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None)],
        "id long, v array<double>",
    )
    via_expr = {
        r["id"]: r["u"]
        for r in df.select("id", l2_normalize(F.col("v")).alias("u")).collect()
    }
    via_rows = {
        r["id"]: r["u"]
        for r in l2_normalize_rows(df, "v", "u").select("id", "u").collect()
    }
    assert via_rows == via_expr
    assert via_rows[1] == pytest.approx([0.6, 0.8])
    assert via_rows[2] == pytest.approx([0.0, 0.0])
    assert via_rows[3] is None


# --- HTML entity unescape vs html.unescape (embed.py:31) -------------------


def test_unescape_every_html5_entity_exhaustive(spark):
    """ALL ~2.1k semicolon-terminated HTML5 names decode exactly as
    html.unescape — exhaustive, not sampled, so the crc32 bucket
    placement (build-time zlib vs query-time Spark) is proven for every
    name, including multi-codepoint and astral values."""
    import html

    from review_engine_spark.functions.text import (
        ENTITY_ITEMS,
        unescape_html_entities,
    )

    refs = [f"x&{name};y" for name, _ in ENTITY_ITEMS]
    df = spark.createDataFrame([(r,) for r in refs], "t string")
    got = [
        r[0]
        for r in df.select(unescape_html_entities(F.col("t"))).collect()
    ]
    want = [html.unescape(r) for r in refs]
    assert got == want


def test_unescape_named_and_numeric_entities(spark):
    from review_engine_spark.functions.text import unescape_html_entities

    cases = [
        ("&lt;b&gt; &quot;x&quot; &apos;y&apos;", '<b> "x" \'y\''),
        ("&#39;hi&#39; &#x27;there&#x27;", "'hi' 'there'"),
        ("&#72;&#x65;&#108;&#x6c;&#111;", "Hello"),
        # single-pass: entities decoding to '&' must not re-trigger
        ("&amp;lt; &#38;gt; &#x26;#60;", "&lt; &gt; &#60;"),
        ("no entities here", "no entities here"),
        ("&#999; &#xzz; &# ;", "&#999; &#xzz; &# ;"),  # outside subset: kept
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "t string")
    got = [r[0] for r in df.select(unescape_html_entities(F.col("t"))).collect()]
    assert got == [w for _, w in cases]


try:
    from hypothesis import given, settings, strategies as st

    from review_engine_spark.functions.text import ENTITY_ITEMS

    # The declared subset: semicolon-terminated numeric refs in
    # NUMERIC_RANGES (decimal + either-case hex) and the full ~2.1k-name
    # HTML5 table (every ";"-terminated html.entities.html5 name, incl.
    # multi-codepoint and astral values). html.unescape is the
    # reference behavior (embed.py:31); adjacency included — the
    # single-pass decode must handle back-to-back refs like &#38;amp;.
    from review_engine_spark.functions.text import LEGACY_ITEMS

    _entity = st.one_of(
        st.integers(32, 126).map(lambda c: f"&#{c};"),
        st.integers(160, 255).map(lambda c: f"&#{c};"),
        st.integers(32, 126).map(lambda c: f"&#x{c:x};"),
        st.integers(160, 255).map(lambda c: f"&#X{c:X};"),
        st.sampled_from([f"&{name};" for name, _ in ENTITY_ITEMS]),
        # Unterminated refs (round 6): legacy no-semicolon names resolve
        # by longest prefix exactly like html.unescape, and in-range
        # numeric refs decode without the ";". The numeric forms carry a
        # "z" guard (non-digit, non-hex) so a following _plain digit
        # can't extend the run past the declared code-point subset —
        # html.unescape decodes any code, the engine only the declared
        # ranges. Legacy names need no guard: both sides run the same
        # longest-prefix resolution over the same 106-name table.
        st.sampled_from([f"&{name}" for name, _ in LEGACY_ITEMS]),
        st.integers(32, 126).map(lambda c: f"&#{c}z"),
        st.integers(160, 255).map(lambda c: f"&#x{c:x}z"),
    )
    _plain = st.text(
        alphabet="abcXYZ 019.!?", min_size=0, max_size=6
    )
    _entity_text = st.lists(
        st.one_of(_entity, _plain), min_size=0, max_size=8
    ).map("".join)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(_entity_text, min_size=6, max_size=6))
    def test_unescape_matches_html_unescape_property(spark, texts):
        import html

        from review_engine_spark.functions.text import unescape_html_entities

        df = spark.createDataFrame([(t,) for t in texts], "t string")
        got = [
            r[0] for r in df.select(unescape_html_entities(F.col("t"))).collect()
        ]
        for t, g in zip(texts, got):
            assert g == html.unescape(t), f"unescape({t!r}) = {g!r}"

except ImportError:  # pragma: no cover — hypothesis is baked in, but be safe
    pass


# --- Porter stemmer H13 (rank.py:132-141) ----------------------------------


def test_porter_stem_paper_examples():
    """Pinned outputs of the original Porter (1980) algorithm, traced
    from the published paper's per-step examples through all five steps."""
    from review_engine_spark.functions.stemmer import porter_stem

    cases = {
        # step 1a/1b/1c
        "caresses": "caress", "ponies": "poni", "cats": "cat",
        "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "motoring": "motor", "sing": "sing", "hopping": "hop",
        "tanned": "tan", "falling": "fall", "hissing": "hiss",
        "fizzed": "fizz", "failing": "fail", "filing": "file",
        "happy": "happi", "sky": "sky",
        # step 2 (then 4/5 where they fire)
        "relational": "relat", "conditional": "condit",
        "rational": "ration", "valenci": "valenc", "hesitanci": "hesit",
        "digitizer": "digit", "differentli": "differ",
        "operator": "oper", "feudalism": "feudal",
        "decisiveness": "decis", "hopefulness": "hope",
        "callousness": "callous", "formaliti": "formal",
        "sensitiviti": "sensit", "vietnamization": "vietnam",
        "predication": "predic", "analogousli": "analog",
        "vileli": "vile", "radicalli": "radic",
        "conformabli": "conform",
        # step 3
        "triplicate": "triplic", "formative": "form",
        "formalize": "formal", "electriciti": "electr",
        "electrical": "electr", "hopeful": "hope", "goodness": "good",
        # step 4
        "revival": "reviv", "allowance": "allow", "inference": "infer",
        "airliner": "airlin", "adjustable": "adjust",
        "defensible": "defens", "irritant": "irrit",
        "replacement": "replac", "adjustment": "adjust",
        "dependent": "depend", "adoption": "adopt",
        "communism": "commun", "activate": "activ",
        "effective": "effect",
        # step 5 (incl. the paper's GENERALIZATIONS/OSCILLATORS chains)
        "probate": "probat", "rate": "rate", "cease": "ceas",
        "roll": "roll", "controlling": "control",
        "oscillators": "oscil", "generalizations": "gener",
    }
    got = {w: porter_stem(w) for w in cases}
    assert got == cases


def test_porter_stem_reference_guard(spark):
    """The reference wrapper (rank.py:136-141): lowercase first, and a
    stem shorter than 3 chars falls back to the lowercased original —
    and the Arrow-batched UDF applies the same wrapper per token."""
    from review_engine_spark.functions.stemmer import (
        stem_tokens_udf,
        stem_with_guard,
    )

    assert stem_with_guard("ties") == "ties"  # stem "ti" < 3 chars
    assert stem_with_guard("Dies") == "dies"
    assert stem_with_guard("RUNNING") == "run"

    df = spark.createDataFrame(
        [(["ties", "RUNNING", "caresses"],), (None,)],
        "toks array<string>",
    )
    out = [r[0] for r in df.select(stem_tokens_udf()(F.col("toks"))).collect()]
    assert out == [["ties", "run", "caress"], None]


# --- PII scrub (curation surface) ------------------------------------------


def test_scrub_pii_redacts_in_order(spark):
    from review_engine_spark.functions.text import scrub_pii

    rows = [
        ("mail me at jo.doe+x@example.co.uk please", "[EMAIL]", 1),
        ("ssn 123-45-6789 and phone 555-123-4567 here", "[SSN]", 2),
        ("call +1 555 867 5309 now", "[PHONE]", 1),
        ("nothing sensitive here", None, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "t string")
    scrubbed, n = scrub_pii(F.col("t"))
    got = df.select(scrubbed.alias("s"), n.alias("n")).collect()
    for (raw, marker, want_n), r in zip(rows, got):
        if marker:
            assert marker in r["s"], f"{raw!r} -> {r['s']!r}"
        assert r["n"] == want_n
        # no raw digits of an SSN/phone survive, emails gone
        assert "123-45-6789" not in r["s"] and "@" not in r["s"]
