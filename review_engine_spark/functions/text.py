"""Text kernels (SURVEY §2.H, H1-H14).

Reproduces the reference's text-cleaning chain (``embed.py:13-51``),
budget-parsing cascade (``rank.py:57-129``), and LLM-output extraction
(``summarize.py:13-25``) as Catalyst expressions. Regex patterns are kept
dialect-portable (no lookaround/backrefs) so the same pattern runs under
Java regex (Spark) and RE2 (DuckDB oracle) — verified by the oracle suite.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "unescape_html_entities",
    "clean_text",
    "token_count",
    "ws_tokens",
    "alnum_tokens",
    "tokenize",
    "STOPWORDS",
    "parse_money",
    "parse_budget",
    "extract_summary",
    "scrub_pii",
    "BUDGET_PATTERNS",
    "PII_PATTERNS",
]

# ---------------------------------------------------------------------------
# H1-H7: cleaning chain (embed.py:13-51)
# ---------------------------------------------------------------------------

#: Declared entity subset for oracle-checkable unescaping. The reference
#: uses ``html.unescape`` (full HTML5 entity table, embed.py:31); the
#: engine's deterministic path covers
#:   - the FULL HTML5 named-entity table, every semicolon-terminated
#:     name in ``html.entities.html5`` (~2.1k names incl. all case
#:     variants, multi-codepoint values like ``&fjlig;`` → "fj", and
#:     astral math-script characters) — a strict superset of the HTML4
#:     252 + ``&apos;`` covered through round 4;
#:   - numeric character references, decimal ``&#39;`` and either-case
#:     hex ``&#x27;``/``&#X27;``, for code points 32–126 and 160–255,
#:     with or without the terminating ``;`` (``&#38x`` → ``&x``);
#:   - UNTERMINATED named refs (round 6): the HTML5 legacy no-semicolon
#:     set (106 names), resolved by longest prefix exactly like
#:     html.unescape — ``&ampx`` → ``&x``, ``&notin`` → ``¬in``,
#:     ``&notit;`` → ``¬it;`` (failed full-name lookups fall back to
#:     the prefix scan, matching the stdlib's matched-group semantics).
#: The remaining declared-subset restriction is numeric codes outside
#: 32–126/160–255 (control chars, astral numerics): html.unescape maps
#: those through its invalid/replacement tables; the engine keeps them
#: verbatim on both sides.
#:
#: The decode is SINGLE-PASS by construction — split on ``&`` and decode
#: at most one reference per segment via map lookup — so html.unescape's
#: no-rescan semantics hold structurally: ``&amp;lt;`` → ``&lt;``,
#: ``&#38;amp;`` → ``&amp;`` (a chained-replace formulation double-
#: decodes the latter), and replacement text is never re-examined. The
#: Spark-side map is a create_map over literals, which ConstantFolding
#: collapses into ONE map literal before codegen — table size never
#: inflates generated code.


def _named_entity_items() -> list[tuple[str, str]]:
    import html.entities as _he

    # Semicolon-terminated HTML5 names only (the ";"-suffixed keys);
    # the suffix is stripped because the decoder's lookup key is the
    # segment text BEFORE the first ";". Names never contain ";"/"&".
    return sorted(
        (name[:-1], char)
        for name, char in _he.html5.items()
        if name.endswith(";")
    )


#: name → replacement, e.g. ("lt", "<"); the oracle generator walks the
#: same list so both sides share one table.
ENTITY_ITEMS: list[tuple[str, str]] = _named_entity_items()

#: Numeric-reference code-point ranges declared decodable (printable
#: ASCII + Latin-1 supplement; both Spark's char() and DuckDB's chr()
#: agree with Python chr() on these).
NUMERIC_RANGES: list[tuple[int, int]] = [(32, 126), (160, 255)]


def _legacy_entity_items() -> list[tuple[str, str]]:
    import html.entities as _he

    # The HTML5 legacy set: names valid WITHOUT a terminating ";"
    # (the no-suffix keys, 106 entries, lengths 2-6). html.unescape
    # resolves an unterminated ref by the LONGEST of these matching a
    # prefix of the following text.
    return sorted(
        (name, char) for name, char in _he.html5.items()
        if not name.endswith(";")
    )


LEGACY_ITEMS: list[tuple[str, str]] = _legacy_entity_items()


#: Bucket count for the O(1) named-entity lookup. Spark's map/array
#: literals are scanned linearly on access, so a flat 2.1k-entry table
#: costs ~2.1k string compares per ``&``-segment; hashing the name into
#: one of 4096 buckets (avg load 0.5) makes the lookup one array index
#: plus a <=2 entry scan. Python's zlib.crc32 and Spark's crc32 are both
#: standard CRC-32 over the UTF-8 bytes, so build-time placement and
#: query-time probing agree bit-for-bit (asserted exhaustively in tests).
_ENTITY_BUCKETS = 4096


def _entity_bucket_tables() -> tuple[Column, Column]:
    """(bucketed names, bucketed values) as TWO expression nodes each:
    ``from_json`` over a single string literal, which ConstantFolding
    collapses into one nested-array literal before codegen. Building the
    table from thousands of per-entry ``lit`` nodes instead makes every
    optimizer pass walk an ~8.5k-node subtree — multi-second planning
    per query (measured); the packed-literal form plans in
    milliseconds."""
    import json
    import zlib

    keys: list[list[str]] = [[] for _ in range(_ENTITY_BUCKETS)]
    vals: list[list[str]] = [[] for _ in range(_ENTITY_BUCKETS)]
    for name, repl in ENTITY_ITEMS:
        b = zlib.crc32(name.encode("utf-8")) % _ENTITY_BUCKETS
        keys[b].append(name)
        vals[b].append(repl)
    schema = "array<array<string>>"
    return (
        F.from_json(F.lit(json.dumps(keys)), schema),
        F.from_json(F.lit(json.dumps(vals)), schema),
    )


def _legacy_map() -> Column:
    """name → replacement for the 106 legacy (no-semicolon) names, as a
    single create_map over literals (folded to one map literal)."""
    return F.create_map(
        *[F.lit(x) for pair in LEGACY_ITEMS for x in pair]
    )


#: Longest-first alternation of the legacy names. Ordered alternation is
#: first-match-wins under BOTH Java regex and RE2, so length-descending
#: order makes one anchored regexp_extract return the longest matching
#: prefix — replacing a per-length map-probe loop (measured ~2x on the
#: clean chain: segments with a stray "&" pay one compiled-DFA scan
#: instead of five 106-entry map scans).
_LEGACY_ALT = "^(" + "|".join(
    sorted((n for n, _ in LEGACY_ITEMS), key=lambda n: (-len(n), n))
) + ")"


def _decode_unterminated(seg: Column) -> Column:
    """html.unescape's no-semicolon path over one post-``&`` segment:
    the LONGEST legacy name matching a prefix decodes (``&ampx`` →
    ``&x``, ``&notin`` → ``¬in``), and a leading in-range numeric
    reference decodes without its ``;`` (``&#38x`` → ``&x``). NULL when
    nothing matches. Equivalent to the stdlib's matched-group +
    longest-prefix resolution because after the prefix replacement the
    remainder is copied verbatim either way (group boundaries only
    ever delimit copied text)."""
    pref = F.regexp_extract(seg, _LEGACY_ALT, 1)
    legacy = F.when(
        pref != "",
        F.concat(
            _legacy_map()[pref],
            F.substring(seg, F.length(pref) + 1, F.length(seg)),
        ),
    )
    dnum = F.regexp_extract(seg, "^#([0-9]{1,7})", 1)
    hnum = F.regexp_extract(seg, "^#[xX]([0-9a-fA-F]{1,6})", 1)
    code = F.when(dnum != "", dnum.cast("int")).when(
        hnum != "", F.conv(hnum, 16, 10).cast("int")
    )
    in_range = F.lit(False)
    for lo, hi in NUMERIC_RANGES:
        in_range = in_range | ((code >= lo) & (code <= hi))
    skip = F.when(dnum != "", F.length(dnum) + 1).otherwise(F.length(hnum) + 2)
    num = F.when(
        in_range, F.concat(F.char(code), F.substring(seg, skip + 1, F.length(seg)))
    )
    # segments starting "#" can never hit the name path and vice versa;
    # the startswith gate keeps each branch's regex off the other's rows
    return F.when(seg.startswith("#"), num).otherwise(legacy)


def _decode_segment(seg: Column) -> Column:
    """Decode one post-``&`` segment: if it starts with ``name;`` for a
    declared name (or an in-range numeric reference), emit the
    replacement plus the rest; else try the unterminated/legacy-prefix
    path; otherwise restore the ``&`` verbatim."""
    semi = F.instr(seg, ";")
    name = F.substring(seg, F.lit(1), semi - 1)
    rest = F.substring(seg, semi + 1, F.length(seg))
    bkeys, bvals = _entity_bucket_tables()
    idx = F.pmod(F.crc32(F.encode(name, "utf-8")), F.lit(_ENTITY_BUCKETS)).cast(
        "int"
    )
    pos = F.array_position(F.get(bkeys, idx), name)
    named = F.when(pos > 0, F.get(F.get(bvals, idx), (pos - 1).cast("int")))
    code = F.when(
        name.rlike("^#[0-9]{1,7}$"), F.substring(name, 2, 8).cast("int")
    ).when(
        name.rlike("^#[xX][0-9a-fA-F]{1,6}$"),
        F.conv(F.substring(name, 3, 7), 16, 10).cast("int"),
    )
    in_range = F.lit(False)
    for lo, hi in NUMERIC_RANGES:
        in_range = in_range | ((code >= lo) & (code <= hi))
    decoded = F.coalesce(named, F.when(in_range, F.char(code)))
    return F.coalesce(
        F.when((semi > 0) & decoded.isNotNull(), F.concat(decoded, rest)),
        _decode_unterminated(seg),
        F.concat(F.lit("&"), seg),
    )


def unescape_html_entities(col: Column) -> Column:
    """H1: unescape the declared HTML-entity subset (embed.py:31).

    ONE pass over the string regardless of table size: split on ``&``,
    then each segment does an O(1) map lookup — vs a replace-chain's
    O(|table|) scans per row. The ``contains('&')`` gate keeps
    entity-free rows (the overwhelming majority of a corpus) on a
    zero-copy fast path. All JVM-side (higher-order transform), no
    Python."""
    segs = F.split(col, "&", -1)
    head = F.get(segs, F.lit(0))
    tail = F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0)))
    out = F.concat(head, F.array_join(F.transform(tail, _decode_segment), ""))
    return F.when(col.contains("&"), out).otherwise(col)


def clean_text(col: Column) -> Column:
    """H1-H7: the full cleaning chain, order-faithful to embed.py:13-51.

    unescape → lower → strip URLs → strip tags → strip @/# tokens →
    charset whitelist → whitespace normalize + trim. Null input → null
    (the reference returns "" for non-str; callers coalesce where the
    distinction matters).
    """
    out = unescape_html_entities(col)
    out = F.lower(out)
    out = F.regexp_replace(out, r"http\S+|www\S+", "")  # H3 (embed.py:36-37)
    out = F.regexp_replace(out, r"<.*?>", "")  # H4 (embed.py:39-40)
    out = F.regexp_replace(out, r"[@#]\w+", "")  # H5 (embed.py:42-43)
    # H6 (embed.py:45-46), as POSITIVE-run extraction: deleting every
    # char outside whitelist W is identical to concatenating the
    # maximal [W]+ runs (each char is either kept in order or dropped;
    # greedy + makes runs maximal; nulls propagate through both forms).
    # Why not regexp_replace(out, '[^W]+', ''): Spark's RegExpReplace
    # hits a ~26x slow path for negated classes that mix ranges with
    # single chars — measured 2.9-3.7 ms/doc-core vs 0.11 ms for this
    # extraction, on the same corpus, same JVM, while pure
    # java.util.regex shows no such gap ([^a-z0-9]+ is fast, adding
    # ONE literal char makes it ~50x slower; this one class was 97% of
    # the whole cleaning chain's CPU). The DuckDB oracle keeps the
    # regexp_replace form (RE2 has no such cliff) — the two engines'
    # results are identical by the argument above and by the 226-query
    # oracle gate.
    out = F.array_join(
        F.regexp_extract_all(
            out, F.lit(r"""[a-z0-9\s.,!?;:'"-]+"""), 0
        ),
        "",
    )
    out = F.regexp_replace(out, r"\s+", " ")  # H7 (embed.py:48)
    return F.trim(out)


def token_count(col: Column) -> Column:
    """H14/B3 basis: whitespace token count, `len(text.split(' '))`
    semantics (embed.py:61) — split on single space post-normalization.
    Cast to long so the count type is stable across engines.
    """
    return F.size(F.split(col, " ")).cast("long")


#: Small fixed stopword list for the oracle-checkable tokenize subset
#: (H12 is spaCy-based dead code in the reference, rank.py:144-160; the
#: engine keeps the tokenize+stopword-removal core deterministic and
#: leaves lemmatization to the inference surface).
STOPWORDS: list[str] = [
    "a", "an", "the", "and", "or", "but", "if", "then", "is", "are",
    "was", "were", "be", "been", "of", "to", "in", "on", "at", "for",
    "with", "by", "from", "as", "it", "its", "this", "that", "not", "no",
]


def ws_tokens(col: Column) -> Column:
    """Non-empty whitespace tokens of the lowercased text."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def alnum_tokens(col: Column) -> Column:
    """Non-empty ``[a-z0-9]`` runs of the lowercased text, the oracles'
    ``list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), ...)``."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != "")


def tokenize(col: Column, stopwords: list[str] | None = None) -> Column:
    """H12 (deterministic subset): lowercase whitespace tokens minus
    stopwords and empties. Returns array<string>.
    """
    stops = stopwords if stopwords is not None else STOPWORDS
    toks = F.split(F.lower(col), r"\s+")
    return F.filter(toks, lambda t: (t != "") & ~t.isin(stops))


# ---------------------------------------------------------------------------
# H8-H9: budget parsing cascade (rank.py:57-129)
# ---------------------------------------------------------------------------

#: Money-token grammar shared by all budget patterns (rank.py:58-62):
#: digits with commas/dots, optional whitespace, optional k/kk suffix.
_MONEY = r"(\d[\d,.]*\s*(?:k|kk)?)"

#: The five-pattern cascade, first-match-wins (rank.py:84-129). Group
#: indexes are 1 (and 2 for the range's second bound).
BUDGET_PATTERNS: dict[str, str] = {
    "range": r"(?:between\s+)?\$?" + _MONEY + r"\s*(?:-+|~|to|and)\s*\$?" + _MONEY,
    "upper": r"(?:under|below|less than|at most|≤|&lt;=)\s*\$?" + _MONEY,
    "approx": r"(?:around|about|approx(?:imately)?|near|nearly)\s*\$?" + _MONEY,
    "num_budget": r"\$?" + _MONEY + r"\s*(?:budget|budgets?)",
    "budget_num": r"(?:budget|budgets?)\s*\$?" + _MONEY,
}

#: Strict money literal accepted by parse_money (rank.py:57,71-82).
_MONEY_STRICT = r"^(\d+(\.\d+)?)(k|kk|k\+)?$"


def parse_money(token: Column) -> Column:
    """H9: money-literal parse (rank.py:71-82).

    Strip commas, trim, match ``^(\\d+(\\.\\d+)?)(k|kk|k\\+)?$``; any k
    suffix multiplies by 1000 (`kk` is NOT 10^6 in the reference —
    rank.py:80-81 multiplies once). Invalid literal → NULL, which makes
    the enclosing cascade pattern fall through exactly like the
    reference's ``parse_money(...) is None`` checks.
    """
    cleaned = F.trim(F.replace(token, F.lit(","), F.lit("")))
    num = F.regexp_extract(cleaned, _MONEY_STRICT, 1)
    suffix = F.regexp_extract(cleaned, _MONEY_STRICT, 3)
    value = num.cast("double") * F.when(suffix != "", F.lit(1000.0)).otherwise(F.lit(1.0))
    return F.when(num != "", value)


def parse_budget(query: Column) -> Column:
    """H8: 5-pattern budget-anchor cascade (rank.py:84-129).

    Lowercase, then try range → upper-bound → approx → "N budget" →
    "budget N"; each candidate contributes only if its pattern matched
    AND its money literal(s) parse; range yields the midpoint. No match
    anywhere → NULL (reference returns None).
    """
    q = F.lower(query)

    def candidate(pattern: str, group: int = 1) -> Column:
        tok = F.regexp_extract(q, pattern, group)
        return F.when(tok != "", parse_money(tok))

    lo = candidate(BUDGET_PATTERNS["range"], 1)
    hi = candidate(BUDGET_PATTERNS["range"], 2)
    range_mid = F.when(lo.isNotNull() & hi.isNotNull(), (lo + hi) / 2.0)

    return F.coalesce(
        range_mid,
        candidate(BUDGET_PATTERNS["upper"]),
        candidate(BUDGET_PATTERNS["approx"]),
        candidate(BUDGET_PATTERNS["num_budget"]),
        candidate(BUDGET_PATTERNS["budget_num"]),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data curation surface; no reference analog)
# ---------------------------------------------------------------------------

#: Redaction patterns, applied IN ORDER (SSN before phone — the phone
#: pattern would otherwise consume SSN digit runs). All patterns are
#: lookaround/backref-free so they evaluate identically under Java regex
#: (Spark) and RE2 (DuckDB oracle).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("ssn", r"\d{3}-\d{2}-\d{4}", "[SSN]"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
]


def scrub_pii(col: Column) -> tuple[Column, Column]:
    """Redact emails / phone numbers / SSN-shaped tokens before a corpus
    ships to training: returns ``(scrubbed, n_redactions)``. Counts are
    taken per pattern against the text as that pattern sees it (i.e.
    after earlier redactions), matching the sequential replace chain.
    Pure Catalyst — regexp_replace/regexp_count, no Python.
    """
    scrubbed = col
    total = F.lit(0)
    for _name, pat, repl in PII_PATTERNS:
        total = total + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return scrubbed, total.cast("long")


# ---------------------------------------------------------------------------
# H10-H11: LLM-output extraction (summarize.py:13-25)
# ---------------------------------------------------------------------------


def extract_summary(raw: Column) -> Column:
    """H10+H11: strip outer quotes, take everything after the first
    ``ASSISTANT:`` label (dotall — the reference's greedy ``(.*)`` with
    re.S captures through later labels too), fall back to the whole
    string, then drop trailing ``</s>`` / ``[END]`` / ``[/ASSISTANT]``.
    """
    s = F.trim(raw)
    s = F.regexp_replace(s, r'^"+|"+$', "")  # strip('"') — all outer double quotes
    s = F.regexp_replace(s, r"^'+|'+$", "")  # then strip("'")
    labeled = F.regexp_extract(s, r"(?s)ASSISTANT:\s*(.*)$", 1)
    summary = F.when(s.rlike("ASSISTANT:"), F.trim(labeled)).otherwise(F.trim(s))
    summary = F.regexp_replace(summary, r"(</s>|\[END\]|\[/ASSISTANT\])\s*$", "")
    return F.trim(summary)
