"""Shared DuckDB-oracle SQL snippets.

Generates SQL fragments that mirror the Column kernels in
``review_engine_spark.functions`` token-for-token (same regexes, same
constants, same branch order), so the Spark side and the oracle side can
never drift independently. DuckDB regexes are RE2; every pattern used here
is verified lookaround/backref-free so it parses identically under Java
regex (Spark) and RE2 (oracle).
"""

from __future__ import annotations

from review_engine_spark.functions.text import (
    BUDGET_PATTERNS,
    ENTITY_ITEMS,
    LEGACY_ITEMS,
    NUMERIC_RANGES,
    STOPWORDS,
)

# --- H1-H7 clean_text chain (embed.py:13-51) -------------------------------


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def sql_unescape(expr: str) -> str:
    """Mirrors unescape_html_entities STRUCTURALLY: the same single-pass
    split-on-``&`` + map-lookup decode, over the same ENTITY_ITEMS table
    and NUMERIC_RANGES, so the two sides cannot drift independently.
    Single-element ``list_transform`` calls serve as let-bindings (DuckDB
    lambdas close over outer variables) so the segment, semicolon
    position, name, and decoded value are each computed once."""
    names = ", ".join(_sq(n) for n, _ in ENTITY_ITEMS)
    vals = ", ".join(_sq(r) for _, r in ENTITY_ITEMS)
    dec_code = "try_cast(substr(n, 2) AS INT)"
    hex_code = "try_cast('0x' || substr(n, 3) AS INT)"
    dec_ok = " OR ".join(f"{dec_code} BETWEEN {lo} AND {hi}" for lo, hi in NUMERIC_RANGES)
    hex_ok = " OR ".join(f"{hex_code} BETWEEN {lo} AND {hi}" for lo, hi in NUMERIC_RANGES)
    lookup = (
        f"COALESCE(map([{names}], [{vals}])[n][1], "
        f"CASE WHEN regexp_matches(n, '^#[0-9]{{1,7}}$') AND ({dec_ok}) "
        f"THEN chr({dec_code}) "
        f"WHEN regexp_matches(n, '^#[xX][0-9a-fA-F]{{1,6}}$') AND ({hex_ok}) "
        f"THEN chr({hex_code}) END)"
    )
    # Unterminated/legacy fallback (mirrors _decode_unterminated):
    # longest legacy-name prefix via a length-descending ordered
    # alternation (first-match-wins == longest under RE2 and Java
    # regex), else a leading in-range numeric ref without its ";".
    # NULL → verbatim.
    from review_engine_spark.functions.text import _LEGACY_ALT

    lnames = ", ".join(_sq(n) for n, _ in LEGACY_ITEMS)
    lvals = ", ".join(_sq(r) for _, r in LEGACY_ITEMS)
    legacy = (
        f"list_transform([regexp_extract(s, {_sq(_LEGACY_ALT)}, 1)], "
        f"r -> CASE WHEN r <> '' THEN "
        f"map([{lnames}], [{lvals}])[r][1] || substr(s, length(r) + 1) "
        "END)[1]"
    )
    u_dec = "regexp_extract(s, '^#([0-9]{1,7})', 1)"
    u_hex = "regexp_extract(s, '^#[xX]([0-9a-fA-F]{1,6})', 1)"
    u_code = (
        f"CASE WHEN {u_dec} <> '' THEN try_cast({u_dec} AS INT) "
        f"WHEN {u_hex} <> '' THEN try_cast('0x' || {u_hex} AS INT) END"
    )
    u_skip = (
        f"CASE WHEN {u_dec} <> '' THEN length({u_dec}) + 1 "
        f"ELSE length({u_hex}) + 2 END"
    )
    u_ok = " OR ".join(f"c BETWEEN {lo} AND {hi}" for lo, hi in NUMERIC_RANGES)
    unterm = (
        "CASE WHEN starts_with(s, '#') THEN "
        f"list_transform([{u_code}], c -> "
        f"CASE WHEN ({u_ok}) THEN chr(c) || substr(s, {u_skip} + 1) END)[1] "
        f"ELSE {legacy} END"
    )
    decode = (
        "list_transform([strpos(s, ';')], p -> COALESCE("
        "CASE WHEN p > 0 THEN "
        "list_transform([substr(s, 1, p - 1)], n -> "
        f"list_transform([{lookup}], d -> "
        "CASE WHEN d IS NULL THEN NULL "
        "ELSE d || substr(s, p + 1) END)[1])[1] END, "
        f"{unterm}, "
        "'&' || s))[1]"
    )
    return (
        f"CASE WHEN strpos({expr}, '&') = 0 THEN {expr} "
        f"ELSE string_split({expr}, '&')[1] || "
        f"array_to_string(list_transform(string_split({expr}, '&')[2:], "
        f"s -> {decode}), '') END"
    )


def sql_clean_text(expr: str) -> str:
    out = f"lower({sql_unescape(expr)})"
    out = rf"regexp_replace({out}, 'http\S+|www\S+', '', 'g')"
    out = rf"regexp_replace({out}, '<.*?>', '', 'g')"
    out = rf"regexp_replace({out}, '[@#]\w+', '', 'g')"
    out = rf"regexp_replace({out}, '[^a-z0-9\s.,!?;:''\"-]+', '', 'g')"
    out = rf"regexp_replace({out}, '\s+', ' ', 'g')"
    return f"trim({out})"


def sql_token_count(expr: str) -> str:
    """len(text.split(' ')) semantics (embed.py:61)."""
    return f"CAST(len(string_split({expr}, ' ')) AS BIGINT)"


def sql_tokenize(expr: str) -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return (
        rf"list_filter(string_split_regex(lower({expr}), '\s+'), "
        rf"t -> t <> '' AND NOT list_contains([{stops}], t))"
    )


# --- H8-H9 budget cascade (rank.py:57-129) ---------------------------------

_MONEY_STRICT = r"^(\d+(\.\d+)?)(k|kk|k\+)?$"


def sql_parse_money(token: str) -> str:
    cleaned = f"trim(replace({token}, ',', ''))"
    num = f"regexp_extract({cleaned}, '{_MONEY_STRICT}', 1)"
    suf = f"regexp_extract({cleaned}, '{_MONEY_STRICT}', 3)"
    return (
        f"CASE WHEN {num} <> '' THEN CAST({num} AS DOUBLE) * "
        f"(CASE WHEN {suf} <> '' THEN 1000.0 ELSE 1.0 END) END"
    )


def sql_parse_budget(expr: str) -> str:
    q = f"lower({expr})"

    def cand(pattern: str, group: int = 1) -> str:
        pat = pattern.replace("'", "''")
        tok = f"regexp_extract({q}, '{pat}', {group})"
        return f"(CASE WHEN {tok} <> '' THEN {sql_parse_money(tok)} END)"

    lo = cand(BUDGET_PATTERNS["range"], 1)
    hi = cand(BUDGET_PATTERNS["range"], 2)
    range_mid = (
        f"(CASE WHEN {lo} IS NOT NULL AND {hi} IS NOT NULL "
        f"THEN ({lo} + {hi}) / 2.0 END)"
    )
    return (
        "coalesce("
        + ", ".join(
            [
                range_mid,
                cand(BUDGET_PATTERNS["upper"]),
                cand(BUDGET_PATTERNS["approx"]),
                cand(BUDGET_PATTERNS["num_budget"]),
                cand(BUDGET_PATTERNS["budget_num"]),
            ]
        )
        + ")"
    )


# --- H10-H11 extract_summary (summarize.py:13-25) --------------------------


def sql_extract_summary(expr: str) -> str:
    s = f"trim({expr})"
    s = f"regexp_replace({s}, '^\"+|\"+$', '', 'g')"
    s = f"regexp_replace({s}, '^''+|''+$', '', 'g')"
    labeled = rf"trim(regexp_extract({s}, '(?s)ASSISTANT:\s*(.*)$', 1))"
    summary = (
        f"CASE WHEN regexp_matches({s}, 'ASSISTANT:') THEN {labeled} ELSE trim({s}) END"
    )
    summary = rf"regexp_replace({summary}, '(</s>|\[END\]|\[/ASSISTANT\])\s*$', '')"
    return f"trim({summary})"


# --- H15 min-max normalize (rank.py:44-54) ---------------------------------


def sql_minmax(x: str, low: str, high: str) -> str:
    return (
        f"CASE WHEN abs({high} - {low}) <= 1e-8 + 1e-5 * abs({low}) THEN 0.5 "
        f"ELSE (least(greatest({x}, {low}), {high}) - {low}) / ({high} - {low} + 1e-9) END"
    )


# --- H16 price fit (rank.py:163-179) ---------------------------------------


def sql_price_fit(price: str, anchor: str, sd: str) -> str:
    sigma_base = (
        f"(CASE WHEN {sd} IS NOT NULL AND {sd} > 0 "
        f"THEN greatest(0.3 * {anchor}, 0.5 * {sd}) ELSE 0.3 * {anchor} END)"
    )
    sigma = f"(CASE WHEN {price} > {anchor} THEN 0.6 ELSE 1.2 END) * {sigma_base}"
    gauss = f"exp(-pow({price} - {anchor}, 2) / (2 * pow({sigma}, 2)))"
    return (
        f"CASE WHEN {anchor} IS NULL OR {anchor} <= 0 THEN 0.5 "
        f"WHEN {price} IS NULL OR {price} <= 0 THEN 0.2 "
        f"ELSE {gauss} END"
    )


# --- H17-H18 bayes + popularity (rank.py:182-192, 248) ---------------------


def sql_bayes_scaled(rating: str, count: str) -> str:
    r = f"coalesce({rating}, 4.3)"
    n = f"CAST(coalesce({count}, 0) AS DOUBLE)"
    return f"((4.3 * 100.0 + {r} * {n}) / (100.0 + {n})) / 5.0"


def sql_log_popularity(count: str) -> str:
    return (
        f"CASE WHEN {count} IS NOT NULL AND {count} >= 0 "
        f"THEN ln(1.0 + CAST({count} AS DOUBLE)) ELSE 0.0 END"
    )


# --- H21-H23 vector kernels ------------------------------------------------


def sql_unit_vector(vec: str) -> str:
    """l2_normalize: v / (||v|| + 1e-9), elementwise round 6."""
    nrm = f"sqrt(list_sum(list_transform({vec}, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))"
    return f"list_transform({vec}, x -> round(CAST(x AS DOUBLE) / ({nrm} + 1e-9), 6))"


# --- PII scrub (training-data curation) ------------------------------------


def sql_scrub_pii(table: str, id_col: str, text_col: str) -> str:
    """CTE-free nested mirror of functions.text.scrub_pii: per stage,
    count pattern hits on the incoming text, then replace — identical
    sequential semantics to the Spark chain."""
    from review_engine_spark.functions.text import PII_PATTERNS

    sel = f"SELECT {id_col}, {text_col} AS t, 0 AS c FROM {table}"
    for _name, pat, repl in PII_PATTERNS:
        sel = (
            f"SELECT {id_col}, regexp_replace(t, '{pat}', '{repl}', 'g') AS t, "
            f"c + len(regexp_extract_all(t, '{pat}')) AS c FROM ({sel})"
        )
    return (
        f"SELECT {id_col}, t AS scrubbed, CAST(c AS BIGINT) AS n_redactions "
        f"FROM ({sel})"
    )


# --- md5 MinHash (operators.dedup.md5_minhash_signatures) ------------------

#: ``functions.text.alnum_tokens(text)``.
ALNUM_TOKS_SQL = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

#: Word 3-shingles of the ``toks`` list.
SHINGLES_SQL = (
    "list_transform(range(0, len(toks) - 2), "
    "i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])"
)


def sql_minhash_sigs(n_seeds: int) -> str:
    """``sig0`` .. ``sig{n_seeds - 1}`` select items over the ``sh``
    shingle list: per seed s, the min of md5('s|' || shingle)."""
    return ",\n               ".join(
        f"list_min(list_transform(sh, x -> md5('{s}|' || x))) AS sig{s}"
        for s in range(n_seeds)
    )


# --- synthetic Python DataSource (sources.python_datasource) ---------------

#: The LCG rows the synthetic source generates: q_python_datasource reads
#: them as a batch, q_python_stream_source drains them as a stream.
SYNTHETIC_SOURCE_ORACLE = """
    SELECT g AS row_id,
           CAST(g // 250 AS INT) AS part,
           round((((g % 2147483648) * 1103515245 + 12345) % 2147483648)
                 / 2147483648.0, 6) AS val
    FROM (SELECT unnest(generate_series(0, 999)) AS g)
    """
