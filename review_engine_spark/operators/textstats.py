"""Text-analysis operators (SURVEY §2.K: language-ID, quality scoring,
token counting, fingerprinting). All pure Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from review_engine_spark.functions.text import STOPWORDS, ws_tokens

__all__ = [
    "lang_scores",
    "lang_id",
    "quality_score",
    "bpe_ish_token_count",
    "winnow_fingerprints",
    "repetition_stats",
    "LANG_MARKERS",
]

#: Tiny per-language marker lexicons for the n-gram/stopword heuristic.
#: Deterministic and dialect-portable; real language ID would plug a model
#: into the inference surface instead.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "with", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "es": ["el", "la", "los", "las", "es", "y", "en", "que", "por", "una"],
    "fr": ["le", "la", "les", "est", "et", "en", "que", "pour", "dans", "une"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "人", "这"],
}


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    # NB: the lambda must be unary — F.filter treats a second lambda
    # parameter as the element INDEX, so a `m=markers` default would be
    # silently replaced by an int column.
    return F.size(F.filter(toks, lambda t: t.isin(markers)))


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-hit count per language."""
    toks = ws_tokens(col)
    return {
        lang: _marker_hits(toks, markers) for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language by marker hits; ties resolve in LANG_MARKERS order;
    zero hits everywhere → 'und' (undetermined)."""
    scores = lang_scores(col)
    langs = list(scores)
    # first-wins CASE chain: lang L wins if its score > 0, >= every
    # later-priority language, and > every earlier-priority language
    expr = F.lit("und")
    for lang in reversed(langs):
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                ge = scores[lang] >= scores[other] if langs.index(lang) < langs.index(other) else scores[lang] > scores[other]
                cond = cond & ge
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column, n_chars: Column | None = None) -> Column:
    """Heuristic document-quality score in [0, 1]:
    length term (log tokens) + penalties for stopword saturation and
    punctuation density — the length/punct/stopword-ratio family the
    north star asks for. Deterministic, SQL-mirrorable.
    """
    toks = ws_tokens(text)
    n_tok = F.size(toks).cast("double")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("double")
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    length = (
        F.length(text)
        if n_chars is None
        else F.coalesce(n_chars, F.length(text))
    ).cast("double")
    punct = (length - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))).cast("double")
    punct_ratio = F.when(length > 0, punct / length).otherwise(F.lit(0.0))
    raw = (
        F.lit(0.2)
        + F.lit(0.1) * F.log1p(n_tok)
        - F.lit(0.5) * stop_ratio
        - F.lit(0.8) * punct_ratio
    )
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), raw))


def bpe_ish_token_count(col: Column) -> Column:
    """Approximate subword token count without a tokenizer model: count
    word pieces produced by a BPE-ish regex (letter runs, digit runs,
    single punctuation marks), plus a 1.3× inflation for long words —
    the standard cheap estimator for LLM budget accounting."""
    pieces = F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]"))
    long_words = F.regexp_count(col, F.lit(r"[A-Za-z]{8,}"))
    return (pieces + long_words).cast("long")


def repetition_stats(df, text_col: str, id_col: str):
    """Gopher-style repetition filters for pretraining-corpus curation:
    per document, the duplicate-token fraction (1 − distinct/total) and
    the most-frequent-token fraction — the two cheapest signals that a
    page is boilerplate, keyword stuffing, or a scraped table. Returns
    ``(id, n_tokens, dup_token_frac, top_token_frac)``, one row per
    document with ≥1 token.

    Scale shape: explode → two-level hash aggregate. The first groupBy
    keys on (doc_id, token) so partial aggregation collapses each
    document's repeats map-side — the shuffle carries one row per
    distinct (doc, token), not per token occurrence. The narrow
    alternative (array_distinct + a frequency HOF) avoids the shuffle
    but is O(tokens × distinct) per row — quadratic on exactly the
    repetitive documents this filter exists to catch.
    """
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("tok")
    )
    cnt = toks.groupBy(id_col, "tok").agg(F.count("*").alias("c"))
    return (
        cnt.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_tokens").cast("double"), 6
            ).alias("dup_token_frac"),
            F.round(F.col("top_c") / F.col("n_tokens").cast("double"), 6).alias(
                "top_token_frac"
            ),
        )
    )


def winnow_fingerprints(
    df, text_col: str, id_col: str, k: int = 5, window: int = 4
):
    """Winnowing fingerprints (rolling-hash document fingerprinting):
    hash every k-token shingle, keep the min hash of each sliding window of
    ``window`` consecutive shingle hashes, distinct per document.

    Returns ``(id, fingerprints: array<bigint>)``, one row per input row
    (documents too short for one full window get an empty array).

    ZERO-shuffle narrow form: tokens, then the shingle-hash array, are
    each MATERIALIZED as columns before the next stage slices them —
    every per-element lambda slices a materialized column (linear), never
    re-evaluates an upstream pipeline (the O(n²) trap this operator's
    earlier exploded-window form was built to avoid; that form cost a
    partition-by-id shuffle + sort per document instead, which at corpus
    scale was the whole job). Cost: O(tokens·k) hashing + O(shingles·w)
    window mins per document, one codegen stage, partitioning inherited
    from the scan.
    """
    from review_engine_spark.operators.dedup import normalize_text

    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_sh = F.size("_toks") - (k - 1)
    sh_idx = F.when(n_sh >= 1, F.sequence(F.lit(0), n_sh - 1)).otherwise(
        F.array().cast("array<int>")
    )
    hashed = staged.select(
        F.col(id_col),
        F.transform(
            sh_idx,
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i + 1, k))),
        ).alias("_hashes"),
    )
    n_win = F.size("_hashes") - (window - 1)
    win_idx = F.when(n_win >= 1, F.sequence(F.lit(0), n_win - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return hashed.select(
        F.col(id_col),
        F.array_sort(
            F.array_distinct(
                F.transform(
                    win_idx,
                    lambda j: F.array_min(F.slice("_hashes", j + 1, window)),
                )
            )
        ).alias("fingerprints"),
    )
