"""Text-surface roster queries (SURVEY §2.A scans, §2.B filters, §2.H strings).

All run on the ``documents`` fixture (stands in for the reviews corpus,
FIXTURES.md) except the literal-fixture queries (budget strings, LLM raw
outputs) which build an inline DataFrame mirrored as a VALUES list in the
oracle — the reference's stdin query is a scalar parameter, not a table
(SURVEY §1.1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from review_engine_spark.functions.text import (
    clean_text,
    extract_summary,
    parse_budget,
    token_count,
    tokenize,
)
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import (
    sql_clean_text,
    sql_extract_summary,
    sql_parse_budget,
    sql_token_count,
    sql_tokenize,
)
from review_engine_spark.sources.io import read_parquet_table

# ---------------------------------------------------------------------------
# A1: projected+filtered scan. At 100 TB the point of this query is the
# plan, not the rows: ReadSchema must show only the 4 projected columns and
# PushedFilters must contain the n_chars predicate (asserted in tests).
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE n_chars > 200
    """
)
def q_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/B1: schema-pruned, predicate-pushed scan (embed.py:55-59 analog)."""
    return (
        read_parquet_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .filter(F.col("n_chars") > 200)
    )


@declared(
    oracle="""
    SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """
)
def q_scan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: embedding-table scan (semantic.py:26-31 analog)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.size("embedding").cast("long").alias("dim")
    )


@declared(
    oracle=f"""
    SELECT doc_id, {sql_clean_text('text')} AS clean
    FROM documents
    """
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1-H7: the full cleaning chain (embed.py:13-51)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.select("doc_id", clean_text(F.col("text")).alias("clean"))


@declared(
    oracle=f"""
    WITH cleaned AS (
        SELECT doc_id, {sql_clean_text('text')} AS clean FROM documents
    )
    SELECT doc_id, {sql_token_count('clean')} AS n_tokens
    FROM cleaned
    WHERE {sql_token_count('clean')} > 5
    """
)
def q_token_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3+H14: keep docs with > 5 space tokens AFTER cleaning (embed.py:61)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id", token_count(clean_text(F.col("text"))).alias("n_tokens")
    )
    return cleaned.filter(F.col("n_tokens") > 5)


@declared(
    oracle=f"""
    SELECT doc_id, array_to_string({sql_tokenize('text')}, ' ') AS tokens
    FROM documents WHERE doc_id % 5 = 0
    """
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12 (deterministic subset): whitespace tokens minus stopwords.

    The reference's spaCy lemma pipeline (rank.py:144-160) is dead code;
    the engine keeps tokenize+stopword-removal relational and leaves
    lemmatization to the inference surface.

    Output serializes the token array with a space separator (tokens are
    whitespace-split, so the separator cannot occur inside a token) —
    array columns are not hashable by the harness canonicalizer.
    """
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat_ws(" ", tokenize(F.col("text"))).alias("tokens")
    )


@declared()
def q_porter_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H13: Porter-stemmed token stream (rank.py:132-141 — dead code in
    the reference, implemented for §2 inventory completeness). Rows-only
    by design: no SQL-expressible oracle for the 1980 suffix-stripping
    algorithm; correctness is pinned by unit tests against the paper's
    published examples (tests/test_kernels.py).

    Scale shape: tokenize is pure Catalyst; the stem itself is the one
    Python hop, Arrow-batched over the already-filtered slice (the same
    placement discipline as the multimodal decoders — Python after the
    row cut, never before).
    """
    from review_engine_spark.functions.stemmer import stem_tokens_udf

    docs = read_parquet_table(spark, sf_dir, "documents")
    stem = stem_tokens_udf()
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat_ws(" ", stem(tokenize(F.col("text")))).alias("stemmed"),
    )


@declared(
    oracle=f"""
    WITH t AS (
        SELECT lang, source, n_chars, {sql_token_count('text')} AS n_tokens
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY lang
    """
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K text analysis: per-language corpus statistics.

    At scale this is a single hash-aggregate with map-side partials; the
    distinct-source count is the only sub-aggregate forcing an expand.
    """
    docs = read_parquet_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "source", "n_chars", token_count(F.col("text")).alias("n_tokens")
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@declared(
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({sql_tokenize('text')}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    s AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n AS DOUBLE) / idf.df), 6) AS tfidf
        FROM tf JOIN idf USING (term) CROSS JOIN n
    ),
    r AS (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS BIGINT) AS rn
        FROM s
    )
    SELECT doc_id, term, tfidf, rn FROM r WHERE rn <= 3
    """
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K text analysis: top-3 TF-IDF terms per document.

    Plan shape at scale: one (doc, term) hash agg for TF, one term hash agg
    for DF (both map-side combined), an equi-join on term (the term
    dictionary is small after aggregation — AQE broadcasts it), the corpus
    size as a 1-row broadcast, and a per-doc top-k window partitioned by
    doc_id (no global sort)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    idf = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= 3
    )


# ---------------------------------------------------------------------------
# Literal fixtures: budget strings + raw LLM outputs (FIXTURES.md
# "Non-table fixtures"). The same rows appear as VALUES in the oracle.
# ---------------------------------------------------------------------------

BUDGET_FIXTURE: list[tuple[int, str]] = [
    (1, "between 100 and 200 dollars"),
    (2, "washer 100-200"),
    (3, "dryer 100~250 please"),
    (4, "100 to 300 range"),
    (5, "under 1.5k"),
    (6, "below $2,000 total"),
    (7, "less than 750"),
    (8, "at most 1kk"),
    (9, "around $300"),
    (10, "about 450 bucks"),
    (11, "approximately 2k"),
    (12, "nearly 99.99"),
    (13, "$500 budget"),
    (14, "budget 800"),
    (15, "my budget is 1,200"),  # "budget" then number with comma
    (16, "a 3.5k budget"),
    (17, "no numbers here"),
    (18, "cheap fridge"),
    (19, "under 1.5 k"),  # inner space breaks parse_money → falls through
    (20, "100 and 200"),  # range without 'between'
    (21, "model x200 under 900"),
    (22, "between 100. and 200"),  # first bound fails strict parse
]

_BUDGET_VALUES = ",\n        ".join(
    "({}, '{}')".format(qid, s.replace("'", "''")) for qid, s in BUDGET_FIXTURE
)


@declared(
    oracle=f"""
    WITH qs(qid, query) AS (VALUES
        {_BUDGET_VALUES}
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           round({sql_parse_budget('query')}, 6) AS budget
    FROM qs
    """
)
def q_parse_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8+H9: the five-pattern budget cascade (rank.py:57-129)."""
    df = spark.createDataFrame(BUDGET_FIXTURE, "qid long, query string")
    return df.select("qid", F.round(parse_budget(F.col("query")), 6).alias("budget"))


SUMMARY_FIXTURE: list[tuple[int, str]] = [
    (1, 'USER: describe ASSISTANT: A sturdy washer for big families.'),
    (2, '"ASSISTANT: Compact dryer, quiet and efficient."'),
    (3, "'Plain blurb with no label at all'"),
    (4, "ASSISTANT: First part. ASSISTANT: Second part.</s>"),
    (5, "  ASSISTANT:   spaced   out   answer   [END]  "),
    (6, "answer only[/ASSISTANT]"),
    (7, '""double quoted""'),
    (8, "ASSISTANT:"),
]

_SUMMARY_VALUES = ",\n        ".join(
    "({}, '{}')".format(sid, s.replace("'", "''")) for sid, s in SUMMARY_FIXTURE
)


@declared(
    oracle=f"""
    WITH rs(sid, raw) AS (VALUES
        {_SUMMARY_VALUES}
    )
    SELECT CAST(sid AS BIGINT) AS sid, {sql_extract_summary('raw')} AS summary
    FROM rs
    """
)
def q_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H10+H11: LLM raw-output extraction (summarize.py:13-25)."""
    df = spark.createDataFrame(SUMMARY_FIXTURE, "sid long, raw string")
    return df.select("sid", extract_summary(F.col("raw")).alias("summary"))


# ---------------------------------------------------------------------------
# §2.K: exact dedup + content fingerprint on normalized text.
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT min(doc_id) AS doc_id, count(*) AS n_dups
    FROM (SELECT doc_id, trim(lower(text)) AS norm FROM documents)
    GROUP BY norm
    """
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K exact dedup: group by normalized text, keep lowest doc_id.

    Deterministic alternative to dropDuplicates (which keeps an arbitrary
    row). At 100 TB: single hash-shuffle on a 64-bit key — in practice
    group on ``xxhash64(norm)`` so the shuffle carries 8-byte keys, not
    document bodies (``q_incremental_dedup`` keys its join that way).
    """
    docs = read_parquet_table(spark, sf_dir, "documents")
    norm = docs.select("doc_id", F.trim(F.lower(F.col("text"))).alias("norm"))
    return norm.groupBy("norm").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups")
    ).select("doc_id", "n_dups")


@declared(
    oracle="""
    SELECT doc_id, md5(trim(lower(text))) AS fingerprint
    FROM documents
    """
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.K document fingerprinting (content-hash form; the rolling-hash
    winnowing variant is operators.textstats.winnow_fingerprints,
    rows-only)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.trim(F.lower(F.col("text")))).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# Round-3 text-quality addition: character-entropy scoring.
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    WITH docs AS (
        SELECT doc_id,
               substr(lower(regexp_replace(text, '[^ -~]', '', 'g')), 1, 512) AS s
        FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    chars AS (
        SELECT doc_id, unnest(string_split(s, '')) AS ch FROM docs
    ),
    freq AS (
        SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    ),
    tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id)
    SELECT f.doc_id, round(-sum((c / n) * ln(c / n)), 6) AS entropy
    FROM freq f JOIN tot t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id
    """
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (training-data curation: low
    entropy ⇒ repetitive/boilerplate text, high ⇒ noise/binary junk —
    the cheap stand-in for a compression-ratio filter).

    Computed over the first 512 chars so the explode is bounded at
    ≤512 rows/doc regardless of document length — at 100 TB the cost is
    one bounded narrow explode plus one shuffle on doc_id (the (doc_id,
    ch) partial counts collapse map-side; the per-doc total reuses the
    same partitioning via a window, no second exchange). Pure Catalyst:
    no Python in the loop.

    The signal is restricted to printable ASCII (stripped BEFORE
    lowercasing) so per-character semantics are engine-portable: JVM
    split("")/lower() operate on UTF-16 code units and locale case maps,
    DuckDB on code points — they agree only on ASCII, and entropy over
    printable ASCII is the same curation signal.
    """
    from pyspark.sql import Window

    docs = (
        read_parquet_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            F.substring(
                F.lower(F.regexp_replace("text", "[^ -~]", "")), 1, 512
            ).alias("s"),
        )
    )
    chars = docs.select(
        "doc_id", F.explode(F.split("s", "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("double").alias("c")
    )
    w = Window.partitionBy("doc_id")
    p = F.col("c") / F.col("n")
    return (
        freq.withColumn("n", F.sum("c").over(w))
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease + Flesch–Kincaid grade):
# classic curation signal built from three integer counts — words,
# sentence-terminator groups, vowel-group "syllables". The formula
# constants are identical decimal literals on both engines and the
# inputs are exact-int ratios, so the identical IEEE expression tree
# yields bit-identical raw doubles (NOTES round-4 derived-scalar rule).
# Scale: one narrow map over the corpus — no shuffle at all.
# ---------------------------------------------------------------------------
@declared(
    oracle=r"""
    WITH m AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents
        WHERE text IS NOT NULL
    ),
    r AS (
        SELECT *,
               CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
               CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
        FROM m WHERE n_words > 0
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           206.835 - 1.015 * wps - 84.6 * spw AS flesch,
           0.39 * wps + 11.8 * spw - 15.59 AS fk_grade
    FROM r
    """
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch–Kincaid grade per document from
    deterministic integer counts (whitespace words, [.!?]+ sentence
    groups with a floor of 1, [aeiouy]+ vowel-group syllables)."""
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long"),
        ).alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = (
        F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch"
        ),
        (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)).alias(
            "fk_grade"
        ),
    )
