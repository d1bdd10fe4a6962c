"""Ranked-retrieval & sketch-verification roster (SURVEY §2.K stretch).

Retrieval ops a training-data/RAG pipeline runs against the document
corpus, each oracle-checked:

- ``q_bm25``: BM25 ranked retrieval for a fixed query-term set — the
  lexical-retrieval baseline every RAG evaluation needs (reference
  rag.py scores candidates by embedding cosine only; BM25 is the
  standard hybrid partner).
- ``q_inverted_index``: postings-list build (term → sorted doc ids), the
  index structure behind lexical retrieval.
- ``q_minhash_jaccard``: an ORACLE-CHECKED MinHash estimator — the
  production near-dup path (operators.dedup.minhash_dedup) uses
  xxhash64, which DuckDB lacks, so its banding pipeline is rows-only;
  this variant computes the same signature algebra with md5 (identical
  in both engines), making the min-over-hashed-shingles machinery
  driver-verifiable end to end.

All tokenization is ``lower → split [^a-z0-9]+ → drop empties`` on both
sides (JVM and RE2 agree on this pattern; see plans/_oracle.py doctrine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.text import alnum_tokens, ws_tokens
from review_engine_spark.operators.dedup import md5_minhash_signatures
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import (
    ALNUM_TOKS_SQL,
    SHINGLES_SQL,
    sql_minhash_sigs,
)
from review_engine_spark.sources.io import read_parquet_table

#: Fixed retrieval query (terms present in the fixture vocabulary).
BM25_QUERY_TERMS: list[str] = ["join", "vector", "stream"]
BM25_K1 = 1.2
BM25_B = 0.75

#: MinHash-oracle parameters: 8 independent hash functions (md5 with a
#: seed prefix), word 3-shingles, doc set capped for the all-pairs join.
MINHASH_SEEDS = list(range(8))
MINHASH_CAP = 32

_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


@declared(
    oracle=f"""
    WITH d AS (
        SELECT doc_id, {ALNUM_TOKS_SQL} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d WHERE len(toks) > 0),
    stats AS (SELECT avg(dl) AS adl, count(*) AS n FROM dl),
    tf AS (
        SELECT doc_id, t AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        WHERE t IN ({_TERMS_SQL})
        GROUP BY doc_id, t
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           round(sum(
               ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.adl))
           ), 6) AS bm25
    FROM tf
    JOIN df ON tf.term = df.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 20
    """
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query — Okapi scoring with the
    standard k1=1.2, b=0.75 and the +1-smoothed idf (always positive).

    Plan shape at scale: one (doc, term) hash agg for tf restricted to
    the |query| terms (the IN filter collapses the explode BEFORE the
    shuffle), a |query|-row df aggregate and a 1-row (N, avgdl)
    aggregate both broadcast back (D7), and top-20 via orderBy+limit
    (TakeOrderedAndProject) — the corpus shuffles only (doc_id, term,
    tf) rows for matching terms, never the token stream."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", alnum_tokens(F.col("text")).alias("toks"))
    dl = d.filter(F.size("toks") > 0).select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    )
    stats = dl.agg(
        F.avg("dl").alias("adl"), F.count("*").cast("long").alias("n")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    tfn = (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("adl"))
        )
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tfn), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@declared(
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({ALNUM_TOKS_SQL}) AS term FROM documents
    ),
    posting AS (SELECT DISTINCT term, doc_id FROM toks)
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string((list(CAST(doc_id AS VARCHAR) ORDER BY doc_id))[1:1000], ',')
               AS postings
    FROM posting
    GROUP BY term
    HAVING count(*) >= 5
    """
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency + sorted postings
    (serialized as a comma string — the driver canonicalizer rejects
    array cells). Postings capped at 1000 ids per term on BOTH sides:
    at corpus scale stop-word postings are unbounded, and a capped (or
    df-thresholded) list is what a real index shard stores per segment.

    Plan shape: explode → per-(term, doc) distinct (map-side combined)
    → one term-keyed agg; the vocabulary (≪ corpus, Heaps' law) is the
    only thing shuffled twice."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    posting = (
        docs.select("doc_id", F.explode(alnum_tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    return (
        posting.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.array_join(
                F.slice(
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda c: c.cast("string"),
                    ),
                    1,
                    1000,
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


_MATCH_SQL = " + ".join(
    f"CASE WHEN a.sig{s} = b.sig{s} THEN 1 ELSE 0 END" for s in MINHASH_SEEDS
)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {ALNUM_TOKS_SQL} AS toks FROM documents
        WHERE doc_id < {MINHASH_CAP}
    ),
    sh AS (
        SELECT doc_id, {SHINGLES_SQL} AS sh
        FROM t WHERE len(toks) >= 3
    ),
    sig AS (
        SELECT doc_id,
               {sql_minhash_sigs(len(MINHASH_SEEDS))}
        FROM sh
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(({_MATCH_SQL}) / {len(MINHASH_SEEDS)}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    """
)
def q_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimates over all pairs of a capped doc set,
    oracle-checked: md5 (bit-identical in Spark and DuckDB) replaces the
    production path's xxhash64 so the ENTIRE signature algebra —
    shingling, per-seed min-hash, component-match estimation — is
    verified against SQL, not just row counts. The production near-dup
    operator (operators/dedup.py minhash path) shares this structure
    with banding instead of all-pairs; the cap ({MINHASH_CAP} docs)
    bounds the quadratic join exactly like q_near_dup_embedding's
    declared cap, with LSH banding as the scale route."""
    docs = read_parquet_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MINHASH_CAP
    )
    sig = md5_minhash_signatures(docs, len(MINHASH_SEEDS))
    a = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"sig{s}").alias(f"a{s}") for s in MINHASH_SEEDS]
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"sig{s}").alias(f"b{s}") for s in MINHASH_SEEDS]
    )
    matches = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in MINHASH_SEEDS
    )
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / float(len(MINHASH_SEEDS)), 6).alias("est_jaccard"),
        )
    )


#: SimHash-oracle parameters: 60 bits (a 15-hex-digit md5 prefix fits a
#: SIGNED 64-bit integer in both engines; 64 bits would overflow DuckDB's
#: BIGINT cast), capped doc set for bounded output.
SIMHASH_BITS = 60
SIMHASH_CAP = 64

_H_SQL = "try_cast('0x' || substr(md5(tok), 1, 15) AS BIGINT)"
_VOTES_SQL = ",\n               ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SIG_SQL = " + ".join(
    f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_BITS)
)


@declared(
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({ALNUM_TOKS_SQL}) AS tok FROM documents
        WHERE doc_id < {SIMHASH_CAP}
    ),
    h AS (SELECT doc_id, {_H_SQL} AS h FROM toks),
    votes AS (
        SELECT doc_id,
               {_VOTES_SQL}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, {_SIG_SQL} AS sig FROM votes
    """
)
def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures oracle-checked through an md5 twin. It checks
    the bit-vote algebra (each set bit of a token hash votes +1, each
    clear bit -1; a signature bit is 1 iff its vote sum is positive)
    and the signature assembly, written relationally — explode → one
    hash aggregate with per-bit conditional sums → assembly — over a
    60-bit md5-derived token hash so DuckDB can reproduce it
    bit-for-bit. The production path (operators/dedup.py
    ``simhash_signatures_batch``, run by ``simhash_near_dups``) hashes
    tokens with pandas' siphash and sums the votes in numpy; that hash
    is not oracle-checked, which is why q_simhash_dedup is rows-only.
    Ties (vote sum 0) resolve to bit 0 on both sides. The shuffle
    carries SIMHASH_BITS ints per doc regardless of document length —
    map-side combine does the token-stream reduction."""
    docs = (
        read_parquet_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < SIMHASH_CAP)
        .select("doc_id", F.explode(alnum_tokens(F.col("text"))).alias("tok"))
    )
    h = docs.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("sig"))


#: Winnowing-oracle parameters (mirror operators/textstats.py defaults):
#: k-token shingles, min-hash per sliding window of w shingle hashes.
WINNOW_K = 5
WINNOW_W = 4
WINNOW_CAP = 48


@declared(
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {ALNUM_TOKS_SQL} AS toks FROM documents
        WHERE doc_id < {WINNOW_CAP}
    ),
    h AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {WINNOW_K}
                    THEN list_transform(range(0, len(toks) - {WINNOW_K - 1}),
                         i -> md5(array_to_string(toks[i + 1 : i + {WINNOW_K}], ' ')))
                    ELSE [] END AS hashes
        FROM t
    ),
    w AS (
        SELECT doc_id,
               CASE WHEN len(hashes) >= {WINNOW_W}
                    THEN list_transform(range(0, len(hashes) - {WINNOW_W - 1}),
                         j -> list_min(hashes[j + 1 : j + {WINNOW_W}]))
                    ELSE [] END AS mins
        FROM h
    )
    SELECT DISTINCT doc_id, unnest(mins) AS fp FROM w
    """
)
def q_winnow_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints oracle-checked: k-token shingle hashes,
    min per sliding window of w hashes, distinct per doc — with md5 hex
    strings (lexicographic min) standing in for the production path's
    xxhash64 so DuckDB reproduces the fingerprint set exactly
    (operators/textstats.py winnow_fingerprints is the scale operator).

    Row-windowed form: posexplode tokens → shingle via lead() → window
    min over w ROWS — ONE doc_id-partitioned shuffle, then everything is
    linear per partition. (The production operator's array-transform
    form is zero-shuffle but its slice lambdas must never be collapsed
    into re-evaluating the token split per element — with md5-on-string
    costs that collapse is catastrophic, measured 260 s for 48 docs, so
    this twin deliberately uses the shuffle form.)"""
    w_tok = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        read_parquet_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < WINNOW_CAP)
        .select(
            "doc_id",
            F.posexplode(alnum_tokens(F.col("text"))).alias("pos", "tok"),
        )
    )
    shingle = F.concat_ws(
        " ", *[F.lead("tok", i).over(w_tok) for i in range(WINNOW_K)]
    )
    hashes = toks.select(
        "doc_id",
        "pos",
        F.when(
            F.lead("tok", WINNOW_K - 1).over(w_tok).isNotNull(), F.md5(shingle)
        ).alias("h"),
    ).filter(F.col("h").isNotNull())
    win_min = F.min("h").over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    )
    mins = hashes.select(
        "doc_id",
        F.when(
            F.lead("h", WINNOW_W - 1).over(w_tok).isNotNull(), win_min
        ).alias("fp"),
    ).filter(F.col("fp").isNotNull())
    return mins.distinct()


#: Hamming-pair parameters: pigeonhole banding with max_hamming+1 blocks
#: over the 60-bit md5 simhash; block widths cover ALL 60 bits (uneven
#: base/base+1 split, as the production operator does) so the pigeonhole
#: guarantee holds: hamming ≤ max ⇒ at least one block exactly equal.
#: max_hamming=10 because the synthetic corpus's closest signature pair
#: sits at hamming 6 — a threshold of 3 would green-light an empty
#: result, which verifies nothing.
HAMMING_MAX = 10
_N_BLOCKS = HAMMING_MAX + 1
_BASE, _REM = divmod(SIMHASH_BITS, _N_BLOCKS)
_WIDTHS = [_BASE + 1 if b < _REM else _BASE for b in range(_N_BLOCKS)]
_OFFSETS = [sum(_WIDTHS[:b]) for b in range(_N_BLOCKS)]


@declared(
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({ALNUM_TOKS_SQL}) AS tok FROM documents
        WHERE doc_id < {SIMHASH_CAP}
    ),
    h AS (SELECT doc_id, {_H_SQL} AS h FROM toks),
    votes AS (
        SELECT doc_id,
               {_VOTES_SQL}
        FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_SIG_SQL} AS sig FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {HAMMING_MAX}
    """
)
def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the PRODUCTION candidate strategy,
    oracle-proven: the Spark side bands each 60-bit signature into
    max_hamming+1 blocks covering all bits (uneven widths, exactly the
    pigeonhole route operators/dedup.py simhash_near_dups takes — its
    candidate shuffle carries small block keys instead of an all-pairs
    product), then verifies exact hamming. The oracle computes the SAME
    pair set the naive all-pairs way (bit_count(xor) over the capped doc
    set), so a green row proves the banding loses no pair the pigeonhole
    principle promises (and the exact-verify admits no false
    positive)."""
    sigs = q_simhash_md5(spark, sf_dir)
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright(F.col("sig"), _OFFSETS[b])
                .bitwiseAND(F.lit((1 << _WIDTHS[b]) - 1))
                .alias("blk_val"),
            )
            for b in range(_N_BLOCKS)
        ]
    )
    banded = sigs.select(
        "doc_id", "sig", F.explode(blocks).alias("bb")
    ).select(
        "doc_id", "sig", F.col("bb.blk").alias("blk"), F.col("bb.blk_val").alias("blk_val")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "blk", "blk_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "blk", "blk_val"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership — the classic pre-join pruning sketch, its bit
# algebra oracle-proven end to end. Per source, a 64-word × 62-bit bloom
# (3968 positions, 2 md5-derived probes per document fingerprint) is
# built with bit_or aggregates; a probe set of 20 present + 20 absent
# fingerprints is then tested against every source's filter, reported
# next to exact membership so false positives are visible in the result.
#
# Determinism: md5 is bit-identical across engines; positions use a
# 60-bit (15 hex digit) prefix so the BIGINT is always positive and `%`
# agrees; 62 bits per word keeps every shift below the sign bit. Scale:
# the per-source filter is ≤ 64 rows × |sources| after aggregation —
# a broadcast by construction (this is exactly how a bloom prunes a
# 100 TB join: build tiny, ship everywhere, probe map-side).
# ---------------------------------------------------------------------------

BLOOM_WORDS = 64
BLOOM_BITS_PER_WORD = 62
BLOOM_M = BLOOM_WORDS * BLOOM_BITS_PER_WORD
BLOOM_PROBES = 20


def _bloom_pos_sql(j: int, fp: str) -> str:
    return (
        f"try_cast('0x' || substr(md5('{j}|' || {fp}), 1, 15) AS BIGINT)"
        f" % {BLOOM_M}"
    )


def _bloom_pos_col(j: int, fp) -> "F.Column":
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}|"), fp)), 1, 15), 16, 10)
        .cast("long") % BLOOM_M
    )


@declared(
    oracle=f"""
    WITH fps AS (
        SELECT source, md5(text) AS fp FROM documents
    ),
    build AS (
        SELECT source, fp, pos // {BLOOM_BITS_PER_WORD} AS word,
               CAST(1 AS BIGINT) << (pos % {BLOOM_BITS_PER_WORD}) AS mask
        FROM (
            SELECT source, fp, {_bloom_pos_sql(0, 'fp')} AS pos FROM fps
            UNION ALL
            SELECT source, fp, {_bloom_pos_sql(1, 'fp')} AS pos FROM fps
        )
    ),
    bloom AS (
        SELECT source, word, CAST(bit_or(mask) AS BIGINT) AS bits
        FROM build GROUP BY source, word
    ),
    probes AS (
        SELECT doc_id AS probe_id, md5(text) AS fp
        FROM documents WHERE doc_id < {BLOOM_PROBES}
        UNION ALL
        SELECT {BLOOM_PROBES * 1000} + i AS probe_id,
               md5('missing|' || CAST(i AS VARCHAR)) AS fp
        FROM range({BLOOM_PROBES}) t(i)
    ),
    probe_bits AS (
        SELECT p.probe_id, p.fp, s.source,
               pp.pos // {BLOOM_BITS_PER_WORD} AS word,
               CAST(1 AS BIGINT) << (pp.pos % {BLOOM_BITS_PER_WORD}) AS mask
        FROM probes p
        CROSS JOIN (SELECT DISTINCT source FROM documents) s
        CROSS JOIN LATERAL (
            SELECT {_bloom_pos_sql(0, 'p.fp')} AS pos
            UNION ALL
            SELECT {_bloom_pos_sql(1, 'p.fp')} AS pos
        ) pp
    ),
    hits AS (
        SELECT pb.probe_id, pb.fp, pb.source,
               bool_and(b.bits IS NOT NULL
                        AND (b.bits & pb.mask) <> 0) AS bloom_hit
        FROM probe_bits pb
        LEFT JOIN bloom b ON b.source = pb.source AND b.word = pb.word
        GROUP BY pb.probe_id, pb.fp, pb.source
    )
    SELECT h.probe_id, h.source, h.bloom_hit,
           EXISTS (
               SELECT 1 FROM fps f
               WHERE f.source = h.source AND f.fp = h.fp
           ) AS actual_in
    FROM hits h
    """
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch per source: md5 fingerprints folded
    into 62-bit words, probe hit rates reported.
    """
    docs = read_parquet_table(spark, sf_dir, "documents")
    fps = docs.select("source", F.md5("text").alias("fp"))

    def positions(df, fp_col):
        return df.select(
            "*",
            F.explode(
                F.array(
                    _bloom_pos_col(0, F.col(fp_col)),
                    _bloom_pos_col(1, F.col(fp_col)),
                )
            ).alias("pos"),
        ).select(
            "*",
            (F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pos % {BLOOM_BITS_PER_WORD} AS INT))"
            ).alias("mask"),
        )

    bloom = (
        positions(fps, "fp")
        .groupBy("source", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    present = docs.filter(F.col("doc_id") < BLOOM_PROBES).select(
        F.col("doc_id").alias("probe_id"), F.md5("text").alias("fp")
    )
    absent = spark.range(BLOOM_PROBES).select(
        (F.lit(BLOOM_PROBES * 1000) + F.col("id")).alias("probe_id"),
        F.md5(F.concat(F.lit("missing|"), F.col("id").cast("string"))).alias(
            "fp"
        ),
    )
    probes = present.unionByName(absent)
    sources = docs.select("source").distinct()
    probe_bits = positions(probes.crossJoin(F.broadcast(sources)), "fp")
    hits = (
        probe_bits.join(
            F.broadcast(bloom).withColumnRenamed("source", "b_source"),
            (F.col("b_source") == F.col("source"))
            & (bloom["word"] == probe_bits["word"]),
            "left",
        )
        .groupBy("probe_id", "fp", "source")
        .agg(
            F.bool_and(
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) != 0)
            ).alias("bloom_hit")
        )
    )
    actual = fps.distinct().select(
        F.col("source").alias("a_source"), F.col("fp").alias("a_fp"),
        F.lit(True).alias("actual_in"),
    )
    return (
        hits.join(
            actual,
            (F.col("a_source") == F.col("source"))
            & (F.col("a_fp") == F.col("fp")),
            "left",
        )
        .select(
            "probe_id", "source",
            "bloom_hit",
            F.coalesce("actual_in", F.lit(False)).alias("actual_in"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable approximate frequency table: D=4 hash
# rows x W=512 buckets of BIGINT occurrence sums, estimate = min over
# rows of the probed bucket. Like q_bloom_membership this is the
# md5-twin form proving the sketch ALGEBRA (per-(row,bucket) integer
# sums are partial-aggregable and union-mergeable across shards, the
# 100 TB heavy-hitter shape); estimates are one-sided (est >= actual,
# pinned in tests) with overestimation bounded by collisions.
# ---------------------------------------------------------------------------
#: dialect-portable whitespace tokenization (same expression as the
#: curation roster's _TOKS)
_TOKS_RETR = (
    r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"
)

CM_D = 4
CM_W = 512
CM_TOP = 10
CM_ABSENT = 5


def _cm_bucket_sql(r: int, tok: str) -> str:
    return (
        f"try_cast('0x' || substr(md5('{r}|' || {tok}), 1, 15) AS BIGINT)"
        f" % {CM_W}"
    )


def _cm_bucket_col(r: int, tok) -> "F.Column":
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{r}|"), tok)), 1, 15), 16, 10)
        .cast("long") % CM_W
    )


_CM_BUILD_UNION = "\n        UNION ALL\n".join(
    f"        SELECT {r} AS row, {_cm_bucket_sql(r, 'token')} AS bucket, n"
    f" FROM vocab" for r in range(CM_D)
)
_CM_PROBE_UNION = "\n        UNION ALL\n".join(
    f"        SELECT token, actual, {r} AS row,"
    f" {_cm_bucket_sql(r, 'token')} AS bucket FROM probes" for r in range(CM_D)
)


@declared(
    oracle=f"""
    WITH t AS (
        SELECT unnest({_TOKS_RETR}) AS token FROM documents
    ),
    vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY token
    ),
    build AS (
{_CM_BUILD_UNION}
    ),
    cm AS (
        SELECT row, bucket, CAST(sum(n) AS BIGINT) AS cmv
        FROM build GROUP BY row, bucket
    ),
    probes AS (
        SELECT token, n AS actual FROM (
            SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token) AS rk
            FROM vocab
        ) WHERE rk <= {CM_TOP}
        UNION ALL
        SELECT 'absent|' || CAST(i AS VARCHAR) AS token,
               CAST(0 AS BIGINT) AS actual
        FROM generate_series(0, {CM_ABSENT - 1}) s(i)
    ),
    probe_rows AS (
{_CM_PROBE_UNION}
    )
    SELECT p.token, p.actual,
           CAST(min(coalesce(c.cmv, 0)) AS BIGINT) AS est,
           CASE WHEN min(coalesce(c.cmv, 0)) >= p.actual
                THEN 1 ELSE 0 END AS conservative
    FROM probe_rows p
    LEFT JOIN cm c ON c.row = p.row AND c.bucket = p.bucket
    GROUP BY p.token, p.actual
    """
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream: d x w counter grid from md5
    row hashes, estimates vs true counts for the vocabulary head.
    """
    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            ws_tokens(F.col("text"))
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("n"))
    # NOT checkpointed: the vocabulary's two consumers (sketch build,
    # top-k probe pick) share the tokenize+count exchange via runtime
    # reuse, and the A/B at BOTH scales put the explicit materialization
    # slightly behind (fixture 0.74 vs 0.79 s, 100× 1.48 vs 1.55 s).

    def _rows_of(frame, cols):
        # all CM_D sketch rows from ONE pass over `frame` (the round-13
        # both-directions explode pattern: a per-row UNION re-planned
        # the upstream subtree once per branch)
        rb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_bucket_col(r, F.col("token")).alias("bucket"),
                    )
                    for r in range(CM_D)
                ]
            )
        ).alias("rb")
        return frame.select(*cols, rb).select(
            *cols, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
        )

    build = _rows_of(vocab, ["n"]).select("row", "bucket", "n")
    cm = build.groupBy("row", "bucket").agg(F.sum("n").alias("cmv"))

    top = (
        vocab.orderBy(F.desc("n"), "token")
        .limit(CM_TOP)
        .select("token", F.col("n").alias("actual"))
    )
    absent = spark.range(CM_ABSENT).select(
        F.concat(F.lit("absent|"), F.col("id").cast("string")).alias("token"),
        F.lit(0).cast("long").alias("actual"),
    )
    probes = top.unionByName(absent)
    probe_rows = _rows_of(probes, ["token", "actual"])
    return (
        probe_rows.join(F.broadcast(cm), ["row", "bucket"], "left")
        .groupBy("token", "actual")
        .agg(F.min(F.coalesce("cmv", F.lit(0))).cast("long").alias("est"))
        .select(
            "token",
            "actual",
            "est",
            F.when(F.col("est") >= F.col("actual"), 1).otherwise(0).alias(
                "conservative"
            ),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog md5-twin (q_hll_mergeable's algebra, driver-verifiable) —
# the production per-day sketches use Spark's native DataSketches HLL
# (hll_sketch_agg), whose binary DuckDB cannot parse, so that query is
# rows-only; THIS variant builds explicit m=512 HLL registers from md5
# hashes (identical on both engines), merges per-day registers into a
# global sketch by bucket-max (the HLL union), and derives the estimate
# with exact-integer register sums:
#   h  = 60-bit md5 prefix; bucket = h % 512; w = h >> 9 (51 bits)
#   rho = 52 - bitlength(w)   (w = 0 -> 52)
#   Z scaled by 2^52: sum(2^(52 - rho)) + zero_registers * 2^52 is an
#   exact BIGINT (< 2^62), so the harmonic mean is order-independent —
#   no float summation nondeterminism across partitions/engines.
# Small-range linear counting (E <= 2.5m and V > 0 -> m * ln(m / V))
# uses the same literal arithmetic text on both engines.
# ---------------------------------------------------------------------------
_HLL_POW52 = 1 << 52
#: raw harmonic-mean estimate from the exact scaled sum {s}:
#: alpha_512 * m^2 * 2^52 / S, alpha_m = 0.7213 / (1 + 1.079 / m)
_HLL_RAW = (
    "0.7213e0 / (1.0e0 + 1.079e0 / 512.0e0) * 262144.0e0 "
    "* 4503599627370496.0e0 / CAST({s} AS DOUBLE)"
)
_HLL_EST = (
    "CASE WHEN ({raw}) <= 1280.0e0 AND {v} > 0 "
    "THEN 512.0e0 * ln(512.0e0 / CAST({v} AS DOUBLE)) "
    "ELSE ({raw}) END"
)


def _hll_est_sql(s: str, v: str) -> str:
    raw = _HLL_RAW.format(s=s)
    return f"round({_HLL_EST.format(raw=raw, v=v)}, 4)"


@declared(
    oracle=f"""
    WITH h AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s,
               user_id,
               try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS hv
        FROM events
    ),
    r AS (
        SELECT day_s, hv % 512 AS bucket,
               max(CASE WHEN hv // 512 = 0 THEN 52
                        ELSE 52 - length(bin(hv // 512)) END) AS rho,
               CAST(count(*) AS BIGINT) AS c
        FROM h GROUP BY day_s, bucket
    ),
    day_s AS (
        SELECT day_s,
               sum(CAST(1 AS BIGINT) << (52 - rho))
                 + (512 - count(*)) * {_HLL_POW52} AS s,
               512 - count(*) AS v,
               sum(c) AS n_events
        FROM r GROUP BY day_s
    ),
    day_exact AS (
        SELECT day_s, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM h GROUP BY day_s
    ),
    gregs AS (
        SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket
    ),
    gsum AS (
        SELECT sum(CAST(1 AS BIGINT) << (52 - rho))
                 + (512 - count(*)) * {_HLL_POW52} AS s,
               512 - count(*) AS v
        FROM gregs
    )
    SELECT d.day_s, {_hll_est_sql('d.s', 'd.v')} AS est_users,
           e.exact_users, CAST(d.n_events AS BIGINT) AS n_events
    FROM day_s d JOIN day_exact e USING (day_s)
    UNION ALL
    SELECT 'ALL' AS day_s, {_hll_est_sql('g.s', 'g.v')} AS est_users,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM h)
               AS exact_users,
           (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events
    FROM gsum g
    """
)
def q_hll_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register build per day from md5(user) ranks with the
    standard bias-corrected estimate.
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_s"),
        "user_id",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    w = F.expr("hv DIV 512")
    rho = F.when(w == 0, F.lit(52)).otherwise(52 - F.length(F.bin(w)))
    regs = (
        ev.select("day_s", (F.col("hv") % 512).alias("bucket"), rho.alias("rho"))
        .groupBy("day_s", "bucket")
        .agg(F.max("rho").alias("rho"), F.count("*").alias("c"))
    )

    def estimate(grouped: DataFrame, *extra) -> DataFrame:
        s = (
            F.expr("sum(shiftleft(CAST(1 AS BIGINT), 52 - rho))")
            + (512 - F.count("*")) * F.lit(_HLL_POW52)
        ).alias("s")
        v = (512 - F.count("*")).alias("v")
        return grouped.agg(s, v, *extra)

    # n_events is a sibling aggregate of the same day_s grouping — one
    # aggregation instead of aggregate + self-join on day_s (§2.4); the
    # join form re-ran the events scan+register aggregate per side
    day_est = estimate(regs.groupBy("day_s"), F.sum("c").alias("n_events"))
    day_exact = ev.groupBy("day_s").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    per_day = day_est.join(day_exact, "day_s").select(
        "day_s",
        F.expr(_hll_est_sql("s", "v")).alias("est_users"),
        "exact_users",
        F.col("n_events").cast("long").alias("n_events"),
    )
    glob = estimate(
        regs.groupBy("bucket").agg(F.max("rho").alias("rho")).groupBy()
    )
    totals = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    all_row = glob.join(F.broadcast(totals)).select(
        F.lit("ALL").alias("day_s"),
        F.expr(_hll_est_sql("s", "v")).alias("est_users"),
        "exact_users",
        F.col("n_events").cast("long").alias("n_events"),
    )
    return per_day.unionByName(all_row)


# ---------------------------------------------------------------------------
# Rolling 28-day MAU via mergeable HLL registers — the sketch companion
# to the exact `q_dau_mau` (roster_mining.py). The exact form's rolling
# distinct carries (days x users) dedup state, measured an honest 23.6x
# at 100x input (SCALING.md) because the user population itself scales;
# THIS form collapses each day to m=512 md5-HLL registers FIRST (one
# narrow agg, state ∝ users only transiently inside that agg), then the
# 28-day rolling union is a per-(rday, bucket) max over days x 512 x 28
# register rows — INDEPENDENT of user count. 100x users changes only
# the day-compression agg (sub-linear, same shape as q_hll_md5); the
# rolling stage's cost is fixed by the calendar. Same register algebra
# as q_hll_md5 (exact-BIGINT scaled harmonic sums, linear counting on
# the same literal text), so the estimate is engine-portable and the
# oracle checks it value-exact. DAU stays exact (single narrow
# group-by); the error-vs-exact pin lives in tests/test_operators.py
# (sketch MAU within HLL's 3-sigma band of q_dau_mau's exact MAU).
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH h AS (
        SELECT date_trunc('day', ts) AS day, user_id,
               try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS hv
        FROM events
    ),
    r AS (
        SELECT day, hv % 512 AS bucket,
               max(CASE WHEN hv // 512 = 0 THEN 52
                        ELSE 52 - length(bin(hv // 512)) END) AS rho
        FROM h GROUP BY day, bucket
    ),
    days AS (SELECT DISTINCT day FROM h),
    roll AS (
        SELECT d.day AS rday, r.bucket, max(r.rho) AS rho
        FROM r JOIN days d
          ON d.day >= r.day AND d.day < r.day + INTERVAL 28 DAY
        GROUP BY d.day, r.bucket
    ),
    msum AS (
        SELECT rday,
               sum(CAST(1 AS BIGINT) << (52 - rho))
                 + (512 - count(*)) * {_HLL_POW52} AS s,
               512 - count(*) AS v
        FROM roll GROUP BY rday
    ),
    dau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM h GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day_s, d.dau,
           {_hll_est_sql('m.s', 'm.v')} AS mau_est,
           round(CAST(d.dau AS DOUBLE) / ({_hll_est_sql('m.s', 'm.v')}), 6)
               AS stickiness_est
    FROM dau d JOIN msum m ON m.rday = d.day
    """
)
def q_dau_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness with HyperLogLog-style distincts from md5
    leading-zero ranks — the sketch twin of q_dau_mau.
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    w = F.expr("hv DIV 512")
    rho = F.when(w == 0, F.lit(52)).otherwise(52 - F.length(F.bin(w)))
    # day-compression: users enter ONCE, leave as 512 registers/day
    regs = (
        ev.select("day", (F.col("hv") % 512).alias("bucket"), rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    days = ev.select("day").distinct()
    # rolling union: register rows x 28 (calendar-bounded, user-free);
    # the days side is |calendar| rows — always broadcast-sized
    roll = (
        regs.select(
            "bucket",
            "rho",
            F.explode(F.sequence(F.lit(0), F.lit(27))).alias("i"),
            "day",
        )
        .select("bucket", "rho", F.expr("timestampadd(DAY, i, day)").alias("rday"))
        .join(F.broadcast(days), F.col("rday") == days.day)
        .groupBy("rday", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    msum = roll.groupBy("rday").agg(
        (
            F.expr("sum(shiftleft(CAST(1 AS BIGINT), 52 - rho))")
            + (512 - F.count("*")) * F.lit(_HLL_POW52)
        ).alias("s"),
        (512 - F.count("*")).alias("v"),
    )
    dau = ev.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    est = F.expr(_hll_est_sql("s", "v"))
    return dau.join(msum, dau.day == msum.rday).select(
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        "dau",
        est.alias("mau_est"),
        F.round(F.col("dau").cast("double") / est, 6).alias("stickiness_est"),
    )
