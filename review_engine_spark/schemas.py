"""Explicit StructType schemas (SURVEY §1.2-1.3).

The reference parses JSON per line with fully dynamic schemas
(``embed.py:58``, ``semantic.py:21``); at 100 TB an inference pass over
gzipped JSONL is an extra full read and locks in wrong types for nullable
numerics, so every source here declares its schema up front. All
meta-derived numeric fields are **nullable by design** — the reference's
None-tolerance (``rank.py:21-27,169-171,183-187``) is load-bearing
(SURVEY §1.1.2) and is reproduced with ``coalesce``/``CASE WHEN``
downstream, never by dropping nulls.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "REVIEW_SCHEMA",
    "PRODUCT_META_SCHEMA",
    "EMBEDDING_SCHEMA",
    "MEDIA_SCHEMA",
    "FIXTURE_SCHEMAS",
]

# ---------------------------------------------------------------------------
# Reference-shaped tables (Amazon Reviews 2023; SURVEY §1.1)
# ---------------------------------------------------------------------------

#: One row per user review (``embed.py:55-62`` reads title/text/parent_asin).
REVIEW_SCHEMA = StructType(
    [
        StructField("parent_asin", StringType(), nullable=False),
        StructField("title", StringType(), nullable=True),
        StructField("text", StringType(), nullable=True),
        StructField("rating", DoubleType(), nullable=True),
        StructField("user_id", StringType(), nullable=True),
        StructField("timestamp", LongType(), nullable=True),
        StructField("helpful_vote", LongType(), nullable=True),
        StructField("verified_purchase", BooleanType(), nullable=True),
    ]
)

#: Product metadata keyed by parent_asin (``semantic.py:17-24``); the
#: images field is the nested array-of-structs the reference reads
#: ``record["large"]`` from (``summarize.py:30-31``).
PRODUCT_META_SCHEMA = StructType(
    [
        StructField("parent_asin", StringType(), nullable=False),
        StructField("title", StringType(), nullable=True),
        StructField("summary", StringType(), nullable=True),
        StructField("main_category", StringType(), nullable=True),
        StructField("price", DoubleType(), nullable=True),
        StructField("rating", DoubleType(), nullable=True),
        StructField("review_count", LongType(), nullable=True),
        StructField("average_rating", DoubleType(), nullable=True),
        StructField(
            "images",
            ArrayType(
                StructType(
                    [
                        StructField("large", StringType(), True),
                        StructField("thumb", StringType(), True),
                        StructField("hi_res", StringType(), True),
                        StructField("variant", StringType(), True),
                    ]
                )
            ),
            nullable=True,
        ),
    ]
)

#: Per-product mean-pooled embedding (``embed.py:84-86``).
EMBEDDING_SCHEMA = StructType(
    [
        StructField("parent_asin", StringType(), nullable=False),
        StructField("embed", ArrayType(FloatType()), nullable=True),
    ]
)

#: Multimodal column convention (SURVEY §2.A A6 / §2.K): media payloads are
#: opaque binary plus typed metadata; decode lives behind mapInPandas.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), nullable=False),
        StructField("kind", StringType(), nullable=False),  # image|audio|video
        StructField("url", StringType(), nullable=True),
        StructField("content", BinaryType(), nullable=True),
        StructField("meta", MapType(StringType(), StringType()), nullable=True),
    ]
)

# ---------------------------------------------------------------------------
# Driver fixture tables (FIXTURES.md) — declared so streaming reads and
# schema assertions never rely on inference.
# ---------------------------------------------------------------------------

FIXTURE_SCHEMAS: dict[str, StructType] = {
    "documents": StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
            StructField("n_chars", LongType(), True),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), True),
            StructField("label", IntegerType(), True),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("ts", TimestampType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType(), False),
            StructField("p_name", StringType(), True),
            StructField("p_brand", StringType(), True),
            StructField("p_type", StringType(), True),
            StructField("p_size", IntegerType(), True),
            StructField("p_retailprice", DoubleType(), True),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType(), False),
            StructField("o_custkey", LongType(), True),
            StructField("o_orderstatus", StringType(), True),
            StructField("o_totalprice", DoubleType(), True),
            StructField("o_orderdate", TimestampType(), True),
            StructField("o_orderpriority", StringType(), True),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType(), False),
            StructField("l_partkey", LongType(), True),
            StructField("l_suppkey", LongType(), True),
            StructField("l_linenumber", IntegerType(), True),
            StructField("l_quantity", DoubleType(), True),
            StructField("l_extendedprice", DoubleType(), True),
            StructField("l_discount", DoubleType(), True),
            StructField("l_tax", DoubleType(), True),
            StructField("l_returnflag", StringType(), True),
            StructField("l_linestatus", StringType(), True),
            StructField("l_shipdate", TimestampType(), True),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType(), False),
            StructField("c_name", StringType(), True),
            StructField("c_nationkey", IntegerType(), True),
            StructField("c_acctbal", DoubleType(), True),
            StructField("c_mktsegment", StringType(), True),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType(), False),
            StructField("s_name", StringType(), True),
            StructField("s_nationkey", IntegerType(), True),
            StructField("s_acctbal", DoubleType(), True),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType(), False),
            StructField("n_name", StringType(), True),
            StructField("n_regionkey", IntegerType(), True),
        ]
    ),
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType(), False),
            StructField("r_name", StringType(), True),
        ]
    ),
}
