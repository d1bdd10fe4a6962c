"""Explicit StructType schemas (SURVEY §1.2-1.3).

The reference parses JSON per line with fully dynamic schemas
(``embed.py:58``, ``semantic.py:21``); at 100 TB an inference pass over
gzipped JSONL is an extra full read and locks in wrong types for nullable
numerics, so the review source declares its schema up front. Its
numeric fields are **nullable by design** — the reference's
None-tolerance (``rank.py:21-27,169-171,183-187``) is load-bearing
(SURVEY §1.1.2) and is reproduced with ``coalesce``/``CASE WHEN``
downstream, never by dropping nulls.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = ["REVIEW_SCHEMA"]

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
