"""RAG retrieve→prompt→answer chain (SURVEY §2.J J5-J7, §3.2).

The reference rebuilds a one-document Chroma store per product switch
(rag.py:49-52) and runs retriever ∥ passthrough → prompt → ChatOllama →
parse (rag.py:42-47). The engine form: ONE persistent chunks DataFrame
with an embedding column; retrieval is the cosine top-k join
(q_cosine_topk core), prompt fill is ``format_string``, the LLM call is
an Arrow-batched UDF (stub here; Ollama-compatible HTTP client in
production), and answer extraction is the H11 kernel. Per-product store
rebuild disappears — it's a filter on the chunks table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from review_engine_spark.functions.text import extract_summary
from review_engine_spark.functions.vector import cosine_similarity, vector_literal
from review_engine_spark.inference.stubs import EMBED_DIM, StubEmbedder, stub_chat_udf

__all__ = ["QA_TEMPLATE", "build_prompt", "retrieve", "rag_answer"]

#: QA prompt shape (reference rag.py:31-39 semantics: answer from context,
#: admit ignorance otherwise; engine's own wording).
QA_TEMPLATE = (
    "Answer the question using only the context.\n"
    "Context: %s\nQuestion: %s\nASSISTANT:"
)


def build_prompt(context: Column, question: Column) -> Column:
    """Prompt assembly as format_string — pure, testable (SURVEY M5)."""
    return F.format_string(QA_TEMPLATE, context, question)


def retrieve(
    chunks: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Cosine top-k retrieval against a literal query vector."""
    qv = vector_literal(query_vec)
    return (
        chunks.withColumn(
            "_sim", F.round(cosine_similarity(F.col(vec_col), qv), 6)
        )
        .orderBy(F.desc("_sim"), F.asc(text_col))
        .limit(k)
    )


def rag_answer(
    chunks: DataFrame,
    question: str,
    vec_col: str = "embedding",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Full chain: embed question (driver-side, J2) → retrieve top-k →
    concat contexts → prompt → chat UDF → extract answer (H11)."""
    qv = StubEmbedder(dim=EMBED_DIM).encode([question])[0]
    top = retrieve(chunks, qv, vec_col=vec_col, text_col=text_col, k=k)
    ctx = top.agg(
        F.concat_ws(" | ", F.collect_list(text_col)).alias("context")
    )
    prompted = ctx.select(
        F.lit(question).alias("question"),
        "context",
        build_prompt(F.col("context"), F.lit(question)).alias("prompt"),
    )
    chat = stub_chat_udf()
    return prompted.select(
        "question",
        extract_summary(chat(F.col("prompt"))).alias("answer"),
    )
