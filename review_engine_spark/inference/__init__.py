"""Model-inference surface (SURVEY §2.J) — interfaces + deterministic stubs.

The reference wraps four models: a sentence embedder (embed.py:10), a
cross-encoder reranker (rank.py:9-12), a VLM captioner (summarize.py:64),
and a chat LLM (rag.py:26-30). The engine keeps them behind small
interfaces whose production path is an Arrow-batched
``predict_batch_udf`` / ``mapInPandas`` (per-executor model cache) and
whose test path is a seeded hash stub — so every pipeline *shape* is
deterministic and CI-checkable without GPUs (SURVEY §5.2.4).
"""
