"""predict_batch_udf constructors (SURVEY §2.J J1/J3 production path).

``pyspark.ml.functions.predict_batch_udf`` is the engine's real model
path: the ``make_model`` loader runs once per Python worker (the model is
cached across batches — the per-executor model cache the reference gets
by being single-process, embed.py:10), inputs arrive as numpy batches of
``batch_size`` (the reference's batching knob: 700 for the embedder,
embed.py:75; 32 for the cross-encoder, rank.py:15), and output schemas
match the stub UDFs in ``inference.stubs`` exactly — swapping a stub for
a real model changes one constructor argument, never the plan.

The default loaders wrap ``StubEmbedder`` and ``StubScorer``, so the
full machinery (worker-side caching, Arrow batch transfer, numpy
marshalling) is exercised in tests without any model dependency.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from review_engine_spark.inference.stubs import EMBED_DIM, StubEmbedder, StubScorer

__all__ = ["embedder_batch_udf", "scorer_batch_udf"]


def embedder_batch_udf(
    make_model: Callable | None = None, dim: int = EMBED_DIM, batch_size: int = 700
):
    """J1: text → array<double> via predict_batch_udf (embed.py:73-78
    analog; batch_size mirrors the reference's 700). Pass a loader that
    returns a SentenceTransformer-style ``predict(batch) -> ndarray`` for
    the real model."""
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import ArrayType, DoubleType

    if make_model is None:

        def make_model():
            model = StubEmbedder(dim)
            return lambda texts: np.array(model.encode(texts.tolist()))

    return predict_batch_udf(
        make_model,
        return_type=ArrayType(DoubleType()),
        batch_size=batch_size,
    )


def scorer_batch_udf(make_model: Callable | None = None, batch_size: int = 32):
    """J3: (query, document) → double via predict_batch_udf (rank.py:15-41
    analog; batch_size mirrors the reference's 32)."""
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import DoubleType

    if make_model is None:

        def make_model():
            model = StubScorer()
            return lambda queries, docs: np.array(
                model.score(queries.tolist(), docs.tolist())
            )

    return predict_batch_udf(
        make_model,
        return_type=DoubleType(),
        batch_size=batch_size,
    )
