"""Ranking operators: top-k cut, feature blend, MMR diversification
(SURVEY §2.E-2.F, M3; reference rank.py:208-337).

Plan-ordering invariants enforced by construction (SURVEY §4.3.3):
the expensive rerank UDF is applied AFTER the top-k cut, and any
image/caption UDF AFTER the final limit — regression here is a 1000×
cost bug at scale. Tests assert stub call counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from review_engine_spark.functions.scoring import MMR_LAMBDA

__all__ = ["top_k_by", "mmr_diversify", "mmr_diversify_grouped", "priced_first"]


def top_k_by(df: DataFrame, score_col: str, id_col: str, k: int) -> DataFrame:
    """E1/F1: global top-k (rank.py:213) as orderBy+limit —
    TakeOrderedAndProject: per-partition bounded heaps, k-row driver
    merge, never a full sort shuffle. Ties broken by id for determinism."""
    return df.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def priced_first(df: DataFrame, price_col: str, order_col: str) -> DataFrame:
    """F2: stable two-tier ordering — priced rows first, unpriced
    appended, each tier keeping the given order (rank.py:327-337)."""
    return df.orderBy(F.col(price_col).isNull().asc(), F.col(order_col).asc())


def _mmr_picks(ordered: list, id2score: dict, id2vec: dict, k: int, mmr_lambda: float) -> list:
    """The greedy MMR picks over ``ordered`` (relevance-descending ids).

    Each remaining candidate's max similarity to the picks is updated with
    one dot product per pick. It takes the picks in pick order with the
    same strict ``>`` as ``max()`` over them, so it equals that max bit for
    bit.
    """

    def dot(a, b) -> float:
        if a is None or b is None:
            return 0.0  # rank.py:195-197 None tolerance
        return sum(x * y for x, y in zip(a, b))

    selected: list = []
    remaining = list(ordered)
    max_sim: dict = {}
    while len(selected) < min(k, len(ordered)):
        best_id, best_val = None, -1e9
        for cid in remaining:
            relevance = id2score[cid]
            if not selected:
                mmr_val = relevance
            else:
                sim = dot(id2vec[cid], id2vec[selected[-1]])
                if cid not in max_sim or sim > max_sim[cid]:
                    max_sim[cid] = sim
                mmr_val = mmr_lambda * relevance - (1.0 - mmr_lambda) * max_sim[cid]
            if mmr_val > best_val:
                best_id, best_val = cid, mmr_val
        if best_id is None:
            break
        selected.append(best_id)
        remaining.remove(best_id)
    return selected


def mmr_diversify(
    spark: SparkSession,
    candidates: DataFrame,
    id_col: str,
    score_col: str,
    vec_col: str,
    k: int = 10,
    mmr_lambda: float = MMR_LAMBDA,
    epsilon: float = 1e-9,
) -> DataFrame:
    """F3/C4: Maximal Marginal Relevance greedy selection (rank.py:282-325).

    Inherently sequential over k: each pick depends on all previous picks,
    so it is NOT expressible as relational algebra. The reference runs it
    over its top-200 cut; this operator likewise requires a pre-cut
    candidate set and collects it to the driver (≤ a few hundred rows —
    the ONLY driver collect in the engine, SURVEY §7 M6 note).

    Semantics faithful to the reference: vectors are L2-re-normalized
    defensively (rank.py:286-289); similarity to the selected set is a
    plain dot product of the normalized vectors (rank.py:195-202);
    first pick is pure relevance; ties keep the first-seen candidate
    (strict ``>`` comparison, rank.py:316), with candidate order =
    relevance-descending (rank.py:297). Each candidate's max similarity
    to the picks is kept as a running max, so ``k`` picks over ``n``
    candidates of dimension ``d`` cost O(k·n·d) driver work, where
    recomputing the max over all picks on every pick costs O(k²·n·d).

    Returns one row per pick, in pick order: ``mmr_rank`` (long, from 1),
    ``id_col``, ``score_col`` (double, rounded to 6 dp), then every other
    column of ``candidates`` except ``vec_col``, each with its own type.
    Callers read display columns from here rather than joining back to
    ``candidates``, which would re-run the candidates' whole lineage.

    The candidates are collected once, as Arrow, and the result is built
    from a ``pyarrow.Table``, which plans as a ``LocalTableScan``. A
    Python-list ``createDataFrame`` plans as a Python RDD scan that forks
    Python workers on every action that reads it, and the pandas path
    turns a null double into NaN when Arrow is off (so a null price would
    sort as a price).
    """
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    types = candidates.schema
    rest = [c for c in candidates.columns if c not in (id_col, score_col, vec_col)]
    table = candidates.select(id_col, score_col, vec_col, *rest).toArrow()

    ids = table.column(id_col).to_pylist()
    row_of = {cid: i for i, cid in enumerate(ids)}  # a repeated id keeps its last row
    id2score: dict = {}
    id2vec: dict = {}
    for cid, score, vec in zip(
        ids,
        table.column(score_col).to_pylist(),
        table.column(vec_col).to_pylist(),
    ):
        id2score[cid] = float(score)
        if vec is None:
            id2vec[cid] = None
            continue
        norm = math.sqrt(sum(float(x) * float(x) for x in vec))
        id2vec[cid] = [float(x) / (norm + epsilon) for x in vec]

    ordered = sorted(id2score, key=lambda cid: (-id2score[cid], cid))
    selected = _mmr_picks(ordered, id2score, id2vec, k, mmr_lambda)

    out = (
        table.drop_columns([vec_col])
        .take(pa.array([row_of[cid] for cid in selected], pa.int64()))
        .set_column(
            1,
            score_col,
            pa.array([round(id2score[cid], 6) for cid in selected], pa.float64()),
        )
        .add_column(0, "mmr_rank", pa.array(range(1, len(selected) + 1), pa.int64()))
    )
    schema = StructType(
        [
            StructField("mmr_rank", LongType()),
            types[id_col],
            StructField(score_col, DoubleType()),
            *(types[c] for c in rest),
        ]
    )
    return spark.createDataFrame(out, schema)


def mmr_diversify_grouped(
    candidates: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    vec_col: str,
    k: int = 10,
    mmr_lambda: float = MMR_LAMBDA,
    epsilon: float = 1e-9,
) -> DataFrame:
    """Distributed MMR: one greedy diversification per group, fanned out
    with ``applyInPandas`` — the batch/scale counterpart of
    ``mmr_diversify`` (NOTES: the driver-side loop is fine for ONE
    query's ≤200 candidates; serving many queries at once needs the
    per-group parallel form).

    Semantics per group are identical to ``mmr_diversify`` (same
    normalize / None-as-zero / strict-``>`` tie rules), vectorized:
    each pick updates a running max-similarity vector with one
    matrix-vector product, so a group costs O(k·n·d) with BLAS doing
    the work. The only shuffle keys candidates by group; group state
    never leaves its task.
    """
    import numpy as np
    import pandas as pd

    id_type = dict(candidates.dtypes)[id_col]
    group_type = dict(candidates.dtypes)[group_col]
    out_schema = (
        f"{group_col} {group_type}, mmr_rank long, "
        f"{id_col} {id_type}, {score_col} double"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        scores = pdf[score_col].to_numpy(dtype=np.float64)
        dim = next(
            (len(v) for v in pdf[vec_col] if v is not None), 1
        )
        V = np.zeros((n, dim))
        for i, v in enumerate(pdf[vec_col]):
            if v is not None:
                a = np.asarray(v, dtype=np.float64)
                V[i] = a / (np.linalg.norm(a) + epsilon)
        picked: list[int] = []
        # -inf, not 0: max similarity to the selected set can be negative,
        # and zeros would clamp it (rank.py:301-313 takes a true max)
        max_sim = np.full(n, -np.inf)
        taken = np.zeros(n, dtype=bool)
        for _ in range(min(k, n)):
            vals = (
                scores
                if not picked
                else mmr_lambda * scores - (1.0 - mmr_lambda) * max_sim
            )
            vals = np.where(taken, -np.inf, vals)
            best = int(np.argmax(vals))
            picked.append(best)
            taken[best] = True
            max_sim = np.maximum(max_sim, V @ V[best])
        return pd.DataFrame(
            {
                group_col: pdf[group_col].iloc[picked].to_numpy(),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int64),
                id_col: pdf[id_col].iloc[picked].to_numpy(),
                score_col: np.round(scores[picked], 6),
            }
        )

    return candidates.select(group_col, id_col, score_col, vec_col).groupBy(
        group_col
    ).applyInPandas(_mmr, out_schema)
