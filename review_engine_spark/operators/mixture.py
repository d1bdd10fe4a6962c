"""Source-mixture planning for pretraining data recipes.

The last mile of corpus curation is deciding HOW MUCH of each source to
train on: given per-source token counts and a target mixture (the
weights tables published with Pile/LLaMA-style recipes), compute each
source's token budget, the sampling rate when the source is
over-represented, and the repeat factor ("epochs") when it is
under-represented — then materialize the upsampled, deterministically
shuffled training order.

Scale posture: the mixture plan is a per-source aggregate (map-side
partial combine → a handful of rows), so at 100 TB it costs one scan.
The upsampling pass is a narrow ``explode(sequence(...))`` — no shuffle
until the single per-shard ordering exchange, and the shard count bounds
every sort. Determinism comes from the engine's LCG id hash
(``chunking.id_hash_frac`` constants), never ``rand()``, so reruns and
different partitionings produce byte-identical training orders and any
SQL engine can replay them (reference behavior being generalized:
``embed.py:55-61`` reads one fixed corpus — the mixture/order layer is
the §7 pretraining extension over it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from review_engine_spark.operators.chunking import _lcg, id_hash_frac

__all__ = ["mixture_plan", "upsample_epochs", "apply_mixture"]


def mixture_plan(
    docs: DataFrame,
    source_col: str,
    tokens_col: Column,
    budget: int,
    weights: dict[str, float],
    default_weight: float = 1.0,
) -> DataFrame:
    """Per-source mixture plan: (source, n_docs, n_tokens, weight,
    target_tokens, sample_rate, epochs).

    ``weights`` are relative (normalized over the sources actually
    present); ``target_tokens = floor(budget * w_norm)`` (floor, not
    round — half-up vs half-even never diverges). ``sample_rate``
    (≤ 1) downsamples over-represented sources via the LCG hash;
    ``epochs = ceil(target/actual)`` is the repeat factor for
    under-represented ones. Ratios round to 6 in-query on both engines.

    One groupBy on ~#sources keys (partial-agg'd, scan-bound at any
    scale); the normalizing total is a 1-row aggregate broadcast back
    (SURVEY §2.D7 pattern) — no second pass over the data.
    """
    w = F.lit(float(default_weight))
    for value, r in weights.items():
        w = F.when(F.col(source_col) == value, F.lit(float(r))).otherwise(w)

    per_source = docs.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens_col).cast("long").alias("n_tokens"),
    ).withColumn("weight", w)
    total = per_source.agg(F.sum("weight").alias("_w_total"))

    ratio = F.col("target_tokens") / F.col("n_tokens")
    return (
        per_source.crossJoin(F.broadcast(total))
        .withColumn(
            "target_tokens",
            F.floor(F.lit(int(budget)) * F.col("weight") / F.col("_w_total"))
            .cast("long"),
        )
        .withColumn("sample_rate", F.round(F.least(F.lit(1.0), ratio), 6))
        .withColumn(
            "epochs",
            F.greatest(F.lit(1), F.ceil(ratio)).cast("long"),
        )
        .withColumn("weight", F.round(F.col("weight"), 6))
        .drop("_w_total")
    )


def upsample_epochs(
    df: DataFrame,
    id_col: str,
    source_col: str,
    epochs: dict[str, int],
    default_epochs: int = 1,
    n_shards: int = 8,
) -> DataFrame:
    """Repetition-aware upsampling + deterministic training order:
    replicate each row ``epochs(source)`` times and emit
    (id, epoch, shard, pos) — the shuffled instance stream a trainer
    consumes.

    The instance hash is ``LCG(id·31 + epoch)``: each epoch of a
    document lands at an independent position (epochs are interleaved,
    not concatenated — repeated data spread through the stream is the
    standard recipe posture). ``shard = hash mod n_shards`` and ``pos``
    is the within-shard rank, so there is no global row_number
    bottleneck: one exchange on the shard key, per-shard sorts bounded
    by ``n_shards``, identical output under any input partitioning.
    """
    ep = F.lit(int(default_epochs))
    for value, e in epochs.items():
        ep = F.when(F.col(source_col) == value, F.lit(int(e))).otherwise(ep)

    h = _lcg(F.col(id_col) * F.lit(31) + F.col("epoch"))
    inst = (
        df.select(F.col(id_col), ep.alias("_ep"))
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_ep"))))
        .drop("_ep")
        .withColumn("_h", h)
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("long"))
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col, "epoch")
    return (
        inst.withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def apply_mixture(
    docs: DataFrame,
    plan: DataFrame,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """Materialize a mixture plan: per-source rate-downsample (LCG id
    hash vs the plan's ``sample_rate``) and epoch-replicate (explode to
    the plan's ``epochs``) in ONE narrow pass — the plan (~#sources
    rows) broadcasts, so at 100 TB this composes with scan pushdown and
    shuffles nothing. Emits one row per kept training instance
    (id, source, epoch).
    """
    from pyspark.sql.functions import broadcast

    keyed = docs.join(
        broadcast(plan.select(source_col, "sample_rate", "epochs")),
        source_col,
    )
    frac = id_hash_frac(id_col)
    return (
        keyed.filter(frac < F.col("sample_rate"))
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("epochs"))))
        .select(id_col, source_col, F.col("epoch").cast("long"))
    )
