"""Mining & forecasting classics (SURVEY §2.D/§2.E ext).

Market-basket rules, customer RFM segmentation, Pareto/ABC inventory
classes, seasonal-naive forecast backtests, BFS reachability, Holt
linear-trend smoothing and clamped stock balances — the data-mining
layer a warehouse team runs on the same fixtures the reference engine
ranks. Each query is expressed Spark-first with a DuckDB oracle and a
physical shape chosen for the 1000-executor case (noted per query).

Determinism strategy (per roster_analytics / roster_warehouse):

- money and quantities quantize to integer cents/units before any
  aggregation (integer sums are order-independent, exact on both
  engines);
- recurrences with MULTI-variable state (Holt level+trend, clamped
  balance+stockout count) fold a LIST-typed accumulator — DuckDB
  ``list_reduce`` requires acc type = element type, so each element is
  pre-packed ``[obs, state1_init, state2_init]`` with the correct fold
  INIT in position 1, and the lambda reads ``x[1]`` plus ``acc[2..]``.
  The accumulator MUST be a plain list, not a struct: DuckDB 1.0's
  ``struct_pack`` inside a ``list_reduce`` lambda resolves ``acc``
  field references inconsistently across fold steps (verified: step 1
  reads the pre-step accumulator, step 2+ can read already-overwritten
  fields), while list construction binds ``acc`` correctly. Spark uses
  a struct accumulator (its HOF binding is sound) via
  ``F.aggregate(slice(arr, 2, n-1), element_at(arr, 1), ...)`` — the
  identical IEEE-754 op sequence, so doubles match bit-exactly;
- quartile/decile cutoffs come from ``percentile`` / ``quantile_cont``
  (same interpolation) computed as a 1-row aggregate broadcast back
  over the rows (SURVEY D7) — NEVER a global ntile window, which would
  funnel the whole table into one partition.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.functions.packing import pack_pair, unpack_pair
from review_engine_spark.operators.cluster import iter_checkpoint
from review_engine_spark.plans import declared
from review_engine_spark.plans._oracle import SYNTHETIC_SOURCE_ORACLE
from review_engine_spark.sources.io import read_parquet_table

_CENTS = "CAST(floor({x} * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# RFM segmentation — recency / frequency / monetary quartile scores per
# customer. Scale: one shuffle on o_custkey for the per-customer rollup;
# the nine quartile cutoffs are a 1-row aggregate broadcast back (D7) —
# no global window, no sort. Score comparisons happen against exact
# interpolated-double cutoffs, identical on both engines.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)
               ) AS recency_days,
               count(*) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    cut AS (
        SELECT quantile_cont(recency_days, 0.25) AS r1,
               quantile_cont(recency_days, 0.50) AS r2,
               quantile_cont(recency_days, 0.75) AS r3,
               quantile_cont(frequency, 0.25) AS f1,
               quantile_cont(frequency, 0.50) AS f2,
               quantile_cont(frequency, 0.75) AS f3,
               quantile_cont(monetary_cents, 0.25) AS m1,
               quantile_cont(monetary_cents, 0.50) AS m2,
               quantile_cont(monetary_cents, 0.75) AS m3
        FROM cust
    )
    SELECT o_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary_cents,
           CAST(1 + CASE WHEN recency_days < r3 THEN 1 ELSE 0 END
                  + CASE WHEN recency_days < r2 THEN 1 ELSE 0 END
                  + CASE WHEN recency_days < r1 THEN 1 ELSE 0 END
                AS INTEGER) AS r_score,
           CAST(1 + CASE WHEN frequency > f1 THEN 1 ELSE 0 END
                  + CASE WHEN frequency > f2 THEN 1 ELSE 0 END
                  + CASE WHEN frequency > f3 THEN 1 ELSE 0 END
                AS INTEGER) AS f_score,
           CAST(1 + CASE WHEN monetary_cents > m1 THEN 1 ELSE 0 END
                  + CASE WHEN monetary_cents > m2 THEN 1 ELSE 0 END
                  + CASE WHEN monetary_cents > m3 THEN 1 ELSE 0 END
                AS INTEGER) AS m_score
    FROM cust, cut
    """
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintile scores per
    customer via ntile windows.
    """
    orders = read_parquet_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum(F.expr(_CENTS.format(x="o_totalprice"))).alias("monetary_cents"),
    )
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("anchor_day"))
    cust = (
        cust.crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff("anchor_day", "last_day").cast("long")
        )
        .drop("last_day", "anchor_day")
    )
    cut = cust.agg(
        *[
            F.percentile(F.col(c), F.lit(q)).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary_cents")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def _bucket(col: str, cuts: list[str], op) -> F.Column:
        s = F.lit(1)
        for c in cuts:
            s = s + F.when(op(F.col(col), F.col(c)), 1).otherwise(0)
        return s.cast("int")

    return cust.crossJoin(F.broadcast(cut)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        _bucket("recency_days", ["r3", "r2", "r1"], F.Column.__lt__).alias(
            "r_score"
        ),
        _bucket("frequency", ["f1", "f2", "f3"], F.Column.__gt__).alias("f_score"),
        _bucket("monetary_cents", ["m1", "m2", "m3"], F.Column.__gt__).alias(
            "m_score"
        ),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification — per-brand cumulative revenue share over
# parts ranked by revenue. Partitioned by p_brand so the running sum is a
# per-brand window (explicit ROWS frame: the default RANGE frame would
# pool revenue ties), never a global sort. Scale: one shuffle on partkey
# for the rollup, one on brand for the window; per-brand part counts are
# catalog-bounded.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH rev AS (
        SELECT p.p_partkey, p.p_brand,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                              + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_brand
    ),
    c AS (
        SELECT p_partkey, p_brand, revenue_cents,
               sum(revenue_cents) OVER (
                   PARTITION BY p_brand
                   ORDER BY revenue_cents DESC, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_cents,
               sum(revenue_cents) OVER (PARTITION BY p_brand) AS tot_cents
        FROM rev
    )
    SELECT p_partkey, p_brand, revenue_cents,
           round(CAST(cum_cents AS DOUBLE) / tot_cents, 6) AS cum_share,
           CASE WHEN CAST(cum_cents AS DOUBLE) / tot_cents <= 0.8 THEN 'A'
                WHEN CAST(cum_cents AS DOUBLE) / tot_cents <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """
)
def q_abc_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classes: parts bucketed A/B/C by cumulative revenue
    share (80/95% running-total cuts).
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    part = read_parquet_table(spark, sf_dir, "part")
    rev = (
        li.join(part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_brand")
        .agg(
            F.sum(
                F.expr(_CENTS.format(x="l_extendedprice * (1 - l_discount)"))
            ).alias("revenue_cents")
        )
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.desc("revenue_cents"), F.asc("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("p_brand")
    share = F.col("cum_cents").cast("double") / F.col("tot_cents")
    return (
        rev.withColumn("cum_cents", F.sum("revenue_cents").over(w))
        .withColumn("tot_cents", F.sum("revenue_cents").over(wt))
        .select(
            "p_partkey",
            "p_brand",
            "revenue_cents",
            F.round(share, 6).alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules — directed part→part rules with support, confidence
# and lift from within-order baskets. Pairs come from the basket-array
# nested explode (i<j, one pass, NO self-join — recommend.py:102 pattern)
# and are symmetrized after counting; item supports are catalog-scaled so
# the final joins are left to AQE (broadcast only if actually small).
# All three metrics are exact-integer ratios evaluated with the same
# formula text on both engines.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket),
    cnt AS (SELECT l_partkey, count(*) AS c FROM basket GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS c
        FROM basket a
        JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT i, j, c FROM pairs UNION ALL SELECT j, i, c FROM pairs
    )
    SELECT s.i AS antecedent, s.j AS consequent,
           CAST(s.c AS BIGINT) AS together,
           CAST(s.c AS DOUBLE) / n.n_orders AS support,
           CAST(s.c AS DOUBLE) / ci.c AS confidence,
           CAST(s.c AS DOUBLE) * n.n_orders / (ci.c * cj.c) AS lift
    FROM sym s
    JOIN cnt ci ON ci.l_partkey = s.i
    JOIN cnt cj ON cj.l_partkey = s.j
    CROSS JOIN n
    WHERE s.c >= 2
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 100
    """
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: support/confidence/lift for
    co-purchased part pairs.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = basket.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    cnt = basket.groupBy("l_partkey").agg(F.count("*").alias("c"))
    arrs = basket.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("items")
    )
    pairs = (
        arrs.select(F.col("items"), F.explode("items").alias("i"))
        .select(
            "i", F.explode(F.filter("items", lambda x: x > F.col("i"))).alias("j")
        )
        .groupBy("i", "j")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )
    sym = pairs.unionByName(
        pairs.select(F.col("j").alias("i"), F.col("i").alias("j"), "c")
    )
    ci = cnt.select(F.col("l_partkey").alias("i"), F.col("c").alias("ci"))
    cj = cnt.select(F.col("l_partkey").alias("j"), F.col("c").alias("cj"))
    return (
        sym.join(ci, "i")
        .join(cj, "j")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("i").alias("antecedent"),
            F.col("j").alias("consequent"),
            F.col("c").cast("long").alias("together"),
            (F.col("c").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("c").cast("double") / F.col("ci")).alias("confidence"),
            (
                F.col("c").cast("double")
                * F.col("n_orders")
                / (F.col("ci") * F.col("cj"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest — forecast each (event_type, day)'s
# spend as the same weekday one week earlier; score MAPE / sMAPE / bias
# per event_type. Daily cent sums are exact integers, so every error
# ratio is the same double computed from the same integers on both
# engines. Scale: the daily rollup is one shuffle; the lag-7 join is a
# self-join of the (types × days)-sized rollup — calendar-bounded, tiny
# relative to the fact table at any SF.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    j AS (
        SELECT a.event_type,
               a.cents AS actual, f.cents AS forecast,
               CAST(floor(1000000.0 * abs(a.cents - f.cents)
                          / a.cents + 0.5) AS BIGINT) AS ape_micro,
               CAST(floor(2000000.0 * abs(a.cents - f.cents)
                          / (a.cents + f.cents) + 0.5) AS BIGINT) AS sape_micro
        FROM daily a
        JOIN daily f ON f.event_type = a.event_type
                    AND CAST(f.day + INTERVAL 7 DAY AS DATE) = a.day
        WHERE a.cents > 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(ape_micro) AS DOUBLE) / (1000000.0 * count(*)) AS mape,
           CAST(sum(sape_micro) AS DOUBLE) / (1000000.0 * count(*)) AS smape,
           CAST(sum(forecast) - sum(actual) AS DOUBLE)
               / CAST(sum(actual) AS DOUBLE) AS bias
    FROM j GROUP BY event_type
    """
)
def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error: predict each day by the value 7 days
    earlier, MAE/MAPE per event type.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))
    fc = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("cents").alias("forecast"),
    )
    j = (
        daily.where(F.col("cents") > 0)
        .withColumnRenamed("cents", "actual")
        .join(fc, ["event_type", "day"])
        .select(
            "event_type",
            "actual",
            "forecast",
            F.expr(
                "CAST(floor(1000000.0 * abs(actual - forecast)"
                " / actual + 0.5) AS BIGINT)"
            ).alias("ape_micro"),
            F.expr(
                "CAST(floor(2000000.0 * abs(actual - forecast)"
                " / (actual + forecast) + 0.5) AS BIGINT)"
            ).alias("sape_micro"),
        )
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        (
            F.sum("ape_micro").cast("double") / (F.lit(1000000.0) * F.count("*"))
        ).alias("mape"),
        (
            F.sum("sape_micro").cast("double") / (F.lit(1000000.0) * F.count("*"))
        ).alias("smape"),
        (
            (F.sum("forecast") - F.sum("actual")).cast("double")
            / F.sum("actual").cast("double")
        ).alias("bias"),
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (u, v) co-purchase edges: customers sharing a part whose
    buyer count is in [2, 20]. Pair enumeration is the packed-BIGINT
    array expansion from q_resource_allocation — one aggregation, no
    self-join, 8-byte shuffle keys."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    up = (
        orders.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"), orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # distinct + collect_list, NOT a fused collect_set groupBy: measured
    # slower in q_resource_allocation (object-set partials cost more
    # than the ~10 MB shuffle that hash-distinct adds)
    per_part = (
        up.groupBy("p")
        .agg(F.array_sort(F.collect_list("u")).alias("us"), F.count("*").alias("deg"))
        .where(F.col("deg").between(2, 20))
    )
    # BOTH directions from one explode + ONE distinct (round 13): the
    # old i<j-distinct-then-union-swapped form ran the explode+distinct
    # aggregation once per union branch; a single distinct over the
    # same total (packed) pair rows shuffles identical bytes once
    # (2.8 s -> 2.2 s at sf0.1, result set verified identical).
    pair_arr = F.flatten(
        F.transform(
            F.col("us"),
            lambda x, i: F.transform(
                F.filter(F.col("us"), lambda y: y != x),
                lambda y: pack_pair(x, y),
            ),
        )
    )
    u_dec, v_dec = unpack_pair("uu")
    return (
        per_part.select(F.explode(pair_arr).alias("uu"))
        .distinct()
        .select(u_dec.alias("u"), v_dec.alias("v"))
    )


_BFS_EDGE_SQL = """
    up AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    keep AS (
        SELECT p FROM up GROUP BY p HAVING count(*) BETWEEN 2 AND 20
    ),
    und AS (
        SELECT DISTINCT a.u AS u, b.u AS v
        FROM up a JOIN keep k ON a.p = k.p
        JOIN up b ON b.p = a.p AND a.u < b.u
    ),
    edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und)
"""


# ---------------------------------------------------------------------------
# BFS reachability levels — shortest hop-distance from the smallest
# customer in the co-purchase graph, capped at 8 hops. Spark runs true
# frontier BFS: each round expands only nodes at the current level, takes
# a min-label groupBy, and localCheckpoints to keep the plan flat
# (cluster.py's iterative idiom); the oracle is a recursive CTE whose
# UNION-distinct collapses paths to (node, level) pairs. Scale: 8 bounded
# shuffles over an edge list whose per-part fan-in is capped at 20.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH RECURSIVE {_BFS_EDGE_SQL},
    src AS (SELECT min(u) AS s FROM edges),
    bfs(node, lvl) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT e.v, b.lvl + 1
        FROM bfs b JOIN edges e ON e.u = b.node
        WHERE b.lvl < 8
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(min(lvl) AS BIGINT) AS lvl
    FROM bfs GROUP BY node
    """
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS levels from a seed over the customer-part bipartite
    graph (iterative DataFrame rounds, localCheckpoint per level).
    """
    # Checkpoint the edges once: all 8 rounds join frontier⋈edges on
    # "u", and would otherwise re-run the edge pipeline per round. A
    # checkpoint taken under AQE keeps no hash partitioning (the adaptive
    # root reports none), so each round's join still exchanges the edge
    # list, and pre-partitioning by "u" measured no gain. Broadcast-frontier
    # was measured (7.4 s vs 6.4 s at sf0.1) and rejected: frontiers
    # grow with the graph, so broadcast is not the 100 TB shape.
    edges = iter_checkpoint(_copurchase_edges(spark, sf_dir))
    src = edges.agg(F.min("u").alias("s")).collect()[0]["s"]  # 1 row: bounded
    levels = spark.createDataFrame([(src, 0)], "node long, lvl long")
    for i in range(8):
        frontier = levels.where(F.col("lvl") == i).select(
            F.col("node").alias("u")
        )
        nxt = (
            frontier.join(edges, "u")
            .select(F.col("v").alias("node"), F.lit(i + 1).cast("long").alias("lvl"))
            .distinct()
        )
        levels = (
            levels.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("lvl").alias("lvl"))
            .transform(iter_checkpoint)
        )
        # True BFS early exit: once no node sits at the new level, every
        # later frontier is empty too — the remaining rounds are pure
        # checkpoint overhead (dense co-purchase graphs have diameter
        # 3-4, so this halves the round count). Identical result: the
        # oracle's depth-8 recursion adds nothing past the fixpoint.
        if levels.where(F.col("lvl") == i + 1).limit(1).count() == 0:
            break
    return levels.select(F.col("node").cast("long"), F.col("lvl").cast("long"))


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing — level+trend double-exponential smoothing
# per user (alpha=0.2, beta=0.1), the 2-state generalization of q_ewma.
# The packed-fold trick makes it oracle-checkable: every element is
# packed (v, l=v, b=0), so element 1 IS the correct fold init, and the
# lambda reads only the observation plus the accumulator state. The l'
# expression is textually duplicated inside b' on BOTH engines — same
# IEEE tree, bit-identical — so level/trend ship as RAW doubles.
# Scale: per-user histories are session-bounded; at unbounded history
# this moves to a per-key GroupState fold (streaming.jobs._fold_by_key).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT user_id,
           CAST(cnt AS BIGINT) AS n_events,
           fin[2] AS level,
           fin[3] AS trend,
           fin[2] + 3 * fin[3] AS forecast_3
    FROM (
        SELECT user_id, count(*) AS cnt,
               list_reduce(
                   list([value, value, CAST(0.0 AS DOUBLE)]
                        ORDER BY ts, event_id),
                   (acc, x) -> [
                       x[1],
                       0.2 * x[1] + 0.8 * (acc[2] + acc[3]),
                       0.1 * ((0.2 * x[1] + 0.8 * (acc[2] + acc[3])) - acc[2])
                            + 0.9 * acc[3]]
               ) AS fin
        FROM events GROUP BY user_id
    ) t
    """
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level+trend) double-exponential smoothing per user with
    a 3-step forecast (ordered list fold).
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: F.struct(
            s.value.cast("double").alias("v"),
            s.value.cast("double").alias("l"),
            F.lit(0.0).alias("b"),
        ),
    )
    l_new = lambda acc, x: F.lit(0.2) * x.v + F.lit(0.8) * (acc.l + acc.b)  # noqa: E731
    fin = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: F.struct(
            x.v.alias("v"),
            l_new(acc, x).alias("l"),
            (F.lit(0.1) * (l_new(acc, x) - acc.l) + F.lit(0.9) * acc.b).alias("b"),
        ),
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        fin.getField("l").alias("level"),
        fin.getField("b").alias("trend"),
        (fin.getField("l") + F.lit(3) * fin.getField("b")).alias("forecast_3"),
    )


# ---------------------------------------------------------------------------
# Clamped inventory balance — per-part running stock where returns ('R')
# restock and other lines draw down, the balance floors at zero, and
# stockout events are counted. A max-plus recurrence with 2-variable
# state (balance, stockouts) — same packed-fold contract as Holt, but in
# exact BIGINT space end-to-end. Scale: one shuffle on partkey;
# per-part movement lists are bounded by order velocity per SF window.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT p_partkey,
           CAST(n_moves AS BIGINT) AS n_moves,
           fin[2] AS end_balance,
           fin[3] AS stockouts
    FROM (
        SELECT l_partkey AS p_partkey, count(*) AS n_moves,
               list_reduce(
                   list([CASE WHEN l_returnflag = 'R'
                              THEN CAST(floor(l_quantity + 0.5) AS BIGINT)
                              ELSE -CAST(floor(l_quantity + 0.5) AS BIGINT)
                         END,
                         greatest(
                             CAST(0 AS BIGINT),
                             CASE WHEN l_returnflag = 'R'
                                  THEN CAST(floor(l_quantity + 0.5) AS BIGINT)
                                  ELSE -CAST(floor(l_quantity + 0.5) AS BIGINT)
                             END),
                         CAST(CASE WHEN l_returnflag <> 'R'
                              THEN 1 ELSE 0 END AS BIGINT)]
                        ORDER BY l_shipdate, l_orderkey, l_linenumber),
                   (acc, x) -> [
                       x[1],
                       greatest(CAST(0 AS BIGINT), acc[2] + x[1]),
                       acc[3] + CASE WHEN acc[2] + x[1] < 0
                                THEN 1 ELSE 0 END]
               ) AS fin
        FROM lineitem GROUP BY l_partkey
    ) t
    """
)
def q_inventory_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running inventory balance per part: signed quantity fold flags
    stockouts in ship-date order.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R",
            F.floor(F.col("l_quantity") + 0.5).cast("long"),
        )
        .otherwise(-F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .alias("d"),
    )
    zero = F.lit(0).cast("long")
    arr = F.transform(
        F.array_sort(
            F.collect_list(F.struct("l_shipdate", "l_orderkey", "l_linenumber", "d"))
        ),
        lambda s: F.struct(
            s.d.alias("d"),
            F.greatest(zero, s.d).alias("bal"),
            F.when(s.d < 0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("so"),
        ),
    )
    fin = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: F.struct(
            x.d.alias("d"),
            F.greatest(zero, acc.bal + x.d).alias("bal"),
            (acc.so + F.when(acc.bal + x.d < 0, 1).otherwise(0).cast("long")).alias(
                "so"
            ),
        ),
    )
    return li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.count("*").alias("n_moves"),
        fin.getField("bal").alias("end_balance"),
        fin.getField("so").alias("stockouts"),
    )


# ---------------------------------------------------------------------------
# Grid-cell spatial kNN — top-3 nearest customers by planar distance,
# the scalable spatial-join shape: points hash to fixed grid cells, each
# probe expands to its 3x3 cell neighborhood (a 9-row explode, then an
# equi-join on cell id — never an all-pairs or theta join), and a
# per-cell candidate cap (64, first-by-key) bounds pair volume linearly
# in the point count — the same boilerplate-guard idiom as
# recommend.py's max_basket. Coordinates derive from a Lehmer LCG on the
# key and distances stay in exact BIGINT (squared milli-degrees): no
# transcendental haversine, whose libm results are not bit-portable
# across engines. At 100 TB the cell id is also the natural partition /
# Z-order key (q_zorder_key).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey * 48271) % 180000 AS xi,
               (c_custkey * 16807) % 360000 AS yi
        FROM customer
    ),
    cells AS (
        SELECT c_custkey, xi, yi,
               CAST(floor(xi / 7500.0) AS BIGINT) AS cx,
               CAST(floor(yi / 7500.0) AS BIGINT) AS cy
        FROM pts
    ),
    kept AS (
        SELECT * FROM (
            SELECT c_custkey, xi, yi, cx, cy,
                   row_number() OVER (
                       PARTITION BY cx, cy ORDER BY c_custkey) AS rn
            FROM cells
        ) WHERE rn <= 64
    ),
    cand AS (
        SELECT p.c_custkey AS src, k.c_custkey AS nbr,
               (p.xi - k.xi) * (p.xi - k.xi)
               + (p.yi - k.yi) * (p.yi - k.yi) AS d2
        FROM cells p
        JOIN kept k
          ON k.cx BETWEEN p.cx - 1 AND p.cx + 1
         AND k.cy BETWEEN p.cy - 1 AND p.cy + 1
         AND k.c_custkey <> p.c_custkey
    )
    SELECT src, nbr, d2, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT src, nbr, d2,
               row_number() OVER (
                   PARTITION BY src ORDER BY d2, nbr) AS rn
        FROM cand
    ) WHERE rn <= 3
    """
)
def q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed geo k-NN: nearest 3 customers per probe point using
    3x3 neighbor-cell candidates only.
    """
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 48271 % 180000).alias("xi"),
        (F.col("c_custkey") * 16807 % 360000).alias("yi"),
    )
    cells = cust.select(
        "c_custkey",
        "xi",
        "yi",
        F.floor(F.col("xi") / 7500.0).alias("cx"),
        F.floor(F.col("yi") / 7500.0).alias("cy"),
    )
    wcell = Window.partitionBy("cx", "cy").orderBy("c_custkey")
    kept = (
        cells.withColumn("rn", F.row_number().over(wcell))
        .where(F.col("rn") <= 64)
        .select(
            F.col("c_custkey").alias("nbr"),
            F.col("xi").alias("xj"),
            F.col("yi").alias("yj"),
            "cx",
            "cy",
        )
    )
    # probe side: 9-row neighborhood explode -> plain equi-join on cell
    probe = cells.select(
        F.col("c_custkey").alias("src"),
        "xi",
        "yi",
        F.explode(
            F.array(*[F.lit(d) for d in (-1, 0, 1)])
        ).alias("dx"),
        "cx",
        "cy",
    ).select(
        "src",
        "xi",
        "yi",
        (F.col("cx") + F.col("dx")).alias("cx"),
        F.explode(
            F.array(*[(F.col("cy") + F.lit(d)) for d in (-1, 0, 1)])
        ).alias("cy"),
    )
    cand = probe.join(kept, ["cx", "cy"]).where(F.col("src") != F.col("nbr"))
    d2 = (F.col("xi") - F.col("xj")) * (F.col("xi") - F.col("xj")) + (
        F.col("yi") - F.col("yj")
    ) * (F.col("yi") - F.col("yj"))
    wsrc = Window.partitionBy("src").orderBy("d2", "nbr")
    return (
        cand.select("src", "nbr", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(wsrc).cast("long"))
        .where(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonal decomposition — per event type, each weekday's
# spend index relative to the type's overall daily mean. Both factors
# are exact integer (cent-sum, count) ratios combined in one shared
# double expression. Scale: two hash aggregates over the fact table,
# a 5-row broadcast back — nothing keyed wider than (type, dow).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    bydow AS (
        SELECT event_type, dayofweek(day) AS dow,
               CAST(sum(cents) AS BIGINT) AS dow_cents,
               count(*) AS dow_days
        FROM daily GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(sum(cents) AS BIGINT) AS tot_cents,
               count(*) AS tot_days
        FROM daily GROUP BY 1
    )
    SELECT b.event_type, CAST(b.dow AS INTEGER) AS dow,
           b.dow_cents, CAST(b.dow_days AS BIGINT) AS dow_days,
           CAST(b.dow_cents AS DOUBLE) * t.tot_days
               / (CAST(b.dow_days AS DOUBLE) * t.tot_cents) AS dow_index
    FROM bydow b JOIN tot t ON b.event_type = t.event_type
    """
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition of daily cents: day-of-week means as the
    seasonal component, residual variance reported.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))
    bydow = daily.groupBy(
        "event_type", (F.dayofweek("day") - 1).cast("int").alias("dow")
    ).agg(F.sum("cents").alias("dow_cents"), F.count("*").alias("dow_days"))
    tot = daily.groupBy("event_type").agg(
        F.sum("cents").alias("tot_cents"), F.count("*").alias("tot_days")
    )
    return bydow.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "dow_cents",
        "dow_days",
        (
            F.col("dow_cents").cast("double")
            * F.col("tot_days")
            / (F.col("dow_days").cast("double") * F.col("tot_cents"))
        ).alias("dow_index"),
    )


# ---------------------------------------------------------------------------
# Stream-static dimension join (streaming/jobs.py:run_stream_static_join)
# — live events enriched against a broadcast customer-segment snapshot,
# aggregated per (segment, event_type). Stateless on the join (the
# static side re-resolves per micro-batch; no join state), stateful only
# in the aggregate; over the finite source in complete mode the result
# equals the batch join+GROUP BY the oracle runs.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: live events joined to the customer-segment
    dimension, aggregated per segment.
    """
    from review_engine_spark.streaming.jobs import run_stream_static_join

    return run_stream_static_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# Hierarchy (BOM) rollup — subtree revenue for every node of the part
# assembly tree (parent of k = k >> 1, root 1). Instead of an iterative
# bottom-up aggregation or a recursive join, each part's pre-aggregated
# revenue explodes to its ancestor-or-self CHAIN (k >> g, g = 0..39 —
# pure integer shifts, depth = log2(catalog)), then one hash aggregate
# per ancestor. Fixed-depth denormalization is THE scalable shape for
# hierarchy rollups: per-row fanout is log-bounded, there is exactly one
# shuffle, and no join or iteration at all — at 100 TB the explode runs
# on the (catalog-bounded) per-part rollup, never the fact table.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH rev AS (
        SELECT l_partkey + 1 AS k,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                              + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY 1
    ),
    anc AS (
        SELECT r.k, r.cents, r.k >> g AS a
        FROM rev r, generate_series(0, 39) s(g)
        WHERE (r.k >> g) >= 1
    )
    SELECT a AS node,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(cents) AS BIGINT) AS subtree_cents
    FROM anc GROUP BY a
    """
)
def q_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials rollup: revenue cascaded up a synthetic parent
    chain (k -> k/2) by iterated self-joins.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    # node ids are partkey+1: the fixture's keys are 0-based, and node 0
    # would shift to itself forever — it must not be a silent orphan
    rev = li.groupBy((F.col("l_partkey") + 1).alias("k")).agg(
        F.sum(
            F.expr(_CENTS.format(x="l_extendedprice * (1 - l_discount)"))
        ).alias("cents")
    )
    anc = rev.select(
        "cents",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 39), g -> shiftright(k, g)),"
                " a -> a >= 1)"
            )
        ).alias("a"),
    )
    return anc.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("n_members"),
        F.sum("cents").alias("subtree_cents"),
    )


# ---------------------------------------------------------------------------
# SQL scripting (Spark 4 procedural SQL) — bisection search for the
# smallest 10-unit price threshold covering half the orders, run as a
# BEGIN/DECLARE/WHILE script: each probe is a full declarative COUNT the
# cluster executes in parallel; only the ~16-step bisection control flow
# is procedural (log2 of the price range — the loop never scans rows
# itself). The oracle derives the same threshold in closed form from the
# explicit k-th order statistic: f(t) = count(price <= t) is monotone,
# so the smallest qualifying multiple of 10 is 10*ceil(x_k/10) for the
# first rank with rank*2 >= n.
#
# The probe view is a checkpointed 1-column projection (one DOUBLE per
# order), so the seed passes and the script's scans read memory instead
# of re-reading parquet. This query exists to exercise the SQL-scripting
# surface; the PRODUCTION form of the computation is the oracle's
# one-pass exact percentile (a single order-statistic scan — see
# q_spend_deciles / q_percentile_norm for the engine-side idiom).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH o AS (
        SELECT o_totalprice AS p,
               row_number() OVER (ORDER BY o_totalprice) AS rn,
               count(*) OVER () AS c
        FROM orders
    ),
    kth AS (
        SELECT p, c FROM o WHERE rn * 2 >= c ORDER BY rn LIMIT 1
    )
    SELECT CAST(10 * ceil(p / 10.0) AS BIGINT) AS threshold,
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice <= 10 * ceil(kth.p / 10.0)) AS DOUBLE)
               / c AS covered_frac
    FROM kth
    """
)
def q_sql_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-statement SQL-script surface: temp-view pipeline computing a
    checkpointed percentile probe (spark.sql driven).
    """
    orders = read_parquet_table(spark, sf_dir, "orders")
    probe = iter_checkpoint(orders.select("o_totalprice"))
    # Seed pass 1: n, a fallback upper bound, and a tight approximate
    # bracket around the median (rank error <= n/1e5, vs the 0.005*n
    # margin the 0.495/0.505 pair leaves — 500x slack). 1 row: bounded.
    s = probe.agg(
        F.count("*").alias("n"),
        F.expr("CAST(10 * ceil(max(o_totalprice) / 10.0) AS BIGINT)").alias("hmax"),
        F.expr(
            "percentile_approx(o_totalprice, array(0.495, 0.505), 10000)"
        ).alias("pa"),
    ).collect()[0]
    n, hmax = s["n"], s["hmax"]
    lo0 = 10 * int(math.floor(s["pa"][0] / 10.0))
    hi0 = 10 * int(math.ceil(s["pa"][1] / 10.0))
    if hi0 - lo0 <= 10:
        lo0, hi0 = 0, hmax
    # Seed pass 2: EXACT counts at the bracket ends. If the approximate
    # bracket ever violated the bisection invariant f(lo)*2 < n <=
    # f(hi)*2 (it cannot, per the sketch's rank guarantee, but the
    # invariant is what correctness rests on), fall back to the full
    # range, whose counts are known (0 and n) without another scan.
    c = probe.agg(
        F.expr(f"count_if(o_totalprice <= {lo0})").alias("flo"),
        F.expr(f"count_if(o_totalprice <= {hi0})").alias("fhi"),
    ).collect()[0]
    flo, fhi = c["flo"], c["fhi"]
    if not (2 * flo < n <= 2 * fhi):
        lo0, hi0, fhi = 0, hmax, n
    # 32-ary search: each WHILE pass buckets every order into one of 33
    # pivot intervals in ONE memory scan (exact integer-cents
    # arithmetic, so pivot-boundary rows land deterministically), takes
    # the cumulative bucket counts as f(pivot_i) for all 32 pivots at
    # once, and shrinks [lo, hi] ~32x — 2 data passes for the seeded
    # bracket instead of the ~16 sequential COUNTs a binary bisection
    # issues. The struct variable carries (lo, hi, f(hi)) so the loop
    # body is a single SET and the final SELECT touches no data. AQE is
    # disabled around the script EXECUTION: each scripting statement runs
    # its own tiny query, and adaptive re-planning roughly doubles that
    # fixed per-statement cost for zero benefit on 1-row results. The
    # shuffle width is pinned to 1 for the same reason: every exchange
    # inside the script moves <= 33 histogram rows. The CompoundBody plan
    # is lazy and re-executes on every collect, so the script is
    # materialized INSIDE the pinned region (1 row) and the caller gets a
    # driver-built DataFrame — returning the lazy plan would restore the
    # confs before any statement ever ran under them.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    shuf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    view = "v_script_orders"
    probe.createOrReplaceTempView(view)
    try:
        row = spark.sql(f"""
        BEGIN
          DECLARE w BIGINT;
          DECLARE br STRUCT<nlo BIGINT, nhi BIGINT, chi BIGINT>
              DEFAULT named_struct('nlo', CAST({lo0} AS BIGINT),
                                   'nhi', CAST({hi0} AS BIGINT),
                                   'chi', CAST({fhi} AS BIGINT));
          WHILE br.nhi - br.nlo > 10 DO
            SET w = 10 * (((br.nhi - br.nlo) DIV 10 + 31) DIV 32);
            SET br = (
              WITH h AS (
                SELECT greatest(CAST(0 AS BIGINT), least(CAST(32 AS BIGINT),
                         (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          - br.nlo * 100 + w * 100 - 1) DIV (w * 100))) AS mi,
                       count(*) AS c
                FROM {view}
                GROUP BY 1
              ),
              f AS (
                SELECT i, br.nlo + i * w AS p,
                       sum(CASE WHEN h.mi <= i THEN h.c ELSE 0 END) AS fc
                FROM (SELECT explode(sequence(1, 32)) AS i) JOIN h ON true
                WHERE br.nlo + i * w < br.nhi
                GROUP BY 1, 2
              )
              SELECT named_struct(
                  'nlo', coalesce(max(CASE WHEN 2 * fc < {n} THEN p END),
                                  br.nlo),
                  'nhi', coalesce(min(CASE WHEN 2 * fc >= {n} THEN p END),
                                  br.nhi),
                  'chi', coalesce(min(CASE WHEN 2 * fc >= {n} THEN fc END),
                                  br.chi))
              FROM f);
          END WHILE;
          SELECT br.nhi AS threshold,
                 CAST(br.chi AS DOUBLE) / {n} AS covered_frac;
        END
        """).collect()[0]
    finally:
        spark.catalog.dropTempView(view)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.shuffle.partitions", shuf)
    return spark.createDataFrame(
        [(int(row["threshold"]), float(row["covered_frac"]))],
        schema="threshold BIGINT, covered_frac DOUBLE",
    )


# ---------------------------------------------------------------------------
# Collated aggregation (Spark 4 string collations) — case-insensitive
# revenue rollup per part name via UTF8_LCASE, over a deterministically
# case-mangled name column (even keys uppercase). The collation drives
# the GROUP BY hash/equality in the JVM (no lower() materialized on the
# grouping path); the emitted key is lower()-normalized because the
# surviving representative within a collation group is
# partitioning-dependent. Oracle mirrors with lower() grouping.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT lower(p_name) AS name_ci,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM (
        SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name)
                    ELSE p_name END AS p_name,
               p_retailprice
        FROM part
    ) GROUP BY lower(p_name)
    """
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive collation group-by: mixed-case part names folded
    with lower() before aggregating.
    """
    part = read_parquet_table(spark, sf_dir, "part").select(
        F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name"))
        .otherwise(F.col("p_name"))
        .alias("p_name"),
        "p_retailprice",
    )
    return (
        part.groupBy(F.expr("p_name COLLATE UTF8_LCASE").alias("k"))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(F.expr(_CENTS.format(x="p_retailprice"))).alias("price_cents"),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("name_ci"),
            "n_parts",
            "price_cents",
        )
    )


# ---------------------------------------------------------------------------
# Custom STREAMING Python data source (PySpark 4
# SimpleDataSourceStreamReader) — the streaming half of the
# q_python_datasource connector: offsets are row positions, each
# micro-batch advances ≤100 rows, and readBetweenOffsets regenerates
# any committed slice, which is the deterministic-replay contract that
# gives a custom source exactly-once recovery. Drained over the finite
# 1000-row LCG stream, the appended result equals the batch read — the
# same closed-form oracle replays it.
# ---------------------------------------------------------------------------
@declared(oracle=SYNTHETIC_SOURCE_ORACLE)
def q_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PySpark DataSource (synthetic range stream):
    partition-parallel generated rows with an LCG value column.
    """
    from review_engine_spark.sources.python_datasource import (
        register_synthetic_source,
    )
    from review_engine_spark.streaming.jobs import _snapshot

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("parts", "4")
        .option("rows_per_part", "250")
        .option("rows_per_batch", "100")
        .load()
    )
    return _snapshot(spark, stream, "append", "python_stream_source_out")


# ---------------------------------------------------------------------------
# Year-over-year growth — revenue per (brand, year) with the prior
# year's figure and growth rate via a lag window partitioned by brand.
# Growth is one shared double expression over exact cent integers (NULL
# for a brand's first year / a zero prior year). Scale: one shuffle for
# the rollup, one per-brand window over a years-per-brand-sized
# partition — calendar-bounded.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH yr AS (
        SELECT p.p_brand, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                              * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    )
    SELECT p_brand, yr, cents,
           lag(cents) OVER w AS prev_cents,
           CASE WHEN lag(cents) OVER w > 0
                THEN CAST(cents - lag(cents) OVER w AS DOUBLE)
                     / lag(cents) OVER w
           END AS yoy_growth
    FROM yr
    WINDOW w AS (PARTITION BY p_brand ORDER BY yr)
    """
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per brand: lag over yearly sums with
    null first year.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    orders = read_parquet_table(spark, sf_dir, "orders")
    part = read_parquet_table(spark, sf_dir, "part")
    yr = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == orders.o_orderkey)
        .join(part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.sum(
                F.expr(_CENTS.format(x="l_extendedprice * (1 - l_discount)"))
            ).alias("cents")
        )
    )
    w = Window.partitionBy("p_brand").orderBy("yr")
    prev = F.lag("cents").over(w)
    return yr.select(
        "p_brand",
        "yr",
        "cents",
        prev.alias("prev_cents"),
        F.when(prev > 0, (F.col("cents") - prev).cast("double") / prev).alias(
            "yoy_growth"
        ),
    )


# ---------------------------------------------------------------------------
# New vs returning customers — per month, how many ordering customers
# are placing their FIRST order vs coming back. First-order month is a
# per-customer min aggregate joined back to the distinct
# (month, customer) activity — an equi-join on custkey, no window over
# the fact table. Scale: two hash aggregates + one key join.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH act AS (
        SELECT DISTINCT o_custkey,
               date_trunc('month', o_orderdate) AS mon
        FROM orders
    ),
    first AS (
        SELECT o_custkey, min(mon) AS first_mon FROM act GROUP BY 1
    )
    SELECT a.mon,
           CAST(count(*) AS BIGINT) AS active_customers,
           CAST(sum(CASE WHEN a.mon = f.first_mon THEN 1 ELSE 0 END)
                AS BIGINT) AS new_customers,
           CAST(sum(CASE WHEN a.mon <> f.first_mon THEN 1 ELSE 0 END)
                AS BIGINT) AS returning_customers
    FROM act a JOIN first f ON f.o_custkey = a.o_custkey
    GROUP BY a.mon
    """
)
def q_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning customer counts per month (first-activity month
    comparison).
    """
    orders = read_parquet_table(spark, sf_dir, "orders")
    # month stays TIMESTAMP on both engines: a DATE output column would
    # canonicalize as datetime.date on the Spark side but datetime64 via
    # DuckDB's fetchdf (pandas has no date dtype) and hash-mismatch
    act = orders.select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("mon")
    ).distinct()
    first = act.groupBy("o_custkey").agg(F.min("mon").alias("first_mon"))
    j = act.join(first, "o_custkey")
    is_new = F.when(F.col("mon") == F.col("first_mon"), 1).otherwise(0)
    return j.groupBy("mon").agg(
        F.count("*").alias("active_customers"),
        F.sum(is_new).alias("new_customers"),
        F.sum(1 - is_new).alias("returning_customers"),
    )


# ---------------------------------------------------------------------------
# Croston's method — intermittent-demand forecasting per part: separate
# exponential smoothing of the demand SIZE (z) and the inter-demand
# INTERVAL in days (p), forecast rate = z/p per day. A 3-state fold
# (previous demand day, z, p) under the list-accumulator contract:
# elements pack [day, qty, day, qty, 1.0] so element 1 is the correct
# init (first gap undefined -> interval starts at 1), and day math stays
# in exact epoch-day integers widened to double. Scale: one shuffle on
# partkey; per-part movement lists are SF-window-bounded.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT p_partkey,
           CAST(cnt AS BIGINT) AS n_demands,
           fin[4] AS demand_level,
           fin[5] AS interval_days,
           fin[4] / fin[5] AS daily_rate
    FROM (
        SELECT l_partkey AS p_partkey, count(*) AS cnt,
               list_reduce(
                   list([CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                              AS DOUBLE),
                         l_quantity,
                         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                              AS DOUBLE),
                         l_quantity,
                         CAST(1.0 AS DOUBLE)]
                        ORDER BY l_shipdate, l_orderkey, l_linenumber),
                   (acc, x) -> [
                       x[1], x[2], x[1],
                       0.2 * x[2] + 0.8 * acc[4],
                       0.2 * (x[1] - acc[3]) + 0.8 * acc[5]]
               ) AS fin
        FROM lineitem GROUP BY l_partkey
    ) t
    """
)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per part: EWMA of demand sizes
    and inter-demand intervals (bit-identical folds).
    """
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
        .cast("double")
        .alias("day"),
        "l_shipdate",
    )
    arr = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct("l_shipdate", "l_orderkey", "l_linenumber", "day", "l_quantity")
            )
        ),
        lambda s: F.struct(
            s.day.alias("day"),
            s.l_quantity.cast("double").alias("qty"),
            s.day.alias("prev"),
            s.l_quantity.cast("double").alias("z"),
            F.lit(1.0).alias("p"),
        ),
    )
    fin = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: F.struct(
            x.day.alias("day"),
            x.qty.alias("qty"),
            x.day.alias("prev"),
            (F.lit(0.2) * x.qty + F.lit(0.8) * acc.z).alias("z"),
            (F.lit(0.2) * (x.day - acc.prev) + F.lit(0.8) * acc.p).alias("p"),
        ),
    )
    return li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.count("*").alias("n_demands"),
        fin.getField("z").alias("demand_level"),
        fin.getField("p").alias("interval_days"),
        (fin.getField("z") / fin.getField("p")).alias("daily_rate"),
    )


# ---------------------------------------------------------------------------
# Dense report — dimension densification: every (brand x month) cell of
# the reporting grid, zero-filled where no sales occurred. The spine is
# a cross join of two BOUNDED dimension sets (catalog brands x calendar
# months — fine to cross join; the fact table never is), left-joined to
# the revenue rollup. The classic fix for "missing rows read as missing
# data" in downstream charts/models. Scale: one fact rollup shuffle; the
# spine is |brands| x |months| rows.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH rev AS (
        SELECT p.p_brand, date_trunc('month', o.o_orderdate) AS mon,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                              * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
               count(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    brands AS (SELECT DISTINCT p_brand FROM part),
    months AS (SELECT DISTINCT date_trunc('month', o_orderdate) AS mon
               FROM orders)
    SELECT b.p_brand, m.mon,
           coalesce(r.cents, 0) AS cents,
           CAST(coalesce(r.n_lines, 0) AS BIGINT) AS n_lines,
           CASE WHEN r.cents IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM brands b
    CROSS JOIN months m
    LEFT JOIN rev r ON r.p_brand = b.p_brand AND r.mon = m.mon
    """
)
def q_dense_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense brand x month revenue report: zero-filled cross of observed
    brands and months (cross join + outer join).
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    orders = read_parquet_table(spark, sf_dir, "orders")
    part = read_parquet_table(spark, sf_dir, "part")
    rev = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == orders.o_orderkey)
        .join(part.select("p_partkey", "p_brand"), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(
            F.sum(
                F.expr(_CENTS.format(x="l_extendedprice * (1 - l_discount)"))
            ).alias("cents"),
            F.count("*").alias("n_lines"),
        )
    )
    brands = part.select("p_brand").distinct()
    months = orders.select(
        F.date_trunc("month", "o_orderdate").alias("mon")
    ).distinct()
    spine = brands.crossJoin(F.broadcast(months))
    return spine.join(rev, ["p_brand", "mon"], "left").select(
        "p_brand",
        "mon",
        F.coalesce("cents", F.lit(0)).alias("cents"),
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        F.when(F.col("cents").isNull(), 1).otherwise(0).alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users per event type by day — "users ever seen"
# growth curves. Distinct-over-an-expanding-window cannot
# window-aggregate, so the scalable form maps each (type, user) to its
# FIRST-appearance day (one hash aggregate), counts first-appearances
# per (type, day), and runs a per-type calendar-bounded running sum —
# the fact table is never windowed.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH fd AS (
        SELECT event_type, user_id, min(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY event_type, user_id
    ),
    per_day AS (
        SELECT event_type, first_day AS day,
               CAST(count(*) AS BIGINT) AS new_users
        FROM fd GROUP BY event_type, first_day
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM per_day
    """
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — running count of
    first appearances.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    # day keys stay TIMESTAMP (see q_new_returning: DATE outputs
    # canonicalize differently across the two engines)
    fd = ev.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    per_day = fd.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "event_type",
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# DAU / MAU stickiness — daily active users over trailing-28-day active
# users. A sliding-window DISTINCT cannot partial-aggregate, so each
# (user, active day) contributes itself to the 28 future report days
# via a bounded explode (28x the DISTINCT user-day table, not the fact
# table), then one distinct count per report day. Ratios are exact
# integer divisions in one shared expression.
#
# YARDSTICK-ONLY AT STRESS SCALE: the exact rolling form measured 23.6x
# at the 100x stress input (SCALING.md round-7 chunk — the 28x contrib
# explode plus a per-report-day distinct over ~a month of users cannot
# partial-aggregate). The shippable 100 TB path is q_dau_mau_hll
# (roster_retrieval.py): per-day HLL register sketches compressed once,
# rolled up with a calendar-bounded max — its MAU estimate is pinned
# within the 3-sigma band of THIS query's exact MAU in
# tests/test_operators.py. Same exact/approx split as q_als_recommend's
# SRP scorer, whose recall is pinned against MLlib's exact
# recommendForAllUsers: keep the exact form as the yardstick, ship the
# sketch.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
        SELECT ud.user_id, ud.day + INTERVAL (i) DAY AS rday
        FROM ud, generate_series(0, 27) s(i)
    ),
    mau AS (
        SELECT c.rday AS day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
        FROM contrib c JOIN days d ON d.day = c.rday
        GROUP BY c.rday
    ),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT d.day, d.dau, m.mau,
           CAST(d.dau AS DOUBLE) / m.mau AS stickiness
    FROM dau d JOIN mau m ON m.day = d.day
    """
)
def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU/MAU stickiness ratio per day from distinct
    daily/trailing-30-day actives.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("i"),
        "day",
    ).select("user_id", F.expr("timestampadd(DAY, i, day)").alias("rday"))
    mau = (
        contrib.join(F.broadcast(days), contrib.rday == days.day)
        .groupBy("rday")
        .agg(F.count_distinct("user_id").alias("mau"))
        .select(F.col("rday").alias("day"), "mau")
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(mau, "day").select(
        "day",
        "dau",
        "mau",
        (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
    )


_DEG_SQL = f"""
    {_BFS_EDGE_SQL},
    deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        FROM edges GROUP BY u
    )
"""


# ---------------------------------------------------------------------------
# Degree distribution — decimal-digit-bucketed histogram of co-purchase
# degrees (1-9, 10-99, ...): the bucket key is the digit COUNT of the
# integer degree, deterministic on both engines with no libm log call.
# Scale: edge aggregation + a |buckets|-row rollup.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_DEG_SQL.strip()}
    SELECT CAST(length(CAST(degree AS VARCHAR)) AS INTEGER) AS digits,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """
)
def q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer-part graph: how many parts have k
    buyers.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("degree")
    )
    return deg.groupBy(
        F.length(F.col("degree").cast("string")).cast("int").alias("digits")
    ).agg(
        F.count("*").alias("n_nodes"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# Degree assortativity — Pearson correlation of endpoint degrees over
# the directed edge list: positive = hubs link to hubs. All five moment
# sums are exact BIGINTs over the edges (degree joins are plain
# equi-joins); the final expression (one shared formula, IEEE sqrt is
# correctly rounded so it IS bit-portable, unlike log/exp) runs once on
# the 1-row aggregate.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_DEG_SQL.strip()}
    ,
    ed AS (
        SELECT du.degree AS dx, dv.degree AS dy
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
               CAST(sum(dx * dy) AS BIGINT) AS sxy,
               CAST(sum(dx * dx) AS BIGINT) AS sxx,
               CAST(sum(dy * dy) AS BIGINT) AS syy
        FROM ed
    )
    SELECT n AS n_edges,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
               AS assortativity
    FROM m
    """
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-part graph: Pearson correlation
    of endpoint degrees over edges.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("degree")
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dy"))
    ed = edges.join(du, "u").join(dv, "v")
    m = ed.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        F.col("n").alias("n_edges"),
        (
            (n * F.col("sxy") - sx * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - sx * F.col("sx"))
                * F.sqrt(n * F.col("syy") - sy * F.col("sy"))
            )
        ).alias("assortativity"),
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled-CTE replay of the bounded k-core peel: a0 = all nodes,
    then per round the degree of each surviving node counted against
    the surviving set, keep deg >= k. Output = survivors after
    ``rounds`` peels with their final within-core degree (the same
    "after R rounds" semantics the Spark loop implements — a converged
    peel is a fixed point, so extra unrolled rounds are no-ops and the
    two engines agree whether convergence happened early or not).

    Every round CTE is AS MATERIALIZED: each ``d{i}`` references
    ``a{i-1}`` twice and DuckDB INLINES non-materialized CTEs per
    reference, so the plain form re-executes the whole upstream chain
    2^rounds times (measured: 84.8 s plain vs 0.2 s materialized at
    sf0.01 — an exponential, not a constant)."""
    parts = [
        _BFS_EDGE_SQL.strip().lstrip().replace(
            "edges AS (", "edges AS MATERIALIZED ("
        ),
        "a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges)",
    ]
    for i in range(1, rounds + 1):
        parts += [
            f"""d{i} AS MATERIALIZED (
        SELECT e.u AS node, count(*) AS deg
        FROM edges e
        JOIN a{i - 1} x ON e.u = x.node
        JOIN a{i - 1} y ON e.v = y.node
        GROUP BY e.u
    )""",
            f"a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})",
        ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    df AS (
        SELECT e.u AS node, count(*) AS deg
        FROM edges e
        JOIN a{rounds} x ON e.u = x.node
        JOIN a{rounds} y ON e.v = y.node
        GROUP BY e.u
    )
    SELECT node AS user_id, CAST(deg AS BIGINT) AS core_degree FROM df
    """
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel) — the classic graph-curation pass
# that strips low-engagement periphery before community/influence work:
# repeatedly delete nodes with fewer than k surviving neighbors. Runs
# the iterative peel with early exit at the fixed point (alive only
# shrinks, so equal counts = equal sets); the oracle unrolls the same
# R rounds, and a converged peel makes the extra rounds no-ops, so both
# engines agree in either case. Scale: each round is two keys-only
# semi-joins + one count per node — no pair explosion; edge table
# checkpointed once, alive frontier checkpointed per round (the BFS
# iterative-loop doctrine).
# ---------------------------------------------------------------------------
@declared(oracle=_kcore_oracle(k=3, rounds=6))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the customer co-purchase graph after a bounded 6-round
    peel: surviving customers with their within-core degree."""
    # Checkpoint the edges once: every round semi-joins them, and would
    # otherwise re-run the edge pipeline per round (see q_bfs_levels on
    # why the checkpoint is not pre-partitioned by "u").
    edges = iter_checkpoint(_copurchase_edges(spark, sf_dir))
    alive = edges.select(F.col("u").alias("node")).distinct()
    n_alive = alive.count()
    for i in range(6):
        au = alive.select(F.col("node").alias("u"))
        av = alive.select(F.col("node").alias("v"))
        deg = (
            edges.join(au, "u", "left_semi")
            .join(av, "v", "left_semi")
            .groupBy("u")
            .agg(F.count("*").alias("deg"))
        )
        new_alive = iter_checkpoint(
            deg.filter(F.col("deg") >= 3).select(F.col("u").alias("node"))
        )
        n_new = new_alive.count()
        alive = new_alive
        if n_new == n_alive:
            break  # fixed point: the peel is monotone shrinking
        n_alive = n_new
    au = alive.select(F.col("node").alias("u"))
    av = alive.select(F.col("node").alias("v"))
    return (
        edges.join(au, "u", "left_semi")
        .join(av, "v", "left_semi")
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("core_degree"))
        .select(F.col("u").alias("user_id"), "core_degree")
    )


#: Adamic–Adar discounts in micro units: round(1e6 / ln(deg)) for part
#: buyer-degrees 2..20 (the co-purchase graph's rare-item blocking
#: band), precomputed ONCE and hardcoded as integer literals on BOTH
#: engines — per-pair scores are exact BIGINT sums, no libm ln on any
#: compare path (the q_ndcg_eval discount-table convention).
_AA_W_MICRO = [
    1442695, 910239, 721348, 621335, 558111, 513898, 480898, 455120,
    434294, 417032, 402430, 389871, 378923, 369269, 360674, 352956,
    345976, 339623, 333808,
]

_AA_W_CASE = " ".join(
    f"WHEN {d} THEN {w}" for d, w in enumerate(_AA_W_MICRO, start=2)
)


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction — "which customers does u most resemble"
# scored over shared parts: AA(u, v) = sum over co-purchased parts p of
# 1/ln(buyers(p)) (rarer shared parts say more than bestsellers). The
# bipartite form of the classic common-neighbors predictor; same
# rare-item blocking band ([2, 20] buyers) as the co-purchase graph, so
# per-part pair volume is capped at C(20,2) and the only corpus-scaled
# shuffle is keyed by the packed (u, v) pair. Discounts are hardcoded
# micro-unit integers -> exact BIGINT scores, deterministic top-3 cut.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH up AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    keep AS (
        SELECT p, CASE count(*) {_AA_W_CASE} END AS w
        FROM up GROUP BY p HAVING count(*) BETWEEN 2 AND 20
    ),
    pr AS (
        SELECT a.u AS u, b.u AS v, k.w
        FROM up a JOIN keep k ON a.p = k.p
        JOIN up b ON b.p = a.p AND a.u < b.u
    ),
    agg AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
               CAST(sum(w) AS BIGINT) AS aa_micro
        FROM pr GROUP BY u, v
    ),
    sym AS (
        SELECT u, v, n_common, aa_micro FROM agg
        UNION ALL
        SELECT v AS u, u AS v, n_common, aa_micro FROM agg
    )
    SELECT u AS user_id, v AS partner_id, n_common, aa_micro, rank FROM (
        SELECT *,
               CAST(row_number() OVER (
                   PARTITION BY u ORDER BY aa_micro DESC, v
               ) AS BIGINT) AS rank
        FROM sym
    ) WHERE rank <= 3
    """
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the customer co-purchase
    bipartite graph: top-3 most-similar customers per customer, scored
    by summed inverse-log rarity of shared parts. Exact-integer
    discount table (micro units) on both engines; pair enumeration is
    the packed-BIGINT array expansion (no self-join)."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    up = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            li.select("l_orderkey", "l_partkey"),
            orders.o_orderkey == li.l_orderkey,
        )
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    per_part = (
        up.groupBy("p")
        .agg(
            F.array_sort(F.collect_list("u")).alias("us"),
            F.count("*").alias("deg"),
        )
        .where(F.col("deg").between(2, 20))
    )
    warr = F.array(*[F.lit(w) for w in _AA_W_MICRO])
    pair_arr = F.flatten(
        F.transform(
            F.col("us"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("us"), i + 2,
                    F.greatest(F.size("us") - i - 1, F.lit(0)),
                ),
                lambda y: pack_pair(x, y),
            ),
        )
    )
    u_dec, v_dec = unpack_pair("uu")
    agg = (
        per_part.select(
            F.element_at(warr, (F.col("deg") - 1).cast("int")).alias("w"),
            F.explode(pair_arr).alias("uu"),
        )
        .select(u_dec.alias("u"), v_dec.alias("v"), "w")
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("n_common"),
            F.sum("w").alias("aa_micro"),
        )
    )
    sym = agg.unionByName(
        agg.select(
            F.col("v").alias("u"), F.col("u").alias("v"),
            "n_common", "aa_micro",
        )
    )
    w = Window.partitionBy("u").orderBy(F.desc("aa_micro"), F.asc("v"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("u").alias("user_id"),
            F.col("v").alias("partner_id"),
            "n_common",
            "aa_micro",
            "rank",
        )
    )


#: Holt-Winters lambda (shared textual form on both engines):
#: slots [1]=dow, [2]=x, [3]=level, [4]=trend, [5+j]=seasonal_j.
_HW_LP = "0.3 * (x[2] - acc[CAST(5 + x[1] AS BIGINT)]) + 0.7 * (acc[3] + acc[4])"
_HW_SJ = "\n".join(
    f"                       CASE WHEN x[1] = {j} THEN"
    f" 0.2 * (x[2] - ({_HW_LP})) + 0.8 * acc[{5 + j}]"
    f" ELSE acc[{5 + j}] END,"
    for j in range(7)
)


# ---------------------------------------------------------------------------
# Additive Holt-Winters — level + trend + day-of-week seasonality per
# event type, the full triple-exponential recurrence as ONE grouped
# fold: the accumulator is an 11-slot DOUBLE list ([dow, x, l, b,
# s_0..s_6]) whose seasonal slot is read with a DYNAMIC index
# (acc[5 + dow], probed sound inside DuckDB list_reduce) and written by
# a per-slot CASE. The l' expression is textually duplicated into b',
# every seasonal case, and the forecast on BOTH engines — same IEEE
# tree, bit-identical raw doubles. Seasonals initialize at 0 and the
# level at the first observation (element 1 IS the fold init).
# Scale: one shuffle on event_type; series are calendar-bounded.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(dayofweek(CAST(ts AS DATE)) AS DOUBLE) AS dow,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(cnt AS BIGINT) AS n_days,
           fin[3] AS level,
           fin[4] AS trend,
           fin[CAST(5 + (CAST(fin[1] AS BIGINT) + 1) % 7 AS BIGINT)]
               AS season_next,
           fin[3] + fin[4]
               + fin[CAST(5 + (CAST(fin[1] AS BIGINT) + 1) % 7 AS BIGINT)]
               AS forecast_1
    FROM (
        SELECT event_type, count(*) AS cnt,
               list_reduce(
                   list([dow, CAST(cents AS DOUBLE), CAST(cents AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]
                        ORDER BY day),
                   (acc, x) -> [
                       x[1], x[2],
                       {_HW_LP},
                       0.1 * (({_HW_LP}) - acc[3]) + 0.9 * acc[4],
{_HW_SJ}
                   ]
               ) AS fin
        FROM daily GROUP BY event_type
    ) t
    """
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive day-of-week seasonal smoothing of daily cents
    per event type.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        (F.dayofweek(F.to_date("ts")) - 1).cast("double").alias("dow"),
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))

    zero = F.lit(0.0)
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "dow", "cents"))),
        lambda s: F.array(
            s.dow,
            s.cents.cast("double"),
            s.cents.cast("double"),
            zero, zero, zero, zero, zero, zero, zero, zero,
        ),
    )

    def _at(a, i):
        return F.element_at(a, F.lit(i)) if isinstance(i, int) else F.element_at(a, i)

    def _merge(acc, x):
        dow, xv = _at(x, 1), _at(x, 2)
        l, b = _at(acc, 3), _at(acc, 4)
        s_cur = F.element_at(acc, (F.lit(5.0) + dow).cast("int"))

        def lp():
            return F.lit(0.3) * (xv - s_cur) + F.lit(0.7) * (l + b)

        slots = [dow, xv, lp(), F.lit(0.1) * (lp() - l) + F.lit(0.9) * b]
        for j in range(7):
            sj = _at(acc, 5 + j)
            slots.append(
                F.when(
                    dow == j, F.lit(0.2) * (xv - lp()) + F.lit(0.8) * sj
                ).otherwise(sj)
            )
        return F.array(*slots)

    fin = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        _merge,
    )
    nxt = (F.lit(5) + (F.element_at(fin, 1).cast("long") + 1) % 7).cast("int")
    return daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.element_at(fin, 3).alias("level"),
        F.element_at(fin, 4).alias("trend"),
        F.element_at(fin, nxt).alias("season_next"),
        (
            F.element_at(fin, 3) + F.element_at(fin, 4) + F.element_at(fin, nxt)
        ).alias("forecast_1"),
    )


# ---------------------------------------------------------------------------
# Duplicate-payment audit — orders by the same customer in the same
# $1000 amount band within 90 days: the double-billing screen. Blocking
# on (customer, amount band) turns the near-dup search into one
# partitioned lag window — no self-join, no cross product; candidate
# partitions stay tiny (band collisions per customer).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100000 AS band,
               o_orderdate,
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey,
                                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                                // 100000
                   ORDER BY o_orderdate, o_orderkey
               ) AS prev_date,
               lag(o_orderkey) OVER (
                   PARTITION BY o_custkey,
                                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                                // 100000
                   ORDER BY o_orderdate, o_orderkey
               ) AS prev_key
        FROM orders
    )
    SELECT o_custkey, band,
           prev_key AS first_orderkey, o_orderkey AS dup_orderkey,
           CAST(date_diff('day', CAST(prev_date AS DATE),
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
    FROM o
    WHERE prev_date IS NOT NULL
      AND date_diff('day', CAST(prev_date AS DATE),
                    CAST(o_orderdate AS DATE)) <= 90
    """
)
def q_dup_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment screen: same customer, same price band, orders
    within 7 days (lag window, no self-join).
    """
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.expr(_CENTS.format(x="o_totalprice")) / 100000)
        .cast("long")
        .alias("band"),
        "o_orderdate",
    )
    w = Window.partitionBy("o_custkey", "band").orderBy(
        "o_orderdate", "o_orderkey"
    )
    flagged = o.select(
        "o_custkey",
        "band",
        F.lag("o_orderkey").over(w).alias("first_orderkey"),
        F.col("o_orderkey").alias("dup_orderkey"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap"),
    )
    return flagged.where(
        F.col("gap").isNotNull() & (F.col("gap") <= 90)
    ).select(
        "o_custkey",
        "band",
        "first_orderkey",
        "dup_orderkey",
        F.col("gap").cast("long").alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# Local peak detection — days whose spend strictly exceeds both
# neighbors, per event type: two lag/lead comparisons over the daily
# cent rollup (exact integers, so strict comparisons are
# engine-identical). One rollup shuffle + one per-type window over a
# calendar-bounded series.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    n AS (
        SELECT event_type, day, cents,
               lag(cents) OVER w AS prev, lead(cents) OVER w AS next
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, cents, prev AS prev_cents, next AS next_cents
    FROM n
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND cents > prev AND cents > next
    """
)
def q_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peaks in daily revenue per event type:
    strictly-greater-than-both-neighbors test over a lag/lead window.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    n = daily.select(
        "event_type",
        "day",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
        F.lead("cents").over(w).alias("next_cents"),
    )
    return n.where(
        F.col("prev_cents").isNotNull()
        & F.col("next_cents").isNotNull()
        & (F.col("cents") > F.col("prev_cents"))
        & (F.col("cents") > F.col("next_cents"))
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test — is the daily up/down spend sequence random?
# Signs come from exact integer cent deltas (lag window), runs from a
# sign-change sum, and the z-statistic from the closed form over exact
# counts — sqrt is IEEE-correctly-rounded, so the one shared final
# expression is bit-portable. Scale: rollup shuffle + per-type window
# over a calendar-bounded series.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, day,
               CASE WHEN cents > lag(cents) OVER w THEN 1 ELSE 0 END AS up,
               lag(cents) OVER w AS prev
        FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    s AS (
        SELECT event_type, day, up,
               lag(up) OVER (PARTITION BY event_type ORDER BY day) AS prev_up
        FROM d WHERE prev IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(up) AS BIGINT) AS n_up,
               CAST(count(*) - sum(up) AS BIGINT) AS n_down,
               CAST(1 + sum(CASE WHEN prev_up IS NOT NULL
                                  AND up <> prev_up THEN 1 ELSE 0 END)
                    AS BIGINT) AS runs
        FROM s GROUP BY event_type
    )
    SELECT event_type, n, n_up, n_down, runs,
           1.0 + 2.0 * n_up * n_down / n AS expected_runs,
           (runs - (1.0 + 2.0 * n_up * n_down / n))
           / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n)
                  / (CAST(n AS DOUBLE) * n * (n - 1))) AS z_stat
    FROM m
    """
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of daily revenue above/below
    its median, per event type.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    d = daily.select(
        "event_type",
        "day",
        F.when(F.col("cents") > F.lag("cents").over(w), 1).otherwise(0).alias("up"),
        F.lag("cents").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    s = d.select(
        "event_type", "day", "up", F.lag("up").over(w).alias("prev_up")
    )
    m = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("up").alias("n_up"),
        (F.count("*") - F.sum("up")).alias("n_down"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_up").isNotNull()
                    & (F.col("up") != F.col("prev_up")),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("runs"),
    )
    n, nu, nd = F.col("n"), F.col("n_up"), F.col("n_down")
    exp_runs = F.lit(1.0) + F.lit(2.0) * nu * nd / n
    return m.select(
        "event_type",
        "n",
        "n_up",
        "n_down",
        "runs",
        exp_runs.alias("expected_runs"),
        (
            (F.col("runs") - exp_runs)
            / F.sqrt(
                F.lit(2.0) * nu * nd * (F.lit(2.0) * nu * nd - n)
                / (n.cast("double") * n * (n - F.lit(1)))
            )
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend — median of all pairwise slopes of the daily
# spend series per event type, the outlier-resistant alternative to the
# OLS slope (q_ols_regression). The series is calendar-bounded, so the
# O(days²) pair set is tiny and generated by the packed array expansion
# (no self-join); each slope is one exact-integer division and the
# median is the same interpolated percentile on both engines.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.cents - a.cents AS DOUBLE) / (b.d - a.d) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope, 0.5) AS ts_slope
    FROM pairs GROUP BY event_type
    """
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: median of pairwise daily-revenue slopes per
    event type.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias("d"),
    ).agg(F.sum(F.expr(_CENTS.format(x="value"))).alias("cents"))
    arrs = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "cents"))).alias("pts")
    )
    # all i<j slopes from the materialized per-type array — no self-join
    slopes = F.flatten(
        F.transform(
            F.col("pts"),
            lambda a, i: F.transform(
                F.slice(
                    F.col("pts"), i + 2, F.greatest(F.size("pts") - i - 1, F.lit(0))
                ),
                lambda b: (b.cents - a.cents).cast("double") / (b.d - a.d),
            ),
        )
    )
    return arrs.select(
        "event_type",
        F.explode(slopes).alias("slope"),
    ).groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.percentile(F.col("slope"), F.lit(0.5)).alias("ts_slope"),
    )
