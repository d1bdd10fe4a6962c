"""Relational-surface roster queries (SURVEY §2.C joins, §2.D aggregations,
§2.E windows, §2.F sorts, §2.G set ops, §2.H json/date).

The reference performs all of these as dict probes / numpy reductions /
Python sorts (file:line cited per query); here each is a declarative plan
so Catalyst picks broadcast vs shuffle joins, does partial aggregation,
and prunes scans. Scale annotations note the 100 TB behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.plans import declared
from review_engine_spark.sources.io import read_parquet_table

# ---------------------------------------------------------------------------
# C1: metadata enrichment join (rank.py:21,239-244; semantic.py:58-66).
# part ⟕ per-part lineitem aggregates: the dict probe `products.get(pid, {})`
# becomes a left-outer equi-join. At 100 TB both sides are large → the
# aggregate side is pre-shuffled on the join key, so Catalyst plans a
# sort-merge join with no extra exchange; at fixture scale AQE broadcasts.
# Money sums are rounded to 4dp in-query (fp summation order differs
# between engines; SURVEY §2.L determinism rules).
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    WITH li AS (
        SELECT l_partkey,
               count(*) AS n_li,
               round(sum(l_extendedprice), 4) AS revenue
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, p.p_retailprice,
           coalesce(li.n_li, 0) AS n_li,
           coalesce(li.revenue, 0.0) AS revenue
    FROM part p LEFT JOIN li ON p.p_partkey = li.l_partkey
    """
)
def q_join_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part metadata broadcast-joined to per-part lineitem rollups (C1
    embeddings-meta join shape).
    """
    part = read_parquet_table(spark, sf_dir, "part")
    li = (
        read_parquet_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("n_li"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left")
        .select(
            "p_partkey",
            "p_name",
            "p_retailprice",
            F.coalesce("n_li", F.lit(0)).alias("n_li"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


@declared(
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (engine surface; the dedup path of SURVEY §2.K needs it):
    customers with no urgent order. left_anti keeps the probe side
    streaming — no row materialization of the match."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    urgent = read_parquet_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# D1: group-by collect (embed.py:62 — reviews.setdefault(pid, []).append).
# sort_array makes the list deterministic (collect_list order is not).
# Scale note: collect_list is the one agg that cannot partial-combine to
# constant size; it spills via Spark's ObjectHashAggregate. The reference
# would OOM here at 100 TB (SURVEY §4.2).
# ---------------------------------------------------------------------------


_GROUP_COLLECT_ORACLE = """
    SELECT lang, array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
    FROM documents GROUP BY lang
    """


@declared(oracle=_GROUP_COLLECT_ORACLE)
def q_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language ordered collect_list of doc ids, joined to one string
    (D1 group-by collect).
    """
    # The comma-joined serialization (identical BIGINT→string rendering on
    # both engines) keeps the output hashable for the harness canonicalizer;
    # the collected array itself is still built by the plan.
    docs = read_parquet_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("doc_ids")
    )


@declared(
    oracle="""
    SELECT l_partkey, count(*) AS n_li, round(sum(l_quantity), 4) AS total_qty
    FROM lineitem GROUP BY l_partkey
    """
)
def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: per-key counts — the review_count input (rank.py:243)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.count("*").alias("n_li"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# D2: mean-pool vectors (embed.py:73-80). posexplode → avg per (key, pos)
# → reassemble ordered by pos. Two shuffles on (label) and (label,pos);
# at scale the explode multiplies rows ×dim but each row is 12 bytes —
# this beats any per-group Python UDAF by an order of magnitude.
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    WITH exploded AS (
        SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding)::DOUBLE AS val
        FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos, round(avg(val), 6) AS v
    FROM exploded GROUP BY label, pos
    """
)
def q_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean-pool of embedding vectors per label (D2): explode
    to (pos, val), average, reassemble.
    """
    # The mean vector is assembled as an array (the D2 semantic), then
    # re-exploded to (label, pos, v) rows for output: the harness
    # canonicalizer cannot hash raw array cells, and double-in-JSON
    # renderings differ between engines ("1.2E-5" vs "1.2e-05"), so the
    # comparable form is the exploded double column. pos is 1-based to
    # match the oracle's generate_subscripts.
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    pooled = exploded.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 6).alias("v")
    )
    assembled = pooled.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
        ).alias("mean_vec")
    )
    return assembled.select(
        "label", F.posexplode("mean_vec").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).cast("long").alias("pos"), "v")


# ---------------------------------------------------------------------------
# D3-D5, D7: exact stats over prices (rank.py:225-232, 44-47). Exact
# interpolated percentiles — NOT percentile_approx — to match numpy and
# the oracle (SURVEY §2.D5).
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT count(*) AS n,
           round(avg(p_retailprice), 4) AS mean_price,
           round(median(p_retailprice), 6) AS median_price,
           round(stddev_pop(p_retailprice), 6) AS std_price,
           round(quantile_cont(p_retailprice, 0.01), 6) AS p1,
           round(quantile_cont(p_retailprice, 0.99), 6) AS p99,
           min(p_retailprice) AS min_price,
           max(p_retailprice) AS max_price
    FROM part
    """
)
def q_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar stats block over part prices: count, mean, exact median,
    stddev_pop, min/max (D3/D4).
    """
    part = read_parquet_table(spark, sf_dir, "part")
    p = F.col("p_retailprice")
    return part.agg(
        F.count("*").alias("n"),
        F.round(F.avg(p), 4).alias("mean_price"),
        F.round(F.median(p), 6).alias("median_price"),
        F.round(F.stddev_pop(p), 6).alias("std_price"),
        F.round(F.percentile(p, F.lit(0.01)), 6).alias("p1"),
        F.round(F.percentile(p, F.lit(0.99)), 6).alias("p99"),
        F.min(p).alias("min_price"),
        F.max(p).alias("max_price"),
    )


@declared(
    oracle="""
    WITH s AS (
        SELECT quantile_cont(p_retailprice, 0.01) AS p1,
               quantile_cont(p_retailprice, 0.99) AS p99
        FROM part
    )
    SELECT p_partkey,
           round(
               CASE WHEN abs(p99 - p1) <= 1e-8 + 1e-5 * abs(p1) THEN 0.5
               ELSE (least(greatest(p_retailprice, p1), p99) - p1)
                    / (p99 - p1 + 1e-9) END, 6) AS norm_price
    FROM part, s
    """
)
def q_percentile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5+D7+H15: robust min-max normalization (rank.py:44-54).

    The whole-population bounds are a 1-row aggregate broadcast back over
    the rows (D7) — a crossJoin Catalyst turns into BroadcastNestedLoopJoin
    of a single row, not a window over an unbounded frame (which would
    funnel everything into one partition).
    """
    from review_engine_spark.functions.scoring import minmax_normalize

    part = read_parquet_table(spark, sf_dir, "part")
    bounds = part.agg(
        F.percentile(F.col("p_retailprice"), F.lit(0.01)).alias("p1"),
        F.percentile(F.col("p_retailprice"), F.lit(0.99)).alias("p99"),
    )
    return part.crossJoin(F.broadcast(bounds)).select(
        "p_partkey",
        F.round(
            minmax_normalize(F.col("p_retailprice"), F.col("p1"), F.col("p99")), 6
        ).alias("norm_price"),
    )


@declared(
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) per return flag — the two-phase
    distinct aggregate.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@declared(
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_quantity), 4) AS total_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotals and grand total in
    one aggregate.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# E1/E2/F1: top-k (rank.py:213 top-200 cut; semantic.py:58 display rank).
# Per-group variant via row_number window; global variant (q_cosine_topk in
# roster_vector) goes through orderBy+limit → TakeOrderedAndProject.
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               row_number() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey
               ) AS rn
        FROM part
    ) WHERE rn <= 3
    """
)
def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price via a ranked partition window
    (E1).
    """
    part = read_parquet_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@declared(
    oracle="""
    SELECT event_id, user_id, round(value, 6) AS v,
           round(lag(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id), 6) AS prev_v
    FROM events
    """
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window: each event beside its user's previous value (engine
    lag surface).
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("v"),
        F.round(F.lag("value").over(w), 6).alias("prev_v"),
    )


@declared(
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4
           ) AS running_v
    FROM events
    """
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user cumulative value sum in (ts, event_id) order
    (running-window surface).
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_v"),
    )


# ---------------------------------------------------------------------------
# §2.G set operations (engine surface; the reference's multi-category
# composition, README.md:7).
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of customer and supplier nation keys tagged by side."""
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    supp = read_parquet_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return cust.unionByName(supp)


@declared(
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of urgent-priority and low-priority customer key sets."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low)


@declared(
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: open-order customers minus urgent-priority customers (set
    difference engine surface).
    """
    orders = read_parquet_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return open_.subtract(urgent)


@declared(
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (engine surface, §2.C remainder): customers WITH at least
    one urgent order. left_semi returns each probe row at most once with
    no columns from the build side — no post-join dedup needed."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    urgent = read_parquet_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@declared(
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 4) AS revenue
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregate (engine surface, §2.D remainder). Spark plans one
    Expand (4 grouping sets) feeding a single partial+final hash agg."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
    )


@declared(
    oracle="""
    SELECT n.n_name, count(*) AS n_li, round(sum(l.l_extendedprice), 4) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact lineitem against two broadcast dimensions
    (supplier, nation). At 100 TB the fact side never shuffles for the
    joins — both dims fit comfortably under the broadcast threshold, so
    the only exchange is the final n_name aggregation (map-side combined
    to ≤25 rows per task)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    supp = F.broadcast(
        read_parquet_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    nat = F.broadcast(
        read_parquet_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_li"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )


@declared(
    oracle="""
    SELECT p.p_brand, count(*) AS n_li, round(sum(l.l_extendedprice), 4) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (engine surface; SURVEY §7 M6): revenue per brand
    through a join whose fact side is salted on a deterministic row hash
    and whose build side is replicated ×8. Semantics identical to the
    plain join — that equivalence IS the oracle check. For when AQE's
    skew split can't apply and the build side is too big to broadcast."""
    from review_engine_spark.operators.skew import salted_equi_join

    li = read_parquet_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    part = read_parquet_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_equi_join(
        li,
        part,
        "p_partkey",
        salt_expr=F.xxhash64("l_orderkey", "l_linenumber"),
        n_salts=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_li"),
        F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
    )


@declared(oracle=_GROUP_COLLECT_ORACLE)
def q_salted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted collect_list (engine surface): same result as
    q_group_collect, but no single reducer ever materializes a hot key's
    full list — the partial lists are bounded to 1/8th before the final
    flatten. Output is comma-serialized for the harness canonicalizer."""
    from review_engine_spark.operators.skew import two_stage_collect

    docs = read_parquet_table(spark, sf_dir, "documents")
    collected = two_stage_collect(
        docs, "lang", "doc_id", salt_expr=F.xxhash64("doc_id"), n_salts=8
    )
    return collected.select(
        "lang", F.concat_ws(",", F.col("doc_ids")).alias("doc_ids")
    )


@declared(
    oracle="""
    SELECT e1.event_id, count(e2.event_id) AS n_follow
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    GROUP BY e1.event_id
    """
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (engine surface the reference lacks; SURVEY §2.C notes):
    per event, how many same-user events follow within 5 minutes.

    A naive theta-join on the interval predicate is a per-user cross
    product; instead the left side probes two 5-minute buckets and the
    join is an equi-join on (user_id, bucket) with the interval check as
    a cheap post-filter — each true pair matches in exactly one bucket
    (the right event's own), so no dedup pass is needed. Scale: the
    shuffle is keyed by (user, bucket), bounding skew to per-user
    5-minute activity.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("ts").cast("long") / 300)
    left = ev.select(
        F.col("event_id"),
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    right = ev.select(
        F.col("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        bucket.alias("bucket"),
    )
    joined = left.join(right, ["user_id", "bucket"], "left").withColumn(
        "hit",
        (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
    )
    return joined.groupBy("event_id").agg(
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_follow")
    )


@declared(
    oracle="""
    WITH u AS (
        SELECT user_id AS key, ts AS t, 1 AS is_event, event_id,
               NULL::BIGINT AS o_orderkey
        FROM events
        UNION ALL
        SELECT o_custkey, o_orderdate, 0, NULL, o_orderkey FROM orders
    ),
    win AS (
        SELECT event_id, is_event,
               last_value(o_orderkey IGNORE NULLS) OVER (
                   PARTITION BY key ORDER BY t, is_event, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS asof_orderkey
        FROM u
    )
    SELECT event_id, asof_orderkey FROM win WHERE is_event = 1
    """
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine surface the reference lacks; the standard
    feature-at-event-time op of training pipelines): per event, the most
    recent order of the same key at-or-before the event timestamp, ties
    on order date broken by max orderkey.

    Implemented as the union-window plan: tag both streams, union, and
    take ``last(order_row, ignorenulls=True)`` over a per-key window
    ordered by (time, side, orderkey) — ONE shuffle on the key, linear in
    |events| + |orders|, versus the per-key cross product a naive theta
    join plans. This is how an as-of join should look on Spark.
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    both = ev.unionByName(orders)
    w = (
        Window.partitionBy("key")
        .orderBy(F.asc("t"), F.asc("is_event"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = both.withColumn(
        "asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return out.filter(F.col("is_event") == 1).select("event_id", "asof_orderkey")


@declared(
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 4
           ) AS hour_sum
    FROM events
    """
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (engine surface, §2.E remainder): per-user
    rolling 1-hour sum. The frame is value-based, so ties in ts are peers
    on both engines — no explicit tie-break needed. Ordered on
    ``unix_micros``, NOT a seconds cast: truncating to seconds silently
    shifts the frame boundary for events with sub-second timestamps
    (caught by the sf0.1 oracle sweep — sf0.01 data never collided)."""
    ev = read_parquet_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
    )


@declared(
    oracle="""
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 4) AS qty_A,
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 4) AS qty_N,
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 4) AS qty_R
    FROM lineitem GROUP BY l_linestatus
    """
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine surface, §2.D remainder). The pivot values are
    declared explicitly — with them, Spark plans ONE pass (conditional
    aggregates, exactly the oracle's CASE form); without them it needs an
    extra distinct-values job first."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .select(
            "l_linestatus",
            F.col("A").alias("qty_A"),
            F.col("N").alias("qty_N"),
            F.col("R").alias("qty_R"),
        )
    )


@declared(
    oracle="""
    WITH x AS (
        SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP) AS ws,
               value FROM events
        UNION ALL
        SELECT CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP) AS ws,
               value FROM events
    )
    SELECT ws, ws + INTERVAL 1 HOUR AS we,
           count(*) AS n, round(sum(value), 4) AS total_v
    FROM x GROUP BY ws
    """
)
def q_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window, batch mode: 1-hour windows
    every 30 minutes — each event lands in exactly 2 windows (Spark
    expands them inline; the oracle mirrors that with a 2-way UNION ALL).
    Same grouping the streaming surface uses with a watermark."""
    ev = read_parquet_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_v"))
        .select(
            F.col("window.start").alias("ws"),
            F.col("window.end").alias("we"),
            "n",
            "total_v",
        )
    )


# ---------------------------------------------------------------------------
# H25 json + H-date surface on events.
# ---------------------------------------------------------------------------


_JSON_EXTRACT_ORACLE = r"""
    SELECT event_id,
           CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
    FROM events
    """


@declared(oracle=_JSON_EXTRACT_ORACLE)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H25: per-row JSON field extraction (embed.py:58-style parsing).

    Spark side uses the real JSON path operator; the oracle matches it
    with a regex on this fixture's flat ``{"k": int}`` payloads.
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


@declared(
    oracle="""
    SELECT date_trunc('hour', ts) AS hr,
           count(*) AS n,
           round(sum(value), 4) AS total_v
    FROM events GROUP BY 1
    """
)
def q_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: per-hour event counts and value sums via
    date_trunc (H-date surface).
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("total_v"),
    )


@declared(
    oracle="""
    SELECT date_trunc('hour', ts) AS ws,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS we,
           count(*) AS n,
           round(avg(value), 6) AS avg_v
    FROM events GROUP BY 1, 2
    """
)
def q_ts_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window in batch mode — same grouping the
    streaming surface uses (SURVEY §2.I), validated against date_trunc."""
    ev = read_parquet_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return ev.groupBy(win).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_v")
    ).select(
        F.col("window.start").alias("ws"),
        F.col("window.end").alias("we"),
        "n",
        "avg_v",
    )


# ---------------------------------------------------------------------------
# §2.D engine surface: explicit GROUPING SETS, analytic window functions,
# and a key-skew profiler (the diagnostic behind §4.2's AQE-skew notes).
# ---------------------------------------------------------------------------


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 4) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@declared(oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond q_rollup/q_cube's fixed lattices).
    Same SQL text runs on both engines — Spark parses it natively."""
    read_parquet_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_GROUPING_SETS_SQL)


@declared(
    oracle="""
    SELECT event_id, user_id,
           CAST(dense_rank() OVER (
               PARTITION BY user_id ORDER BY round(value, 6) DESC
           ) AS BIGINT) AS dr,
           round(percent_rank() OVER (
               PARTITION BY user_id ORDER BY round(value, 6) DESC
           ), 6) AS pr,
           CAST(ntile(4) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS BIGINT) AS quartile,
           round(lead(value, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ), 6) AS next_v
    FROM events
    """
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function surface: dense_rank / percent_rank (deterministic
    under ties), ntile / lead (total order via event_id tie-break)."""
    ev = read_parquet_table(spark, sf_dir, "events")
    by_value = Window.partitionBy("user_id").orderBy(F.round("value", 6).desc())
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.dense_rank().over(by_value).cast("long").alias("dr"),
        F.round(F.percent_rank().over(by_value), 6).alias("pr"),
        F.ntile(4).over(by_time).cast("long").alias("quartile"),
        F.round(F.lead("value", 1).over(by_time), 6).alias("next_v"),
    )


@declared(
    oracle="""
    WITH c AS (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT l_partkey, n, round(n / total, 6) AS share, rn
    FROM (
        SELECT c.l_partkey, c.n, t.total,
               row_number() OVER (ORDER BY c.n DESC, c.l_partkey) AS rn
        FROM c, t
    )
    WHERE rn <= 20
    """
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key profiler: top-20 join keys by frequency with traffic share.
    The operational input to salting / AQE-skew decisions (operators.skew):
    one pre-aggregated pass, then a 1-row total broadcast back (D7)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_partkey").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    # Top-20 via orderBy+limit (TakeOrderedAndProject: per-partition
    # top-k, merge of 20·P rows) — the rank window then runs over the
    # bounded 20-row result, never the full |keys| aggregate.
    top = (
        c.crossJoin(F.broadcast(t))
        .select(
            "l_partkey",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc("l_partkey"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("n"), F.asc("l_partkey"))
    return top.withColumn("rn", F.row_number().over(w).cast("long"))


@declared(
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS qp_covar,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty,
           round(stddev_samp(l_extendedprice), 4) AS price_sd
    FROM lineitem GROUP BY 1
    """
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate surface: corr / covar_pop / regr_slope /
    stddev_samp per group — one partial+final hash aggregation."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qp_corr"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qp_covar"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias(
            "price_per_qty"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
    )


@declared(
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.50), 6) AS q50,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75,
           round(quantile_cont(l_quantity, 0.99), 6) AS q99
    FROM lineitem GROUP BY 1
    """
)
def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group percentiles (never percentile_approx
    on an oracle path — SURVEY §2.D5)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(p)), 6).alias(name)
            for p, name in [(0.25, "q25"), (0.50, "q50"), (0.75, "q75"), (0.99, "q99")]
        ]
    )


@declared(
    oracle="""
    WITH b AS (
        SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket
        FROM orders
    )
    SELECT bucket,
           round(bucket * 50000.0, 2) AS lo,
           round((bucket + 1) * 50000.0, 2) AS hi,
           count(*) AS n
    FROM b GROUP BY 1
    """
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor arithmetic — deterministic,
    unlike sampled width_bucket bounds); one hash aggregation."""
    o = read_parquet_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("long")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            F.round(F.col("bucket") * 50000.0, 2).alias("lo"),
            F.round((F.col("bucket") + 1) * 50000.0, 2).alias("hi"),
            "n",
        )
    )


@declared(
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(list_sum(list_transform(range(0, 16), i ->
               ((((l_partkey % 65536) >> i) & 1) << (2 * i))
               + ((((l_suppkey % 65536) >> i) & 1) << (2 * i + 1))
           )) AS BIGINT) AS zkey
    FROM lineitem
    """
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout key over (partkey, suppkey): sort-by-zkey
    turns parquet min/max footer stats into a 2-D skip index — the
    multi-dimension answer to single-column range partitioning."""
    from review_engine_spark.sources.bucketing import zorder_key

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(
            F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536
        ).alias("zkey"),
    )


@declared(
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase, first-touch semantics; every
    shuffle keyed on user_id so co-partitioning carries across steps."""
    from review_engine_spark.operators.funnel import funnel_stages

    ev = read_parquet_table(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


@declared(
    oracle="""
    WITH f AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort
        FROM events GROUP BY 1
    ),
    a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.d) AS BIGINT) AS offset,
           count(DISTINCT a.user_id) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × day-offset retention counts; (user, day) shuffled once,
    output cardinality days² regardless of event volume."""
    from review_engine_spark.operators.funnel import cohort_retention

    ev = read_parquet_table(spark, sf_dir, "events")
    return cohort_retention(ev)


def _profile_oracle() -> str:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    parts = []
    for c in cols:
        parts.append(f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_str,
               CAST(max({c}) AS VARCHAR) AS max_str
        FROM orders""")
    return " UNION ALL ".join(parts)


@declared(oracle=_profile_oracle())
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profiler (nulls / distincts / min / max per
    column in ONE aggregation, not one job per column)."""
    from review_engine_spark.operators.quality import profile_table

    o = read_parquet_table(spark, sf_dir, "orders")
    return profile_table(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    )


@declared(
    oracle="""
    SELECT 'l_orderkey' AS fk_col,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey IS NOT NULL
    UNION ALL
    SELECT 'l_partkey' AS fk_col,
           CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
      ON l.l_partkey = p.p_partkey
    WHERE l.l_partkey IS NOT NULL
    """
)
def q_ri_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per FK via anti-joins
    (lineitem→orders, lineitem→part)."""
    from review_engine_spark.operators.quality import ri_violations

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return ri_violations(
        li,
        [
            ("l_orderkey", read_parquet_table(spark, sf_dir, "orders"), "o_orderkey"),
            ("l_partkey", read_parquet_table(spark, sf_dir, "part"), "p_partkey"),
        ],
    )


def _hll_mergeable_oracle() -> str:
    # lazy format at import-call time is unnecessary — the constants are
    # module literals in roster_retrieval, but roster_rel loads FIRST in
    # plans/__init__, so the twin's SQL fragments are inlined here
    # verbatim (same literals, pinned equal in tests/test_operators.py)
    est = (
        "round(CASE WHEN (0.7213e0 / (1.0e0 + 1.079e0 / 512.0e0) "
        "* 262144.0e0 * 4503599627370496.0e0 / CAST({s} AS DOUBLE)) "
        "<= 1280.0e0 AND {v} > 0 "
        "THEN 512.0e0 * ln(512.0e0 / CAST({v} AS DOUBLE)) "
        "ELSE (0.7213e0 / (1.0e0 + 1.079e0 / 512.0e0) * 262144.0e0 "
        "* 4503599627370496.0e0 / CAST({s} AS DOUBLE)) END, 4)"
    )
    sv = """list_sum(list_transform(sketch,
                   r -> CAST(1 AS BIGINT) << CAST(52 - r AS INTEGER)))"""
    vv = "len(list_filter(sketch, r -> r = 0))"
    return f"""
    WITH h AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_s,
               try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS hv
        FROM events
    ),
    r AS (
        SELECT day_s, hv % 512 AS bucket,
               CAST(max(CASE WHEN hv // 512 = 0 THEN 52
                             ELSE 52 - length(bin(hv // 512)) END)
                    AS BIGINT) AS rho,
               CAST(count(*) AS BIGINT) AS c
        FROM h GROUP BY day_s, bucket
    ),
    pd AS (
        SELECT day_s, map_from_entries(list(struct_pack(k := bucket,
                                                        v := rho))) AS mp,
               sum(c) AS n_events
        FROM r GROUP BY day_s
    ),
    pds AS (
        SELECT day_s,
               list_transform(range(0, 512),
                   b -> coalesce(mp[b][1], CAST(0 AS BIGINT))) AS sketch,
               CAST(n_events AS BIGINT) AS n_events
        FROM pd
    ),
    g AS (
        SELECT bucket, max(rho) AS rho FROM r GROUP BY bucket
    ),
    ga AS (
        SELECT map_from_entries(list(struct_pack(k := bucket,
                                                 v := rho))) AS mp
        FROM g
    ),
    gs AS (
        SELECT 'ALL' AS day_s,
               list_transform(range(0, 512),
                   b -> coalesce(mp[b][1], CAST(0 AS BIGINT))) AS sketch,
               (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_events
        FROM ga
    ),
    uni AS (SELECT * FROM pds UNION ALL SELECT * FROM gs)
    SELECT day_s,
           array_to_string(list_transform(sketch, r -> CAST(r AS VARCHAR)),
                           ',') AS sketch,
           {est.format(s=sv, v=vv)} AS est_users,
           n_events
    FROM uni
    """


@declared(oracle=_hll_mergeable_oracle())
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches with the SKETCH as a
    first-class value: one 512-register HLL array per day (register =
    max leading-zero rank of md5(user) in the bucket, 0 = empty) plus
    the global union row — max-merge over registers IS the HLL union,
    so daily partitions keep sketches and re-aggregation never rescans
    history (mergeability re-derived from the emitted arrays alone is
    pinned in tests). Estimates use the standard bias-corrected
    harmonic mean over the array.

    Oracle-checked (was rows-only until r11): the earlier form emitted
    Spark's DataSketches binary (estimate unpredictable cross-engine);
    the register-array encoding makes sketch, union, and estimate all
    exact values both engines compute bit-identically (the q_hll_md5
    twin algebra, now carried by the production query itself)."""
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_s"),
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    w = F.expr("hv DIV 512")
    rho = (
        F.when(w == 0, F.lit(52)).otherwise(52 - F.length(F.bin(w)))
    ).cast("long")
    regs = (
        ev.select("day_s", (F.col("hv") % 512).alias("bucket"), rho.alias("rho"))
        .groupBy("day_s", "bucket")
        .agg(F.max("rho").alias("rho"), F.count("*").alias("c"))
    )

    def to_sketch(grouped):
        mp = F.map_from_entries(
            F.collect_list(F.struct("bucket", "rho"))
        ).alias("mp")
        return grouped.agg(mp, F.sum("c").cast("long").alias("n_events"))

    sketch = F.transform(
        F.sequence(F.lit(0), F.lit(511)),
        lambda b: F.coalesce(
            F.element_at(F.col("mp"), b), F.lit(0).cast("long")
        ),
    ).alias("sketch")
    per_day = to_sketch(regs.groupBy("day_s")).select(
        "day_s", sketch, "n_events"
    )
    n_total = ev.agg(F.count("*").cast("long").alias("n_events"))
    glob = (
        to_sketch(
            regs.groupBy("bucket")
            .agg(F.max("rho").alias("rho"), F.sum("c").alias("c"))
            .select(
                "bucket", "rho", "c", F.lit("ALL").alias("day_s")
            )
            .groupBy("day_s")
        )
        .select("day_s", sketch)
        .crossJoin(F.broadcast(n_total))
    )
    uni = per_day.unionByName(glob.select("day_s", "sketch", "n_events"))
    # SQL form: the Python F.shiftleft only takes a literal bit count
    s = F.expr(
        "aggregate(sketch, CAST(0 AS BIGINT), (acc, r) -> "
        "acc + shiftleft(CAST(1 AS BIGINT), CAST(52 - r AS INT)))"
    )
    v = F.size(F.filter("sketch", lambda r: r == 0))
    raw = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(512.0))
        * F.lit(262144.0)
        * F.lit(4503599627370496.0)
        / s.cast("double")
    )
    est = F.round(
        F.when(
            (raw <= 1280.0) & (v > 0),
            F.lit(512.0) * F.log(F.lit(512.0) / v.cast("double")),
        ).otherwise(raw),
        4,
    )
    sketch_s = F.concat_ws(",", F.col("sketch").cast("array<string>"))
    return uni.select(
        "day_s",
        sketch_s.alias("sketch"),
        est.alias("est_users"),
        "n_events",
    )


@declared(
    oracle="""
    WITH agg AS (
        SELECT o_custkey, count(*) AS n_orders,
               round(sum(o_totalprice), 4) AS spend
        FROM orders GROUP BY 1
    )
    SELECT c.c_custkey, c.c_mktsegment, a.n_orders, a.spend
    FROM customer c FULL OUTER JOIN agg a ON c.c_custkey = a.o_custkey
    """
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join surface: customer spine ⟗ order aggregates —
    inactive customers keep null aggregates, orphan orders (if any)
    keep a null spine."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    agg = (
        read_parquet_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("spend"),
        )
    )
    return cust.join(
        agg, cust["c_custkey"] == agg["o_custkey"], "full_outer"
    ).select("c_custkey", "c_mktsegment", "n_orders", "spend")


@declared(
    oracle="""
    SELECT k, v, count(*) AS n FROM (
        SELECT 'status' AS k, o_orderstatus AS v FROM orders
        UNION ALL
        SELECT 'priority' AS k, o_orderpriority AS v FROM orders
    )
    GROUP BY 1, 2
    """
)
def q_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map column from attributes, explode to
    key/value rows, aggregate — the generic attributes-as-map path
    (narrow explode, one count shuffle)."""
    o = read_parquet_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return (
        o.select(F.explode(m).alias("k", "v"))
        .groupBy("k", "v")
        .agg(F.count("*").alias("n"))
    )


@declared(
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               round(o_totalprice * 1.1, 4) AS o_totalprice, 2 AS version
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               round(o_totalprice, 4) AS o_totalprice, 1 AS version
        FROM orders
    ),
    merged AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY version DESC
        ) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(version AS BIGINT) AS version
    FROM merged WHERE rn = 1
    """
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/SCD upsert as a relational op: base ∪ updates, latest version
    per key wins (row_number over version desc). The MERGE-INTO shape
    without a mutable table — one shuffle on the key; at scale the
    update side is tiny and the window collapses to per-key top-1."""
    o = read_parquet_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey", "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
            F.lit(2).alias("version"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            F.col("version").cast("long").alias("version"),
        )
    )


@declared(
    oracle="""
    WITH bucketed AS (
        SELECT user_id, date_trunc('hour', ts) AS bucket,
               round(avg(value), 6) AS v_obs
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM bucketed GROUP BY 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        FROM b
    )
    SELECT g.user_id, g.bucket, t.v_obs,
           last_value(t.v_obs IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled,
           t.v_obs IS NULL AS is_gap
    FROM grid g
    LEFT JOIN bucketed t ON g.user_id = t.user_id AND g.bucket = t.bucket
    """
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to an hourly grid with forward fill; grid
    explode bounded per key (no global calendar cross-join)."""
    from review_engine_spark.operators.timeseries import resample_ffill

    ev = read_parquet_table(spark, sf_dir, "events")
    return resample_ffill(ev)


@declared(
    oracle="""
    WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
        FROM customer
    ),
    g AS (SELECT nk, count(*) AS n_cust FROM c GROUP BY 1)
    SELECT a.nk, a.n_cust, b.n_cust AS n_cust_b
    FROM g a JOIN g b ON a.nk IS NOT DISTINCT FROM b.nk
    """
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the NULL key
    group joins itself instead of vanishing — required when NULL is a
    legitimate bucket (e.g. 'missing nation' cohort)."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_nationkey")
        ).alias("nk"),
    )
    g = c.groupBy("nk").agg(F.count("*").alias("n_cust"))
    a = g.alias("a")
    b = g.select(F.col("nk").alias("nk_b"), F.col("n_cust").alias("n_cust_b"))
    return (
        a.join(b, F.col("nk").eqNullSafe(F.col("nk_b")))
        .select("nk", "n_cust", "n_cust_b")
    )


@declared(
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           true AS p50_in_bound, true AS p99_in_bound
    FROM lineitem GROUP BY l_returnflag
    """
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch per group with its RANK-ERROR GUARANTEE
    verified in-query: approx_percentile(col, p, acc) must return an
    actual data value whose rank is within n/acc of p*n (Greenwald-
    Khanna bound). The query computes the exact rank interval of each
    returned sketch value (count < x, count <= x) on a second scan and
    emits per-group booleans; the oracle asserts them constant-true, so
    a sketch ever exceeding its bound becomes a driver hash mismatch —
    the sketch VALUE stays approx, the BOUND is what's oracle-checked.

    Scale: agg (3 groups) is broadcast back onto the fact scan; two
    scans total, no shuffle beyond the two partial aggs."""
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    ap = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("p50"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.99), F.lit(10000)
        ).alias("p99"),
    )
    j = li.join(F.broadcast(ap), "l_returnflag")
    chk = j.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_if(F.col("l_extendedprice") < F.col("p50")).alias("lt50"),
        F.count_if(F.col("l_extendedprice") <= F.col("p50")).alias("le50"),
        F.count_if(F.col("l_extendedprice") < F.col("p99")).alias("lt99"),
        F.count_if(F.col("l_extendedprice") <= F.col("p99")).alias("le99"),
    )
    # rank interval [lt+1, le] of the returned value must intersect
    # [ceil((p - eps)*n), floor((p + eps)*n)] with eps = 1/accuracy
    # (+1-row slack for the discrete target-rank rounding convention).
    def in_bound(lt, le, p):
        eps = 1.0 / 10000
        lo = F.ceil((F.lit(p) - eps) * F.col("n_rows")) - 1
        hi = F.floor((F.lit(p) + eps) * F.col("n_rows")) + 1
        return (F.col(lt) + 1 <= hi) & (F.col(le) >= lo)

    return chk.select(
        "l_returnflag",
        "n_rows",
        in_bound("lt50", "le50", 0.5).alias("p50_in_bound"),
        in_bound("lt99", "le99", 0.99).alias("p99_in_bound"),
    )


@declared(
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(amount, 6) AS amount
    FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               l_quantity AS amount FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 1000
    )
    """
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (`unpivot`/melt — the inverse of q_pivot): the
    four lineitem measures become (measure, amount) rows. Narrow,
    zero-shuffle — each input row expands to 4 output rows in place, so
    at 100 TB it runs at scan speed and the measure filter prunes
    columns at the scan. The oracle replays it as a 4-way UNION ALL."""
    li = read_parquet_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1000
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "_amt",
    ).select(
        "l_orderkey", "l_linenumber", "measure",
        F.round(F.col("_amt"), 6).alias("amount"),
    )


# ---------------------------------------------------------------------------
# Round-3: DataFrameStatFunctions surface (df.stat.*) — the exploratory
# API a warehouse user reaches for first; crosstab is exact (oracled),
# freqItems is the one-pass Karp/Misra-Gries sketch (rows-only, pinned
# against exact counts in tests).
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag_l_linestatus,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
    FROM lineitem GROUP BY l_returnflag
    """
)
def q_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via ``df.stat.crosstab`` — exact pairwise counts
    (one pivot-style aggregate; the column-per-value output bounds it to
    low-cardinality pairs, which is the documented contract)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.select(
        "l_returnflag_l_linestatus",
        F.col("F").cast("long").alias("F"),
        F.col("O").cast("long").alias("O"),
    )


@declared(
    oracle="""
    SELECT l_suppkey AS candidate
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > 0.01 * (SELECT count(*) FROM lineitem)
    ORDER BY candidate
    """
)
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via ``df.stat.freqItems`` (single-pass Karp
    counting — the streaming-friendly frequent-element sketch; support
    1% on the Zipf-ish part keys), then SKETCH-VERIFIED: the raw
    candidate set admits merge-order-dependent false positives (the
    surfaced rows would vary with partitioning/AQE), so an exact count
    join filters it to the true > support·N items. freqItems guarantees
    no false negatives, so the verified result is EXACTLY the heavy-
    hitter set — which makes the whole sketch+verify plan oracle-
    checkable against the plain GROUP BY/HAVING form (the sketch prunes
    the verify join's build side; the oracle proves the net result)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    cand = li.stat.freqItems(["l_suppkey"], support=0.01).select(
        F.explode(F.col("l_suppkey_freqItems")).alias("candidate")
    )
    total = li.groupBy().agg(F.count("*").alias("total"))
    exact = (
        li.join(F.broadcast(cand), li["l_suppkey"] == cand["candidate"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > 0.01 * F.col("total"))
        .select(F.col("l_suppkey").alias("candidate"))
        .orderBy("candidate")
    )


# ---------------------------------------------------------------------------
# Round-3: Spark 4 modern-surface coverage — VARIANT (semi-structured),
# native XML, and SQL LATERAL subqueries.
# ---------------------------------------------------------------------------


@declared(oracle=_JSON_EXTRACT_ORACLE)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    path access via ``try_variant_get`` — the open-table-format pattern
    for schema-on-read columns (vs q_json_extract's per-access string
    parse; at 100 TB the variant parse happens once per row, not once
    per extracted path)."""
    ev = read_parquet_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )


@declared(
    oracle="""
    SELECT p_partkey AS id, p_retailprice AS price FROM part
    """
)
def q_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML parsing (Spark 4 ``from_xml``): serialize each part
    row to an XML fragment, parse it back with an explicit schema, and
    emit the typed fields — a lossless round trip the oracle checks by
    selecting the source columns directly. The ingest pattern for
    XML-bearing feeds without a Python UDF in the loop."""
    part = read_parquet_table(spark, sf_dir, "part")
    xml = part.select(
        F.concat(
            F.lit('<p id="'), F.col("p_partkey"),
            F.lit('"><price>'), F.col("p_retailprice"),
            F.lit("</price></p>"),
        ).alias("x")
    )
    return xml.select(
        F.from_xml("x", "_id long, price double").alias("r")
    ).select(F.col("r._id").alias("id"), F.col("r.price").alias("price"))


@declared(
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE orders.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) o
    """
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL surface): per customer, the 2
    highest-value orders. Catalyst decorrelates the lateral into a
    ranked window over the orders side — one shuffle on the correlation
    key, the same plan the hand-written window form produces (DuckDB
    executes the LATERAL directly; results must match exactly)."""
    read_parquet_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    read_parquet_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM v_customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM v_orders
            WHERE v_orders.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        """
    )


# ---------------------------------------------------------------------------
# Round-3: multiset set ops, bitmap distinct counting, try_* arithmetic.
# ---------------------------------------------------------------------------


@declared(
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics, §2.G remainder): a key appears
    min(n_left, n_right) times — Spark plans it as a row_number-tagged
    equi-join, one shuffle, no distinct collapse."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersectAll(low)


@declared(
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics): each key survives
    max(0, n_left - n_right) times."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return open_.exceptAll(urgent)


@declared(
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
    FROM lineitem GROUP BY l_returnflag
    """
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via roaring-style bitmaps
    (bitmap_bit_position → bitmap_construct_agg → bitmap_count): the
    warehouse pattern for MERGEABLE exact distincts — per-partition
    bitmaps OR together map-side, so the shuffle carries fixed-size
    bitmap segments instead of every distinct value (vs count(distinct)
    which expands to a two-phase aggregate on the raw keys). The oracle
    pins it to the exact count."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            # bitmap_bit_position is 1-based; fixture keys start at 0
            F.bitmap_bit_position(F.col("l_suppkey") + 1).alias("pos"),
        )
        .groupBy("l_returnflag", F.bitmap_bucket_number("pos").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_supp"))
    )


@declared(
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice = 0 THEN NULL
                ELSE round(o_totalprice / nullif(o_totalprice, 0), 4) END AS unit,
           CASE WHEN o_custkey = 0 THEN NULL
                ELSE CAST(o_orderkey // nullif(o_custkey, 0) AS BIGINT) END AS ratio
    FROM orders
    """
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-data arithmetic via the try_* family (ANSI-mode-safe:
    errors become NULL instead of task failures — the H-guard pattern
    of the reference's None-tolerant kernels, expressed as engine
    builtins)."""
    o = read_parquet_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.round(F.try_divide("o_totalprice", "o_totalprice"), 4).alias("unit"),
        F.try_divide("o_orderkey", "o_custkey").cast("long").alias("ratio"),
    )


@declared(
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 4) AS total_price,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
               AS n_discounted
    FROM lineitem
    """
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline instrumentation via the Observation API: metrics are
    accumulated ON the task path while the query runs (no second scan —
    the production pattern for row-count/quality counters on an ETL
    write). The observed values are exact aggregates, so the oracle
    checks them like any other query."""
    from pyspark.sql import Observation

    li = read_parquet_table(spark, sf_dir, "lineitem")
    obs = Observation("etl_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    # drive the observed plan (the "ETL") to completion, then emit the
    # collected metrics as a 1-row DataFrame
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                int(row["n_rows"]),
                float(row["total_price"]),
                int(row["n_discounted"]),
            )
        ],
        "n_rows long, total_price double, n_discounted long",
    )
