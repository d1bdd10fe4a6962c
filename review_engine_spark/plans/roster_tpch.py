"""TPC-H-ish classic analytics roster (engine surface; SURVEY §2.C/§2.D).

The reference engine (a fixed 5-module dataflow over review data) has no
multi-way relational workload; the north-star contract ("a user could run
every query they run today") still wants the classic warehouse shapes —
multi-way joins over the star schema, correlated-subquery decorrelation,
semi-joins with inequality predicates, two-level aggregation — because
those are the plans a 100 TB cluster actually executes. Each query below
is the standard TPC-H form *adapted to the driver fixtures' columns*
(no partsupp table; no l_commitdate/l_receiptdate/l_shipmode; p_type and
nation names are fixture-specific), implemented Spark-first:

- dims (`region`, `nation`) are broadcast explicitly — they are small at
  ANY scale; `part`/`supplier`/`customer` joins are left to Catalyst+AQE
  (sort-merge at 100 TB, broadcast at fixture scale);
- correlated subqueries (Q4's EXISTS, Q15's max, Q17's per-part avg) are
  decorrelated by hand into semi-joins / aggregate-joins — the shapes
  Catalyst's decorrelation would produce, stated explicitly;
- every aggregate is partial-aggregated map-side by Catalyst (no
  distinct-on-top-of-join anti-patterns);
- money sums are rounded to 4dp in-query on both engines (fp summation
  order differs), and `year()` is cast to BIGINT to match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from review_engine_spark.plans import declared
from review_engine_spark.sources.io import read_parquet_table


def _t(spark, sf_dir, name):
    return read_parquet_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q1 — pricing summary report. One full lineitem scan, 4-way aggregate on a
# tiny (flag, status) key: pure map-side partial agg + 6-group final — the
# canonical "scan-dominated" query; at scale the only cost is the scan, and
# the scan reads exactly the 7 needed columns.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: per (returnflag, linestatus)
    quantity/price/discount aggregates over shipped lineitems.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q3 — shipping-priority top-10. customer⋈orders⋈lineitem with filters on
# all three; the two date filters push to the scans, so the join inputs are
# pre-pruned. Top-k via sort+limit on the AGGREGATED (per-order) rows —
# k·partitions candidates, never a global sort of lineitem.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderdate, o_orderkey
    LIMIT 10
    """
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: top unshipped-order revenue for a market
    segment before a date.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4 — order-priority checking. The EXISTS correlated subquery is a LEFT
# SEMI join with an inequality conjunct (fixture adaptation: "some line
# shipped >30 days after order date" replaces commitdate<receiptdate).
# Decorrelated form: equi-join on orderkey carries the shuffle; the date
# inequality rides along as a join residual — no per-order subquery.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority check: orders with at least one late
    lineitem, counted per priority (EXISTS semi-join).
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q5 — local-supplier volume. 6-way star join; region/nation broadcast
# (25 + 5 rows at any scale), the c_nationkey = s_nationkey "local" clause
# is a residual on the orders⋈lineitem⋈supplier spine.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: revenue where customer and supplier
    share a nation inside one region-year.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey", "n_name")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(asia_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q6 — forecast-revenue change. Pure scan+filter+scalar agg; all three
# predicates push into the parquet scan (min/max row-group skipping at
# scale). The cheapest query in the suite at any SF.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue change: scan-only sum of discounted
    revenue in a quantity/discount/date band.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations. The two broadcast nation maps
# (supplier-side, customer-side) filter the spine BEFORE the big
# orders⋈lineitem shuffle; year() is part of the grouping key.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: revenue between two nations by year, both
    shipping directions.
    """
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting, top-20 customers by lost revenue. The
# returnflag filter prunes lineitem before the join; the final top-k sorts
# only the per-customer aggregate.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item report: top customers by revenue lost to
    returned lineitems in a quarter.
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution. LEFT OUTER join (customers with
# zero orders must survive) + two-level aggregate; the priority filter is
# on the JOIN (not WHERE) so filtered-out orders count as zero, exactly the
# TPC-H "not like" semantics adapted to o_orderpriority.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer distribution: histogram of order counts per
    customer including zero-order customers (outer join + filtered join
    predicate).
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 — promotion effect: revenue share of PROMO parts in one month. The
# month filter cuts lineitem ~70×; part joins the residue (broadcast at
# fixture SF, shuffle at 100 TB — either way the filter ran first).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: promo revenue share of one month's
    shipments.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc_price).otherwise(0.0))
                / F.sum(disc_price),
                4,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier by quarterly revenue. The correlated max subquery is
# decorrelated: aggregate once per supplier, then the SURVEY §2.D7 pattern
# for a global scalar — a 1-row agg(max) cross-joined back (AQE broadcasts
# the single row), so no stage ever collapses the per-supplier aggregate
# to one partition the way an empty-frame window would.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: supplier(s) achieving the max quarterly
    revenue (view + scalar-max equality).
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    gmax = rev.agg(F.max("total_revenue").alias("_max"))
    top = rev.join(F.broadcast(gmax)).filter(
        F.col("total_revenue") == F.col("_max")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supp.join(
        top, F.col("s_suppkey") == F.col("supplier_no")
    ).select("s_suppkey", "s_name", "total_revenue")


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue. The correlated per-part avg becomes
# one groupBy over the SAME filtered lineitem slice plus an equi-join —
# two passes over one partkey-pruned subset instead of a per-row subquery.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue: lineitems under 20% of their
    part's average quantity (correlated average).
    """
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # NOTE: the inner avg is over ALL lineitems of the part (not only the
    # brand-filtered join result) — mirror that by aggregating before the
    # part filter joins in.
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers. The HAVING on sum(qty) runs on the
# per-order aggregate BEFORE joining customer/orders back in, so the big
# join input is already cut to the ~6% of orders that qualify.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 200
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total quantity tops
    300, with customer detail.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 200)
        .drop("_raw_qty")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue over OR-of-ANDs predicates (brand × size ×
# quantity bands). One join, one disjunctive residual — Catalyst keeps the
# partkey equi-conjunct as the join key and the OR as a post-join filter;
# the brand/size conjuncts push into the part scan as an OR filter.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: disjunctive brand/container/quantity
    predicate pushed into one join.
    """
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q8 — national market share (faithful: every needed column exists). The
# 8-way star keeps lineitem as the spine; nation/region broadcast
# explicitly, part/customer/supplier/orders joins finalized by AQE. The
# share division happens AFTER the per-year aggregate: two scalar sums
# per year, never a second pass.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                AND TIMESTAMP '1996-12-31'
          AND p.p_type = 'PROMO'
    )
    GROUP BY o_year
    """
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: one nation's share of a part-type's
    revenue per order year.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey"))
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
        )
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_2", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit by (nation, year). ADAPTED: the fixture has no
# partsupp, so supply cost is proxied as 0.6 * p_retailprice * l_quantity
# (same join/aggregate SHAPE as the standard query: 5-way join, profit
# expression per line, two-key aggregate; reference for parity is the
# standard Q9 plan, not its numbers).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT nation, o_year, round(sum(amount), 4) AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity AS amount
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit: profit per (nation, order-year) over
    parts matching a name fragment.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q12 — late-shipment priority split. ADAPTED: no l_shipmode/commitdate/
# receiptdate in the fixture, so "late" = shipped >60 days after the
# order date and the group key is l_linestatus — the SHAPE is the
# standard one: orders⋈lineitem with a date-window filter and two
# conditional counts per group.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT l.l_linestatus,
           CAST(count(*) FILTER (WHERE o.o_orderpriority IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
           CAST(count(*) FILTER (WHERE o.o_orderpriority NOT IN
                ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shipping modes: late-vs-ok priority counts per ship mode
    for a year.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(urgent, 1)).alias("high_line_count"),
            F.count(F.when(~urgent, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting. ADAPTED lateness ("shipped >90
# days after order date" replaces receiptdate>commitdate), but the SHAPE
# is the standard double-correlated form: an EXISTS (another supplier
# contributed to the same order) and a NOT EXISTS (no OTHER supplier was
# also late), both decorrelated to semi/anti joins on the orderkey with
# supplier-inequality residuals — never a per-row subquery. Top-20 via
# orderBy+limit (TakeOrderedAndProject).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 waiting suppliers: sole-late-supplier orders per nation
    (EXISTS + NOT EXISTS double correlation).
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    l1 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    exists_other = (F.col("l_orderkey") == F.col("x_orderkey")) & (
        F.col("l_suppkey") != F.col("x_suppkey")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
        F.col("l_shipdate").alias("y_shipdate"),
    )
    other_also_late = (
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey"))
        & (F.col("y_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    )
    waited = (
        l1.join(l2, exists_other, "left_semi")
        .join(l3, other_also_late, "left_anti")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waited.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q22 — inactive high-balance customers. ADAPTED: the fixture has no
# c_phone, so the country-code grouping becomes the nation name, and
# "never ordered" (true for zero fixture customers) becomes "no order
# since 2000-06-01" — the SHAPE is standard: a global scalar average
# (1-row broadcast back, D7), an anti-join against a date-pruned orders
# scan, and a per-group count/sum.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c.c_acctbal), 4) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-06-01'
      )
    GROUP BY n.n_name
    """
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity: idle customers with
    above-average balances by phone prefix (anti-join + scalar subquery).
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_ab")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )

# ---------------------------------------------------------------------------
# Derived partsupp: the fixture ships no partsupp table, so the remaining
# four TPC-H shapes (Q2/Q11/Q16/Q20 — all partsupp-centric) run against a
# catalog DERIVED identically on both engines from lineitem:
#   ps_availqty   = total quantity ever shipped for the (part, supplier)
#                   pair (integral doubles in the fixture, so the BIGINT
#                   cast is exact on both engines);
#   ps_supplycost = cheapest observed unit price, kept as the RAW double:
#                   IEEE division and min are bit-identical across engines,
#                   so equality joins and value hashes agree exactly —
#                   whereas round(x, 4) diverges when the shortest decimal
#                   repr ends on a tie (DuckDB half-even vs Spark half-up;
#                   observed on 1265.17025 in the sf0.01 fixture).
# At 100 TB this derivation is one map-side-combined groupBy over the
# lineitem scan (8-byte keys), reused per query plan; a real deployment
# would materialize it once (bucketBy(ps_partkey)) — noted in SCALING.md.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """
    partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
               min(l_extendedprice / l_quantity) AS ps_supplycost
        FROM lineitem GROUP BY 1, 2
    )
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum("l_quantity").cast("long").alias("ps_availqty"),
        F.min(
            F.col("l_extendedprice") / F.col("l_quantity")
        ).alias("ps_supplycost"),
    )


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier per part in a region. The correlated
# min-supplycost subquery is decorrelated into an aggregate-join: eligible
# (part, supplier) rows in EUROPE → per-part min cost → equality join back
# on (partkey, cost). Both joins shuffle on ps_partkey so AQE can reuse
# the exchange; region/nation are broadcast (bounded dims at any scale).
# LIMIT determinism: the ORDER BY key set (acctbal, nation, supplier,
# part) is total over the output rows, so the top-100 cut is stable
# across engines.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    eligible AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
               s.s_name, round(s.s_acctbal, 4) AS s_acctbal, n.n_name
        FROM partsupp ps
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    mn AS (
        SELECT ps_partkey, min(ps_supplycost) AS min_cost
        FROM eligible GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name AS nation,
           p.p_partkey, e.ps_suppkey AS s_suppkey, e.ps_supplycost
    FROM part p
    JOIN eligible e ON p.p_partkey = e.ps_partkey
    JOIN mn ON mn.ps_partkey = e.ps_partkey
           AND e.ps_supplycost = mn.min_cost
    WHERE p.p_size <= 15 AND p.p_type = 'SMALL'
    ORDER BY e.s_acctbal DESC, nation, e.s_name, p.p_partkey
    LIMIT 100
    """
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier: correlated min supplycost per part
    in a region, ordered supplier report.
    """
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 4).alias("s_acctbal"),
        "s_nationkey",
    )
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    eligible = (
        ps.join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost",
                "s_name", "s_acctbal", "n_name")
    )
    mn = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    ).withColumnRenamed("ps_partkey", "mn_partkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    return (
        eligible.join(
            mn,
            (F.col("ps_partkey") == F.col("mn_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", F.col("n_name").alias("nation"),
            "p_partkey", F.col("ps_suppkey").alias("s_suppkey"),
            "ps_supplycost",
        )
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification. ADAPTED twice for cross-engine
# determinism at every SF: (1) scope is the EUROPE region rather than one
# nation (the sf0.001 fixture has suppliers in only 10 of 25 nations);
# (2) per-pair value is quantized to integer cents with floor() BEFORE
# aggregation — floor on bit-identical doubles is engine-identical and
# BIGINT sums are order-independent, so the result is exact where a
# round(sum(double),4) sat on a rounding boundary (observed at sf0.01).
# (3) the fixed "fraction of total" threshold (0.0001/SF in the standard
# query) is scale-dependent, so "important" = more than 2x the average
# per-part value. The scalar subquery is the D7 pattern: a 1-row
# aggregate broadcast back over the per-part sums (never a global
# window).
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    natps AS (
        SELECT ps.ps_partkey,
               CAST(floor(ps.ps_supplycost * ps.ps_availqty * 100) AS BIGINT)
                   AS value_cents
        FROM partsupp ps
        JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    per_part AS (
        SELECT ps_partkey, CAST(sum(value_cents) AS BIGINT) AS value_cents
        FROM natps GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_cents
    FROM per_part
    WHERE value_cents > (
        SELECT 2.0 * sum(value_cents) / count(*) FROM per_part
    )
    """
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock: part stock values in one nation above a
    scaled fraction of the total (HAVING on a scalar subquery).
    """
    ps = _partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    natps = (
        ps.join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "ps_partkey",
            F.floor(F.col("ps_supplycost") * F.col("ps_availqty") * 100)
            .cast("long")
            .alias("value_cents"),
        )
    )
    per_part = natps.groupBy("ps_partkey").agg(
        F.sum("value_cents").alias("value_cents")
    )
    threshold = per_part.agg(
        (2.0 * F.sum("value_cents") / F.count("*")).alias("_thr")
    )
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("value_cents") > F.col("_thr"))
        .select("ps_partkey", "value_cents")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier-relationship count per part attribute. ADAPTED: the
# fixture supplier has no s_comment, so the "customer complaints"
# exclusion becomes delinquent accounts (s_acctbal < 0) — same shape: a
# NOT IN decorrelated to an anti-join whose build side scales with the
# supplier table, so AQE chooses the strategy from its actual
# post-filter size, then count(DISTINCT supplier) per 3-part key. The distinct
# aggregate expands map-side (partial distinct) — no row explosion.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_PARTSUPP_CTE}
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY 1, 2, 3
    """
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 part/supplier counts: distinct suppliers per (brand, type,
    size) excluding complaint suppliers (anti-join).
    """
    ps = _partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    # The excluded-supplier side scales with the supplier table, so the
    # broadcast decision is left to AQE (actual post-filter size), per the
    # repo rule: only provably bounded builds are pinned broadcast.
    return (
        ps.join(bad, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with excess stock. ADAPTED: with partsupp derived from
# all-time shipments, the standard "availqty > half the year's movement"
# is vacuous (all-time ≥ any year), so the excess predicate becomes
# all-time > 2× the 1995 movement for pairs that DID ship in 1995 — same
# shape: a correlated scalar-agg subquery decorrelated into an
# aggregate-join, an IN → semi-join on the filtered part scan, and a
# distinct-supplier projection driving the final supplier join.
# ---------------------------------------------------------------------------
@declared(
    oracle=f"""
    WITH {_PARTSUPP_CTE},
    shipped95 AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty95
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2
    ),
    excess AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM partsupp ps
        JOIN shipped95 s95 ON s95.l_partkey = ps.ps_partkey
                          AND s95.l_suppkey = ps.ps_suppkey
        WHERE ps.ps_availqty > 2 * s95.qty95
          AND ps.ps_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE '%blue%'
          )
    )
    SELECT s.s_name, n.n_name AS nation, round(s.s_acctbal, 4) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN excess e ON s.s_suppkey = e.ps_suppkey
    WHERE r.r_name = 'ASIA'
    """
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 part promotion: suppliers holding excess stock of
    name-matched parts in one nation (nested semi-joins).
    """
    ps = _partsupp(spark, sf_dir)
    li95 = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("s95_partkey"),
            F.col("l_suppkey").alias("s95_suppkey"),
        )
        .agg(F.sum("l_quantity").alias("qty95"))
    )
    blue = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    excess = (
        ps.join(
            li95,
            (F.col("ps_partkey") == F.col("s95_partkey"))
            & (F.col("ps_suppkey") == F.col("s95_suppkey")),
        )
        .filter(F.col("ps_availqty") > 2 * F.col("qty95"))
        .join(blue, F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .select("ps_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    return (
        supp.join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_name", F.col("n_name").alias("nation"),
            F.round("s_acctbal", 4).alias("s_acctbal"),
        )
    )
