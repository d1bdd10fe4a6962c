"""Event-stream analytics roster (engine surface; SURVEY §2.D/§2.E ext).

The reference engine's review dataflow has no longitudinal/event surface;
these are the per-entity sequence analytics a production deployment runs
next to it (monitoring, experimentation, drift detection), each expressed
Spark-first and DuckDB-oracle-checked on the ``events`` fixture.

Cross-engine determinism strategy (shared by every query here):

- monetary doubles are quantized to integer cents with ``floor(x*100+0.5)``
  BEFORE any aggregation — floor on bit-identical doubles is
  engine-identical and integer sums are order-independent, so windowed
  mean/variance/t-statistics are EXACT matches (no round-at-the-boundary
  risk, unlike round(sum(double), k));
- sequence recurrences (EWMA, CUSUM) are expressed as an explicit
  left-to-right fold — Spark ``F.aggregate`` over a
  ``array_sort(collect_list(struct(ts, event_id, v)))`` array, DuckDB
  ``list_reduce(list(v ORDER BY ts, event_id), ...)`` — the SAME
  floating-point op sequence on both engines, so results are
  bit-identical. Fold init is the first element on both sides
  (``list_reduce`` has no init parameter).

Scale notes: the fold queries materialize one user's history as an array
(collect_list cannot partial-combine); that is the right physical plan
when per-key cardinality is bounded (user sessions, device histories). At
unbounded per-key history, the EWMA/CUSUM recurrences move to
a per-key GroupState fold (``streaming.jobs._fold_by_key``) or a
chunked prefix-scan; the window/aggregate queries below shuffle once on
user_id and are size-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from review_engine_spark.plans import declared
from review_engine_spark.sources.io import read_parquet_table


# ---------------------------------------------------------------------------
# EWMA — exponentially weighted moving average per user, alpha = 0.1.
# A linear recurrence folded left-to-right over the time-ordered value
# sequence; init = first observation (the standard pandas `adjust=False`
# convention).
# ---------------------------------------------------------------------------
_EWMA_ORACLE = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           list_reduce(list(value ORDER BY ts, event_id),
                       (acc, x) -> 0.1 * x + 0.9 * acc) AS ewma
    FROM events
    GROUP BY user_id
    """


@declared(oracle=_EWMA_ORACLE)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha = 0.1) as a
    bit-identical ordered list fold.
    """
    # The fold is the IDENTICAL IEEE op sequence on both engines, so the
    # raw double is bit-exact — emit it unrounded. round() here is pure
    # risk: the round-8 second-seed sf0.1 sweep caught Spark (half-up on
    # the shortest decimal repr) and DuckDB (multiply-by-1e6-then-round,
    # which can cross the .5 boundary the decimal repr doesn't) splitting
    # on 35.459430499999996 -> .459430 vs .459431. Raw doubles carry no
    # such boundary (NOTES round-4: derived scalars stay RAW).
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s.value,
    )
    ewma = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: F.lit(0.1) * x + F.lit(0.9) * acc,
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        ewma.alias("ewma"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection — one-sided cumulative-sum statistic per user:
# acc = max(0, acc + (x - k)) folded over the ordered sequence, k = the
# global mean value (a 1-row broadcast, D7). A user whose final statistic
# is large has sustained above-target drift. Max-plus recurrence — a
# different fold algebra from EWMA's affine one.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH k AS (
        SELECT CAST(floor(avg(value) * 100 + 0.5) AS BIGINT) / 100.0 AS k
        FROM events
    )
    SELECT e.user_id,
           list_reduce(list_prepend(
                   0.0, list(e.value - k.k ORDER BY e.ts, e.event_id)),
               (acc, x) -> greatest(0.0, acc + x)) AS cusum
    FROM events e CROSS JOIN k
    GROUP BY e.user_id, k.k
    """
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift statistic: one-sided cumulative sums of
    deviations from the corpus mean (cent-quantized so both engines fold
    identical doubles).
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    # Quantize the target to cents so both engines fold the exact same
    # deviation doubles (avg(double) is summation-order-dependent).
    k = ev.agg(
        (F.floor(F.avg("value") * 100 + 0.5).cast("long") / 100.0).alias("k")
    )
    arr = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "dev"))),
        lambda s: s.dev,
    )
    cusum = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: F.greatest(F.lit(0.0), acc + x)
    )
    return (
        ev.join(F.broadcast(k))
        .select("user_id", "ts", "event_id", (F.col("value") - F.col("k")).alias("dev"))
        .groupBy("user_id")
        # raw double, not round(,4): the fold is the identical IEEE op
        # sequence on both engines (bit-exact), and round() itself is the
        # cross-engine hazard (the q_ewma seed-2 sf0.1 catch, round 8)
        .agg(cusum.alias("cusum"))
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomalies — each event scored against the mean/stddev of
# its user's 20 PRECEDING events (never the current row — no target
# leakage), flagged at |z| > 2.5 with at least 10 prior observations.
# Mean and sample variance are assembled from integer-cent window sums
# ((s2 - s1*mean)/(n-1)) so both engines derive z from identical doubles.
# One shuffle on user_id; the two window sums share a single WindowExec.
# ---------------------------------------------------------------------------
_ANOMALY_ZSCORE_ORACLE = """
    WITH cents AS (
        SELECT event_id, user_id, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    w AS (
        SELECT event_id, user_id, c,
               CAST(sum(c) OVER win AS BIGINT) AS s1,
               CAST(sum(c * c) OVER win AS BIGINT) AS s2,
               CAST(count(*) OVER win AS BIGINT) AS n
        FROM cents
        WINDOW win AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING
        )
    ),
    z AS (
        SELECT event_id, user_id,
               (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE)
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                      / CAST(n - 1 AS DOUBLE)) AS z
        FROM w
        WHERE n >= 10
          AND (CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
              > 0.0
    )
    SELECT event_id, user_id, round(z, 3) AS zscore
    FROM z WHERE abs(z) > 2.5
    """


@declared(oracle=_ANOMALY_ZSCORE_ORACLE)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomalies: each event scored against its user's 20
    preceding integer-cent values (leakage-free frame).
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    w = ev.select(
        "event_id", "user_id", "c",
        F.sum("c").over(win).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(win).alias("s2"),
        F.count("*").over(win).alias("n"),
    )
    s1d = F.col("s1").cast("double")
    nd = F.col("n").cast("double")
    mean = s1d / nd
    var = (F.col("s2").cast("double") - s1d * mean) / (F.col("n") - 1).cast(
        "double"
    )
    z = (F.col("c").cast("double") - mean) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= 10) & (
            (F.col("s2").cast("double") - s1d * (s1d / nd)) > 0.0
        ))
        .select("event_id", "user_id", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "user_id", F.round("z", 3).alias("zscore"))
    )


# ---------------------------------------------------------------------------
# Markov transition matrix — first-order event_type transition
# probabilities from per-user ordered sequences: lead() pairs → count per
# (from, to) → normalize by the from-state total (exact BIGINT counts, so
# the probability division is engine-identical). The from-state totals
# are a tiny aggregate joined back (5 event types — broadcast at any
# scale); the only corpus-scaled shuffle is the user_id window.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    cnt AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT from_type, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1
    )
    SELECT c.from_type, c.to_type, c.n,
           round(CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS prob
    FROM cnt c JOIN tot t USING (from_type)
    """
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts and probabilities between
    consecutive event types per user.
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("t"))
    return (
        cnt.join(F.broadcast(tot), "from_type")
        .select(
            "from_type", "to_type", "n",
            F.round(
                F.col("n").cast("double") / F.col("t").cast("double"), 6
            ).alias("prob"),
        )
    )


# ---------------------------------------------------------------------------
# Welch's t-test — A/B experiment readout: users split by id parity,
# purchase-value means compared with the unequal-variance t statistic.
# Group moments come from integer-cent sums (exact on both engines), so
# the t statistic is a deterministic double. Everything reduces to ONE
# 2-row aggregate pivoted into a single row — at 100 TB this is a
# map-side-combined scan, no shuffle beyond the 2-key exchange.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH g AS (
        SELECT user_id % 2 AS grp,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM g GROUP BY grp
    ),
    p AS (
        SELECT
            max(CASE WHEN grp = 0 THEN n END) AS n_a,
            max(CASE WHEN grp = 1 THEN n END) AS n_b,
            max(CASE WHEN grp = 0 THEN s1 END) AS s1_a,
            max(CASE WHEN grp = 1 THEN s1 END) AS s1_b,
            max(CASE WHEN grp = 0 THEN s2 END) AS s2_a,
            max(CASE WHEN grp = 1 THEN s2 END) AS s2_b
        FROM m
    )
    SELECT n_a, n_b,
           round(CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0, 4)
               AS mean_a,
           round(CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0, 4)
               AS mean_b,
           round(
             (CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt(
                 ((CAST(s2_a AS DOUBLE)
                   - CAST(s1_a AS DOUBLE)
                     * (CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
                  / CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE)
                 + ((CAST(s2_b AS DOUBLE)
                     - CAST(s1_b AS DOUBLE)
                       * (CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                    / CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE)),
             4) AS t_stat
    FROM p
    """
)
def q_abtest_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B Welch t-test on purchase values between user-id-parity arms —
    exact integer-cent moments, closed-form t statistic.
    """
    g = (
        read_parquet_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            (F.col("user_id") % 2).alias("grp"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
    )
    m = g.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    p = m.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 0, F.col("s1"))).alias("s1_a"),
        F.max(F.when(F.col("grp") == 1, F.col("s1"))).alias("s1_b"),
        F.max(F.when(F.col("grp") == 0, F.col("s2"))).alias("s2_a"),
        F.max(F.when(F.col("grp") == 1, F.col("s2"))).alias("s2_b"),
    )

    def d(c):
        return F.col(c).cast("double")

    mean_a, mean_b = d("s1_a") / d("n_a"), d("s1_b") / d("n_b")
    var_a = (d("s2_a") - d("s1_a") * (d("s1_a") / d("n_a"))) / (
        F.col("n_a") - 1
    ).cast("double")
    var_b = (d("s2_b") - d("s1_b") * (d("s1_b") / d("n_b"))) / (
        F.col("n_b") - 1
    ).cast("double")
    t = (mean_a - mean_b) / F.sqrt(var_a / d("n_a") + var_b / d("n_b"))
    return p.select(
        "n_a", "n_b",
        F.round(mean_a / 100.0, 4).alias("mean_a"),
        F.round(mean_b / 100.0, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# Wilson score interval — the experiment-dashboard companion to the
# t-test: per event type, the share of "converting" events (value > 5)
# with a 95% Wilson CI. Derived entirely from exact BIGINT counts, so
# the interval bounds are deterministic doubles on both engines; the
# whole query is one map-side-combined aggregate over the scan.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE value > 5.0) AS BIGINT) AS s
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, s,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.9208 / CAST(n AS DOUBLE)
                  - 1.96 * sqrt(
                      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS ci_lo,
           round((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                  + 1.9208 / CAST(n AS DOUBLE)
                  + 1.96 * sqrt(
                      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS ci_hi
    FROM m
    """
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for each event type's high-value
    proportion — the rate metric that stays sane at tiny n.
    """
    m = (
        read_parquet_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("value") > 5.0, 1)).alias("s"),
        )
    )
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    p = sd / nd
    # z = 1.96; z^2 = 3.8416; z^2/2 = 1.9208; z^4/4 = 0.9604 — spelled as
    # the same literals as the oracle so both engines fold identically.
    half = 1.96 * F.sqrt(p * (1.0 - p) / nd + 0.9604 / (nd * nd))
    denom = 1.0 + 3.8416 / nd
    return m.select(
        "event_type", "n", "s",
        F.round(p, 6).alias("p_hat"),
        F.round((p + 1.9208 / nd - half) / denom, 6).alias("ci_lo"),
        F.round((p + 1.9208 / nd + half) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Streaming EWMA — the same recurrence as q_ewma computed with REAL
# cross-batch GroupState (streaming.jobs._fold_by_key): per-user state is one
# (acc, n) pair however long the history, which is why this is the
# declared unbounded-history path. Oracle-checked against the identical
# list_reduce SQL as the batch fold — stream-batch parity is the check.
# Update-mode emits provisional rows per batch; the widest (max
# n_events) row per user is final.
# ---------------------------------------------------------------------------
@declared(oracle=_EWMA_ORACLE)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_ewma: per-user EWMA folded under cross-batch
    GroupState (``streaming.jobs._fold_by_key``), bit-identical to the
    batch fold.
    """
    # Raw (unrounded) ewma, same rationale as q_ewma: the stateful fold
    # replays the identical op sequence, so the double is bit-exact and
    # rounding only ADDS a cross-engine boundary (caught by the round-8
    # second-seed sf0.1 sweep).
    from review_engine_spark.streaming.jobs import run_ewma_stateful

    raw = run_ewma_stateful(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "ewma")
    )


# ---------------------------------------------------------------------------
# Population Stability Index — the standard training-data drift readout:
# value distributions of the first vs second half of the event history
# across 10 fixed-width buckets, PSI = Σ (p_a - p_b) · ln(p_a / p_b).
# Counts are exact BIGINTs and the bucket domain is fixed (10 rows), so
# the whole query is one map-side-combined aggregate + a 10-row compute;
# only ln() touches libm (engines agree far beyond the 6dp rounding).
# Laplace-style +1 smoothing keeps empty buckets finite AND deterministic.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH b AS (
        SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS half
        FROM events
    ),
    c AS (
        SELECT bucket,
               CAST(1 + count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_a,
               CAST(1 + count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_b
        FROM b GROUP BY bucket
    ),
    t AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b
        FROM c
    )
    SELECT c.bucket, c.n_a, c.n_b,
           round((CAST(c.n_a AS DOUBLE) / CAST(t.t_a AS DOUBLE)
                  - CAST(c.n_b AS DOUBLE) / CAST(t.t_b AS DOUBLE))
                 * ln((CAST(c.n_a AS DOUBLE) / CAST(t.t_a AS DOUBLE))
                      / (CAST(c.n_b AS DOUBLE) / CAST(t.t_b AS DOUBLE))),
                 6) AS psi_term
    FROM c CROSS JOIN t
    """
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of value buckets between the first
    and second half of the event timeline.
    """
    ev = read_parquet_table(spark, sf_dir, "events").select(
        F.least(
            F.floor(F.col("value") / 50.0).cast("long"), F.lit(9).cast("long")
        ).alias("bucket"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
        ).otherwise(1).alias("half"),
    )
    c = ev.groupBy("bucket").agg(
        (1 + F.count(F.when(F.col("half") == 0, 1))).alias("n_a"),
        (1 + F.count(F.when(F.col("half") == 1, 1))).alias("n_b"),
    )
    t = c.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    pa = F.col("n_a").cast("double") / F.col("t_a").cast("double")
    pb = F.col("n_b").cast("double") / F.col("t_b").cast("double")
    return (
        c.join(F.broadcast(t))
        .select(
            "bucket", "n_a", "n_b",
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence — is event_type independent of the experiment
# arm (user parity)? Observed/expected from exact BIGINT marginals,
# chi² = Σ (O − E)²/E — no libm anywhere, so every cell statistic is a
# deterministic double. One aggregate over the scan; the contingency
# table is |types| × 2 rows (bounded domain, broadcast marginals).
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH o AS (
        SELECT event_type, user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
    cm AS (SELECT arm, CAST(sum(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o)
    SELECT o.event_type, o.arm, o.obs,
           round(CAST(rm.row_tot AS DOUBLE) * CAST(cm.col_tot AS DOUBLE)
                 / CAST(n.n AS DOUBLE), 6) AS expected,
           round(
             (CAST(o.obs AS DOUBLE)
              - CAST(rm.row_tot AS DOUBLE) * CAST(cm.col_tot AS DOUBLE)
                / CAST(n.n AS DOUBLE))
             * (CAST(o.obs AS DOUBLE)
                - CAST(rm.row_tot AS DOUBLE) * CAST(cm.col_tot AS DOUBLE)
                  / CAST(n.n AS DOUBLE))
             / (CAST(rm.row_tot AS DOUBLE) * CAST(cm.col_tot AS DOUBLE)
                / CAST(n.n AS DOUBLE)), 6) AS chi2_term
    FROM o
    JOIN rm USING (event_type)
    JOIN cm USING (arm)
    CROSS JOIN n
    """
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type x user-parity arm from
    observed vs expected contingency counts.
    """
    o = (
        read_parquet_table(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("user_id") % 2).alias("arm"))
        .agg(F.count("*").alias("obs"))
    )
    rm = o.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    cm = o.groupBy("arm").agg(F.sum("obs").alias("col_tot"))
    n = o.agg(F.sum("obs").alias("n"))
    e = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("obs").cast("double")
    return (
        o.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "arm")
        .join(F.broadcast(n))
        .select(
            "event_type", "arm", "obs",
            F.round(e, 6).alias("expected"),
            F.round((od - e) * (od - e) / e, 6).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov — the distribution-free partner to the
# t-test: D = max over the value axis of |ECDF_a − ECDF_b| between the
# two experiment arms. Everything reduces to exact-int cumulative counts
# over the CENT DOMAIN (≤ ~50k distinct cents whatever the corpus size):
# the global cumulative window runs over the per-cent aggregate, which
# is bounded by the value domain, not the row count — the same
# "aggregate first, then the tiny ordered pass" shape as a histogram
# ECDF at 100 TB. The (desc diff, asc cent) LIMIT 1 makes the argmax
# deterministic under ties.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH g AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
               user_id % 2 AS arm
        FROM events WHERE event_type = 'purchase'
    ),
    per_c AS (
        SELECT c,
               CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b
        FROM g GROUP BY c
    ),
    t AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b
        FROM per_c
    ),
    ecdf AS (
        SELECT c,
               CAST(sum(n_a) OVER (ORDER BY c) AS BIGINT) AS cum_a,
               CAST(sum(n_b) OVER (ORDER BY c) AS BIGINT) AS cum_b
        FROM per_c
    )
    SELECT e.c AS at_cents,
           abs(CAST(e.cum_a AS DOUBLE) / CAST(t.t_a AS DOUBLE)
               - CAST(e.cum_b AS DOUBLE) / CAST(t.t_b AS DOUBLE)) AS ks_stat
    FROM ecdf e CROSS JOIN t
    ORDER BY ks_stat DESC, at_cents ASC
    LIMIT 1
    """
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between user-parity arms over
    purchase-value ECDFs.
    """
    g = (
        read_parquet_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
            (F.col("user_id") % 2).alias("arm"),
        )
    )
    per_c = g.groupBy("c").agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
    )
    t = per_c.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)  # bounded: cent-domain aggregate, not corpus rows
    ecdf = per_c.select(
        "c",
        F.sum("n_a").over(w).alias("cum_a"),
        F.sum("n_b").over(w).alias("cum_b"),
    )
    ks = F.abs(
        F.col("cum_a").cast("double") / F.col("t_a").cast("double")
        - F.col("cum_b").cast("double") / F.col("t_b").cast("double")
    )
    return (
        ecdf.join(F.broadcast(t))
        .select(F.col("c").alias("at_cents"), ks.alias("ks_stat"))
        .orderBy(F.desc("ks_stat"), F.asc("at_cents"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic fabricated-data smell test:
# observed first-significant-digit shares vs Benford's log10(1 + 1/d),
# with the expected probabilities as HARDCODED literals (identical on
# both engines — no libm in the query at all). The first digit comes
# from the integer-cent value via string head, so extraction is exact.
# One map-side aggregate; the digit domain is 9 rows.
# ---------------------------------------------------------------------------
_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@declared(
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM events
        WHERE floor(value * 100 + 0.5) >= 1
    ),
    o AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM o),
    e AS (
        SELECT * FROM (VALUES
            {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD.items()))}
        ) AS v(digit, expected)
    )
    SELECT o.digit, o.n,
           CAST(o.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS observed,
           e.expected,
           abs(CAST(o.n AS DOUBLE) / CAST(t.t AS DOUBLE) - e.expected)
               AS abs_dev
    FROM o JOIN e USING (digit) CROSS JOIN t
    """
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit histogram of event cents beside the
    log10(1 + 1/d) expectation.
    """
    cents = F.floor(F.col("value") * 100 + 0.5)
    d = (
        read_parquet_table(spark, sf_dir, "events")
        .filter(cents >= 1)
        .select(
            F.substring(cents.cast("long").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
    )
    o = d.groupBy("digit").agg(F.count("*").alias("n"))
    # Total via a global window over the 9-row digit aggregate instead of
    # a second aggregate consumer of `o`: the agg-then-broadcast-join form
    # planned the events scan + digit groupBy TWICE (once per consumer of
    # `o`); the window reuses the single aggregate (round 13, guide §2.4 —
    # plan went 2 parquet scans -> 1, 3.9 s -> ~2 s at sf0.1). The window
    # moves 9 rows to one partition — bounded by the digit domain (the
    # plan audit's runtime bounded-input check covers this site); the
    # explicit full frame makes the ordered window a grand total, and the
    # BIGINT sum is order-independent.
    t_win = F.sum("n").over(
        Window.orderBy("digit").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    e = F.broadcast(
        spark.createDataFrame(
            sorted(_BENFORD.items()), "digit long, expected double"
        )
    )
    obs = F.col("n").cast("double") / F.col("t").cast("double")
    return (
        o.withColumn("t", t_win)
        .join(e, "digit")
        .select(
            "digit", "n",
            obs.alias("observed"),
            "expected",
            F.abs(obs - F.col("expected")).alias("abs_dev"),
        )
    )


# ---------------------------------------------------------------------------
# Per-user OLS trend slope — "is this user's spend trending up?": the
# least-squares slope of value (cents) against time (whole minutes since
# 2024-01-01), assembled from five exact BIGINT sums per user
# (n, Σx, Σy, Σxy, Σxx), so the closed-form slope is a deterministic
# double. Magnitudes stay far inside BIGINT (minutes ≤ ~45k, cents
# ≤ ~50k, ≤ a few hundred events per user). One map-side-combined
# aggregate keyed by user — nothing else moves.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH xy AS (
        SELECT user_id,
               CAST(floor(date_diff('minute', TIMESTAMP '2024-01-01', ts))
                    AS BIGINT) AS x,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    m AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy GROUP BY user_id
    )
    SELECT user_id, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents_per_min
    FROM m
    WHERE n * sxx - sx * sx <> 0
    """
)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend slope of value cents against event time
    (minutes), closed-form over exact sums.
    """
    xy = read_parquet_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            (F.col("ts").cast("double")
             - F.lit("2024-01-01").cast("timestamp").cast("double")) / 60.0
        ).cast("long").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    m = xy.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        m.filter(den != 0)
        .select(
            "user_id", "n",
            F.round(num.cast("double") / den.cast("double"), 6)
            .alias("slope_cents_per_min"),
        )
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — per-user serial dependence of event values:
# Pearson r over consecutive (y_i, y_{i+1}) cent pairs from the
# time-ordered sequence. The pairs come from a lead() window (one
# user_id shuffle); the five moment sums are exact BIGINTs, so r is a
# deterministic double. Users need ≥ 3 pairs and nonzero variance on
# both legs.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH seq AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS a,
               lead(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS b
        FROM events
    ),
    m AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(a * b) AS BIGINT) AS sab,
               CAST(sum(a * a) AS BIGINT) AS saa,
               CAST(sum(b * b) AS BIGINT) AS sbb
        FROM seq WHERE b IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n,
           round(CAST(n * sab - sa * sb AS DOUBLE)
                 / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                        * CAST(n * sbb - sb * sb AS DOUBLE)), 6) AS autocorr
    FROM m
    WHERE n >= 3 AND n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
    """
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values via lead() pairs over
    exact integer cents.
    """
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        read_parquet_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", cents.alias("a"))
        .select("user_id", "a", F.lead("a").over(w).alias("b"))
        .filter(F.col("b").isNotNull())
    )
    m = seq.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"), F.sum("b").alias("sb"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    va = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    vb = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    return (
        m.filter((F.col("n") >= 3) & (va > 0) & (vb > 0))
        .select(
            "user_id", "n",
            F.round(
                num.cast("double")
                / F.sqrt(va.cast("double") * vb.cast("double")),
                6,
            ).alias("autocorr"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming rolling z-score — q_anomaly_zscore's recurrence under REAL
# cross-batch GroupState with a BOUNDED ring buffer (last 20 cents per
# user, O(1) state per key forever). The finite-source run is as
# deterministic as the batch twin (same integer moments, same IEEE op
# sequence — tests/test_analytics.py asserts exact set equality), so it
# carries the SAME trailing-window oracle SQL as q_anomaly_zscore.
# ---------------------------------------------------------------------------
@declared(oracle=_ANOMALY_ZSCORE_ORACLE)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of q_anomaly_zscore: a bounded ring buffer per
    user in cross-batch GroupState (``streaming.jobs._fold_by_key``)
    scores each event against its user's trailing window.
    """
    from review_engine_spark.streaming.jobs import run_zscore_stateful

    return run_zscore_stateful(spark, sf_dir).select(
        "event_id", "user_id", F.round("zscore", 3).alias("zscore")
    )


# ---------------------------------------------------------------------------
# Mutual information — how much does a document's source tell you about
# its language (the info-theoretic column-association profiler used to
# pick stratification keys for mixture/dedup passes). Per-cell
# MI terms (obs/N)·ln(obs·N / (row·col)) from exact BIGINT marginals,
# emitted per (lang, source) cell like q_psi_drift / q_chi2 — the
# bounded cell domain means no order-dependent global sum exists; only
# ln() touches libm (6dp guard). One map-side-combined aggregate over
# the scan; marginals are domain-bounded broadcasts.
# ---------------------------------------------------------------------------
@declared(
    oracle="""
    WITH o AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY 1, 2
    ),
    rm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
    cm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o)
    SELECT o.lang, o.source, o.obs,
           round((CAST(o.obs AS DOUBLE) / CAST(n.n AS DOUBLE))
                 * ln((CAST(o.obs AS DOUBLE) * CAST(n.n AS DOUBLE))
                      / (CAST(rm.row_tot AS DOUBLE)
                         * CAST(cm.col_tot AS DOUBLE))),
                 6) AS mi_term
    FROM o
    JOIN rm ON o.lang = rm.lang
    JOIN cm ON o.source = cm.source
    CROSS JOIN n
    """
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mutual-information terms between document language and
    source: exact BIGINT contingency counts, ln at 6dp only."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("obs"))
    rm = cells.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    cm = cells.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = cells.agg(F.sum("obs").alias("n"))
    obs = F.col("obs").cast("double")
    nn = F.col("n").cast("double")
    rx = F.col("row_tot").cast("double")
    cx = F.col("col_tot").cast("double")
    return (
        cells.join(F.broadcast(rm), "lang")
        .join(F.broadcast(cm), "source")
        .join(F.broadcast(n))
        .select(
            "lang", "source", "obs",
            F.round((obs / nn) * F.log((obs * nn) / (rx * cx)), 6).alias(
                "mi_term"
            ),
        )
    )
