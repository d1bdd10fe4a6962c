"""Structured Streaming runners over the events and documents tables
(SURVEY §2.I; the reference has no streaming, only a stateless Q&A REPL,
semantic.py:76-106).

Each runner drives a finite file source to completion and returns its
result as a batch DataFrame (``_snapshot``), so the roster's oracles can
check it against batch SQL. The surface: tumbling and session windows,
watermarked dedup, stream-stream and stream-static joins, the parquet
sink and ``foreachBatch`` upsert landings, four stateful per-key folds
(sessionization, EWMA, z-score, MinHash-LSH near-dup flags) and two
document ingest gates. The folds share one GroupState layout,
``_fold_by_key``: each runner supplies only what one key's rows do to
that key's state. The folds and ``run_stream_dedup`` take one source
contract: ``path_glob`` names the table's files under ``sf_dir`` and
``max_files_per_trigger`` splits them into micro-batches (the ingest
gate takes only the latter), which is how the tests feed late,
out-of-order and cross-batch data.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "tumbling_counts",
    "run_tumbling_count_batchlike",
    "sessionize",
    "run_sessionize_stateful",
    "run_stream_dedup",
    "run_stream_stream_join",
    "run_stream_to_parquet",
    "run_stream_upsert",
    "run_ewma_stateful",
    "run_zscore_stateful",
    "run_stream_near_dup",
    "run_stream_static_join",
    "run_stream_quality_gate",
    "run_stream_ingest_gate",
]

# GroupState keys per state partition. ``_fold_by_key`` keys its state
# by ``pmod(key, buckets)`` instead of by the key itself: each bucket
# stores its keys and their states as two arrays and the fold loops
# those keys inside one pandas group, so the per-group state round trip
# and Arrow marshalling are paid per bucket, not per key. Sixteen
# buckets per partition smooths skew across the partitions. Per-key
# fold order and emitted rows do not depend on the bucket count (pinned
# in tests/test_streaming.py).
KEY_BUCKETS_PER_PARTITION = 16

#: ``run_stream_near_dup``'s MinHash: md5 seeds, and seeds per LSH band.
NEAR_DUP_SEEDS = 8
NEAR_DUP_BAND_WIDTH = 2

#: the batch twins' parameters: session gap, EWMA smoothing factor, and
#: the z-score's trailing window, history needed to score, and flag |z|
SESSION_GAP = "30 minutes"
EWMA_ALPHA = 0.1
ZSCORE_WINDOW = 20
ZSCORE_MIN_N = 10
ZSCORE_THRESHOLD = 2.5


def _key_bucket(spark: SparkSession, key: Column) -> Column:
    """The GroupState bucket of a long ``key``: one of
    ``KEY_BUCKETS_PER_PARTITION`` × the session's cores."""
    n = KEY_BUCKETS_PER_PARTITION * spark.sparkContext.defaultParallelism
    return F.pmod(key, F.lit(n)).cast("int")


@contextmanager
def _state_partitions(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` to the session's cores
    around a streaming run. The count is frozen into the checkpoint at
    first start, and each partition is one Python task and one state
    store per micro-batch, so it is sized to the cores rather than left
    at a bare session's 200."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _snapshot(
    spark: SparkSession, stream_df: DataFrame, mode: str, name: str
) -> DataFrame:
    """Drive a finite streaming DataFrame to completion and return the
    result snapshot as a batch DataFrame.

    The result lands in the memory sink and is snapshotted through Arrow
    ``toPandas``: every runner's full output is a few thousand rows at
    the fixture scales, so a driver-side snapshot is the cheapest exact
    landing (the parquet file-sink landing is ``run_stream_to_parquet``).
    """
    with _state_partitions(spark), tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        out = spark.table(name)
        # snapshot through Arrow before the memory table goes away
        # (collect->python rows is 10x slower at 100k rows)
        return spark.createDataFrame(out.toPandas(), out.schema)


def _parquet_stream(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str,
    max_files_per_trigger: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Finite-source streaming reader over the ``path_glob`` table of
    ``sf_dir``.

    The fixture stores a table as a single FILE (``<sf_dir>/<name>.parquet``),
    Spark-written corpora (replicas, sinks) as a DIRECTORY of part files;
    pathGlobFilter matches file basenames, so the reader points at the
    directory when that is what exists. Structured Streaming needs an
    explicit schema: ``schema`` if given, else a batch footer peek of
    the matching files.
    """
    table_dir = os.path.join(sf_dir, path_glob)
    if os.path.isdir(table_dir):
        src_path, opts = table_dir, {}
    else:
        src_path, opts = sf_dir, {"pathGlobFilter": path_glob}
    if schema is None:
        schema = spark.read.options(**opts).parquet(src_path).schema
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return spark.readStream.schema(schema).options(**opts).parquet(src_path)


def _events_stream(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Finite-source streaming reader for an events feed, with ``ts``
    normalized to TIMESTAMP whatever the files store.

    The fixture's on-disk type has changed across driver rounds —
    TIMESTAMP(NANOS) (arriving as ns-longs under nanosAsLong), raw int64
    ns (test fixtures), and TIMESTAMP(MICROS, isAdjustedToUTC=false) →
    NTZ. The schema peeked from the matching files decides which fixup
    applies, mirroring sources.io.read_parquet_table.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = _parquet_stream(spark, sf_dir, path_glob, max_files_per_trigger)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _fold_by_key(
    spark: SparkSession,
    rows: DataFrame,
    key: str,
    order: list[str],
    fold: Callable[[object, list[tuple], object], tuple[list[tuple], object]],
    out_schema: str,
    value_type: str,
    mode: str,
    name: str,
    bucket_of: Column | None = None,
) -> DataFrame:
    """Fold the streaming ``rows`` per ``key`` under cross-batch
    GroupState, drive the stream to completion and return the emitted
    rows (``_snapshot``).

    State is keyed by ``_key_bucket`` of ``bucket_of`` (default: the
    ``key`` column itself, a long), and each bucket holds its keys'
    states as ``keys array<K>, vals array<value_type>``. In each
    micro-batch a bucket's rows are sorted by ``key`` then ``order``, and
    ``fold(key, key_rows, prior)`` runs once per key: ``key_rows`` are
    the key's rows as tuples of ``rows``' other columns, and ``prior`` is
    its state from earlier batches (None for a new key). The fold
    returns ``(emitted, state)``: tuples in ``out_schema``'s column order,
    and the key's new state (None drops the key).
    """
    from itertools import groupby
    from operator import itemgetter

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructType

    out_cols = StructType.fromDDL(out_schema).fieldNames()
    cols = [c for c in rows.columns if c != key]

    def fn(_bucket, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs)).sort_values([key, *order])
        states = dict(zip(*state.get)) if state.exists else {}
        emitted: list[tuple] = []
        keyed = zip(batch[key].tolist(), zip(*(batch[c] for c in cols)))
        for k, group in groupby(keyed, key=itemgetter(0)):
            out, new = fold(k, [r for _, r in group], states.pop(k, None))
            emitted.extend(out)
            if new is not None:
                states[k] = new
        state.update((list(states), list(states.values())))
        yield pd.DataFrame.from_records(emitted, columns=out_cols)

    bucket = _key_bucket(spark, F.col(key) if bucket_of is None else bucket_of)
    folded = (
        rows.withColumn("_key_bucket", bucket)
        .groupBy("_key_bucket")
        .applyInPandasWithState(
            fn,
            out_schema,
            f"keys array<{dict(rows.dtypes)[key]}>, vals array<{value_type}>",
            mode,
            GroupStateTimeout.NoTimeout,
        )
    )
    return _snapshot(spark, folded, mode, name)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 10-minute tumbling-window count/sum per event_type.
    Works on both batch and streaming DataFrames (withWatermark is a
    no-op in batch)."""
    src = events.withWatermark("ts", "30 minutes") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_v"))
        .select(
            F.col("win.start").alias("ws"),
            F.col("win.end").alias("we"),
            "event_type",
            "n",
            "total_v",
        )
    )


def run_tumbling_count_batchlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the streaming tumbling aggregate to completion over the
    events parquet (availableNow semantics: finite source, memory sink) —
    the batch-validated form behind q_stream_tumbling."""
    # readStream needs a directory: point at sf_dir with a glob filter
    stream = _events_stream(spark, sf_dir)
    agg = tumbling_counts(stream)
    return _snapshot(spark, agg, "complete", "stream_tumbling_out")


def run_sessionize_stateful(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator (SURVEY §2.I stretch goal):
    gap-based sessionization as a per-user ``_fold_by_key`` fold, driven
    to completion over the finite events source.

    Semantics match ``session_window`` exactly: a session is a maximal
    run of same-user events with inter-event gaps < ``SESSION_GAP``;
    ``session_end`` = last event + gap (asserted equal to the
    session_window result in tests). The open session genuinely lives in
    ``GroupState`` across micro-batches: each batch seeds a user's fold
    from their open session, closes sessions the new events terminate,
    and keeps the still-open tail as the user's state. Update-mode contract:
    the open session is emitted *provisionally* each batch it changes,
    keyed by (user_id, session_start) — a later batch that extends it
    re-emits a superseding row under the same key, so downstream takes
    the latest row per key (exactly how the cross-batch pytest reads the
    memory sink). The point of the operator: custom sequential session
    logic that neither window() nor session_window() could express
    (e.g. value-dependent gap rules) runs JVM-adjacent over Arrow
    batches with real cross-batch state.

    Assumes per-user event-time arrives non-decreasing across batches
    (file/backfill order); a row older than the open session's start is
    folded by sort within its batch but cannot reopen an already-closed
    session — the same horizon any watermarked sessionizer has.

    Scale: the only shuffle keys events by user_id's GroupState bucket;
    state per user is one open session, bounded by the watermark
    horizon.
    """
    gap = pd.Timedelta(SESSION_GAP)

    def fold(uid, events, seed):
        """One user's (ts, event_id)-ordered events, seeded with the
        open session (start and end in µs, count, value sum) of earlier
        batches."""
        sessions = []
        cur = None
        if seed is not None:
            s0, s1, n, v = seed
            cur = [pd.Timestamp(s0, unit="us"), pd.Timestamp(s1, unit="us"), n, v]
        for ts, _, v in events:
            # new session when the gap is reached (session_window's
            # half-open [start, last+gap) boundary: an event at exactly
            # last+gap starts a new session)
            if cur is not None and ts - cur[1] >= gap:
                sessions.append(cur)
                cur = None
            if cur is None:
                cur = [ts, ts, 0, 0.0]
            # max(): a LATE row older than the open session's end folds in
            # without regressing the end (else session_end < session_start
            # could be emitted); late/merge semantics pinned in
            # tests/test_streaming_late.py
            cur[1] = max(cur[1], ts)
            cur[2] += 1
            cur[3] += float(v)
        sessions.append(cur)
        emitted = [(uid, s0, s1 + gap, n, round(v, 4)) for s0, s1, n, v in sessions]
        return emitted, (cur[0].value // 1000, cur[1].value // 1000, cur[2], cur[3])

    events = _events_stream(spark, sf_dir, path_glob, max_files_per_trigger)
    return _fold_by_key(
        spark,
        events.select("user_id", "ts", "event_id", "value"),
        "user_id",
        ["ts", "event_id"],  # event_id breaks ts ties: one total order
        fold,
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_v double",
        "struct<s0: bigint, s1: bigint, n: bigint, v: double>",
        "update",
        "sessionize_stateful_out",
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization via session_window (stretch surface,
    SURVEY §2.I): per-user sessions with event counts, split at
    ``SESSION_GAP`` of inactivity."""
    src = events.withWatermark("ts", "1 hour") if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", SESSION_GAP).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_v"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_v",
        )
    )


def run_stream_dedup(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark`` —
    the ingest-time dedup of a training-data pipeline: keep the first
    arrival per (user_id, event_type) key; the watermark bounds how long
    each key's fingerprint is held in the state store (unbounded
    dropDuplicates state grows with every key ever seen).

    Driven to completion over the finite events source; output row count
    equals the distinct key count, which is what the rows-only check
    pins. A key re-arriving AFTER the watermark evicted its fingerprint
    is re-emitted — the bounded-state trade-off, pinned with a late-data
    fixture in tests/test_streaming_late.py.
    """
    stream = _events_stream(
        spark, sf_dir, path_glob=path_glob, max_files_per_trigger=max_files_per_trigger
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _snapshot(spark, deduped, "append", "stream_dedup_out")


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase joined to the
    same user's clicks in the preceding hour (attribution). Both sides
    carry watermarks so the join state store is bounded: a click can be
    evicted once the watermark passes its one-hour attribution window —
    without watermarks the join state grows with the whole stream.

    Driven to completion over the finite events source (append mode,
    memory sink).
    """
    def _src():
        return _events_stream(spark, sf_dir)

    clicks = (
        _src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts < purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR
            """
        ),
    ).select("purchase_id", "click_id", "p_user", "purchase_ts", "click_ts")
    return _snapshot(spark, joined, "append", "stream_stream_join_out")


def run_stream_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ETL to a parquet file sink — the production landing path
    (exactly-once via the sink's _spark_metadata transaction log, unlike
    the test-only memory sink): watermarked ingest dedup streamed into a
    partitioned parquet directory, then read back through the batch
    reader. Stateless-append output (dropDuplicatesWithinWatermark emits
    on first arrival), so a finite source lands every row — no
    tail-window finalization hazard.

    Scale: the sink writes one file per partition per micro-batch;
    production sizes micro-batches (maxFilesPerTrigger / trigger
    interval) so files land at ~128 MB, and compaction is a downstream
    batch job over the same directory.
    """
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    with _state_partitions(spark), tempfile.TemporaryDirectory() as work:
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        out = spark.read.parquet(f"{work}/out")
        # materialize the snapshot through Arrow before the directory
        # goes (the returned DataFrame no longer references the files)
        return spark.createDataFrame(out.toPandas(), out.schema)


def run_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert via ``foreachBatch`` — the streaming-CDC
    landing pattern: each micro-batch's latest row per (user_id,
    event_type) is merged into a keyed target, superseding older
    versions. Plain parquet has no transactional in-place merge, so the
    merge is copy-on-write: every batch writes a NEW versioned snapshot
    and flips a pointer — the same shape a Delta/Iceberg MERGE
    executes, made explicit. The merge condition is VERSION-aware
    (``WHEN MATCHED AND s.ts > t.ts``): micro-batch arrival order is
    not event order, so an older event in a later batch must lose to
    the newer row already landed. The events fixture is split into 3
    files and streamed with ``maxFilesPerTrigger=1``, so the merge
    genuinely runs incrementally across micro-batches.

    Scale: per batch the target read is pruned to the merge keys'
    partitions in a real table format; the within-batch winner pick is
    one keyed aggregate; ties break (ts, event_id)-deterministic, so
    the final table equals the batch `q_upsert_latest` semantics over
    the full feed — pinned in tests.
    """
    from review_engine_spark.sources.io import read_parquet_table

    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    state = {"version": -1}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        winners = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if state["version"] >= 0:
            # Conditional MERGE (WHEN MATCHED AND s.ts > t.ts THEN
            # UPDATE): arrival order is NOT version order — a later
            # micro-batch can carry an older event, which must not
            # clobber the newer row already in the target. Re-resolve
            # the winner per key across target ∪ batch.
            cur = spark.read.parquet(f"{target_dir}/v={state['version']}")
            merged = (
                cur.unionByName(winners)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            merged = winners
        state["version"] += 1
        merged.write.mode("overwrite").parquet(
            f"{target_dir}/v={state['version']}"
        )

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    with _state_partitions(spark), tempfile.TemporaryDirectory() as work:
        src_dir, target_dir = f"{work}/src", f"{work}/target"  # merge reads target_dir
        for i in range(3):
            ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src_dir}/chunk={i}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src_dir}/chunk=*")
        )
        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        out = spark.read.parquet(f"{target_dir}/v={state['version']}")
        return spark.createDataFrame(out.toPandas(), out.schema)


def run_ewma_stateful(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming EWMA as a per-user ``_fold_by_key`` fold — the
    unbounded-history path the batch fold (plans/roster_analytics.q_ewma)
    documents: per-user state is ONE (ewma, n) pair regardless of history
    length, so a stream that never ends stays O(1) per key where
    collect_list would grow without bound.

    Exactness: the Python fold ``alpha*x + (1-alpha)*acc`` performs the
    identical IEEE-double op sequence as the batch ``F.aggregate`` lambda
    and the DuckDB ``list_reduce`` oracle, so all three agree
    bit-for-bit (pinned in tests/test_analytics.py). Update-mode emits a
    provisional (user_id, n_events, ewma) row per batch; the row with the
    largest n_events per user is final. Same in-order-arrival horizon as
    run_sessionize_stateful.
    """

    def fold(uid, events, prior):
        acc, n = (None, 0) if prior is None else prior
        for _, _, v in events:  # (ts, event_id) order
            x = float(v)
            acc = x if acc is None else EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * acc
            n += 1
        return [(uid, n, acc)], (acc, n)

    events = _events_stream(spark, sf_dir, path_glob, max_files_per_trigger)
    return _fold_by_key(
        spark,
        events.select("user_id", "ts", "event_id", "value"),
        "user_id",
        ["ts", "event_id"],
        fold,
        "user_id long, n_events long, ewma double",
        "struct<acc: double, n: bigint>",
        "update",
        "ewma_stateful_out",
    )


def run_zscore_stateful(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming rolling z-score anomalies as a per-user ``_fold_by_key``
    fold — the streaming twin of plans/roster_analytics.q_anomaly_zscore
    with a BOUNDED ring buffer as state: the last ``ZSCORE_WINDOW``
    integer-cent values per user (≤ 20 longs/key however long the stream
    runs).

    Exactness: the buffer holds exact ints, the Python moment formula
    (mean = s1/n, var = (s2 - s1*mean)/(n-1), z = (c-mean)/sqrt(var))
    performs the identical IEEE-double op sequence as the batch window
    query, so the emitted anomalies match the batch result EXACTLY on
    in-order arrival (pinned in tests/test_analytics.py). Each event is
    scored against the ``ZSCORE_WINDOW`` PRECEDING events only — no
    target leakage — exactly like the batch ROWS BETWEEN 20 PRECEDING
    AND 1 PRECEDING frame.
    """
    import math

    def fold(uid, events, buf):
        buf = [] if buf is None else buf
        hits = []
        for _, eid, v in events:  # (ts, event_id) order
            c = math.floor(float(v) * 100 + 0.5)
            n = len(buf)
            if n >= ZSCORE_MIN_N:
                s1 = sum(buf)
                s2 = sum(b * b for b in buf)
                mean = float(s1) / float(n)
                var = (float(s2) - float(s1) * mean) / float(n - 1)
                if var > 0.0:
                    z = (float(c) - mean) / math.sqrt(var)
                    if abs(z) > ZSCORE_THRESHOLD:
                        hits.append((eid, uid, round(z, 3)))
            buf.append(c)
            if len(buf) > ZSCORE_WINDOW:
                buf = buf[-ZSCORE_WINDOW:]
        return hits, buf

    events = _events_stream(spark, sf_dir, path_glob, max_files_per_trigger)
    return _fold_by_key(
        spark,
        events.select("user_id", "ts", "event_id", "value"),
        "user_id",
        ["ts", "event_id"],
        fold,
        "event_id long, user_id long, zscore double",
        "array<bigint>",
        "append",
        "zscore_stateful_out",
    )


def run_stream_near_dup(
    spark: SparkSession,
    sf_dir: str,
    path_glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming ingest-time NEAR-duplicate detection — MinHash-LSH
    banding under real cross-batch ``GroupState`` (SURVEY §2.I × the
    dedup family): the training-pipeline ingest shape, where a new
    document must be flagged against everything already ingested
    without ever joining the corpus to itself.

    Pipeline, all inside the stream: ``md5_minhash_signatures`` (the
    ``NEAR_DUP_SEEDS`` md5 signatures of ``q_minhash_jaccard``,
    bit-identical in DuckDB) → ``NEAR_DUP_SEEDS / NEAR_DUP_BAND_WIDTH``
    band hashes → explode to (doc_id, band_idx, band_hash) → a
    ``_fold_by_key`` fold per LSH bucket, keyed by the exact
    ``"band_idx|band_hash"`` string. State per LSH bucket is ONE long
    (the smallest doc_id ever seen), however long the stream runs; an
    arriving doc is flagged on a band iff an earlier doc already
    occupies its bucket. Docs with <3 tokens have no shingles and are
    dropped, mirroring the batch twin. Bucket state carries across
    micro-batches (pinned in tests/test_streaming.py by streaming
    doc_id-range files one per trigger).

    **Arrival-order horizon:** a doc is flagged iff a SMALLER doc_id
    already occupies the bucket, which equals "duplicate of an
    earlier-ingested doc" only while ingestion order tracks doc_id —
    true for the fixture replay and for append-only ingest with
    monotone ids, the shape the batch oracle mirrors. Under
    OUT-OF-ORDER arrival it degrades conservatively: a smaller id
    arriving late is never flagged (it becomes the bucket occupant
    instead), so a dup pair delivered in reverse order survives
    entirely — flags are a subset of the in-order flags, never
    spurious extras. Within one micro-batch each bucket folds in doc_id
    order (cross-executor row order is nondeterministic).

    Scale: the only shuffle keys band rows by ``_key_bucket`` of
    xxhash64(band_idx, band_hash), and the fold keys on the exact string,
    so a hash collision can only co-locate two LSH buckets, never merge
    them. State is one long per occupied LSH bucket; per-doc work is
    O(bands); no corpus self-join exists anywhere in the plan.
    """
    from review_engine_spark.operators.dedup import md5_minhash_signatures

    stream = _parquet_stream(
        spark, sf_dir, path_glob, max_files_per_trigger, schema="doc_id long, text string"
    )
    sigs = md5_minhash_signatures(stream, NEAR_DUP_SEEDS)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"sig{b * NEAR_DUP_BAND_WIDTH + j}")
                        for j in range(NEAR_DUP_BAND_WIDTH)
                    ],
                )
            ).alias("bh"),
        )
        for b in range(NEAR_DUP_SEEDS // NEAR_DUP_BAND_WIDTH)
    ]
    bands = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("b")).select(
        "doc_id",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.bh").alias("bh"),
        F.concat_ws("|", F.col("b.band_idx").cast("string"), "b.bh").alias("band_key"),
    )

    def fold(band_key, docs, occupant):
        hits = []
        for doc_id, band_idx, _ in docs:  # doc_id order
            hits.append((doc_id, band_idx, int(occupant is not None and occupant < doc_id)))
            if occupant is None or doc_id < occupant:
                occupant = doc_id
        return hits, occupant

    return _fold_by_key(
        spark,
        bands,
        "band_key",
        ["doc_id"],
        fold,
        "doc_id long, band_idx int, hit int",
        "bigint",
        "update",
        "stream_near_dup_out",
        bucket_of=F.xxhash64("band_idx", "bh"),
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming-dimension
    pattern: a live event feed joined to a slowly-changing dimension
    snapshot (customer segments), then aggregated per segment.

    Stream-static joins are STATELESS on the stream side — the static
    relation is planned like any batch side (broadcast here: a
    dimension), re-resolved per micro-batch, so no watermark or join
    state is needed; only the downstream aggregation keeps state. That
    is why this shape scales to unbounded streams where a stream-stream
    join of the same data would accumulate join state forever.

    Complete-mode memory sink over the finite source makes the result
    equal to the batch join+aggregate, which is exactly what the
    roster oracle (plain SQL on the same tables) checks.
    """
    from review_engine_spark.sources.io import read_parquet_table

    stream = _events_stream(spark, sf_dir)
    dim = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(dim), stream.user_id + 1 == dim.c_custkey
    )
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias(
            "total_cents"
        ),
    )
    return _snapshot(spark, agg, "complete", "stream_static_out")


def run_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time document quality gating: the EXACT Gopher-rule gate
    q_gopher_rules runs in batch (``operators.curation.gopher_gate`` —
    one shared expression tree, so batch/stream parity holds by
    construction), applied inside Structured Streaming over a finite
    documents feed and driven to completion (append mode: the gate is a
    stateless narrow map, so no watermark is needed and every input row
    emits exactly one verdict row).

    This is the front-door shape: filter documents AS THEY ARRIVE
    instead of landing raw text and re-scanning it in batch. Zero state,
    zero shuffle: throughput is bounded by scan + regex only.
    """
    from review_engine_spark.operators.curation import gopher_gate

    stream = _parquet_stream(spark, sf_dir, "documents.parquet")
    return _snapshot(
        spark, gopher_gate(stream, "text", "doc_id"), "append",
        "stream_quality_gate_out",
    )


def run_stream_ingest_gate(
    spark: SparkSession,
    sf_dir: str,
    stats: tuple[DataFrame, DataFrame],
    cut: DataFrame,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The composed quality+gopher+perplexity ingest gate over a
    streaming documents feed (VERDICT r10 item 3).

    Deployment shape: the bigram LM (``stats``) and the perplexity
    cutoff (``cut``) are trained OFFLINE on the standing corpus — the
    CCNet pattern, where the LM is an artifact, not a per-batch
    computation — and every micro-batch is gated through
    ``operators.curation.ingest_gate_frame`` + ``score_bigrams_against``
    via ``foreachBatch``: the per-document verdict needs no cross-batch
    state (a document's text arrives whole in one micro-batch), so the
    stream stays stateless and the per-batch plan is the EXACT batch
    expression tree — batch/stream parity by construction.

    Each batch's verdicts are snapshotted through Arrow on the driver,
    as ``_snapshot`` does, because the full output is a few thousand
    rows at the fixture scales.
    """
    from review_engine_spark.operators.curation import ingest_gate_frame
    from review_engine_spark.plans.roster_curation import (
        score_bigrams_against,
    )

    cab, un = stats
    stream = _parquet_stream(spark, sf_dir, "documents.parquet", max_files_per_trigger)

    def out_schema():
        # DEFERRED (round 13): analyzing the composed gate tree over
        # limit(0) costs ~2.5 s of pure Catalyst analysis — the bulk of
        # r12's +50% regression (profiled: OPTIMIZATION_r13.md row 2)
        # — and is only needed for the empty-stream fallback, so pay it
        # there, not on every call.
        empty = spark.createDataFrame([], stream.schema)
        return ingest_gate_frame(
            empty, score_bigrams_against(empty, cab, un), cut
        ).schema

    # snapshots are keyed by batch_id (last write wins) because
    # foreachBatch is at-least-once: a plain append would duplicate
    # verdict rows on replay
    frames: dict[int, pd.DataFrame] = {}
    landed_schema: dict[str, object] = {}  # set by land(); analysis free

    def land(batch_df: DataFrame, batch_id: int) -> None:
        gated = ingest_gate_frame(
            batch_df,
            score_bigrams_against(batch_df, cab, un),
            cut,
        )
        frames[batch_id] = gated.toPandas()
        # the contracted Spark schema, read off the already-analyzed
        # per-batch frame (pandas dtypes alone would be lossy)
        landed_schema["s"] = gated.schema

    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.outputMode("update")
            .foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
    if not frames:
        return spark.createDataFrame([], out_schema())
    ordered = [frames[b] for b in sorted(frames)]
    return spark.createDataFrame(
        pd.concat(ordered, ignore_index=True), landed_schema["s"]
    )
