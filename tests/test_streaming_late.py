"""Late-event semantics of the streaming surface (SURVEY §2.I).

Every finite-source oracle run delivers in-order data, so these tests
build multi-file fixtures where a later micro-batch carries events that
are LATE in event time, and pin exactly how each operator deviates from
the batch equivalent:

- ``run_stream_dedup``: a key re-arriving after the watermark evicted its
  fingerprint is re-emitted (bounded state ⇒ not globally distinct);
  a duplicate arriving while the fingerprint is live is dropped.
- ``run_sessionize_stateful``: a late event older than the open session's
  start folds into the OPEN session (without regressing its end) and can
  never reopen a closed one — whereas the batch islands SQL, seeing all
  data at once, merges it into the earlier session.

Micro-batch order is controlled with one parquet file per batch
(``maxFilesPerTrigger=1``), names and mtimes aligned so the file-stream
source processes them deterministically in sequence.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

pytestmark = pytest.mark.usefixtures("spark")

_T0 = pd.Timestamp("2024-03-01 10:00:00")


def _m(minutes: int) -> pd.Timestamp:
    return _T0 + pd.Timedelta(minutes=minutes)


def _write_batches(tmp_path, batches) -> str:
    """One parquet file per micro-batch; mtimes strictly increasing in
    list order so the file source's (mtime, path) ordering is the given
    order."""
    base = time.time()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        path = str(tmp_path / f"ev_{i:02d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i, base + i))
    return str(tmp_path)


def test_stream_dedup_drops_within_watermark_reemits_after_eviction(spark, tmp_path):
    from review_engine_spark.streaming.jobs import run_stream_dedup

    sf_dir = _write_batches(
        tmp_path,
        [
            # batch 0: two keys; watermark after batch = 10:05 - 1h
            [
                (1, 1, "click", _m(0), 1.0),
                (2, 2, "view", _m(5), 1.0),
            ],
            # batch 1: duplicate of (1, click) 30 min later — fingerprint
            # still live (watermark 9:05 < first-seen 10:00 + 1h) → DROPPED
            [(3, 1, "click", _m(30), 1.0)],
            # batch 2: fresh key far ahead; advances the watermark to
            # 13:00 at batch end
            [(4, 3, "click", _m(240), 1.0)],
            # batch 3: spacer — eviction of expired fingerprints runs at
            # the END of the first batch that sees watermark 13:00, so
            # (1, click) (expires 11:00) is purged here
            [(5, 4, "view", _m(245), 1.0)],
            # batch 4: (1, click) again — fingerprint evicted → RE-EMITTED
            [(6, 1, "click", _m(250), 1.0)],
        ],
    )
    out = run_stream_dedup(
        spark, sf_dir, path_glob="ev_*.parquet", max_files_per_trigger=1
    )
    got = sorted((r.user_id, r.event_type) for r in out.collect())
    # batch distinct would be 4 rows; bounded state re-admits (1, click)
    assert got == [
        (1, "click"), (1, "click"), (2, "view"), (3, "click"), (4, "view"),
    ]


def test_stateful_sessionize_late_event_folds_into_open_session(spark, tmp_path):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from review_engine_spark.streaming.jobs import run_sessionize_stateful

    sf_dir = _write_batches(
        tmp_path,
        [
            # batch 0: open session [10:00, 10:10] (n=2)
            [
                (1, 1, "click", _m(0), 1.0),
                (2, 1, "click", _m(10), 2.0),
            ],
            # batch 1: 80 min gap → closes session 1, opens [11:30] (n=1)
            [(3, 1, "click", _m(90), 3.0)],
            # batch 2: LATE event at 10:20 — older than the open session's
            # start; folds into the OPEN session without regressing its
            # end, and cannot reopen the closed one
            [(4, 1, "click", _m(20), 4.0)],
        ],
    )
    raw = run_sessionize_stateful(
        spark, sf_dir, path_glob="ev_*.parquet", max_files_per_trigger=1
    )
    # update-mode: reduce to the final (widest) row per session key, as
    # q_sessionize_state does
    w = Window.partitionBy("user_id", "session_start").orderBy(
        F.desc("n_events"), F.desc("session_end")
    )
    final = (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("session_start", "session_end", "n_events", "total_v")
    )
    got = sorted(
        (r.session_start, r.session_end, r.n_events, r.total_v)
        for r in final.collect()
    )
    assert got == [
        # closed session: [10:00, last 10:10 + 30min) — late 10:20 did NOT
        # reopen it (batch islands SQL would merge it here, giving n=3 and
        # end 10:50)
        (_m(0).to_pydatetime(), _m(40).to_pydatetime(), 2, 3.0),
        # open session kept start 11:30 and end last-event(11:30)+30min;
        # the late 10:20 row folded in (n=2) without dragging the end back
        (_m(90).to_pydatetime(), _m(120).to_pydatetime(), 2, 7.0),
    ]
