"""Streaming runners against their batch twins: upsert, near-dup state,
and the quality and ingest gates."""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F


def test_stream_upsert_equals_batch_latest(spark, sf_dir):
    """The incremental foreachBatch merge over 3 micro-batches lands
    exactly the batch latest-row-per-key result (ts desc, event_id desc
    tie-break) — upserts genuinely supersede earlier batches' rows."""
    from pyspark.sql.window import Window

    from review_engine_spark.sources.io import read_parquet_table
    from review_engine_spark.streaming.jobs import run_stream_upsert

    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in run_stream_upsert(spark, sf_dir).collect()
    }
    ev = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert got == want


def _write_doc_batches(tmp_path, batches) -> str:
    """One ``doc_*.parquet`` file per micro-batch of (doc_id, text)
    rows; mtimes strictly increasing in list order, so the file source
    delivers the batches in the given order."""
    base = time.time()
    for i, rows in enumerate(batches):
        path = str(tmp_path / f"doc_{i:02d}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            path, index=False
        )
        os.utime(path, (base + i, base + i))
    return str(tmp_path)


def _near_dup_hits(df):
    return {(r["doc_id"], r["band_idx"]): r["hit"] for r in df.collect()}


def test_stream_near_dup_cross_batch_state(spark, sf_dir, tmp_path):
    """The LSH bucket state must carry across micro-batches: the
    documents streamed as 3 doc_id-range files, one per trigger, must
    flag exactly the same per-doc band hits as the single-batch run — a
    dup pair split across files is caught only if batch 2 reads batch
    1's bucket state."""
    from review_engine_spark.sources.io import read_parquet_table
    from review_engine_spark.streaming.jobs import run_stream_near_dup

    docs = sorted(
        (r["doc_id"], r["text"])
        for r in read_parquet_table(spark, sf_dir, "documents").collect()
    )
    n = -(-len(docs) // 3)
    d = _write_doc_batches(tmp_path, [docs[i : i + n] for i in range(0, len(docs), n)])

    one_batch = _near_dup_hits(run_stream_near_dup(spark, sf_dir))
    batched = _near_dup_hits(
        run_stream_near_dup(
            spark, d, path_glob="doc_*.parquet", max_files_per_trigger=1
        )
    )
    assert one_batch == batched
    assert sum(one_batch.values()) > 0  # the check must not be vacuous


def test_stream_near_dup_out_of_order_min_id_is_conservative(
    spark, tmp_path
):
    """The documented min_id horizon, pinned on a six-doc corpus with
    ONE near-dup pair (0, 5) split across two files (0-2 | 3-5): when
    the file holding doc 5 (the LATER member of the pair) arrives BEFORE
    the file holding doc 0, the min_id rule flags NOTHING — doc 5 finds
    empty buckets, doc 0 displaces it as occupant without being flagged.
    The degradation is conservative (flags ⊆ in-order flags, no
    spurious extras), never wrong-positive."""
    from review_engine_spark.streaming.jobs import run_stream_near_dup

    dup = "the quick brown fox jumps over the lazy dog tonight"
    uniq = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet colors here now",
        "north south east west compass points guide the old sailors",
    ]
    rows = [(0, dup)] + [(i + 1, t) for i, t in enumerate(uniq)] + [(5, dup)]

    def hits(batches, sub):
        (tmp_path / sub).mkdir()
        d = _write_doc_batches(tmp_path / sub, batches)
        flags = _near_dup_hits(
            run_stream_near_dup(
                spark, d, path_glob="doc_*.parquet", max_files_per_trigger=1
            )
        )
        return {k for k, hit in flags.items() if hit == 1}

    in_order = hits([rows[:3], rows[3:]], "in_order")
    assert in_order  # doc 5 flagged on every band in the in-order run
    assert {doc for doc, _ in in_order} == {5}
    shuffled = hits([rows[3:], rows[:3]], "reversed")
    assert shuffled == set()  # pair delivered in reverse: both survive
    assert shuffled <= in_order  # conservative, not spurious


def test_stream_near_dup_empty_table(spark, tmp_path):
    """An EMPTY documents table through the default path returns the
    empty flags frame with the fixed schema."""
    from review_engine_spark.streaming.jobs import run_stream_near_dup

    d = str(tmp_path / "empty_sf")
    spark.createDataFrame([], "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    out = run_stream_near_dup(spark, d)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id",
        "band_idx",
        "hit",
    ]


def _write_event_batches(tmp_path):
    """Three single-file micro-batches with users interleaved ACROSS
    batches, so the bucketed GroupState folds must genuinely restore and
    re-serialize per-user state between invocations."""
    import os
    import time

    import pandas as pd

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    rows_by_batch = [[], [], []]
    eid = 0
    for u in range(7):
        for k in range(14):
            b = (u + k) % 3
            # steady ~50-cent values with one huge spike late enough
            # that the zscore ring buffer has >= min_n history
            v = 500.0 if k == 12 else 50.0 + float((u * 37 + k * 11) % 7)
            rows_by_batch[b].append(
                (
                    eid,
                    u,
                    "view",
                    t0 + pd.Timedelta(minutes=40 * k + u),
                    v,
                )
            )
            eid += 1
    base = time.time()
    for i, rows in enumerate(rows_by_batch):
        # within a batch, keep event-time order non-decreasing per user
        rows.sort(key=lambda r: (r[3], r[0]))
        pdf = pd.DataFrame(
            rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
        )
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = str(tmp_path / f"ev_{i:02d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (base + i, base + i))
    return str(tmp_path)


def test_stateful_rows_independent_of_bucket_count(spark, tmp_path, monkeypatch):
    """The stateful runners key GroupState by ``_key_bucket`` and loop a
    bucket's keys inside one pandas group, restoring and re-serializing
    each key's state between micro-batches. Their rows must not depend
    on how keys share buckets: the derived bucket count (one user per
    bucket here) must emit EXACTLY what one bucket per state partition
    (several keys per bucket) emits across three interleaved
    micro-batches — same fold order, same float sequence, same
    provisional-row cadence — for all four runners."""
    from review_engine_spark.streaming import jobs

    sf_dir = _write_event_batches(tmp_path)
    dup, other = (
        "the quick brown fox jumps over the lazy dog tonight",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    )
    uniq = [
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet colors here now",
        "north south east west compass points guide the old sailors",
    ]
    _write_doc_batches(
        tmp_path,
        [
            [(0, dup), (1, uniq[0]), (2, other)],
            [(3, uniq[1]), (4, dup), (5, uniq[2])],
            [(6, other), (7, dup)],
        ],
    )
    kw = {"path_glob": "ev_*.parquet", "max_files_per_trigger": 1}
    doc_kw = {"path_glob": "doc_*.parquet", "max_files_per_trigger": 1}

    def n_buckets():  # over the fixture's 7 user ids
        bucket = jobs._key_bucket(spark, F.col("id"))
        return spark.range(7).select(bucket).distinct().count()

    def rows(df, cols):
        return sorted(
            tuple(r[c] for c in cols) for r in df.collect()
        )

    runners = [
        (jobs.run_ewma_stateful, kw, ["user_id", "n_events", "ewma"]),
        (
            jobs.run_sessionize_stateful,
            kw,
            [
                "user_id",
                "session_start",
                "session_end",
                "n_events",
                "total_v",
            ],
        ),
        (jobs.run_zscore_stateful, kw, ["event_id", "user_id", "zscore"]),
        (jobs.run_stream_near_dup, doc_kw, ["doc_id", "band_idx", "hit"]),
    ]
    assert n_buckets() == 7
    derived = [rows(fn(spark, sf_dir, **a), cols) for fn, a, cols in runners]
    monkeypatch.setattr(jobs, "KEY_BUCKETS_PER_PARTITION", 1)
    assert n_buckets() < 7  # several users really share a bucket
    shared = [rows(fn(spark, sf_dir, **a), cols) for fn, a, cols in runners]
    for (fn, _, _), got, want in zip(runners, shared, derived):
        assert got == want, fn.__name__
        assert want, fn.__name__  # non-vacuous
    # each user's 14 events fold into one EWMA across the three batches
    final_n = {}
    for u, n, _ in derived[0]:
        final_n[u] = max(n, final_n.get(u, 0))
    assert final_n == {u: 14 for u in range(7)}
    # the near-dup fold ran with several LSH band keys per bucket: each
    # band key's first doc is its one miss, so the misses count the
    # distinct band keys, more than the buckets they now share
    near_dup = shared[3]
    band_keys = sum(1 for *_, hit in near_dup if hit == 0)
    assert band_keys > spark.sparkContext.defaultParallelism
    # docs 4 and 7 repeat doc 0, doc 6 repeats doc 2, on every band
    flagged = {doc for doc, _, hit in near_dup if hit == 1}
    assert flagged == {4, 6, 7}


def test_stream_quality_gate_equals_batch_gate(spark, tmp_path):
    """The streaming gate must emit exactly the batch gate's verdicts —
    same expression tree (operators.curation.gopher_gate), streaming
    only adds delivery."""
    import pandas as pd

    from review_engine_spark.operators.curation import gopher_gate
    from review_engine_spark.streaming.jobs import run_stream_quality_gate

    ok = "the a of to and in " + "wordy " * 24  # 30 words, stops, alpha
    texts = [ok, "tiny doc", "x " * 100, ok + " zz99 " * 0]
    pd.DataFrame(
        {"doc_id": range(1, len(texts) + 1), "text": texts}
    ).to_parquet(tmp_path / "documents.parquet")

    batch = {
        (r["doc_id"], r["keep"], r["reason"])
        for r in gopher_gate(
            spark.read.parquet(str(tmp_path / "documents.parquet"))
        ).collect()
    }
    stream = {
        (r["doc_id"], r["keep"], r["reason"])
        for r in run_stream_quality_gate(spark, str(tmp_path)).collect()
    }
    assert stream == batch and len(stream) == len(texts)


def test_ingest_gate_multibatch_equals_batch_twin(spark, tmp_path):
    """Multi-micro-batch delivery (maxFilesPerTrigger=1 over a
    several-file corpus) must emit exactly the batch twin's verdicts:
    the LM artifact + cutoff are trained once on the standing corpus,
    so per-batch gating is the identical expression tree per document.
    Also pins union-of-reasons: a doc failing several gates reports
    every gate's first-failing reason, prefixed."""
    import pandas as pd

    from review_engine_spark.operators.curation import ingest_gate_frame
    from review_engine_spark.plans.roster_curation import (
        _rank_cutoff,
        score_bigrams_against,
        train_bigram_stats,
    )
    from review_engine_spark.streaming.jobs import run_stream_ingest_gate
    import pyspark.sql.functions as F

    ok = ("the a of to and in " + "wordy common text here " * 10).strip()
    texts = [
        ok * 3,               # long enough, stopwords, alpha
        "tiny doc",           # fails everything short
        "x " * 120,           # no stopwords, low quality
        ok * 3,               # duplicate of 1 — same verdict
        ("9 8 7 " * 40).strip(),  # numeric: low_alpha + und lang
    ]
    docs_pd = pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "n_chars": [len(t) for t in texts],
        }
    )
    corpus = tmp_path / "documents.parquet"
    corpus.mkdir()
    # several part files so maxFilesPerTrigger=1 yields real multi-batch
    for i in range(3):
        docs_pd.iloc[i::3].to_parquet(corpus / f"part-{i}.parquet")

    docs = spark.read.parquet(str(corpus))
    stats = train_bigram_stats(docs)
    scored = score_bigrams_against(docs, *stats)
    cut = _rank_cutoff(
        scored.select("doc_id", F.col("bigram_logprob").alias("_lp")),
        "_lp", 3, 10,
    )
    batch = sorted(
        tuple(r) for r in ingest_gate_frame(docs, scored, cut).collect()
    )
    stream = sorted(
        tuple(r)
        for r in run_stream_ingest_gate(
            spark, str(tmp_path), stats, cut, max_files_per_trigger=1
        ).collect()
    )
    assert stream == batch and len(stream) == len(texts)
    reasons = {r[0]: r[2] for r in batch}
    keeps = {r[0]: r[1] for r in batch}
    assert keeps[2] is False
    # union-of-reasons: the tiny doc fails quality AND gopher AND has no
    # bigram evidence strong enough to pass — every prefix present
    assert reasons[2].startswith("quality:too_short,gopher:too_few_words")
    assert keeps[1] == keeps[4] and reasons[1] == reasons[4]
