"""Tests: vocabulary, span dedup, boilerplate flags, semantic dedup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from review_engine_spark.operators.curation import (
    boilerplate_flags,
    semantic_dedup,
    span_dedup,
    top_tokens,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_top_tokens_counts_and_rank_ties(spark):
    df = _docs(
        spark,
        [(1, "a a b c"), (2, "a b b"), (3, "c")],
    )
    rows = {
        r["token"]: (r["n_docs"], r["n_total"], r["rank"])
        for r in top_tokens(df, k=10).collect()
    }
    # a: 3 total in 2 docs; b: 3 total in 2 docs; tie broken by token asc
    assert rows["a"] == (2, 3, 1)
    assert rows["b"] == (2, 3, 2)
    assert rows["c"] == (2, 2, 3)


def test_span_dedup_first_occurrence_wins(spark):
    # span=2: doc 1 = [a b][c d]; doc 2 = [a b][x y]; doc 3 = [c d]
    df = _docs(spark, [(1, "a b c d"), (2, "a b x y"), (3, "c d")])
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["text_dedup"])
        for r in span_dedup(df, span=2).collect()
    }
    assert out[1] == (2, 2, "a b c d")  # first occurrence of both spans
    assert out[2] == (2, 1, "x y")      # "a b" lost to doc 1
    assert out[3] == (1, 0, "")         # "c d" lost to doc 1


def test_span_dedup_within_doc_duplicates_also_collapse(spark):
    df = _docs(spark, [(7, "a b a b")])
    (row,) = span_dedup(df, span=2).collect()
    assert (row["n_chunks"], row["n_kept"], row["text_dedup"]) == (2, 1, "a b")


def test_boilerplate_flags_ratio_and_keep(spark):
    # span=2, min_docs=2: "a b" shared by all three docs is boilerplate
    df = _docs(
        spark,
        [(1, "a b c d"), (2, "a b x y"), (3, "a b")],
    )
    out = {
        r["doc_id"]: (r["n_spans"], r["n_boiler"], r["boiler_ratio"], r["keep"])
        for r in boilerplate_flags(
            df, span=2, min_docs=2, max_ratio=0.5
        ).collect()
    }
    assert out[1] == (2, 1, 0.5, True)
    assert out[2] == (2, 1, 0.5, True)
    assert out[3] == (1, 1, 1.0, False)


def test_semantic_dedup_drops_higher_id_near_duplicate(spark):
    # ids chosen so the LCG buckets don't matter: vectors 1/2 identical
    # (cos 1.0), vector 3 orthogonal to both
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(df, k=1, threshold=0.9).collect()
    }
    # k=1: everything lands in one cluster; 2 is dropped as 1's dup
    assert out[1][1] is True
    assert out[2][1] is False
    assert out[3][1] is True


def test_semantic_dedup_cluster_isolation(spark):
    # identical vectors in different coarse clusters must BOTH survive —
    # the within-cluster-only contract (recall bounded by clustering,
    # exactly the SemDeDup trade)
    import random

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = [(i, base) for i in range(40)]  # all identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=4, threshold=0.9).collect()
    kept = [r for r in out if r["keep"]]
    clusters = {r["cluster_id"] for r in out}
    # one survivor per occupied cluster, everything else dropped
    assert len(kept) == len(clusters)
    assert all(not r["keep"] for r in out if r not in kept)


def test_semantic_dedup_keep_flag_matches_pairwise_definition(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=3, threshold=0.5).collect()
    cluster = {r["vec_id"]: r["cluster_id"] for r in out}
    keep = {r["vec_id"]: r["keep"] for r in out}
    vecs = dict(rows)

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return round(d / (na * nb + 1e-9), 6)

    for i in cluster:
        expected = not any(
            cluster[j] == cluster[i] and cos(vecs[i], vecs[j]) >= 0.5
            for j in cluster
            if j < i
        )
        assert keep[i] == expected, f"vec {i}"


def test_semantic_dedup_empty_input(spark):
    """Empty input returns an empty (id, cluster_id, keep) frame with
    the contracted schema instead of crashing on sims[0] (ADVICE r12)."""
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=2, threshold=0.5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id",
        "cluster_id",
        "keep",
    ]
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema)[
        "cluster_id"
    ] == "bigint"


def test_semantic_dedup_null_vector_tolerance(spark):
    """NULL vectors never seed centroids, assign NULL cluster_id, and
    are always kept; a NULL element nulls every cosine touching that
    vector, so the row is kept and a true dup of vec 2 still drops."""
    rows = [
        (1, None),  # min id — would have crashed centroid literal build
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [1.0, None, 0.0, 0.0]),  # null ELEMENT → cosine NULL → kept
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, None),
        (6, [1.0, 0.0, 0.0, 0.0]),  # true dup of 2 → dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(df, k=1, threshold=0.9).collect()
    }
    assert out[1] == (None, True) and out[5] == (None, True)
    assert out[2][1] is True
    assert out[3] == (None, True)  # null cosine to every centroid too
    assert out[4][1] is True
    assert out[6][1] is False


def test_semantic_dedup_all_null_vectors(spark):
    """All-NULL input hits the empty-centroid guard: every row kept,
    NULL cluster_id."""
    df = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semantic_dedup(df, k=2, threshold=0.5).collect()
    }
    assert out == {1: (None, True), 2: (None, True)}


def test_semantic_dedup_subshard_recall_pin(spark):
    """At-scale SRP-blocked path (forced via tiny sub_target): dropped
    set must be a subset of the exact path's, with recall >= 0.95 on a
    planted-duplicate corpus — identical vectors share every SRP sign,
    so exact dups always co-bucket (VERDICT r12 item 3 — the recall pin
    every other approximate family member carries). Deterministic:
    fixed-seed hyperplanes."""
    import random

    rng = random.Random(7)
    # 20 groups x 30 identical copies: every copy of a group lands in
    # the same SRP bucket, so the greedy drop is always seen
    bases = [
        [rng.gauss(0, 1) for _ in range(8)] for _ in range(20)
    ]
    rows = [
        (g * 1000 + i, bases[g]) for g in range(20) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        r["vec_id"]
        for r in semantic_dedup(df, k=2, threshold=0.95).collect()
        if not r["keep"]
    }
    sharded = {
        r["vec_id"]
        for r in semantic_dedup(
            df, k=2, threshold=0.95, sub_target=64
        ).collect()
        if not r["keep"]
    }
    assert sharded <= exact  # content blocking can only MISS pairs
    assert exact  # sanity: planted dups were actually dropped
    recall = len(sharded) / len(exact)
    assert recall >= 0.95, f"SRP-block recall {recall:.3f} < 0.95"


def test_semantic_dedup_oversized_bucket_exact(spark):
    """A bucket that overflows sub_target (all-identical dup group) is
    handled exactly by the chunked kernel, not split: every copy but
    the min id drops."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(200)]
    rows.append((9999, [0.0, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, k=1, threshold=0.9, sub_target=32
        ).collect()
    }
    assert out[0] is True and out[9999] is True
    assert all(out[i] is False for i in range(1, 200))


def test_kmeans_matches_numpy_reference(spark):
    """kmeans_fit must replay exactly: LCG seeding, rounded argmin with
    low-cluster ties, rounded means, empty clusters keeping centroids."""
    import numpy as np

    from review_engine_spark.operators.kmeans import kmeans_fit

    rng = np.random.default_rng(5)
    k, iters, dim, n = 3, 2, 5, 40
    vecs = {i: rng.normal(size=dim).round(3).tolist() for i in range(n)}
    df = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: (r["cluster_id"], r["sq_dist"])
        for r in kmeans_fit(df, k=k, iters=iters).collect()
    }

    def bucket(i):
        return ((i % 2**31) * 1103515245 + 12345) % 2**31 % k

    cents = {}
    for i in sorted(vecs):
        cents.setdefault(bucket(i), list(vecs[i]))

    def assign(cs):
        out = {}
        for i, v in vecs.items():
            dists = sorted(
                (round(sum((a - b) * (a - b) for a, b in zip(v, c)), 6), cid)
                for cid, c in cs.items()
            )
            out[i] = dists[0][::-1]  # (cid, sq_dist)
        return out

    for _ in range(iters):
        a = assign(cents)
        for cid in cents:
            members = [vecs[i] for i, (c, _) in a.items() if c == cid]
            if members:
                cents[cid] = [
                    round(sum(col) / len(col), 6) for col in zip(*members)
                ]
    want = assign(cents)
    assert got == want


try:
    from hypothesis import given, settings, strategies as st

    _doc = st.lists(
        st.text(alphabet="abc", min_size=1, max_size=2), min_size=0, max_size=24
    ).map(" ".join)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(_doc, min_size=1, max_size=6), st.integers(1, 5))
    def test_span_dedup_properties(spark, docs, span):
        """Invariants for any corpus: each distinct span text survives in
        exactly one (doc, position); kept counts bound chunk counts; the
        reassembled text is the in-order concatenation of kept spans and
        the union of kept spans equals the corpus's distinct span set."""
        from review_engine_spark.operators.curation import span_dedup

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in span_dedup(df, span=span).collect()}
        all_spans = set()
        n_docs_nonempty = 0
        kept_spans = []
        for i, doc in enumerate(docs):
            toks = [t for t in doc.lower().split() if t]
            spans = [
                " ".join(toks[s:s + span]) for s in range(0, len(toks), span)
            ]
            if not spans:
                assert i not in out
                continue
            n_docs_nonempty += 1
            all_spans.update(spans)
            r = out[i]
            assert r["n_chunks"] == len(spans)
            assert 0 <= r["n_kept"] <= r["n_chunks"]
            pieces = r["text_dedup"].split() if r["text_dedup"] else []
            # kept text must be a subsequence of the original token stream
            it = iter(toks)
            assert all(any(t == u for u in it) for t in pieces)
            kept_spans.extend(
                [r["text_dedup"]] if r["n_kept"] == r["n_chunks"] else []
            )
        assert len(out) == n_docs_nonempty
        # every distinct span survives exactly once corpus-wide
        total_kept = sum(r["n_kept"] for r in out.values())
        assert total_kept == len(all_spans)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(_doc, min_size=1, max_size=6))
    def test_top_tokens_matches_python_counts(spark, docs):
        from collections import Counter

        from review_engine_spark.operators.curation import top_tokens

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        got = {
            r["token"]: (r["n_docs"], r["n_total"])
            for r in top_tokens(df, k=1000).collect()
        }
        totals: Counter = Counter()
        in_docs: Counter = Counter()
        for doc in docs:
            toks = [t for t in doc.lower().split() if t]
            totals.update(toks)
            in_docs.update(set(toks))
        assert got == {
            t: (in_docs[t], totals[t]) for t in totals
        }

except ImportError:  # pragma: no cover - hypothesis always in container
    pass


def test_bpe_merge_fold_greedy_leftmost(spark):
    """The merge-application fold must be greedy leftmost: 'aaa' under
    merge (a,a) becomes ['aa','a'] (never ['a','aa']), single- and
    two-symbol words hit the empty-slice edge — identical semantics to
    the oracle's list_reduce (probed in DuckDB; pinned here for Spark)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("aaabaa",), ("a",), ("aa",)], "token string")
    syms = F.transform(
        F.sequence(F.lit(1), F.length("token")),
        lambda i: F.col("token").substr(i, F.lit(1)),
    )

    def lam(acc, x):
        return F.when(
            (F.element_at(acc, -1) == F.lit("a")) & (x == F.lit("a")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    out = {
        r["token"]: r["m"]
        for r in df.select(
            "token",
            F.aggregate(
                F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
                F.array(F.element_at(syms, 1)),
                lam,
            ).alias("m"),
        ).collect()
    }
    assert out == {
        "aaabaa": ["aa", "a", "b", "aa"],
        "a": ["a"],
        "aa": ["aa"],
    }


def test_bpe_merges_deterministic_and_ranked(spark, sf_dir):
    """Six rounds, ranks 1..6, exact integer freqs, and re-running gives
    the identical merge table (the argmax tie-break is total)."""
    from review_engine_spark.plans.roster_curation import q_bpe_merges

    rows1 = sorted(tuple(r) for r in q_bpe_merges(spark, sf_dir).collect())
    rows2 = sorted(tuple(r) for r in q_bpe_merges(spark, sf_dir).collect())
    assert rows1 == rows2
    assert [r[0] for r in rows1] == [1, 2, 3, 4, 5, 6]
    assert all(r[3] > 0 for r in rows1)


def test_bpe_encode_applies_trained_rules(spark, tmp_path):
    """q_bpe_encode's per-doc lengths must equal a pure-Python replay
    of the SAME convention — train K merges (freq DESC, lexicographic
    pair ties) on the corpus vocabulary, then apply each rule in rank
    order as one greedy-leftmost pass — on a corpus small enough to
    verify by hand. Pins the train→apply closure: the encode chain
    uses the rules q_bpe_merges trains, including the final rank."""
    import collections
    import re

    from review_engine_spark.plans.roster_curation import (
        _BPE_ROUNDS,
        bpe_doc_lengths,
    )

    texts = [
        "the cat sat on the mat",
        "the hat that the cat wore",
        "that mat sat flat",
        "",  # zero-token doc must survive with zeros
        "CAT! cat? ThE the",
    ]
    d = str(tmp_path / "bpe_sf")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    wc = collections.Counter(w for t in texts for w in toks(t))
    vocab = {w: [c for c in w] for w in wc}

    def fold(syms, a, b):
        out = [syms[0]]
        for x in syms[1:]:
            if out[-1] == a and x == b:
                out[-1] = out[-1] + x
            else:
                out.append(x)
        return out

    for _ in range(_BPE_ROUNDS):
        pc = collections.Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wc[w]
        (a, b), _f = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        vocab = {w: fold(s, a, b) for w, s in vocab.items()}

    want = {}
    for i, t in enumerate(texts):
        ws = toks(t)
        want[i] = (len(ws), sum(len(vocab[w]) for w in ws))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_doc_lengths(spark, d).collect()
    }
    assert got == want
    assert got[3] == (0, 0)
    # the tokenizer must actually compress: some word shrank below its
    # character length, else the test corpus pins nothing
    assert any(got[i][1] < sum(len(w) for w in toks(t)) for i, t in enumerate(texts))


def test_substring_dedup_runs_and_first_occurrence_survives(spark):
    """Hand-checkable corpus, width=4: doc 1 repeats a 6-token run of
    doc 0 (duplicated at 4-token resolution → 3 dup shingle positions
    merging into ONE 6-token cut run), doc 2 shares only a 3-token
    substring (below width — must NOT fire), and the canonical copy in
    doc 0 is never cut. Doc 3 duplicates the run internally twice —
    its second occurrence is cut even though both live in one doc."""
    from review_engine_spark.operators.curation import substring_dedup

    run = "w1 w2 w3 w4 w5 w6"
    docs = spark.createDataFrame(
        [
            (0, f"{run} tail0 tail1"),
            (1, f"head0 head1 {run}"),
            (2, "w1 w2 w3 other tokens here"),
            (3, f"{run} mid {run}"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_runs"], r["n_cut_tokens"])
        for r in substring_dedup(docs, width=4).collect()
    }
    # doc 0 holds every canonical copy: clean
    assert got[0] == (8, 0, 0)
    # doc 1: shingle positions 3,4,5 (w1..w4 / w2..w5 / w3..w6) are all
    # rank-2 of their hash → one merged run covering tokens 3..8 (6)
    assert got[1] == (8, 1, 6)
    assert got[2] == (6, 0, 0)
    # doc 3: its FIRST w1..w6 occupies rank 2 (doc 0 is rank 1) and the
    # second occurrence rank 3 — dup positions 1,2,3 and 8,9,10 with a
    # gap of 5 > width → two separate 6-token runs
    assert got[3] == (13, 2, 12)


def test_substring_scrub_reconstructs_survivors(spark):
    """Apply semantics on the hand corpus: the canonical copy keeps its
    full text, the later twin loses exactly the duplicated run, and the
    sub-width overlap doc is untouched. A doc that is ENTIRELY one
    duplicated run scrubs to the empty string."""
    from review_engine_spark.operators.curation import substring_dedup_apply

    run = "w1 w2 w3 w4 w5 w6"
    docs = spark.createDataFrame(
        [
            (0, f"{run} tail0 tail1"),
            (1, f"head0 head1 {run}"),
            (2, "w1 w2 w3 other tokens here"),
            (3, run),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["text_dedup"])
        for r in substring_dedup_apply(docs, width=4).collect()
    }
    assert got[0] == (8, 8, f"{run} tail0 tail1")
    assert got[1] == (8, 2, "head0 head1")
    assert got[2] == (6, 6, "w1 w2 w3 other tokens here")
    assert got[3] == (6, 0, "")


def test_substring_scrub_token_exact_at_non_multiple_width(spark):
    """Boundary exactness (VERDICT r9 item 3): stride-1 shingles make
    the cut TOKEN-exact for any duplicated run >= width, including
    lengths that are not a multiple of width. A 23-token span repeated
    verbatim at width=16 must lose exactly 23 tokens — no width-quantized
    edge leakage in either direction — while a 15-token repeat (below
    the floor) survives whole."""
    from review_engine_spark.operators.curation import (
        substring_dedup,
        substring_dedup_apply,
    )

    span23 = " ".join(f"s{i}" for i in range(23))
    span15 = " ".join(f"t{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (0, f"{span23} u0 u1 {span15}"),
            (1, f"a0 a1 a2 {span23} b0"),  # 23-token repeat, off edges
            (2, f"c0 {span15} c1 c2"),  # 15-token repeat: below floor
        ],
        "doc_id long, text string",
    )
    det = {
        r["doc_id"]: (r["n_dup_runs"], r["n_cut_tokens"])
        for r in substring_dedup(docs, width=16).collect()
    }
    assert det[0] == (0, 0)
    assert det[1] == (1, 23)  # exactly the span, not 16- or 32-quantized
    assert det[2] == (0, 0)
    app = {
        r["doc_id"]: (r["n_kept"], r["text_dedup"])
        for r in substring_dedup_apply(docs, width=16).collect()
    }
    assert app[1] == (4, "a0 a1 a2 b0")
    assert app[2] == (18, f"c0 {span15} c1 c2")


def _py_bpe_train(texts, k):
    """Pure-Python reference BPE trainer (the test_kernels.py oracle
    convention): identical algebra to train_bpe — wc-weighted adjacent
    pair counts, argmax (freq DESC, a, b), greedy-leftmost cascading
    merge applied between rounds, early stop when no pair remains."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                words[w] += 1

    def merge(syms, a, b):
        out = [syms[0]]
        for x in syms[1:]:
            if out[-1] == a and x == b:
                out[-1] = out[-1] + x
            else:
                out.append(x)
        return out

    vocab = {w: list(w) for w in words}
    rules = []
    for rank in range(1, k + 1):
        pc = Counter()
        for w, syms in vocab.items():
            wc = words[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc
        if not pc:
            break
        (a, b), f = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rank, a, b, f))
        if rank < k:
            for w in vocab:
                vocab[w] = merge(vocab[w], a, b)
    return rules


def test_train_bpe_k64_matches_pure_python(spark):
    """Large-K parity (VERDICT r9 item 6): train_bpe at K=64 on a
    50-doc corpus must reproduce the pure-Python trainer's full rule
    sequence — every rank, pair, and exact frequency."""
    from review_engine_spark.plans.roster_curation import train_bpe

    texts = [
        f"the quick brown fox jumps over the lazy dog {i} "
        f"pack my box with five dozen liquor jugs "
        f"sphinx of black quartz judge my vow "
        f"how vexingly quick daft zebras jump {i * i}"
        for i in range(50)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = train_bpe(docs, 64)
    want = _py_bpe_train(texts, 64)
    assert len(want) == 64  # corpus must actually sustain 64 merges
    assert got == want


def test_train_bpe_early_stop_when_vocab_exhausted(spark):
    """A vocabulary whose words fully merge before K rounds returns
    fewer rules instead of crashing on an empty argmax."""
    from review_engine_spark.plans.roster_curation import train_bpe

    docs = spark.createDataFrame(
        [(0, "ab ab ab cd")], "doc_id long, text string"
    )
    got = train_bpe(docs, 10)
    want = _py_bpe_train(["ab ab ab cd"], 10)
    assert got == want
    assert 0 < len(got) < 10


def test_bpe_rules_artifact_roundtrip(spark, tmp_path, monkeypatch, scratch_root):
    """bpe_rules trains once, persists the tokenizer artifact, and
    serves identical rules from disk on the next call (fresh memo) —
    with no retraining (the trainer is stubbed out for the second call
    to prove the rules come from disk); a corpus CHANGE (new stat)
    invalidates the artifact by design."""
    from review_engine_spark.plans import roster_curation as rc

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.parquet(str(corpus / "documents.parquet"))

    first = rc.bpe_rules(spark, str(corpus), 6)
    assert first == _py_bpe_train(
        [f"alpha beta gamma delta {i}" for i in range(20)], 6
    )
    scratch_root._MEMO.clear()

    def boom(*a, **k):  # the artifact alone must serve the second call
        raise AssertionError("bpe_rules retrained despite fresh artifact")

    monkeypatch.setattr(rc, "train_bpe", boom)
    assert rc.bpe_rules(spark, str(corpus), 6) == first
    # a rewritten corpus (new mtime/size) must NOT be served stale rules
    docs.limit(5).coalesce(1).write.mode("overwrite").parquet(
        str(corpus / "documents.parquet")
    )
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="retrained"):
        rc.bpe_rules(spark, str(corpus), 6)


def test_gopher_rules_every_branch_fires(spark, tmp_path):
    """Hand corpus driving each first-failing rule exactly once —
    including the branches the fixture corpus never exercises
    (short_words, long_words, low_alpha)."""
    from review_engine_spark.plans.roster_curation import q_gopher_rules

    ok_words = ("the and of to in " + "hello world " * 15).strip()  # 35 w
    rows = [
        (0, ok_words),                                  # ok
        (1, "the a of"),                                # too_few_words
        (2, "the a of " + "word " * 90),                # too_many_words
        (3, "a b c d e " * 7),                          # short_words (mean 1)
        (4, ("extraordinarily " * 35).strip()),         # long_words (mean 16)
        (5, " ".join(str(i) for i in range(100, 135))), # low_alpha (0 alpha)
        (6, "zebra quark " * 18),                       # no_stopwords
        (7, None),                                      # NULL text fails
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["keep"], r["reason"])
        for r in q_gopher_rules(spark, str(tmp_path)).collect()
    }
    assert got[0] == (True, "ok")
    assert got[1] == (False, "too_few_words")
    assert got[2] == (False, "too_many_words")
    assert got[3] == (False, "short_words")
    assert got[4] == (False, "long_words")
    assert got[5] == (False, "low_alpha")
    assert got[6] == (False, "no_stopwords")
    # NULL text must fail deterministically (not fall through to 'ok',
    # and not depend on spark.sql.legacy.sizeOfNull) — ADVICE r10.
    assert got[7] == (False, "too_few_words")


def test_c4_rules_every_branch_fires(spark, tmp_path):
    """Hand corpus driving each C4 rule: line-level keep (terminal
    punctuation AND >=5 words), lorem-ipsum page drop, curly-brace
    page drop, <3-sentence page drop, and NULL-text determinism."""
    from review_engine_spark.plans.roster_curation import q_c4_rules

    good = "\n".join(
        [
            "this is a perfectly fine sentence.",  # kept
            "short line.",                         # <5 words -> cut
            "no terminal punctuation here at all", # no punct -> cut
            "another fine sentence right here!",   # kept
            "and one more to clear the bar?",      # kept
        ]
    )
    rows = [
        (0, good),                                    # ok
        (1, good + "\nsee Lorem Ipsum dolor sit."),   # lorem_ipsum
        (2, good + "\nfunction f() { return 1; }"),   # curly_brace
        (3, "just one good sentence lives here."),    # too_few_sentences
        (4, None),                                    # NULL -> empty page
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r for r in q_c4_rules(spark, str(tmp_path)).collect()
    }
    assert (got[0]["keep"], got[0]["reason"]) == (True, "ok")
    assert got[0]["n_lines"] == 5 and got[0]["n_kept_lines"] == 3
    assert got[0]["n_sentences"] == 3
    assert got[1]["reason"] == "lorem_ipsum"
    assert got[2]["reason"] == "curly_brace"
    assert got[3]["reason"] == "too_few_sentences"
    assert (got[4]["keep"], got[4]["reason"]) == (
        False,
        "too_few_sentences",
    )
    assert got[4]["n_lines"] == 1 and got[4]["n_kept_lines"] == 0
    assert got[4]["text_clean"] == ""


def test_ngram_novelty_first_doc_wins_and_fractions(spark):
    from review_engine_spark.operators.curation import ngram_novelty

    a = "a b c d e f g h i j"            # 10 toks -> 3 shingles, all novel
    dup = a                               # every shingle first seen in doc 1
    mix = "a b c d e f g h z z z z"       # 12 toks -> 5 shingles; pos 1 dup
    df = _docs(spark, [(1, a), (2, dup), (3, mix), (4, "too short")])
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in ngram_novelty(df, width=8).collect()
    }
    assert out[1] == (3, 3, 1.0)
    assert out[2] == (3, 0, 0.0)
    assert out[3] == (5, 4, 4 / 5)
    assert 4 not in out  # < width tokens -> no shingles -> absent


def test_ngram_novelty_within_doc_repeat_counts_once(spark):
    from review_engine_spark.operators.curation import ngram_novelty

    # 16 tokens = the same 8-gram twice: shingle at pos 1 equals pos 9,
    # and the stride-1 windows in between are distinct rotations
    df = _docs(spark, [(1, "a b c d e f g h a b c d e f g h")])
    (row,) = ngram_novelty(df, width=8).collect()
    # 9 window positions but pos 1 == pos 9 -> 8 DISTINCT shingles
    assert row["n_shingles"] == 8 and row["n_novel"] == 8
    assert row["novelty"] == 1.0


def test_rank_cutoff_is_exact_grid_element_even_at_tied_bracket(spark):
    """The seed-2 catch class: at a tied percentile bracket the
    interpolated quantile is one ulp off the grid on DuckDB; the rank
    cutoff must return the exact k-th smallest element instead."""
    from review_engine_spark.plans.roster_curation import _rank_cutoff

    # 10 values, heavy tie exactly at the 70th-percentile bracket
    vals = [0.1, 0.2, 0.3, 0.4, 0.5, 0.057834, 0.057834, 0.057834,
            0.9, None]
    df = spark.createDataFrame([(v,) for v in vals], "s double")
    (row,) = _rank_cutoff(df, "s", 7, 10).collect()
    nn = sorted(v for v in vals if v is not None)
    import math
    k = math.ceil(0.7 * len(nn))
    assert row["_cut"] == nn[k - 1]
    # and the cutoff is bit-identical to a grid member (no interpolation)
    assert row["_cut"] in nn


def test_rank_cutoff_matches_python_order_statistic_property(spark):
    """Property over randomized 6dp grids (hypothesis-style sweep with a
    fixed seed): the cutoff is always the ceil(num*n/den)-th smallest
    non-null element, bit-identical to a member of the input grid."""
    import math
    import random

    from review_engine_spark.plans.roster_curation import _rank_cutoff

    rng = random.Random(20260816)
    for trial in range(8):
        n = rng.randint(1, 40)
        # heavy-tie grids: values drawn from a tiny 6dp domain
        domain = [round(rng.uniform(-1, 1), 6) for _ in range(rng.randint(1, 5))]
        vals = [rng.choice(domain) for _ in range(n)] + [None] * rng.randint(0, 3)
        num, den = rng.choice([(3, 10), (7, 10), (1, 2), (9, 10)])
        df = spark.createDataFrame([(v,) for v in vals], "s double")
        (row,) = _rank_cutoff(df, "s", num, den).collect()
        nn = sorted(v for v in vals if v is not None)
        k = math.ceil(num * len(nn) / den)
        assert row["_cut"] == nn[k - 1], (trial, vals, num, den)


def test_containment_dedup_directions_and_threshold(spark, tmp_path):
    """Hand corpus: A is an exact substring of B (containment 1.0, one
    direction only — B is NOT contained in A); C shares a block below
    the 80% gate and must not appear."""
    import pandas as pd

    from review_engine_spark.plans.roster_curation import q_containment_dedup

    core = " ".join(f"w{i}" for i in range(20))           # 20 tokens
    b = core + " " + " ".join(f"x{i}" for i in range(30))  # container
    c = " ".join(f"w{i}" for i in range(10)) + " " + \
        " ".join(f"y{i}" for i in range(40))               # partial share
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [core, b, c],
         "n_chars": [len(core), len(b), len(c)]}
    ).to_parquet(tmp_path / "documents.parquet")

    rows = {
        (r["contained_id"], r["container_id"]): (
            r["n_shared"], r["n_shingles"], r["containment"]
        )
        for r in q_containment_dedup(spark, str(tmp_path)).collect()
    }
    # A (13 distinct 8-shingles) fully inside B
    assert rows[(1, 2)][2] == 1.0
    assert rows[(1, 2)][0] == rows[(1, 2)][1] == 13
    assert (2, 1) not in rows          # the container is not contained
    assert all(k[0] != 3 for k in rows)  # C is below the 80% gate


def _py_uni_train(texts):
    """Pure-Python reference unigram-LM trainer (the test_kernels.py
    oracle convention): identical algebra to train_unigram — weighted
    substring seed (top-64 + forced single chars), 2 hard-EM rounds of
    Viterbi best-segmentation counts (ties prefer the longest piece),
    round-6 HALF_UP log-probs, top-48 prune."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from review_engine_spark.plans.roster_curation import (
        _UNI_EM_ROUNDS,
        _UNI_FINAL_V,
        _UNI_MAXL,
        _UNI_MAXW,
        _UNI_NEG,
        _UNI_SEED_V,
    )

    def r6(x):
        # Spark's round() = BigDecimal HALF_UP on the shortest repr
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w and len(w) <= _UNI_MAXW:
                words[w] += 1

    subs = Counter()
    for w, wc in words.items():
        for i in range(len(w)):
            for l in range(1, min(_UNI_MAXL, len(w) - i) + 1):
                subs[w[i : i + l]] += wc
    sel = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:_UNI_SEED_V]
    vset = dict(sel)
    for p, c in subs.items():
        if len(p) == 1:
            vset[p] = c
    tot = sum(vset.values())
    vocab = {p: (c, r6(math.log(c / tot))) for p, c in vset.items()}

    def viterbi(w, lp):
        bs = [0.0]
        cs = []
        for i in range(1, len(w) + 1):
            cands = []  # j ascending == longest piece first
            for d in range(min(_UNI_MAXL, i), 0, -1):
                j = i - d
                cands.append((j, bs[j] + lp.get(w[j:i], _UNI_NEG)))
            best = max(c for _, c in cands)
            cs.append(next(j for j, c in cands if c == best))
            bs.append(best)
        pieces = []
        pos = len(w)
        while pos > 0:
            pieces.append(w[cs[pos - 1] : pos])
            pos = cs[pos - 1]
        return pieces

    for _t in range(_UNI_EM_ROUNDS):
        lp = {p: v[1] for p, v in vocab.items()}
        counts = Counter()
        for w, wc in words.items():
            for piece in viterbi(w, lp):
                if piece in lp:
                    counts[piece] += wc
        tot = sum(counts.values())
        vocab = {p: (c, r6(math.log(c / tot))) for p, c in counts.items()}

    out = sorted(
        ((p, c, l) for p, (c, l) in vocab.items()),
        key=lambda r: (-r[1], r[0]),
    )
    return out[:_UNI_FINAL_V]


def test_train_unigram_matches_pure_python(spark):
    """Full parity of train_unigram with the pure-Python reference on a
    50-doc pangram corpus — every piece, exact frequency, and round-6
    log-prob of the pruned vocabulary."""
    from review_engine_spark.plans.roster_curation import train_unigram

    texts = [
        f"the quick brown fox jumps over the lazy dog {i} "
        f"pack my box with five dozen liquor jugs "
        f"sphinx of black quartz judge my vow "
        f"how vexingly quick daft zebras jump {i * i}"
        for i in range(50)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = train_unigram(docs)
    want = _py_uni_train(texts)
    assert [(p, c) for p, c, _ in got] == [(p, c) for p, c, _ in want]
    assert all(
        abs(gl - wl) < 1e-12 for (_, _, gl), (_, _, wl) in zip(got, want)
    )


def test_unigram_artifact_roundtrip_and_self_validation(spark, tmp_path, scratch_root):
    """unigram_vocab trains once, serves from the artifact after, and
    retrains (rather than serving garbage) when the JSON is corrupted
    — the r11 PCA-artifact self-validation convention."""
    import json
    import pandas as pd

    from review_engine_spark.plans import roster_curation as rc

    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["abab abab cdcd", "abab cdcd cdcd"]}
    ).to_parquet(tmp_path / "documents.parquet")

    v1 = rc.unigram_vocab(spark, str(tmp_path))
    path = scratch_root.artifact_path(rc._uni_key(str(tmp_path)))
    assert json.load(open(path))["value"]
    scratch_root._MEMO.clear()
    v2 = rc.unigram_vocab(spark, str(tmp_path))  # artifact-served
    assert v2 == v1
    # corrupt the payload: the key check must force a retrain
    art = json.load(open(path))
    art["key"] = "deadbeefdeadbeef"
    art["value"] = [["zz", 999, -0.1]]
    json.dump(art, open(path, "w"))
    scratch_root._MEMO.clear()
    v3 = rc.unigram_vocab(spark, str(tmp_path))
    assert v3 == v1


def test_bpe_artifact_corrupt_payload_retrains(spark, tmp_path, scratch_root):
    """A truncated BPE artifact is deleted and retrained, not a failed
    query: the rules come back equal and the file is rewritten whole."""
    from pathlib import Path

    import pandas as pd

    from review_engine_spark.plans import roster_curation as rc

    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["abab abab cdcd", "abab cdcd", "cdcd ab"]}
    ).to_parquet(tmp_path / "documents.parquet")
    first = rc.bpe_rules(spark, str(tmp_path), 6)
    path = Path(scratch_root.artifact_path(rc._bpe_key(str(tmp_path), 6)))
    whole = path.read_bytes()
    path.write_bytes(whole[: len(whole) // 2])
    scratch_root._MEMO.clear()
    assert rc.bpe_rules(spark, str(tmp_path), 6) == first
    assert path.read_bytes() == whole


def test_unigram_encode_char_fallback_for_overlong_words(
    spark, tmp_path, scratch_root
):
    """A word longer than the DP bound encodes as its character count;
    normal words encode as their Viterbi piece count."""
    import pandas as pd

    from review_engine_spark.plans import roster_curation as rc

    long_word = "a" * (rc._UNI_MAXW + 5)
    pd.DataFrame(
        {"doc_id": [1, 2], "text": [f"abab {long_word}", "abab abab"]}
    ).to_parquet(tmp_path / "documents.parquet")
    # a fresh artifact store: no artifact of another test is served
    rows = {
        r["doc_id"]: (r["n_words"], r["n_uni_tokens"])
        for r in rc.uni_doc_lengths(spark, str(tmp_path)).collect()
    }
    # doc 1: 'abab' (<= 4 pieces) + overlong word at char count
    assert rows[1][0] == 2
    assert rows[1][1] >= rc._UNI_MAXW + 5 + 1
    assert rows[2][0] == 2
