"""Build a K× replica of the sf0.1 fixture for scale runs.

Replicates the sf0.1 fixture star schema K× (default 10×) into a
parquet dir — each copy gets a disjoint key space (all join keys shifted
by copy_index * stride), so per-copy join selectivity and group
cardinalities are preserved and the corpus behaves like K independent
shards of one big warehouse (~6M lineitem rows at 10×). Time the
replica with ``bench.py --sf-dir <replica>`` and compare against the
sf0.1 run: a query whose wall ratio tracks the input ratio is
scan/shuffle-linear; a super-linear ratio exposes an accidental O(n²)
(unblocked self-join, broadcast of a corpus-scaled table,
single-reducer sort).

Usage: [STRESS_DIR=<dir>] python tools/stress_tpch.py [K]

The replica directory is printed on the last line. ``STRESS_DIR``
reuses a replica this tool built with the same salting scheme.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.1"

#: table → columns that carry entity keys (shifted per copy; every join
#: stays within its copy). Non-key columns are left untouched.
KEY_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    # Non-TPC-H fact tables, replicated the same way when stressing the
    # event/document rosters: shifting user_id / doc_id per copy keeps
    # per-entity history length constant, so the experiment measures
    # parallel-shard scaling, not per-key growth.
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
STRIDE = 10_000_000

#: table → {small-range group-key column: stride}. Same disjoint-shard
#: doctrine as KEY_COLS, but for low-cardinality int32 keys where the
#: 10M stride would overflow or explode group count past realism:
#: embeddings.label is 0..9, stride 10 keeps 10 labels PER COPY (group
#: size constant — shard scaling, not per-key growth).
SMALL_KEY_COLS = {
    "embeddings": {"label": 10},
}

#: table → vector column rotated by a per-copy random ORTHOGONAL matrix
#: (copy 0 = identity). Key shifting alone leaves vectors byte-identical
#: across copies — every vector gains K−1 exact cosine-1 twins, so any
#: near-dup / top-k / clustering query measures dup-density growth, the
#: same artifact TEXT_SALT_COLS removes for text. Rotation is the vector
#: analogue with an exactness bonus: within-copy inner products and
#: norms are EXACTLY preserved (R^T R = I ⇒ ⟨Rx, Ry⟩ = ⟨x, y⟩), so each
#: copy's internal similarity structure is the fixture's, while
#: cross-copy cosines are ~N(0, 1/64) noise (P(>0.3) ≈ 0.8%) — K
#: independent shards of one big vector corpus.
VECTOR_ROT_COLS = {
    "embeddings": "embedding",
}

#: table → text columns that carry cross-row SIMILARITY (fuzzy levenshtein
#: blocks, shingle sets, simhash features) → salting mode. Key shifting
#: alone leaves these byte-identical across copies, which makes every row
#: a K-clique in any near-dup graph — the corpus stops being K independent
#: shards and the harness measures dup-density growth instead of shard
#: scaling (observed at K=100: q_pagerank's fuzzy part graph became ~20k
#: overlapping 100-cliques, >1000 s per power iteration). Each copy is
#: therefore re-salted: mode "prefix" prepends a PREFIX_LEN-hex per-copy
#: token (pairwise levenshtein VERIFIED > the roster's ≤8 match radius at
#: build time), mode "tokens" prepends a TOKEN_TAG_LEN-hex tag to EVERY
#: whitespace token (all k-gram shingles differ across copies ⇒
#: cross-copy Jaccard 0, simhash hamming ~half the bits). Within-copy
#: similarity structure is preserved exactly — the same salt is applied
#: uniformly inside a copy.
TEXT_SALT_COLS = {
    "part": {"p_name": "prefix"},
    "documents": {"text": "tokens"},
}

#: bump when the salting scheme changes; replicas record it so a reused
#: STRESS_DIR built under an older (collision-prone) scheme is rebuilt
#: instead of silently skewing the measurements.
SALT_VERSION = "v3-emb-rotated"

# Salt geometry: token tags are the first TOKEN_TAG_LEN hex chars of the
# per-copy salt, prefixes the first PREFIX_LEN. v1 used 4/12, which at
# K=100 collides with ~7% probability on the tag (birthday over 16^4)
# and puts ~0.5% of prefix pairs within the roster's levenshtein<=8
# match radius — both re-admit cross-copy edges into the near-dup
# graphs, partially reintroducing the dup-density artifact the salting
# exists to remove. v2 lengthens both AND verifies the realized salt
# set at build time (regenerating with a nonce on violation), so the
# invariant is checked, not probabilistic.
TOKEN_TAG_LEN = 8
PREFIX_LEN = 24


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def build_salts(k: int) -> list[str]:
    """K per-copy salts with VERIFIED separation: token tags (first
    TOKEN_TAG_LEN hex) pairwise distinct, prefixes (first PREFIX_LEN hex)
    pairwise levenshtein > 8 (the roster's widest fuzzy-match radius).
    Deterministic: nonce 0 first, bump only on violation."""
    import hashlib

    nonce = 0
    while True:
        salts = [
            hashlib.md5(f"{i}:{nonce}".encode()).hexdigest() for i in range(k)
        ]
        tags = {s[:TOKEN_TAG_LEN] for s in salts}
        if len(tags) == k and all(
            _levenshtein(salts[i][:PREFIX_LEN], salts[j][:PREFIX_LEN]) > 8
            for i in range(k)
            for j in range(i + 1, k)
        ):
            return salts
        nonce += 1


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from pyspark.sql import functions as F

    from review_engine_spark.session import get_spark
    from review_engine_spark.sources.io import read_parquet_table

    spark = get_spark("stress-tpch")
    # STRESS_DIR: reuse an already-replicated corpus (replication is the
    # expensive part).
    import os

    reuse = os.environ.get("STRESS_DIR")
    if reuse and Path(reuse, "lineitem.parquet").exists():
        marker = Path(reuse, "SALT_VERSION")
        if not marker.exists():
            # No SALT_VERSION marker means THIS TOOL did not build the
            # directory — a user-supplied path holding a lineitem.parquet
            # could be a real dataset, so never rmtree it (ADVICE r7).
            raise SystemExit(
                f"STRESS_DIR {reuse} contains lineitem.parquet but no "
                "SALT_VERSION marker, so it was not built by this tool; "
                "refusing to delete it — clear the directory manually or "
                "point STRESS_DIR elsewhere"
            )
        have = marker.read_text().strip()
        if have == SALT_VERSION:
            print(f"# reusing replica (K must match its build)\n{reuse}")
            return 0
        print(
            f"# replica {reuse} has salt scheme {have} != {SALT_VERSION};"
            " rebuilding"
        )
        import shutil

        shutil.rmtree(reuse)
    out_dir = os.environ.get("STRESS_DIR") or tempfile.mkdtemp(
        prefix="stress_tpch_"
    )
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    print(f"# replicating {SF_DIR} {k}x -> {out_dir}")
    import json as _json

    salt_list = build_salts(k)
    # one literal array, indexed by _copy — the realized (verified) salts,
    # not a per-row Spark-side md5 that the driver never sees.
    salt_arr = F.from_json(F.lit(_json.dumps(salt_list)), "array<string>")
    for name, keys in KEY_COLS.items():
        base = read_parquet_table(spark, SF_DIR, name)
        if keys:
            copies = base.crossJoin(
                spark.range(k).select(F.col("id").alias("_copy"))
            )
            for c in keys:
                copies = copies.withColumn(
                    c, F.col(c) + F.col("_copy") * F.lit(STRIDE)
                )
            salts = TEXT_SALT_COLS.get(name, {})
            if salts:
                copies = copies.withColumn(
                    "_salt",
                    F.element_at(salt_arr, (F.col("_copy") + 1).cast("int")),
                )
            for c, mode in salts.items():
                if mode == "prefix":
                    copies = copies.withColumn(
                        c,
                        F.concat(
                            F.substring("_salt", 1, PREFIX_LEN),
                            F.lit(" "),
                            F.col(c),
                        ),
                    )
                else:  # "tokens"
                    copies = copies.withColumn(
                        c,
                        F.array_join(
                            F.transform(
                                F.split(F.col(c), " "),
                                lambda t: F.concat(
                                    F.substring("_salt", 1, TOKEN_TAG_LEN), t
                                ),
                            ),
                            " ",
                        ),
                    )
            for c, stride in SMALL_KEY_COLS.get(name, {}).items():
                copies = copies.withColumn(
                    c,
                    (
                        F.col(c).cast("long") + F.col("_copy") * F.lit(stride)
                    ).cast(dict(base.dtypes)[c]),
                )
            vec_col = VECTOR_ROT_COLS.get(name)
            if vec_col is not None:
                import numpy as np

                dim = len(
                    base.select(vec_col).first()[0]
                )
                rng = np.random.RandomState(7042)
                rots = np.empty((k, dim, dim), dtype=np.float32)
                rots[0] = np.eye(dim, dtype=np.float32)
                for i in range(1, k):
                    q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
                    rots[i] = q.astype(np.float32)
                rot_bc = spark.sparkContext.broadcast(rots)

                def _rotate(batches, _vc=vec_col):
                    import numpy as _np

                    R = rot_bc.value
                    for pdf in batches:
                        X = _np.stack(pdf[_vc].to_numpy()).astype(_np.float32)
                        C = pdf["_copy"].to_numpy().astype(_np.int64)
                        Y = _np.einsum("nij,nj->ni", R[C], X)
                        pdf[_vc] = list(Y)
                        yield pdf

                copies = copies.mapInPandas(_rotate, copies.schema)
            scaled = copies.drop("_copy", "_salt")
        else:
            scaled = base  # dims shared across copies (broadcast at any K)
        scaled.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    Path(out_dir, "SALT_VERSION").write_text(SALT_VERSION + "\n")
    print(out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
