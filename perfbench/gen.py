"""Seeded input generators for the benchmark workloads.

Every generator draws from one ``numpy.random.Generator`` built from the
run's seed, so the same seed yields byte-identical inputs and another
seed different ones. Text is assembled from integer draws over small
vocabularies (no per-row ``json.dumps``); the JSON-lines encoding is
pandas' C writer.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array(
    (
        "great quality fast quiet sturdy cheap solid battery screen cable "
        "washer dryer fridge kettle blender vacuum filter charger speaker "
        "lamp works well poor broke returned love hate easy hard setup "
        "manual price value size color warranty shipping arrived damaged "
        "perfect decent noisy bright small large light heavy recommend "
        "daily kitchen office travel gift sound power clean design"
    ).split()
)
# Noise the clean chain must strip: entities decode to kept characters
# or to nothing; URLs, tags and @/# mentions are removed whole.
ENTITIES = np.array(["&amp;", "&quot;", "&#39;", "&gt;", "&nbsp;"])
URLS = np.array(["http://example.com/p/1", "https://shop.example.org/x?y=2", "www.example.net/r"])
TAGS = np.array(["<br />", "<b>", "</b>", "<p>"])
MENTIONS = np.array(["@seller", "#deal", "@support", "#review"])
# One surviving review carries at least this many plain words; a short
# one at most SHORT_WORDS, so survival of the ``> 5 tokens`` filter in
# ``build_product_embeddings`` is known from the generator alone.
LONG_WORDS = (8, 24)
SHORT_WORDS = 3
SHORT_SHARE = 0.15

BUDGET_FAMILIES = (
    "between ${lo} and ${hi}",
    "under ${hi}",
    "around {hi} dollars",
    "{hi} budget",
    "budget ${hi}",
    "",
)
QUESTIONS = np.array(
    [
        "how long does the battery last",
        "is it easy to clean",
        "does it come with a warranty",
        "how loud is it at full power",
        "what size is it",
        "is the cable long enough",
    ]
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding one never shifts another."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _phrases(rng: np.random.Generator, lens: np.ndarray) -> list[str]:
    width = int(lens.max())
    mat = WORDS[rng.integers(0, len(WORDS), size=(len(lens), width))]
    return [" ".join(row[:n]) for row, n in zip(mat, lens)]


def asins(n: int) -> np.ndarray:
    return np.char.add("B0", np.char.zfill(np.arange(n).astype(str), 8))


def reviews(seed: int, n_reviews: int, n_products: int) -> tuple[pd.DataFrame, set[str]]:
    """Amazon-Reviews-2023-shaped reviews with Zipf product popularity and
    dirty text. Returns the frame and the set of products that keep at
    least one review through the token filter."""
    rng = rng_for(seed, "reviews")
    pop = np.minimum(rng.zipf(1.3, size=n_reviews), n_products) - 1
    product = asins(n_products)[pop]
    short = rng.random(n_reviews) < SHORT_SHARE
    lens = np.where(
        short,
        rng.integers(1, SHORT_WORDS + 1, size=n_reviews),
        rng.integers(LONG_WORDS[0], LONG_WORDS[1] + 1, size=n_reviews),
    )
    body = np.array(_phrases(rng, lens), dtype=object)
    noise = rng.integers(0, 5, size=n_reviews)
    for kind, pool in enumerate((ENTITIES, URLS, TAGS, MENTIONS)):
        pick = pool[rng.integers(0, len(pool), size=n_reviews)]
        hit = noise == kind
        body[hit] = body[hit] + " " + pick[hit].astype(object) + " ok"
    # a short review stays short: its title is empty, so title+text
    # still has at most SHORT_WORDS + 1 plain tokens after cleaning
    title = np.where(short, "", np.array(_phrases(rng, rng.integers(1, 4, size=n_reviews))))
    df = pd.DataFrame(
        {
            "parent_asin": product,
            "title": title,
            "text": body,
            "rating": rng.integers(1, 6, size=n_reviews).astype(float),
            "user_id": np.char.add("U", rng.integers(0, 50_000, size=n_reviews).astype(str)),
            "timestamp": 1_600_000_000_000 + rng.integers(0, 10**11, size=n_reviews),
            "helpful_vote": rng.integers(0, 20, size=n_reviews),
            "verified_purchase": rng.random(n_reviews) < 0.8,
        }
    )
    return df, set(product[~short].tolist())


def write_jsonl_gz(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Split into ``n_files`` gzip JSONL parts (gzip is not splittable, so
    the file count sets read parallelism)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        text = df.iloc[part].to_json(orient="records", lines=True)
        with gzip.open(os.path.join(out_dir, f"part-{i:03d}.jsonl.gz"), "wt", compresslevel=1) as fh:
            fh.write(text)


def _unit_rows(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    x = rng.standard_normal((n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _list_column(mat: np.ndarray, typ: pa.DataType) -> pa.Array:
    n, dim = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel(), type=typ))


def catalog(seed: int, out_dir: str, n_products: int, dim: int, chunks_per_product: int) -> None:
    """Products, product embeddings and Q&A chunks as parquet tables.

    Products keep the reference's missing-metadata branches: price,
    rating and review_count are each missing on their own share of
    rows, and the summary on some more.
    """
    rng = rng_for(seed, "catalog")
    ids = asins(n_products)

    def maybe(values: np.ndarray, none_share: float) -> list:
        miss = rng.random(len(values)) < none_share
        return [None if m else v for m, v in zip(miss, values.tolist())]

    products = pa.table(
        {
            "parent_asin": ids,
            "title": _phrases(rng, rng.integers(2, 6, size=n_products)),
            "summary": maybe(np.array(_phrases(rng, rng.integers(4, 12, size=n_products))), 0.2),
            "price": pa.array(maybe(np.round(rng.lognormal(3.5, 0.9, n_products), 2), 0.25), pa.float64()),
            "rating": pa.array(maybe(np.round(rng.uniform(1, 5, n_products), 1), 0.1), pa.float64()),
            "review_count": pa.array(maybe(rng.zipf(1.6, n_products), 0.1), pa.int64()),
        }
    )
    embeddings = pa.table(
        {"parent_asin": ids, "embed": _list_column(_unit_rows(rng, n_products, dim), pa.float32())}
    )
    n_chunks = n_products * chunks_per_product
    chunks = pa.table(
        {
            "parent_asin": np.repeat(ids, chunks_per_product),
            "text": _phrases(rng, rng.integers(6, 16, size=n_chunks)),
            "embedding": _list_column(_unit_rows(rng, n_chunks, 16), pa.float64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in (("products", products), ("embeddings", embeddings), ("chunks", chunks)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def requests(seed: int, n: int, dim: int) -> list[tuple[str, list[float], str]]:
    """``n`` search requests: query text (words plus one budget family or
    none), the query vector, and the follow-up question."""
    rng = rng_for(seed, "requests")
    words = _phrases(rng, rng.integers(2, 5, size=n))
    fam = rng.integers(0, len(BUDGET_FAMILIES), size=n)
    lo = rng.integers(10, 200, size=n)
    hi = lo + rng.integers(10, 300, size=n)
    vecs = _unit_rows(rng, n, dim)
    qs = QUESTIONS[rng.integers(0, len(QUESTIONS), size=n)]
    out = []
    for i in range(n):
        budget = BUDGET_FAMILIES[fam[i]].format(lo=lo[i], hi=hi[i])
        query = f"{words[i]} {budget}".strip()
        out.append((query, [round(float(v), 6) for v in vecs[i]], str(qs[i])))
    return out
