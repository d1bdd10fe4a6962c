"""Declared-query roster (SURVEY §2.L) — the correctness contract.

Each module registers queries into ``QUERIES`` (name → callable
``(spark, sf_dir) -> DataFrame``) and, where SQL-expressible, a matching
DuckDB oracle into ``ORACLES``. Registration order follows SURVEY §2's
operator inventory. Importing this package loads the full roster.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def declared(oracle: str | None = None):
    """Register a roster query; ``oracle=None`` marks a rows-only check."""

    def deco(fn):
        QUERIES[fn.__name__] = fn
        if oracle is not None:
            ORACLES[fn.__name__] = oracle
        return fn

    return deco


# Import for side effects: each module registers its queries.
from review_engine_spark.plans import roster_text  # noqa: E402,F401
from review_engine_spark.plans import roster_rel  # noqa: E402,F401
from review_engine_spark.plans import roster_vector  # noqa: E402,F401
from review_engine_spark.plans import roster_rank  # noqa: E402,F401
from review_engine_spark.plans import roster_ext  # noqa: E402,F401
from review_engine_spark.plans import roster_recsys  # noqa: E402,F401
from review_engine_spark.plans import roster_curation  # noqa: E402,F401
from review_engine_spark.plans import roster_tpch  # noqa: E402,F401
from review_engine_spark.plans import roster_retrieval  # noqa: E402,F401
from review_engine_spark.plans import roster_analytics  # noqa: E402,F401
from review_engine_spark.plans import roster_warehouse  # noqa: E402,F401
from review_engine_spark.plans import roster_mining  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-facing ordering. The harness checks only the FIRST 50 oracle
# entries in registration order, so the dicts are re-ordered to put the
# highest-verification-value queries first:
#   tier 1 — ``_TIER1_FIXED``: oracle queries whose plan changed since the
#            driver last proved them;
#   tier 2 — oracle queries the driver has never proved green;
#   tier 3 — driver-green queries by ASCENDING last-proven round, so the
#            spare slots re-prove the stalest greens first;
#   tier 4 — rows-only queries (no oracle; bench covers execution).
# ---------------------------------------------------------------------------

#: Tier 1 is the only hand-kept list: any rewrite of an oracle-checked
#: query adds it here in the same commit.
_TIER1_FIXED: list[str] = [
    "q_benford",
    "q_containment_dedup",
    "q_countmin",
    "q_dsir_weights",
    "q_dsir_sample",
    "q_perplexity_gate",
    "q_kcore",
    "q_bfs_levels",
    "q_degree_hist",
    "q_assortativity",
    "q_heaps_fit",
    "q_hll_md5",
    "q_ndcg_eval",
    "q_recsys_eval",
    "q_mmr",
    "q_cooccur_topk",
    "q_kmeans",
    "q_sessionize_state",
    "q_stream_ewma",
    "q_stream_anomaly",
    "q_stream_near_dup",
    "q_stream_upsert",
]

_REPO = Path(__file__).resolve().parents[2]


def last_green(paths: Iterable[Path]) -> dict[str, int]:
    """name -> highest round whose ``CORRECTNESS_rNN.json`` shows the query
    with ``rows_match``, ``schema_match`` and ``hash_match`` all true."""
    table: dict[str, int] = {}
    for path in paths:
        rnd = int(Path(path).stem.rsplit("_r", 1)[1])
        for name, res in json.loads(Path(path).read_text()).items():
            if res.get("rows_match") and res.get("schema_match") and res.get("hash_match"):
                table[name] = max(table.get(name, 0), rnd)
    return table


_LAST_GREEN: dict[str, int] = last_green(sorted(_REPO.glob("CORRECTNESS_r*.json")))

#: Registration order, kept so the window is a function of the proof
#: table alone (``_reorder`` rewrites ``QUERIES`` in place).
_REGISTERED: list[str] = list(QUERIES)


def _driver_order(
    proofs: dict[str, int] = _LAST_GREEN, tier1: list[str] = _TIER1_FIXED
) -> list[str]:
    seen: set[str] = set()
    ordered: list[str] = []

    def take(names):
        for n in names:
            if n in QUERIES and n not in seen:
                seen.add(n)
                ordered.append(n)

    oracle = [n for n in _REGISTERED if n in ORACLES]
    take(tier1)
    take(n for n in oracle if n not in proofs)
    # tier 3: oldest proof first (registration order breaks ties via the
    # stable sort).
    take(sorted(oracle, key=lambda n: proofs.get(n, 0)))
    take(_REGISTERED)
    return ordered


def _reorder() -> None:
    order = _driver_order()
    q = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(q)
    o = {n: ORACLES[n] for n in order if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_reorder()

__all__ = ["QUERIES", "ORACLES", "declared"]
