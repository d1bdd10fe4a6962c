"""Guards on the driver-facing registry ordering (plans/__init__.py).

The harness checks only the FIRST 50 oracle entries per round, so window
management is correctness-critical: a typo in ``_TIER1_FIXED`` silently
drops a slot (the ordering helper skips unknown names), a query that
loses its oracle entry silently downgrades the check, and a proof table
that no longer finds the committed ``CORRECTNESS_rNN.json`` files marks
every query unproven. These tests fail loudly instead.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: sha256 of the r01..r13 proof table (sorted items as JSON) and of its
#: 50-name window: the hand-kept table and window this computation replaced.
R13_TABLE_SHA256 = "a3f464d85ad1c724fa33bf73723f2fcf545e91a1f63f9863d2e27a2b3b7071c1"
R13_WINDOW_SHA256 = "277439bbd7ca3afa9d9f2a819bb4686e8bcb1e3e54c951a57d57f61997a29f2d"
#: The tier-1 list that window was computed with.
R13_TIER1 = [
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
]


def test_tier1_names_all_registered():
    from review_engine_spark.plans import ORACLES, QUERIES, _TIER1_FIXED

    missing = [n for n in _TIER1_FIXED if n not in QUERIES]
    assert not missing, f"_TIER1_FIXED names not in QUERIES: {missing}"
    no_oracle = [n for n in _TIER1_FIXED if n not in ORACLES]
    assert not no_oracle, f"_TIER1_FIXED names without oracles: {no_oracle}"


def test_last_green_names_all_registered():
    from review_engine_spark.plans import QUERIES, _LAST_GREEN

    missing = [n for n in _LAST_GREEN if n not in QUERIES]
    assert not missing, f"_LAST_GREEN names not in QUERIES: {missing}"


def test_first_50_oracle_slots_prioritize_unproven():
    """Every not-yet-driver-green oracle query must sit inside the
    50-slot window (while unproven queries still fit, none may be
    displaced by proven-green re-checks)."""
    from review_engine_spark.plans import ORACLES, _LAST_GREEN

    names = list(ORACLES)
    window = set(names[:50])
    unproven = [n for n in names if n not in _LAST_GREEN]
    if len(unproven) <= 50:
        out = [n for n in unproven if n not in window]
        assert not out, f"unproven oracle queries outside the 50-slot window: {out}"


def test_last_green_over_r01_r13_reproduces_pinned_table_and_window():
    from review_engine_spark.plans import _driver_order, last_green

    table = last_green(REPO / f"CORRECTNESS_r{i:02d}.json" for i in range(1, 14))
    assert len(table) == 267
    window = "\n".join(_driver_order(table, R13_TIER1)[:50])
    assert hashlib.sha256(json.dumps(sorted(table.items())).encode()).hexdigest() == R13_TABLE_SHA256
    assert hashlib.sha256(window.encode()).hexdigest() == R13_WINDOW_SHA256


def test_module_table_covers_every_round_file():
    from review_engine_spark.plans import ORACLES, _LAST_GREEN, _driver_order, last_green

    files = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert files, f"no CORRECTNESS_r*.json at {REPO}"
    assert _LAST_GREEN, "proof table is empty: every query would count as unproven"
    assert _LAST_GREEN == last_green(files)
    newest = max(int(p.stem.rsplit("_r", 1)[1]) for p in files)
    assert max(_LAST_GREEN.values()) == newest
    # the live registry is ordered by this table
    assert list(ORACLES)[:50] == _driver_order()[:50]


def test_last_green_requires_all_three_matches(tmp_path):
    from review_engine_spark.plans import last_green

    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": ok, "q_b": ok, "q_c": {**ok, "hash_match": None}})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"q_a": {**ok, "schema_match": False}, "q_b": ok})
    )
    assert last_green(sorted(tmp_path.glob("*.json"))) == {"q_a": 2, "q_b": 5}
