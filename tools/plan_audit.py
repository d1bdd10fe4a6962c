"""Physical-plan audit: assert scale invariants on headline queries.

For each audited query the formatted plan is checked for the properties
that matter at 100 TB (SURVEY §4): filter/column pushdown into the
parquet scan, broadcast joins for dimension tables, whole-stage codegen
on the relational path, and absence of cartesian products where an
equi-join is intended. Plans are also written to ``PLANS.md`` (local,
git-ignored output) so a reviewer can read what a cluster would run.

Usage: python tools/plan_audit.py [sf_dir]   (exit 1 on any violation)
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# query → list of (must_match, regex, why)
RULES: dict[str, list[tuple[bool, str, str]]] = {
    "q_scan_docs": [
        (True, r"PushedFilters: \[.*IsNotNull|PushedFilters: \[[^\]]", "filter reaches the parquet scan"),
        (True, r"codegen id :", "scan path is codegen'd"),
    ],
    "q_join_meta": [
        (True, r"BroadcastHashJoin", "dimension join broadcasts"),
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_star_join": [
        (True, r"BroadcastHashJoin", "star dims broadcast"),
        (False, r"SortMergeJoin", "no shuffle join for small dims"),
    ],
    "q_cosine_topk": [
        (True, r"TakeOrderedAndProject", "top-k avoids full sort"),
    ],
    "q_topk_window": [
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_group_count": [
        (True, r"partial_count|HashAggregate", "map-side partial aggregation"),
    ],
    "q_skew_profile": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "1-row total is broadcast back"),
    ],
    "q_cooccur_topk": [
        (False, r"SortMergeJoin|CartesianProduct", "pairs come from explode, not a self-join"),
    ],
    "q_implicit_ratings": [
        (True, r"HashAggregate|SortAggregate", "aggregate after the key join"),
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_chunk_docs": [
        (False, r"Exchange", "chunking is narrow — no shuffle at all"),
    ],
    "q_fuzzy_pairs": [
        (False, r"CartesianProduct", "blocking keys make it an equi-join"),
    ],
    "q_funnel": [
        (False, r"CartesianProduct", "step joins are keyed on user_id"),
        (True, r"PushedFilters: \[[^\]]*event_type", "step predicate reaches the scan"),
    ],
    "q_data_profile": [
        (True, r"Scan parquet", "profiler scans the table"),
        (False, r"Union", "one aggregation pass, not per-column jobs"),
    ],
    "q_full_outer": [
        (False, r"CartesianProduct", "full outer stays an equi-join"),
    ],
    "q_map_explode": [
        (True, r"Generate explode|Generate", "map explode is a narrow generate"),
    ],
    "q_contamination": [
        (True, r"BroadcastHashJoin", "probe set broadcasts; corpus never shuffles"),
        (False, r"CartesianProduct", "overlap is a hash equi-join"),
    ],
    "q_rate_sample": [
        (False, r"Exchange", "rate sampling is a narrow filter — zero shuffle"),
    ],
    "q_sequence_pack": [
        (False, r"Exchange SinglePartition", "packing windows are sharded, never one reducer"),
    ],
    "q_pii_scrub": [
        (False, r"Exchange|BatchEvalPython|ArrowEvalPython", "redaction is a narrow JVM-side map"),
    ],
    "q_repetition_stats": [
        (True, r"partial_count|HashAggregate", "repeats collapse map-side before the shuffle"),
    ],
    "q_minhash_dedup": [
        (False, r"Window", "shingles are narrow — no per-doc window sort"),
        (False, r"CartesianProduct", "candidates come from banded buckets"),
    ],
    "q_embed_batch_udf": [
        (True, r"ArrowEvalPython", "predict_batch_udf runs Arrow-batched"),
        (False, r"BatchEvalPython", "never row-at-a-time Python"),
    ],
    "q_domain_cap": [
        (True, r"Window", "two-stage capped ranking (both windows bounded)"),
    ],
    "q_top_tokens": [
        (True, r"partial_count|HashAggregate", "token counts collapse map-side"),
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_span_dedup": [
        (False, r"CartesianProduct", "winner election is a keyed window"),
        (False, r"BatchEvalPython|ArrowEvalPython", "pure Catalyst — no Python"),
    ],
    "q_boilerplate": [
        (True, r"HashAggregate", "span doc-frequency aggregates map-side"),
        (False, r"CartesianProduct", "span join is a hash equi-join"),
    ],
    "q_semantic_dedup": [
        (True, r"ShuffledHashJoin",
         "within-cluster pairs come from a keyed shuffle-hash join"),
        (False, r"CartesianProduct", "never an all-pairs cartesian"),
        (False, r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas",
         "gate-regime pair stage is pure Catalyst (numpy Gram engages "
         "only past the oracle-checked cluster size)"),
    ],
    "q_kmeans": [
        (False, r"Exchange", "assignment is a narrow literal-centroid argmin — zero shuffles"),
        (False, r"CartesianProduct", "no unbroadcast cartesian"),
    ],
    "q_dedup_clusters": [
        (True, r"FlatMapGroupsInPandas", "per-block union-find, no iterative rounds"),
        (False, r"CartesianProduct", "blocked edges are an equi-join"),
    ],
    "q_bucketed_join": [
        (True, r"SortMergeJoin", "co-located join is a sort-merge over buckets"),
        (False, r"hashpartitioning\((o_custkey|c_custkey)",
         "no shuffle on the join key — buckets are read pre-partitioned"),
    ],
    "q_mixture_weights": [
        (True, r"BroadcastExchange|BroadcastNestedLoopJoin",
         "1-row normalizing total is broadcast back"),
        (False, r"SortMergeJoin", "no shuffle join anywhere in the plan"),
    ],
    "q_negative_sample": [
        (True, r"LeftAnti", "true positives removed by anti-join, not a collect"),
        (False, r"CartesianProduct", "candidate generation is a narrow explode"),
    ],
    "q_hard_negatives": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange",
         "3-row anchor side broadcasts; corpus never shuffles for the scan"),
    ],
    "q_partitioned_prune": [
        (True, r"PartitionFilters: \[[^\]]*lang",
         "partition-column filter prunes directories at planning time"),
        (False, r"PushedFilters: \[[^\]]*lang",
         "lang never reaches row-level filtering — it is pruned, not scanned"),
    ],
    "q_url_normalize": [
        (False, r"Exchange", "canonicalization is a narrow regexp map — zero shuffle"),
        (False, r"BatchEvalPython|ArrowEvalPython", "pure Catalyst — no Python"),
    ],
    "q_url_dedup": [
        (True, r"partial_min|HashAggregate", "survivor election collapses map-side"),
        (False, r"Window", "exact dedup is a hash groupBy, never a window"),
    ],
    "q_host_cap": [
        (False, r"CartesianProduct", "capping is keyed windows, no pair join"),
    ],
    "q_unigram_encode": [
        (False, r"CartesianProduct", "length join is keyed on the word"),
        (False, r"BatchEvalPython|ArrowEvalPython",
         "Viterbi fold runs JVM-side (F.aggregate), never Python"),
    ],
    "q_mix_upsample": [
        (True, r"explode\(sequence", "epoch replication is a narrow explode"),
        (False, r"hashpartitioning\(doc_id",
         "ordering shuffles on shard only — never on the raw id"),
    ],
    "q_tpch_q1": [
        (True, r"PushedFilters: \[[^\]]*l_shipdate", "date filter reaches the scan"),
        (True, r"partial_", "map-side partial aggregation"),
    ],
    "q_tpch_q3": [
        (False, r"CartesianProduct", "3-way join stays equi-keyed"),
        (True, r"TakeOrderedAndProject", "top-10 never globally sorts"),
    ],
    "q_tpch_q4": [
        (True, r"LeftSemi", "EXISTS decorrelates to a semi-join"),
        (False, r"CartesianProduct", "inequality rides the orderkey equi-join"),
    ],
    "q_tpch_q5": [
        (True, r"BroadcastHashJoin", "nation⋈region dims broadcast"),
        (False, r"CartesianProduct", "6-way star stays equi-keyed"),
    ],
    "q_tpch_q6": [
        (True, r"PushedFilters: \[[^\]]*l_shipdate", "all predicates reach the scan"),
        (False, r"Exchange hashpartitioning", "scalar agg needs no keyed shuffle"),
    ],
    "q_tpch_q7": [
        (True, r"BroadcastHashJoin", "nation maps broadcast before the spine"),
        (False, r"CartesianProduct", "nation-pair filter is a residual, not a product"),
    ],
    "q_tpch_q10": [
        (True, r"PushedFilters: \[[^\]]*l_returnflag", "returnflag prunes lineitem at the scan"),
        (True, r"TakeOrderedAndProject", "top-20 never globally sorts"),
    ],
    "q_tpch_q13": [
        (False, r"CartesianProduct", "outer join stays equi-keyed"),
        (True, r"partial_count", "order counts collapse map-side"),
    ],
    "q_tpch_q8": [
        (True, r"BroadcastHashJoin", "nation/region dims broadcast"),
        (False, r"CartesianProduct", "8-way star stays equi-keyed"),
        (True, r"PushedFilters: \[[^\]]*p_type", "p_type filter reaches the part scan"),
    ],
    "q_tpch_q9": [
        (True, r"PushedFilters: \[[^\]]*p_name", "p_name LIKE pushes to the part scan"),
        (False, r"CartesianProduct", "5-way join stays equi-keyed"),
    ],
    "q_tpch_q12": [
        (True, r"PushedFilters: \[[^\]]*l_shipdate", "date window reaches the lineitem scan"),
        (True, r"partial_count", "conditional counts collapse map-side"),
    ],
    "q_tpch_q21": [
        (True, r"LeftSemi", "EXISTS(other supplier) is a semi-join"),
        (True, r"LeftAnti", "NOT EXISTS(other late) is an anti-join"),
        (False, r"CartesianProduct", "supplier inequality rides the orderkey equi-join"),
        (True, r"TakeOrderedAndProject", "top-20 never globally sorts"),
    ],
    "q_tpch_q22": [
        (True, r"LeftAnti", "no-recent-order is an anti-join, not a subquery loop"),
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "1-row avg broadcasts back"),
        (True, r"PushedFilters: \[[^\]]*o_orderdate", "date filter prunes the orders scan"),
    ],
    "q_tpch_q15": [
        (False, r"Window", "global max is a 1-row agg cross-join, not an empty-frame window"),
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "1-row max broadcasts back"),
    ],
    "q_bm25": [
        (True, r"TakeOrderedAndProject", "top-20 never globally sorts"),
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "df/stats aggregates broadcast back"),
        (False, r"CartesianProduct", "scoring joins stay equi-keyed"),
    ],
    "q_inverted_index": [
        (True, r"partial_|HashAggregate", "per-(term,doc) distinct collapses map-side"),
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_minhash_jaccard": [
        (False, r"SortMergeJoin", "capped 32-row pair join broadcasts, never shuffles"),
    ],
    "q_tpch_q17": [
        (False, r"CartesianProduct", "per-part avg joins back on partkey"),
        (False, r"Window", "decorrelated via aggregate-join, not a window over lineitem"),
    ],
    "q_tpch_q18": [
        (True, r"TakeOrderedAndProject", "top-100 never globally sorts"),
        (False, r"CartesianProduct", "joins stay equi-keyed"),
    ],
    "q_tpch_q2": [
        (True, r"BroadcastHashJoin", "nation/region dims broadcast"),
        (True, r"TakeOrderedAndProject", "top-100 never globally sorts"),
        (False, r"CartesianProduct", "min-cost match joins back on (partkey, cost)"),
    ],
    "q_tpch_q11": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "1-row threshold broadcasts back"),
        (False, r"CartesianProduct", "scalar threshold is a broadcast, not a product"),
        (False, r"Window", "per-part sums are hash aggregates, not windows"),
    ],
    "q_tpch_q16": [
        (True, r"LeftAnti", "NOT IN(excluded suppliers) is a broadcast anti-join"),
        (True, r"partial_", "distinct-supplier count partial-aggregates map-side"),
    ],
    "q_tpch_q20": [
        (True, r"LeftSemi", "IN-subqueries decorrelate to semi-joins"),
        (False, r"CartesianProduct", "excess-stock predicate rides the (part,supp) equi-join"),
    ],
    "q_ewma": [
        (False, r"CartesianProduct", "per-user fold needs only the user_id exchange"),
        (False, r"Window", "fold is an array aggregate, not a window scan"),
    ],
    "q_cusum": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "1-row CUSUM target broadcasts back"),
        (False, r"CartesianProduct", "target join is a broadcast, not a product"),
    ],
    "q_anomaly_zscore": [
        (False, r"CartesianProduct", "window stats need only the user_id exchange"),
        (False, r"Exchange SinglePartition", "no global single-partition stage"),
    ],
    "q_markov_transitions": [
        (True, r"BroadcastHashJoin", "from-state totals broadcast (5 keys)"),
        (False, r"CartesianProduct", "normalization joins on from_type"),
    ],
    "q_abtest_ttest": [
        (True, r"partial_", "group moments partial-aggregate map-side"),
        (False, r"CartesianProduct", "no cartesian product"),
    ],
    "q_wilson_ci": [
        (True, r"partial_", "counts partial-aggregate map-side"),
        (False, r"Exchange SinglePartition", "no global single-partition stage"),
    ],
    "q_psi_drift": [
        (True, r"partial_", "bucket counts partial-aggregate map-side"),
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "bucket totals broadcast back"),
    ],
    "q_chi2_independence": [
        (True, r"BroadcastHashJoin", "marginals broadcast (bounded domains)"),
        (False, r"CartesianProduct", "expected counts join on their keys"),
    ],
    "q_skipgram_pairs": [
        (False, r"SortMergeJoin|CartesianProduct", "contexts come from lead/lag windows, not a position self-join"),
        (True, r"partial_count", "pair counts collapse map-side"),
    ],
    "q_bloom_membership": [
        (True, r"BroadcastHashJoin", "the ≤64·|sources|-row filter broadcasts"),
        (False, r"SortMergeJoin", "probe never shuffles the corpus"),
    ],
    "q_gap_islands": [
        (True, r"partial_count", "island lengths partial-aggregate map-side"),
        (False, r"CartesianProduct", "islands come from one user window"),
        (False, r"Exchange SinglePartition", "no global single-partition stage"),
    ],
    "q_concurrency": [
        (False, r"CartesianProduct", "sweep is a per-(type,day) window"),
        (False, r"Exchange SinglePartition", "day-clipping keeps the window partitioned"),
    ],
    "q_scd2_build": [
        (False, r"CartesianProduct", "change detection is one user window"),
        (False, r"Exchange SinglePartition", "no global single-partition stage"),
    ],
    "q_attribution": [
        (False, r"CartesianProduct", "touch window rides the user_id equi-join"),
        (False, r"BroadcastNestedLoopJoin", "range predicate filters the equi-join, not a BNLJ"),
    ],
    "q_rolling_active": [
        (True, r"BroadcastExchange", "calendar dimension broadcasts for the semi-join"),
        (False, r"SortMergeJoin", "contribution facts never shuffle for the trim"),
    ],
    "q_mann_whitney": [
        (True, r"partial_", "per-value counts partial-aggregate map-side"),
        (False, r"CartesianProduct", "rank mass needs no join at all"),
    ],
    "q_ols_regression": [
        (True, r"partial_", "normal-equation sums partial-aggregate map-side"),
        (False, r"Exchange hashpartitioning", "one global agg — no keyed shuffle"),
    ],
    "q_tpch_q19": [
        (True, r"PushedFilters: \[[^\]]*p_brand|PushedFilters: \[[^\]]*Or",
         "disjunctive brand/size predicate pushes into the part scan"),
        (False, r"CartesianProduct", "partkey equi-conjunct stays the join key"),
    ],
    "q_rfm": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange",
         "quartile cutoffs are a 1-row broadcast, not a global window"),
        (False, r"Exchange SinglePartition", "no global single-partition stage"),
    ],
    "q_abc_class": [
        (False, r"Exchange SinglePartition",
         "Pareto running sum stays partitioned per brand"),
        (False, r"CartesianProduct", "revenue rollup is an equi-join"),
    ],
    "q_assoc_rules": [
        (False, r"CartesianProduct", "pairs come from basket explode"),
        (True, r"Generate\b[\s\S]{0,200}?explode\(", "pair generation is an explode, not a self-join"),
    ],
    "q_geo_knn": [
        (False, r"CartesianProduct|BroadcastNestedLoopJoin",
         "3x3 neighborhood probing is an equi-join on cell id"),
        (False, r"Exchange SinglePartition", "top-3 windows partition by src"),
    ],
    "q_bom_rollup": [
        (False, r"Join", "ancestor-chain explode needs no join at all"),
        (True, r"Generate\b[\s\S]{0,200}?explode\(", "hierarchy denormalizes via explode"),
        (True, r"partial_", "subtree sums partial-aggregate map-side"),
    ],
    "q_holt_linear": [
        (False, r"Exchange SinglePartition", "fold shuffles once on user_id"),
        (False, r"Join", "recurrence is one grouped fold, no join"),
    ],
    "q_inventory_balance": [
        (False, r"Exchange SinglePartition", "fold shuffles once on partkey"),
        (False, r"Join", "running balance is one grouped fold, no join"),
    ],
    "q_seasonal_naive": [
        (False, r"CartesianProduct", "lag-7 forecast is an equi-join on (type, day)"),
        (True, r"partial_", "daily cent sums partial-aggregate map-side"),
    ],
    # round-10 additions
    "q_dsir_weights": [
        (False, r"SortMergeJoin", "4096-bucket feature stats keep every join broadcast"),
        (True, r"BroadcastHashJoin", "bucket-stat joins broadcast"),
    ],
    "q_perplexity_gate": [
        (True, r"BroadcastNestedLoopJoin|BroadcastExchange", "percentile cutoff is a 1-row broadcast (D7)"),
        (False, r"CartesianProduct", "no unbounded cartesian"),
    ],
    "q_ndcg_eval": [
        (False, r"CartesianProduct", "rank join is keyed on (user, item)"),
        (True, r"ReusedExchange", "the _loo_user_recs split/train subtree is planned once and reused"),
    ],
    "q_adamic_adar": [
        (False, r"SortMergeJoin|CartesianProduct", "pairs come from packed-array explode, not a self-join"),
        (True, r"partial_", "pair scores partial-aggregate map-side"),
    ],
    "q_ngram_novelty": [
        (False, r"CartesianProduct", "first-doc election is a keyed window, no pair join"),
        (True, r"Window", "min-doc election is a hash-partitioned window"),
    ],
    "q_readability": [
        (False, r"Exchange", "readability is a narrow map — no shuffle at all"),
    ],
    "q_kcore": [
        (False, r"CartesianProduct|BroadcastNestedLoopJoin", "peels are keyed semi-joins"),
        (True, r"LocalTableScan|Scan ExistingRDD|InMemory", "result is checkpoint-materialized (edge cache dropped safely)"),
    ],
    "q_mutual_info": [
        (True, r"BroadcastHashJoin|BroadcastNestedLoopJoin", "marginals are domain-bounded broadcasts"),
        (False, r"SortMergeJoin", "no corpus-keyed join anywhere"),
    ],
    "q_pca_power": [
        (False, r"Exchange hashpartitioning\(vec_id", "no corpus join — v is a driver-coordinated literal"),
    ],
    "q_pca_project": [
        (False, r"Exchange", "projection is a narrow map against the literal component"),
    ],
}


def final_plan_only(plan: str) -> str:
    """Reduce a formatted AQE explain to the FINAL plan(s): drop every
    `== Initial Plan ==` tree — the main plan's AND each subquery's
    (a `===== Subqueries =====` section repeats the adaptive structure
    per subquery) — then drop detail blocks whose node ids appear only
    in initial trees. Rules then match what actually executed, not the
    pre-adaptive guess (the initial plan of every join is SortMergeJoin
    under the static-broadcast-off doctrine)."""
    if "== Initial Plan ==" not in plan:
        return plan
    lines = plan.split("\n")
    kept: list[str] = []
    i = 0
    while i < len(lines):
        if "== Initial Plan ==" in lines[i]:
            # skip the marker and its contiguous (non-blank) tree lines
            i += 1
            while i < len(lines) and lines[i].strip():
                i += 1
            continue
        kept.append(lines[i])
        i += 1
    text = "\n".join(kept)
    # Tree lines END with their node id (`+- HashAggregate (5)`); detail
    # headers START with it (`(5) HashAggregate [codegen id : 1]`), so
    # anchoring at end-of-line collects exactly the surviving tree ids
    # across the main final tree and every subquery final tree.
    final_ids = set(re.findall(r"\((\d+)\)\s*$", text, flags=re.M))
    out: list[str] = []
    for block in text.split("\n\n"):
        m = re.match(r"\((\d+)\)", block.strip())
        if m is None or m.group(1) in final_ids:
            out.append(block)
    return "\n\n".join(out)


#: Physical nodes that bound the row count reaching a parent Window:
#: any aggregate (cardinality = group domain) or any limit/top-k.
_BOUNDING = re.compile(
    r"\b(HashAggregate|SortAggregate|ObjectHashAggregate|"
    r"TakeOrderedAndProject|GlobalLimit|CollectLimit|LocalLimit)\b"
)
#: Leaves that carry corpus-scaled rows into a plan.
_SCAN = re.compile(r"\bScan (parquet|orc|csv|json|text|ExistingRDD)\b|\bBatchScan\b")


def _tree_indent(ln: str) -> int:
    """Depth of a toString/formatted tree line from its structural prefix
    (leading run of space/colon/plus/minus ending in a branch marker);
    -1 when the line is a root node or not a tree branch."""
    m = re.match(r"[ :+\-*]*", ln)
    prefix = m.group(0)
    return len(prefix) if prefix.rstrip(" *").endswith(("+-", ":-")) else -1


def global_window_violations(plan: str) -> list[str]:
    """Structural single-partition-window audit of a formatted plan.

    Finds every Window node whose partition spec is EMPTY (its detail
    block's `Arguments:` carries two top-level bracket groups — window
    exprs + order spec — where a partitioned window carries three) and
    walks its tree subtree: a corpus leaf (parquet/orc/... scan) that
    reaches the Window without an aggregate or limit in between means
    the whole input moves to one partition — flagged. Source comments
    cannot silence this; only the plan shape can."""

    def bracket_groups(s: str) -> int:
        depth = 0
        groups = 0
        for ch in s:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        return groups

    # node id → is-global-window, from the detail blocks
    global_ids: set[str] = set()
    for block in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) Window\b", block.strip())
        if not m:
            continue
        for ln in block.splitlines():
            if ln.startswith("Arguments: "):
                if bracket_groups(ln[len("Arguments: "):]) < 3:
                    global_ids.add(m.group(1))
    if not global_ids:
        return []

    bad: list[str] = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"\bWindow \((\d+)\)\s*$", ln)
        if not m or m.group(1) not in global_ids:
            continue
        base = _tree_indent(ln)
        bound_stack: list[int] = []
        for sub in lines[i + 1:]:
            if not re.search(r"\((\d+)\)", sub) or "Arguments" in sub:
                break  # left the tree section
            ind = _tree_indent(sub)
            if ind >= 0 and ind <= base:
                break  # subtree ended
            if ind >= 0:
                while bound_stack and ind <= bound_stack[-1]:
                    bound_stack.pop()
                if _BOUNDING.search(sub):
                    bound_stack.append(ind)
            if _SCAN.search(sub) and not bound_stack:
                bad.append(
                    f"global Window ({m.group(1)}) is fed by an unreduced "
                    f"corpus scan — single-partition window over corpus rows"
                )
                break
    return bad


#: BNL doctrine thresholds (VERDICT r11 item 8). A build side of ≤4
#: rows is a filter / constant-factor map (the D7 1-row broadcast, the
#: 2-row query-vector compare) — safe against any stream. A larger
#: build (up to the 32-row checkpoint table) is only safe against a
#: BOUNDED stream: multi-row build × corpus-scaled stream is the r11
#: q_heaps_fit shape that multiplied the token stream ×16.
_BNL_BUILD_MAX = 32
_BNL_FREE_FACTOR = 4
_BNL_STREAM_MAX = 4096


def bnl_violations_runtime(df) -> tuple[list[str], int]:
    """Runtime BroadcastNestedLoopJoin audit: walk the EXECUTED adaptive
    plan via py4j and read each BNL's actual build/stream row counts
    from node metrics (the audited queries are executed at sf0.01, so
    the metrics are real). Returns (violations, n_bnl_nodes). Allowed
    shapes: build ≤ _BNL_FREE_FACTOR rows against anything, or
    build ≤ _BNL_BUILD_MAX against a stream ≤ _BNL_STREAM_MAX. A
    static source comment cannot waive this — only the executed row
    counts can."""
    out: list[str] = []

    def cls(n) -> str:
        return n.getClass().getSimpleName()

    def unwrap(n):
        # descend through AQE / query-stage / reuse wrappers
        for _ in range(64):
            c = cls(n)
            if c == "AdaptiveSparkPlanExec":
                n = n.executedPlan()
            elif c.endswith("QueryStageExec"):
                n = n.plan()
            elif c == "ReusedExchangeExec":
                n = n.child()
            else:
                return n
        return n

    def children(n) -> list:
        ch = n.children()
        return [unwrap(ch.apply(i)) for i in range(ch.size())]

    def rows_out(n):
        # nearest descendant (preorder) exposing numOutputRows; row
        # counts survive the metric-less 1:1 wrappers (Project, WSC,
        # InputAdapter) between it and the join input
        stack = [unwrap(n)]
        while stack:
            cur = stack.pop(0)
            try:
                m = cur.metrics()
                if m.contains("numOutputRows"):
                    return int(m.apply("numOutputRows").value())
            except Exception:  # noqa: BLE001 — metric-less node
                pass
            stack = children(cur) + stack
        return None

    try:
        root = unwrap(df._jdf.queryExecution().executedPlan())
    except Exception as e:  # noqa: BLE001
        return [f"BNL audit could not read the executed plan: {e}"], 0
    n_bnl = 0
    stack = [root]
    while stack:
        n = stack.pop()
        if cls(n) == "BroadcastNestedLoopJoinExec":
            n_bnl += 1
            ch = children(n)
            if len(ch) == 2:
                build_right = "BuildRight" in n.buildSide().toString()
                build, stream = (
                    (ch[1], ch[0]) if build_right else (ch[0], ch[1])
                )
                b, s = rows_out(build), rows_out(stream)
                if b is None or s is None:
                    out.append(
                        "BNL audit: numOutputRows metric missing on a "
                        "BroadcastNestedLoopJoin input"
                    )
                elif b > _BNL_BUILD_MAX:
                    out.append(
                        f"BroadcastNestedLoopJoin build side carried {b} "
                        f"rows (max {_BNL_BUILD_MAX}) — not a bounded "
                        "broadcast"
                    )
                elif b > _BNL_FREE_FACTOR and s > _BNL_STREAM_MAX:
                    out.append(
                        f"BroadcastNestedLoopJoin amplifies: {b}-row build "
                        f"× {s}-row stream (multi-row build requires a "
                        f"≤{_BNL_STREAM_MAX}-row stream)"
                    )
        stack.extend(children(n))
    return out, n_bnl


def plan_fingerprint(plan: str) -> tuple[str, list[str]]:
    """Normalized fingerprint of a formatted plan's FINAL tree — the
    cross-round plan-regression canary (VERDICT r9 item 8): a silently
    added Exchange/Window/Join inside an unchanged query passes every
    correctness gate until the bench moves; the fingerprint catches it
    the round it appears.

    The fingerprinted tree must be PRE-AQE: under the session's
    static-broadcast-off doctrine the unexecuted plan is a
    deterministic function of the query alone, while the FINAL adaptive
    plan legitimately varies run to run (broadcast side swaps, and a ±1
    Exchange depending on which stages had materialized before an
    SMJ→BHJ conversion — both false-fired earlier versions of this
    canary on unchanged code). An added shuffle/Window/join always
    appears in the pre-AQE plan too, so the canary loses nothing; the
    RULES above keep auditing the final adaptive plan for
    broadcast-ness. ``main`` therefore captures the explain BEFORE
    collect() (isFinalPlan=false — one tree, no section markers, hits
    the fallback branch below). The ``== Initial Plan ==`` scanner
    remains for post-execution input, but such input is NOT
    capture-stable: materialized InMemoryRelation children print nested
    section markers whose surrounding lines come from run-varying
    AQE-final trees (the round-10 contention flake — three distinct
    fingerprints across six same-session captures of q_cooccur_topk).
    Dropped as run-varying: node ids ``(12)``, expression ids ``#345``,
    build-side tokens, statistics, digits, AQE wrapper nodes. Returns
    (md5, normalized depth-prefixed lines) — stored so a mismatch
    prints an actual tree diff, not just two hashes."""
    import hashlib

    lines = plan.split("\n")
    if "== Initial Plan ==" in plan:
        picked: list[str] = []
        i = 0
        while i < len(lines):
            if "== Initial Plan ==" in lines[i]:
                i += 1
                while i < len(lines) and lines[i].strip():
                    picked.append(lines[i])
                    i += 1
                continue
            i += 1
    else:
        picked = plan.split("\n\n(")[0].split("\n")
    out: list[str] = []
    for ln in picked:
        if "==" in ln or not ln.strip():
            continue
        m = re.match(r"[ :+\-*]*", ln)
        depth = len(m.group(0))
        body = ln[depth:]
        body = re.sub(r"\(\d+\)", "", body)  # node ids
        body = re.sub(r"#\d+[A-Za-z]*", "", body)  # expression ids
        body = re.sub(r"Statistics\([^)]*\)", "", body)
        body = re.sub(r"\bBuild(Left|Right)\b", "", body)
        body = re.sub(r"\d+", "", body).strip(" ,")
        body = re.sub(r"\s+", " ", body)
        # AQE wrappers (fallback trees only; initial plans have none)
        if re.match(
            r"(ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage|"
            r"ResultQueryStage|AQEShuffleRead|AdaptiveSparkPlan)\b",
            body,
        ):
            continue
        if body:
            out.append(f"{depth // 3}:{body}")
    digest = hashlib.md5("\n".join(out).encode()).hexdigest()
    return digest, out


def check_fingerprints(
    plans: dict[str, str], update: bool
) -> tuple[list[str], list[str]]:
    """Compare each audited query's fingerprint against
    ``tools/plan_fingerprints.json``. Returns (violations, notes).
    Missing file or missing entries bootstrap silently; a CHANGED
    fingerprint is a violation unless ``--update-fingerprints``
    acknowledges it (prints what changed either way)."""
    import difflib
    import json

    path = REPO / "tools" / "plan_fingerprints.json"
    stored: dict[str, dict] = {}
    if path.exists():
        stored = json.loads(path.read_text())
    violations: list[str] = []
    notes: list[str] = []
    fresh: dict[str, dict] = {}
    for name, plan in sorted(plans.items()):
        fp, lines = plan_fingerprint(plan)
        fresh[name] = {"fp": fp, "tree": lines}
        old = stored.get(name)
        if old is None:
            notes.append(f"fingerprint bootstrapped: {name}")
            continue
        if old["fp"] == fp:
            continue
        diff = "\n".join(
            difflib.unified_diff(
                old.get("tree", []), lines, "stored", "current", lineterm=""
            )
        )
        if update:
            notes.append(f"fingerprint updated (acknowledged): {name}\n{diff}")
        else:
            violations.append(
                f"{name}: plan fingerprint changed without "
                f"--update-fingerprints\n{diff}"
            )
    if update or not path.exists() or (
        not violations and len(fresh) > len(stored)
    ):
        merged = dict(stored)
        if update:
            merged.update(fresh)
        else:  # bootstrap only the new names; never silently rewrite
            for n, v in fresh.items():
                merged.setdefault(n, v)
        path.write_text(json.dumps(merged, indent=1, sort_keys=True) + "\n")
    return violations, notes


def _def_spans(src: str) -> list[tuple[int, int, str]]:
    """(lineno, end_lineno, name) for every function def in ``src`` —
    the exact AST line ranges, so enclosing-function attribution cannot
    be fooled by nesting, class methods, decorators, or def-looking
    text inside strings (ADVICE r11: the old column-0 regex scan
    attributed calls from nested defs/methods to the wrong function)."""
    spans: list[tuple[int, int, str]] = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            spans.append((node.lineno, node.end_lineno or node.lineno, node.name))
    return spans


def _enclosing_defs(
    spans: list[tuple[int, int, str]], ln_no: int
) -> list[str]:
    """All functions whose span contains 1-based line ``ln_no``,
    innermost (latest-starting) first; empty at module/class level. A
    nested helper def'd inside a declared query can only be called from
    within it, so attribution may walk outward through the stack."""
    hits = [s for s in spans if s[0] <= ln_no <= s[1]]
    return [name for _, _, name in sorted(hits, key=lambda s: -s[0])]


def _enclosing_def(
    spans: list[tuple[int, int, str]], ln_no: int
) -> str | None:
    """Innermost function whose body spans 1-based line ``ln_no`` (the
    containing def that STARTS latest), or None for module/class level."""
    stack = _enclosing_defs(spans, ln_no)
    return stack[0] if stack else None


def source_sweep(declared: set[str]) -> tuple[list[str], set[str]]:
    """Repo-wide static invariant: no empty-partition window anywhere.
    `Window.partitionBy()` with no keys moves the whole input to ONE
    partition (WindowExec warns at runtime) — the D7 pattern (1-row agg
    cross-joined back) is always the scale-safe form.

    Global `Window.orderBy` sites are NOT judged from source text (a
    comment cannot prove boundedness): each one is mapped to its
    enclosing declared query and returned for runtime plan verification
    by `global_window_violations`. Only helper functions that no
    declared query reaches fall back to the static rank-after-.limit(k)
    shape, which is structural (the limit is in the same expression
    chain)."""
    bad: list[str] = []
    verify: set[str] = set()
    # Helpers containing a global window, mapped to EVERY declared query
    # that reaches them: those queries' final plans get the same runtime
    # global_window_violations check as an inline site (a helper name in
    # this map is not a waiver — it routes to runtime verification).
    helper_windows = {
        "_rank_cutoff": ["q_perplexity_gate", "q_dsir_sample", "q_pca_outlier_gate"],
        # chained caller of _rank_cutoff (the composed ingest gate's
        # shared trainer) — its reachable declared queries get the same
        # runtime bounded-input check
        "_ingest_gate_inputs": ["q_ingest_gate", "q_stream_ingest_gate"],
    }
    for p in sorted((REPO / "review_engine_spark").rglob("*.py")):
        src = p.read_text()
        lines = src.splitlines()
        spans = _def_spans(src)
        for ln_no, ln in enumerate(lines, 1):
            if re.search(r"Window\.partitionBy\(\s*\)", ln):
                bad.append(f"{p.relative_to(REPO)}:{ln_no}: empty-partition Window")
            elif re.search(r"Window\.orderBy\(", ln) and "partitionBy" not in ln:
                # walk the def stack innermost→outermost: a nested
                # helper inside a declared query attributes to the query
                stack = _enclosing_defs(spans, ln_no)
                encl = next(
                    (n for n in stack if n in declared or n in helper_windows),
                    stack[0] if stack else None,
                )
                if encl in declared:
                    verify.add(encl)
                    continue
                if encl in helper_windows:
                    missing = [
                        q for q in helper_windows[encl] if q not in declared
                    ]
                    if missing:
                        bad.append(
                            f"{p.relative_to(REPO)}:{ln_no}: helper_windows "
                            f"maps {encl} to undeclared queries {missing}"
                        )
                    verify.update(q for q in helper_windows[encl] if q in declared)
                    continue
                ctx = "\n".join(lines[max(0, ln_no - 7): ln_no])
                if ".limit(" not in ctx:
                    bad.append(
                        f"{p.relative_to(REPO)}:{ln_no}: global Window.orderBy "
                        f"outside any declared query and not rank-after-.limit(k)"
                    )
    # Cross-check helper_windows against ACTUAL call sites (ADVICE r10):
    # the map is a routing table, and a future caller of a mapped helper
    # must not silently escape the global-window audit just because the
    # helper's name is enumerated. Every call site's enclosing function
    # must either BE one of the routed declared queries or be flagged.
    for helper, routed in helper_windows.items():
        call_re = re.compile(rf"(?<![\w.]){re.escape(helper)}\(")
        for p in sorted((REPO / "review_engine_spark").rglob("*.py")):
            src = p.read_text()
            lines = src.splitlines()
            spans = _def_spans(src)
            for ln_no, ln in enumerate(lines, 1):
                if not call_re.search(ln) or ln.lstrip().startswith("#"):
                    continue
                stack = _enclosing_defs(spans, ln_no)
                encl = next(
                    (
                        n
                        for n in stack
                        if n == helper or n in helper_windows or n in routed
                    ),
                    stack[0] if stack else None,
                )
                if encl == helper:  # the definition itself / recursion
                    continue
                if encl in helper_windows and encl != helper:
                    # chained helper: its own routed queries are already
                    # runtime-verified below
                    verify.update(
                        q for q in helper_windows[encl] if q in declared
                    )
                    continue
                if encl not in routed:
                    bad.append(
                        f"{p.relative_to(REPO)}:{ln_no}: {encl or '<module>'} "
                        f"calls {helper} (global window) but is not "
                        f"enumerated in helper_windows — add it so its "
                        f"final plan gets the runtime bounded-input check"
                    )
    return bad, verify


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--update-fingerprints"]
    update_fp = "--update-fingerprints" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from review_engine_spark.session import get_spark

    spark = get_spark("plan-audit")
    qs = entrymod.queries()
    failures, window_verify = source_sweep(set(qs))
    for f in failures:
        print(f"VIOLATION {f}")
    sections: list[str] = []
    plans_by_name: dict[str, str] = {}
    audited = dict(RULES)
    for name in sorted(window_verify):
        audited.setdefault(name, [])
    for name, rules in audited.items():
        # Clean cache per query: a query that persists a frame whose
        # analyzed plan matches a PREVIOUS query's cache entry gets the
        # cached relation substituted into its tree, so the printed plan
        # depends on which earlier entries survived — and external
        # memory pressure changes that (the round-10 "2 violations only
        # under concurrent pytest" flake: q_cooccur_topk/q_ndcg_eval
        # share the basket frame). With a clean cache the captured plan
        # is a deterministic function of the query alone.
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        # Fingerprint BEFORE executing: the unexecuted AdaptiveSparkPlan
        # (isFinalPlan=false) prints ONE deterministic tree — a pure
        # function of the query and a clean cache. The post-execution
        # print interleaves nested `== Initial Plan ==` sections inside
        # materialized InMemoryRelation children, and the lines AROUND
        # those markers come from run-varying AQE-final trees — the
        # round-10 contention flake fired on exactly that (three
        # distinct fingerprints across six same-session captures of
        # q_cooccur_topk).
        plans_by_name[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # Execute BEFORE explaining for the RULES: static auto-broadcast
        # is disabled session-wide (session.py doctrine), so join
        # strategies are finalized by AQE at runtime from actual sizes —
        # the rules must read the final adaptive plan, which is what a
        # cluster ran. collect() (not count()) so THIS Dataset's own
        # AdaptiveSparkPlan finalizes — count() spawns a separate
        # execution and leaves the audited plan isFinalPlan=false.
        df.collect()
        raw = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = final_plan_only(raw)
        sections.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")
        if name in window_verify:
            gw = global_window_violations(plan)
            status = "VIOLATION" if gw else "ok"
            print(f"{status:9s} {name}: global window fed only by bounded input")
            for g in gw:
                failures.append(f"{name}: {g}")
        bnl_bad, n_bnl = bnl_violations_runtime(df)
        if n_bnl or bnl_bad:
            status = "VIOLATION" if bnl_bad else "ok"
            print(
                f"{status:9s} {name}: {n_bnl} BNL node(s) within the "
                "bounded-broadcast doctrine"
            )
            for b in bnl_bad:
                failures.append(f"{name}: {b}")
        for must, pat, why in rules:
            hit = re.search(pat, plan) is not None
            ok = hit if must else not hit
            status = "ok" if ok else "VIOLATION"
            print(f"{status:9s} {name}: {why}")
            if not ok:
                failures.append(f"{name}: {why}")
    fp_viol, fp_notes = check_fingerprints(plans_by_name, update_fp)
    if fp_viol:
        # Retry each offender once from a clean cache before declaring a
        # violation: a REAL plan regression reproduces deterministically;
        # a residual capture race (noisy neighbor mid-collect) does not.
        retry_names = [v.split(":")[0] for v in fp_viol]
        retried: dict[str, str] = {}
        for name in retry_names:
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            retried[name] = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        fp_viol, retry_notes = check_fingerprints(retried, update_fp)
        for name in retry_names:
            if not any(v.startswith(f"{name}:") for v in fp_viol):
                fp_notes.append(
                    f"fingerprint transient mismatch cleared on retry: {name}"
                )
        fp_notes.extend(retry_notes)
    for n in fp_notes:
        print(f"note      {n.splitlines()[0]}")
    for v in fp_viol:
        print(f"VIOLATION {v}")
        failures.append(v.splitlines()[0])
    out = REPO / "PLANS.md"
    out.write_text(
        "# Physical plans of headline queries (generated by tools/plan_audit.py)\n\n"
        f"Scale invariants asserted per query; sf_dir={sf_dir}.\n\n"
        + "\n".join(sections)
    )
    print(f"\nwrote {out}")
    if failures:
        # Name the offenders in the summary: the per-violation detail
        # scrolls thousands of lines above, so a `| tail` capture must
        # still say WHICH queries fired (VERDICT r10 item 2).
        offenders = sorted({f.split(":")[0] for f in failures})
        print(f"{len(failures)} violation(s) in: {', '.join(offenders)}")
        return 1
    print("all plan invariants hold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
