"""Source-level convention guards (no SparkSession needed).

Each guard locks a cross-engine determinism rule that was learned from
a real gate failure, so the rule survives contributor turnover instead
of living only in NOTES.md.
"""

from __future__ import annotations

import ast
import re
import sys
from collections import Counter
from pathlib import Path

PLANS = Path(__file__).resolve().parent.parent / "review_engine_spark" / "plans"


def test_no_round_on_fold_outputs():
    """round() must never wrap a bit-identical fold (list_reduce /
    F.aggregate recurrence): both engines produce the same raw double,
    and rounding ADDS a divergence boundary — Spark rounds the shortest
    decimal repr half-up while DuckDB multiplies by 10^k first, and the
    float64 product can cross .5 where the decimal digits don't
    (round-8 second-seed sf0.1 catch: round(35.459430499999996, 6) →
    .459430 vs .459431). Raw fold doubles compare hash-exact; round()
    is reserved for order-dependent sums and transcendental outputs.
    """
    offenders = []
    for p in PLANS.glob("*.py"):
        s = p.read_text()
        for m in re.finditer(r"round\(\s*list_reduce", s):
            offenders.append(f"{p.name}:{s[: m.start()].count(chr(10)) + 1}")
    assert not offenders, (
        "oracle round() wrapping a list_reduce fold (see NOTES.md round-8"
        f" rounding lesson): {offenders}"
    )


def test_no_bare_double_to_bigint_cast_in_new_oracles():
    """Money-ish doubles must be floor(x*100+0.5)-quantized before any
    BIGINT cast (Spark CAST truncates toward zero, DuckDB rounds
    half-away — round-6 sweep). This guard only checks the cheap
    grep-able pattern: a cast of a bare division result.
    """
    offenders = []
    pat = re.compile(r"CAST\(\s*\w+\s*/\s*\w+(\.\w+)?\s+AS BIGINT\)", re.I)
    for p in PLANS.glob("*.py"):
        s = p.read_text()
        for m in pat.finditer(s):
            line = s[: m.start()].count(chr(10)) + 1
            ctx = s[max(0, m.start() - 200) : m.start()]
            # floor/ceil-quantized or integer-operand casts are the
            # documented sound forms (NOTES round-6 sweep)
            if "floor(" in ctx or "ceil(" in ctx or "//" in ctx:
                continue
            offenders.append(f"{p.name}:{line}")
    # the round-6 sweep documented the surviving sound instances; new
    # code should quantize instead of growing this list
    allowed = 2
    assert len(offenders) <= allowed, (
        "new bare double->BIGINT cast in an oracle (quantize with"
        f" floor(x*100+0.5) first — NOTES round-6): {offenders}"
    )


def test_local_files_are_placed_by_scratch_only():
    """Only ``scratch.py`` decides where the engine writes local files: a
    ``tempfile.mkdtemp`` is never cleaned up, and a literal ``/tmp/`` root
    is shared by every user of the host and ignores ``TMPDIR``."""
    pkg = PLANS.parent
    offenders = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p.name != "scratch.py" or p.parent != pkg
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "tempfile.mkdtemp" in line or "/tmp/" in line
    ]
    assert not offenders, offenders


_REUSE_FORMS = (".persist(", ".cache()", "unpersist", "cacheTable", "CACHE TABLE", "localCheckpoint(")


def test_intermediates_are_reused_by_iter_checkpoint_only():
    """``operators.cluster.iter_checkpoint`` is the one way to reuse an
    intermediate: it registers nothing with the session's CacheManager,
    so no later query can plan-match it, and its blocks are freed once
    the frame is unreachable. A ``persist``/``cacheTable`` entry outlives
    the query and makes the next query's result timing depend on it."""
    pkg = PLANS.parent
    cluster = pkg / "operators" / "cluster.py"
    (body,) = [
        range(n.lineno, n.end_lineno + 1)
        for n in ast.parse(cluster.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "iter_checkpoint"
    ]
    offenders = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(f in line for f in _REUSE_FORMS) and not (p == cluster and n in body)
    ]
    assert not offenders, offenders


def test_stateful_streams_fold_through_one_keyed_state_layout():
    """``streaming.jobs._fold_by_key`` is the one place that knows how
    GroupState is laid out (keys bucketed by ``_key_bucket``, each bucket
    holding its keys' states as two arrays); the stateful runners supply
    only a per-key fold. A second ``applyInPandasWithState`` call would
    bring back a per-runner copy of that layout."""
    pkg = PLANS.parent
    sites = [
        (p, n)
        for p in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "applyInPandasWithState(" in line
    ]
    assert len(sites) == 1, [f"{p.relative_to(pkg)}:{n}" for p, n in sites]
    jobs = pkg / "streaming" / "jobs.py"
    (body,) = [
        range(n.lineno, n.end_lineno + 1)
        for n in ast.parse(jobs.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "_fold_by_key"
    ]
    ((path, line),) = sites
    assert path == jobs and line in body, sites


def _declared(node) -> bool:
    return any(
        getattr(d.func if isinstance(d, ast.Call) else d, "id", None) == "declared"
        for d in node.decorator_list
    )


def _is_test_file(rel: Path) -> bool:
    return "tests" in rel.parts or rel.name.startswith(("test_", "conftest"))


def _without_all_lists(src: str) -> str:
    """``src`` with each module-level ``__all__ = [...]`` blanked out."""
    lines = src.splitlines()
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = ""
    return "\n".join(lines)


# Kept with no caller in the program: the J3 swap-in point for a real
# reranker model (its stub twin is what the roster runs).
_KEPT_UNREFERENCED = {"scorer_batch_udf"}


def test_no_unreferenced_module_names():
    """Every module-level function, class or assigned name in the
    package must be mentioned somewhere in the repo's non-test ``.py``
    files beyond its own definition. Mentions inside an ``__all__`` list
    or a test do not count: a name only tests reach is dead surface.
    Roster queries are exempt: ``@declared`` registers them by name."""
    repo = PLANS.parent.parent
    words = Counter()
    for p in repo.rglob("*.py"):
        rel = p.relative_to(repo)
        if not any(part.startswith(".") for part in rel.parts) and not _is_test_file(rel):
            words.update(re.findall(r"[A-Za-z_]\w*", _without_all_lists(p.read_text())))
    unused = []
    for p in sorted(PLANS.parent.rglob("*.py")):
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [] if _declared(node) else [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            unused += [
                f"{p.relative_to(repo)}:{node.lineno} {n}"
                for n in names
                if not n.startswith("__") and n not in _KEPT_UNREFERENCED and words[n] <= 1
            ]
    assert not unused, unused


def test_queries_md_matches_its_generator():
    """QUERIES.md is generated: the committed file must equal what
    ``tools/catalog.py`` renders from the roster (regenerate with
    ``python tools/catalog.py``)."""
    repo = PLANS.parent.parent
    sys.path.insert(0, str(repo))
    from tools.catalog import render

    assert (repo / "QUERIES.md").read_text() == render()


def test_twin_queries_share_one_oracle():
    """Queries that replay the same oracle bind it to one module
    constant (``_SESSIONIZE_ORACLE`` serves q_sessionize and
    q_sessionize_state), so the twins cannot drift apart. Compared as
    source text: Python already merges equal plain literals within one
    module, so an identity check would miss copies."""
    seen: dict[str, list[str]] = {}
    for p in sorted(PLANS.glob("*.py")):
        src = p.read_text()
        for node in ast.parse(src).body:
            if not (isinstance(node, ast.FunctionDef) and _declared(node)):
                continue
            for d in node.decorator_list:
                for kw in getattr(d, "keywords", []):
                    if kw.arg == "oracle" and not isinstance(kw.value, ast.Name):
                        text = ast.get_source_segment(src, kw.value)
                        seen.setdefault(text, []).append(f"{p.name}:{node.name}")
    copies = [names for names in seen.values() if len(names) > 1]
    assert not copies, copies
