from __future__ import annotations

import pytest

from review_engine_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[2]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    """``review_engine_spark.scratch`` pointed at a fresh root under
    ``tmp_path``, with an empty artifact memo."""
    from review_engine_spark import scratch

    monkeypatch.setattr(scratch, "_root", str(tmp_path / "scratch"))
    monkeypatch.setattr(scratch, "_MEMO", {})
    return scratch


@pytest.fixture(scope="session")
def plan_nodes():
    """``plan_nodes(df)`` → ``[(nodeName, is_leaf), ...]`` over ``df``'s
    executed physical plan, preorder, looking through the AQE root and
    its query stages."""

    def unwrap(n):
        while True:
            name = n.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                n = n.executedPlan()
            elif name.endswith("QueryStageExec"):
                n = n.plan()
            else:
                return n

    def walk(df):
        out = []
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            n = unwrap(stack.pop())
            kids = n.children()
            out.append((n.nodeName(), kids.isEmpty()))
            stack.extend(kids.apply(i) for i in reversed(range(kids.size())))
        return out

    return walk
