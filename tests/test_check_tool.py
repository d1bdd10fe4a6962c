"""tools/check.py: the surface perfbench imports, the driver-hazard
comparison, and the ``--plain`` session."""

from __future__ import annotations

import decimal
import json
import subprocess
import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from review_engine_spark.session import DEFAULT_CONF  # noqa: E402
from tools.check import TABLES, canon_rows, mismatches  # noqa: E402


def test_check_exports_tables_and_canon_rows():
    assert {"lineitem", "documents", "embeddings"} <= set(TABLES)
    cols, rows = canon_rows(pd.DataFrame({"b": [2.0, float("nan")], "a": [1, 0]}))
    assert (cols, rows) == (["a", "b"], [(0, None), (1, 2.0)])


def test_mismatches_flags_driver_hazards():
    def df(*vals):
        return pd.DataFrame({"a": list(vals)})

    assert mismatches(df(1, 2), df(2, 1)) == []
    assert mismatches(df(1), df(1, 2)) == ["rowcount 1 vs 2"]
    assert "dtype kind" in mismatches(df(1), df(1.0))[0]
    assert "dtype kind" in mismatches(df("1"), df(1))[0]
    assert "decimal.Decimal" in mismatches(df(1.0), df(decimal.Decimal(1)))[0]
    assert "array cells" in mismatches(df([1]), df([1]))[0]
    assert mismatches(df(1.0), df(1.5)) == ["first diff row 0: spark=(1.0,) oracle=(1.5,)"]


def test_plain_session_has_no_engine_confs():
    """A fresh JVM, since the test session's JVM carries the engine confs."""
    probe = "; ".join([
        f"import json, sys; sys.path.insert(0, {str(REPO)!r})",
        "from tools.check import make_session",
        "from review_engine_spark.session import DEFAULT_CONF",
        "s = make_session(plain=True)",
        "keys = [*DEFAULT_CONF, 'spark.sql.shuffle.partitions', 'spark.driver.memory']",
        "print(json.dumps({k: s.conf.get(k, None) for k in keys})); s.stop()",
    ])
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True, text=True, timeout=300, check=True)
    conf = json.loads(out.stdout.strip().splitlines()[-1])
    assert not [k for k, v in DEFAULT_CONF.items() if conf[k] == v]
    assert conf["spark.sql.shuffle.partitions"] is None and conf["spark.driver.memory"] is None
