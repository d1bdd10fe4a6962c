"""session.get_spark defaults that change driver-side cost."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_column_calls_skip_call_site_capture():
    """A fresh interpreter: PySpark reads the DataFrame-debugging flag once
    per process, at the first Column call under an active session, so the
    test session's answer is already fixed. With call-site capture on, the
    six Column calls below send 62 py4j commands; with it off, 12."""
    probe = "\n".join([
        f"import json, sys; sys.path.insert(0, {str(REPO)!r})",
        "from pyspark.sql import functions as F",
        "from review_engine_spark.session import get_spark",
        "s = get_spark('probe', master='local[1]', shuffle_partitions=1, extra_conf={'spark.driver.memory': '1g'})",
        "F.col('warm') + 1",
        "client = s.sparkContext._gateway._gateway_client",
        "sent = []",
        "send = client.send_command",
        "client.send_command = lambda *a, **k: sent.append(1) or send(*a, **k)",
        "(F.col('a') * F.col('b') + F.lit(1.0)).alias('c')",
        "client.send_command = send",
        "print(json.dumps({'sent': len(sent)})); s.stop()",
    ])
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True, text=True, timeout=300, check=True)
    sent = json.loads(out.stdout.strip().splitlines()[-1])["sent"]
    assert 0 < sent <= 24
