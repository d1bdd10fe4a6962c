"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at a given SF dir,
runs the matching ``oracle_sql()`` under DuckDB on the same parquet views,
and compares row-count + column names + order-insensitive values. Stricter
than the driver in one way: values are compared exactly (post in-query
rounding), so a pass here should imply a driver pass.

``--plain`` runs the gate under a bare ``SparkSession`` with none of the
engine's confs, the worst-case external harness: a conf a query's
correctness depends on must be set at read/run time inside the engine
(sources/io.py pins nanosAsLong + UTC), never only in session.py.

Usage: python tools/check.py [--plain] [sf_dir] [query ...]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon_cell(v):
    import datetime

    import numpy as np
    import pandas as pd

    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.floating,)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon_cell(x) for x in v)
    if isinstance(v, pd.NaT.__class__):
        return None
    return v


def canon_rows(df):
    """pandas DataFrame → sorted list of tuples with columns sorted by name."""
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def mismatches(sdf, odf) -> list[str]:
    """Why the driver would fail a Spark result against its DuckDB oracle
    (both pandas frames); empty when they match."""
    import decimal

    import pandas as pd

    scols, srows = canon_rows(sdf)
    ocols, orows = canon_rows(odf)
    msgs = []
    if len(srows) != len(orows):
        msgs.append(f"rowcount {len(srows)} vs {len(orows)}")
    if scols != ocols:
        msgs.append(f"cols {scols} vs {ocols}")
    if msgs:
        return msgs
    # Driver-hazard replication: the harness canonicalizer hashes raw
    # pandas values, so (a) a list/ndarray cell crashes its sort, and
    # (b) an int64-vs-float64 dtype split hash-mismatches even when
    # values are numerically equal. Flag both as failures here.
    for frame, side in ((sdf, "spark"), (odf, "oracle")):
        for c in frame.columns if len(frame) else ():
            cell = frame[c].iloc[0]
            if isinstance(cell, (list, tuple)) or type(cell).__name__ == "ndarray":
                return [f"{side} returns array cells in '{c}' (driver canonicalizer would crash)"]
            # Decimal == float compares NUMERICALLY in Python, so a
            # DecimalType output passed this gate in r4 while the
            # driver's dtype-sensitive hash failed it (q_mann_whitney,
            # r5's one red). Any Decimal cell is a hard failure.
            if isinstance(cell, decimal.Decimal):
                return [
                    f"{side} returns decimal.Decimal in '{c}' (driver value-hash "
                    f"would differ; CAST to DOUBLE / use 2e0 literals)"
                ]
    # Driver-hazard replication: the harness compares the DuckDB result
    # TYPE against the Spark schema before hashing, while canon_cell
    # strips tzinfo. A DuckDB `to_timestamp(...)` (TIMESTAMP WITH TIME
    # ZONE) vs Spark TimestampType mismatch passed here but failed the
    # driver in r02/r03 (q_hop_window, q_stream_tumbling). Flag any
    # tz-awareness split between the two sides as a hard failure.
    msgs = [
        f"timezone-awareness mismatch on '{c}': spark={sdf[c].dtype} "
        f"oracle={odf[c].dtype} (driver schema compare would fail; "
        f"CAST oracle to TIMESTAMP for NTZ)"
        for c in sdf.columns
        if isinstance(sdf[c].dtype, pd.DatetimeTZDtype) != isinstance(odf[c].dtype, pd.DatetimeTZDtype)
    ]
    if msgs:
        return msgs
    num = {"i", "u", "f"}
    for c in sdf.columns if len(sdf) and len(odf) else ():
        sk, okind = sdf[c].dtype.kind, odf[c].dtype.kind
        # object-vs-numeric is a driver hash mismatch too (e.g. a
        # Decimal column on one side): treat it like a kind split.
        if sk != okind and ((sk in num and okind in num) or (sk == "O") != (okind == "O")):
            msgs.append(
                f"dtype kind mismatch on '{c}': spark={sdf[c].dtype} "
                f"oracle={odf[c].dtype} (driver value-hash would differ)"
            )
    if msgs:
        return msgs
    if srows != orows:
        i, a, b = next((i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b)
        return [f"first diff row {i}: spark={a} oracle={b}"]
    return []


def make_session(plain: bool):
    """The engine's session, or with ``plain`` a bare one (no engine confs)."""
    if plain:
        from pyspark.sql import SparkSession

        return SparkSession.builder.master("local[*]").appName("check-plain").getOrCreate()
    from review_engine_spark.session import get_spark

    return get_spark("check")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="DuckDB-oracle correctness gate.")
    ap.add_argument("--plain", action="store_true", help="bare SparkSession, no engine confs")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("query", nargs="*", help="check only these queries")
    args = ap.parse_args(argv)
    sf_dir, only = args.sf_dir, set(args.query)

    # session first, so no engine import can configure the plain one
    spark = make_session(args.plain)
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # attribute the query's jobs to it in the UI and event log
        spark.sparkContext.setJobGroup(name, name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        msgs = mismatches(sdf, odf)
        if not msgs:
            print(f"PASS  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: {'; '.join(msgs)}")
            failures.append(name)

    print(f"\n{n_pass} pass, {len(failures)} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
