"""Generate QUERIES.md — the declared-query catalog.

One row per roster entry: name, check kind (oracle-hash vs rows-only),
defining module, and the first docstring line. This is the index the
SURVEY §2 inventory maps onto; regenerate after adding queries:

    python tools/catalog.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def render() -> str:
    """QUERIES.md's text for the roster as declared."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rows = []
    for name in sorted(qs):
        fn = qs[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        mod = fn.__module__.rsplit(".", 1)[-1]
        kind = "oracle" if name in oracles else "rows-only"
        rows.append((name, kind, mod, first))
    n_oracle = sum(1 for _, k, _, _ in rows if k == "oracle")
    lines = [
        "# Declared-query catalog (generated by tools/catalog.py)",
        "",
        f"{len(rows)} queries: {n_oracle} DuckDB-oracle-checked (hash-exact), "
        f"{len(rows) - n_oracle} rows-only. Every entry is registered in "
        "`__spark_entry__.queries()`; oracle entries have matching SQL in "
        "`oracle_sql()`.",
        "",
        "| query | check | module | what it does |",
        "|---|---|---|---|",
    ]
    for name, kind, mod, first in rows:
        first = first.replace("|", "\\|")
        lines.append(f"| `{name}` | {kind} | {mod} | {first} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    out = REPO / "QUERIES.md"
    out.write_text(render())
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
