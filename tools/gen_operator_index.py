#!/usr/bin/env python
"""Generate docs/OPERATORS.md — the one-page index of every driver-contract
query: name, what it verifies (from the query fn's docstring), and whether
its oracle is exact SQL.  Regenerate after adding rows:

    PYTHONPATH=. python tools/gen_operator_index.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod


def main() -> None:
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    lines = [
        "# Driver-contract operator index",
        "",
        f"{len(qs)} queries registered in `__spark_entry__.py`; "
        f"{sum(1 for k in qs if k in os_)} have exact DuckDB SQL oracles "
        "(the rest are rows-only checks).  Replay locally with "
        "`PYTHONPATH=. python tools/check_oracle.py "
        "/root/testdata/sf0.01`.",
        "",
        "| # | query | oracle | what it verifies |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        doc = (fn.__doc__ or "").strip().split("\n\n")[0]
        doc = " ".join(doc.split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        doc = doc.replace("|", "\\|")
        lines.append(
            f"| {i} | `{name}` | {'SQL' if name in os_ else 'rows'} | {doc} |"
        )
    out = os.path.join(ROOT, "docs", "OPERATORS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(qs)} rows)")


if __name__ == "__main__":
    main()
