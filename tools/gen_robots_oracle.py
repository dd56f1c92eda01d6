#!/usr/bin/env python
"""Materialize expected robots.txt verdicts WITHOUT Spark.

Same pattern as gen_webtext_oracle.py: the synth corpus is seed-pure, so
the full expected verdict table for the driver's ``robots_filter`` query is
derivable from the pure-Python mirror path:

    page_url → gen_robots → parse_robots_py → robots_allowed_py

written to tests/data/robots_verdicts_n{N}_seed{S}.parquet; the DuckDB
oracle reads it via read_parquet().  tests/test_robots.py asserts the
committed file equals a fresh regeneration (drift guard) AND the Spark
pipeline output (engine guard).

Usage: python tools/gen_robots_oracle.py [n=2000] [seed=42]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from pregel_rs_spark.functions.robots import parse_robots_py, robots_allowed_py
from pregel_rs_spark.sources.synth import gen_robots, page_url

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")
_HOST = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)")


def expected_verdicts(n: int, seed: int = 42) -> list[dict]:
    rules_by_host: dict[str, list[tuple[str, str]]] = {}
    for j in range(max(1, n // 50)):
        rb = gen_robots(j, n, seed)
        if rb is not None:
            rules_by_host[rb["host"]] = parse_robots_py(rb["content"])
    out = []
    for i in range(n):
        url = page_url(i, n)
        host = _HOST.match(url).group(1)
        path = url.split(host, 1)[1] or "/"
        allowed, rule, rule_path = robots_allowed_py(
            path, rules_by_host.get(host, [])
        )
        out.append(
            {
                "url": url,
                "host": host,
                "allowed": allowed,
                "rule": rule,
                "rule_path": rule_path,
            }
        )
    return out


def main(n: int = 2000, seed: int = 42) -> str:
    rows = expected_verdicts(n, seed)
    table = pa.Table.from_pylist(rows)
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"robots_verdicts_n{n}_seed{seed}.parquet")
    pq.write_table(table, path)
    print(f"{path}: {len(rows)} rows, "
          f"{sum(not r['allowed'] for r in rows)} disallowed")
    return path


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 2000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 42,
    )
