#!/usr/bin/env python
"""Materialize crawl-layer oracle tables WITHOUT Spark.

The synth corpus is seed-pure, so the crawl-delta and sitemap oracles are
derivable from the pure-Python reference path:

  * webtext_hashes_n{N}_seed{S}.parquet — (url, page_no, content_md5) per
    crawl snapshot; the DuckDB `crawl_delta` oracle joins two snapshots'
    hash tables exactly like the engine joins md5(html).
  * sitemaps_n{N}_seed{S}.parquet — (host, content) sitemap.xml corpus;
    the DuckDB `sitemap_discoveries` oracle replays the </url>-split +
    regexp parse on this content.

tests/test_webtext.py asserts each committed file equals a fresh
regeneration (drift guard) and the Spark-side generation (engine guard).

Usage: python tools/gen_crawl_oracle.py [n=2000] [seeds=42,43]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from pregel_rs_spark.sources.synth import gen_page, gen_sitemap

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")


def expected_hashes(n: int, seed: int) -> list[tuple[str, int, str]]:
    rows = []
    for i in range(n):
        p = gen_page(i, n, seed)
        rows.append((p["url"], i, hashlib.md5(p["html"]).hexdigest()))
    return rows


def expected_sitemaps(n: int, seed: int) -> list[tuple[str, str]]:
    n_sites = max(1, n // 50)
    rows = []
    for j in range(n_sites):
        s = gen_sitemap(j, n, seed)
        if s is not None:
            rows.append((s["host"], s["content"]))
    return rows


def expected_discovery_verdicts(n: int, seed: int) -> list[dict]:
    """Robots verdicts for the sitemap DISCOVERY urls (novel /new/ paths
    absent from the crawl) — the crawl_plan oracle unions these with the
    page-url verdict table."""
    import re

    from pregel_rs_spark.functions.robots import (
        parse_robots_py,
        robots_allowed_py,
    )
    from pregel_rs_spark.sources.synth import gen_robots, page_url

    host_re = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)")
    n_sites = max(1, n // 50)
    rules_by_host = {}
    for j in range(n_sites):
        rb = gen_robots(j, n, seed)
        if rb is not None:
            rules_by_host[rb["host"]] = parse_robots_py(rb["content"])
    crawled = {page_url(i, n) for i in range(n)}
    out = []
    for j in range(n_sites):
        s = gen_sitemap(j, n, seed)
        if s is None:
            continue
        for seg in s["content"].split("</url>"):
            m = re.search(r"<loc>([^<]+)</loc>", seg)
            if not m or m.group(1) in crawled:
                continue
            url = m.group(1)
            host = host_re.match(url).group(1)
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


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seeds = (
        [int(s) for s in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [42, 43]
    )
    for seed in seeds:
        rows = expected_hashes(n, seed)
        tbl = pa.table(
            {
                "url": [r[0] for r in rows],
                "page_no": pa.array([r[1] for r in rows], pa.int64()),
                "content_md5": [r[2] for r in rows],
            }
        )
        out = os.path.join(OUT_DIR, f"webtext_hashes_n{n}_seed{seed}.parquet")
        pq.write_table(tbl, out)
        print(f"wrote {out} ({tbl.num_rows} rows)")
    sm = expected_sitemaps(n, seeds[0])
    tbl = pa.table(
        {"host": [r[0] for r in sm], "content": [r[1] for r in sm]}
    )
    out = os.path.join(OUT_DIR, f"sitemaps_n{n}_seed{seeds[0]}.parquet")
    pq.write_table(tbl, out)
    print(f"wrote {out} ({tbl.num_rows} rows)")
    dv = expected_discovery_verdicts(n, seeds[0])
    tbl = pa.table(
        {
            "url": [r["url"] for r in dv],
            "host": [r["host"] for r in dv],
            "allowed": [r["allowed"] for r in dv],
            "rule": [r["rule"] for r in dv],
            "rule_path": [r["rule_path"] for r in dv],
        }
    )
    out = os.path.join(
        OUT_DIR, f"robots_verdicts_discoveries_n{n}_seed{seeds[0]}.parquet"
    )
    pq.write_table(tbl, out)
    print(f"wrote {out} ({tbl.num_rows} rows)")


if __name__ == "__main__":
    main()
