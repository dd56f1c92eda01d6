#!/usr/bin/env python
"""Materialize the expected webtext edge list WITHOUT Spark.

The synthetic corpus is seed-pure (sources/synth.py: page i depends only on
(seed, i, n)), so the full expected edge table for the driver's
``webtext_edges`` query is derivable from the pure-Python reference path:

    gen_page → extract_links_py → closed-world filter → distinct
    → xxhash64 ids (functions/hashing.py, bit-identical to F.xxhash64)

The result is written to tests/data/webtext_edges_n{N}_seed{S}.parquet; the
DuckDB oracle reads it via read_parquet().  tests/test_webtext.py asserts the
committed file equals a fresh regeneration (guards against drift) and the
Spark pipeline output (guards the engine).

Usage: python tools/gen_webtext_oracle.py [n=2000] [seed=42]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from pregel_rs_spark.functions.extract import extract_anchors_py, extract_links_py
from pregel_rs_spark.functions.hashing import url_id_py
from pregel_rs_spark.sources.synth import gen_page, page_url

OUT_DIR = os.path.join(os.path.dirname(__file__), "..", "tests", "data")


def expected_edges(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Distinct (subject, object) xxhash64 id pairs, closed-world, no
    self-links — mirrors functions.extract.pages_to_edges exactly."""
    urls = {page_url(i, n) for i in range(n)}
    pairs: set[tuple[int, int]] = set()
    for i in range(n):
        p = gen_page(i, n, seed)
        src = p["url"]
        for dst in extract_links_py(p["html"], src):
            if dst != src and dst in urls:
                pairs.add((url_id_py(src), url_id_py(dst)))
    return sorted(pairs)


def expected_links(n: int, seed: int = 42) -> list[tuple[str, str]]:
    """Distinct (src_url, dst_url) pairs, closed-world, no self-links —
    the raw-url view of ``expected_edges`` (for domain-rollup oracles)."""
    urls = {page_url(i, n) for i in range(n)}
    pairs: set[tuple[str, str]] = set()
    for i in range(n):
        p = gen_page(i, n, seed)
        src = p["url"]
        for dst in extract_links_py(p["html"], src):
            if dst != src and dst in urls:
                pairs.add((src, dst))
    return sorted(pairs)


def expected_pages(n: int, seed: int = 42) -> list[tuple[str, str, int]]:
    """(url, lang, n_chars) per page — n_chars is len() of the pure-Python
    extracted text, the same value Spark's F.length(text) sees (the synth
    text column IS the pure extraction, character counts in code points)."""
    out = []
    for i in range(n):
        p = gen_page(i, n, seed)
        out.append((p["url"], p["lang"], len(p["text"])))
    return out


def expected_anchors(n: int, seed: int = 42) -> list[tuple[str, str, str]]:
    """(src_url, dst_url, anchor) rows, closed-world, no self-links —
    mirrors functions.extract.pages_to_anchor_edges exactly."""
    urls = {page_url(i, n) for i in range(n)}
    rows: list[tuple[str, str, str]] = []
    for i in range(n):
        p = gen_page(i, n, seed)
        src = p["url"]
        for dst, anchor in extract_anchors_py(p["html"], src):
            if dst != src and dst in urls:
                rows.append((src, dst, anchor))
    return sorted(rows)


def write(n: int, seed: int = 42) -> str:
    pairs = expected_edges(n, seed)
    path = os.path.abspath(
        os.path.join(OUT_DIR, f"webtext_edges_n{n}_seed{seed}.parquet")
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {
            "subject": pa.array([a for a, _ in pairs], pa.int64()),
            "object": pa.array([b for _, b in pairs], pa.int64()),
        }
    )
    pq.write_table(table, path)
    print(f"{len(pairs)} expected edges -> {path}")

    links = expected_links(n, seed)
    lpath = os.path.abspath(
        os.path.join(OUT_DIR, f"webtext_links_n{n}_seed{seed}.parquet")
    )
    pq.write_table(
        pa.table(
            {
                "src_url": pa.array([a for a, _ in links], pa.string()),
                "dst_url": pa.array([b for _, b in links], pa.string()),
            }
        ),
        lpath,
    )
    print(f"{len(links)} expected links -> {lpath}")

    anchors = expected_anchors(n, seed)
    apath = os.path.abspath(
        os.path.join(OUT_DIR, f"webtext_anchors_n{n}_seed{seed}.parquet")
    )
    pq.write_table(
        pa.table(
            {
                "src_url": pa.array([a for a, _, _ in anchors], pa.string()),
                "dst_url": pa.array([b for _, b, _ in anchors], pa.string()),
                "anchor": pa.array([c for _, _, c in anchors], pa.string()),
            }
        ),
        apath,
    )
    print(f"{len(anchors)} expected anchors -> {apath}")

    pages = expected_pages(n, seed)
    ppath = os.path.abspath(
        os.path.join(OUT_DIR, f"webtext_pages_n{n}_seed{seed}.parquet")
    )
    pq.write_table(
        pa.table(
            {
                "url": pa.array([u for u, _, _ in pages], pa.string()),
                "lang": pa.array([l for _, l, _ in pages], pa.string()),
                "n_chars": pa.array([c for _, _, c in pages], pa.int64()),
            }
        ),
        ppath,
    )
    print(f"{len(pages)} expected pages -> {ppath}")
    return path


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    write(n, seed)
